"""The per-entity bronze writes and silver migrations run as concurrent
Spark jobs (`bronze.for_each_entity`): every job keeps the caller's job
group and runs in its own SQL execution, an entity that fails leaves the
other three written, and the first failure in ENTITIES order is raised.
Reading a bronze entity with more partition directories than Spark's
default parallel-discovery threshold (32) lists them on the driver: no
listing job."""

from __future__ import annotations

import os
import time

import pytest
from py4j.protocol import Py4JJavaError

from youtube_data_lakehouse_and_analysis_spark.plans.silver import migrate, read_silver
from youtube_data_lakehouse_and_analysis_spark.schemas import ENTITIES
from youtube_data_lakehouse_and_analysis_spark.sources.bronze import (
    for_each_entity,
    read_bronze,
    write_bronze,
)


def _jobs_of(spark, group: str, fn):
    """Run ``fn()`` under job group ``group``; return its result and the ids
    of the jobs it ran, after checking that none ran outside the group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker is fed by listener events
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
    return result, tracker.getJobIdsForGroup(group)


def _sql_execution_of(spark, job_ids: list[int]) -> dict[int, tuple[int, int]]:
    """job id -> (execution id, root execution id) from the SQL status store."""
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    out = {}
    for i in range(executions.size()):
        ex = executions.apply(i)
        for job in job_ids:
            if ex.jobs().contains(job):
                out[job] = (ex.executionId(), ex.rootExecutionId())
    return out


@pytest.mark.parametrize("step", ["bronze.write", "silver.migrate"])
def test_jobs_keep_the_callers_group_and_their_own_execution(spark, api, tmp_path, step):
    bronze_dir, silver_dir = str(tmp_path / "bronze"), str(tmp_path / "silver")
    if step == "silver.migrate":
        write_bronze(api, bronze_dir)
        _, jobs = _jobs_of(spark, f"test-{step}", lambda: migrate(spark, bronze_dir, silver_dir))
    else:
        _, jobs = _jobs_of(spark, f"test-{step}", lambda: write_bronze(api, bronze_dir))
    # one write job per entity
    assert len(jobs) == len(ENTITIES)
    # a shared copy of the caller's local properties would put all four
    # jobs under one SQL execution id, nested under each other
    executions = _sql_execution_of(spark, jobs)
    assert sorted(executions) == sorted(jobs)
    assert len({ex for ex, _ in executions.values()}) == len(ENTITIES)
    assert all(ex == root for ex, root in executions.values())


def test_reading_many_partitions_runs_no_listing_job(spark, many_videos):
    bronze_dir, rows = many_videos
    assert len([d for d in os.listdir(f"{bronze_dir}/comment") if d.startswith("video_id=")]) == 40
    df, jobs = _jobs_of(
        spark, "test-read-many-partitions", lambda: read_bronze(spark, bronze_dir, "comment")
    )
    assert jobs == []
    assert sorted(map(tuple, df.collect())) == sorted(rows)  # video_id restored from the path


def test_migrating_many_partitions_runs_one_job_per_entity(spark, many_videos, tmp_path):
    bronze_dir, rows = many_videos
    silver_dir = str(tmp_path / "silver")
    _, jobs = _jobs_of(
        spark, "test-migrate-many-partitions", lambda: migrate(spark, bronze_dir, silver_dir)
    )
    assert len(jobs) == len(ENTITIES)
    assert sorted(map(tuple, read_silver(spark, silver_dir, "comment").collect())) == sorted(rows)


def test_unwritable_entity_raises_after_the_others_are_written(spark, api, tmp_path):
    bronze_dir = tmp_path / "bronze"
    bronze_dir.mkdir()
    (bronze_dir / "playlist").write_text("a plain file where the playlist dir goes")
    with pytest.raises(Py4JJavaError, match="ParentNotDirectoryException"):
        write_bronze(api, str(bronze_dir))
    for name in ("channel", "video", "comment"):
        assert read_bronze(spark, str(bronze_dir), name).count() == api[name].count()
        staging = (".spark-staging", "_temporary")
        assert not [p for p in os.listdir(bronze_dir / name) if p.startswith(staging)]


def test_first_failure_in_entity_order_is_raised_once_all_have_run(spark):
    finished = []

    def fn(name: str) -> None:
        # playlist fails last in time, video first; channel and comment outlive both
        time.sleep({"channel": 0.3, "playlist": 0.15, "video": 0.0, "comment": 0.3}[name])
        if name in ("playlist", "video"):
            raise ValueError(name)
        finished.append(name)

    with pytest.raises(ValueError, match="^playlist$"):
        for_each_entity(spark, fn)
    assert sorted(finished) == ["channel", "comment"]
