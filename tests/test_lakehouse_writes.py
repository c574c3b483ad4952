"""The per-entity bronze writes and silver migrations run as concurrent
Spark jobs (`bronze.for_each_entity`): every job keeps the caller's job
group and runs in its own SQL execution, an entity that fails leaves the
other three written, and the first failure in ENTITIES order is raised."""

from __future__ import annotations

import os
import time

import pytest
from py4j.protocol import Py4JJavaError

from youtube_data_lakehouse_and_analysis_spark.plans.silver import migrate
from youtube_data_lakehouse_and_analysis_spark.schemas import ENTITIES
from youtube_data_lakehouse_and_analysis_spark.sources import youtube_api as yt
from youtube_data_lakehouse_and_analysis_spark.sources.bronze import (
    for_each_entity,
    read_bronze,
    write_bronze,
)

FIX = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "youtube")


@pytest.fixture(scope="module")
def api(spark):
    return {
        "channel": yt.read_channels(spark, f"{FIX}/channels"),
        "playlist": yt.read_playlists(spark, f"{FIX}/playlists"),
        "video": yt.read_videos(spark, f"{FIX}/videos"),
        "comment": yt.read_comments(spark, f"{FIX}/comments"),
    }


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
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bronze_dir, silver_dir = str(tmp_path / "bronze"), str(tmp_path / "silver")
    if step == "silver.migrate":
        write_bronze(api, bronze_dir)
    ungrouped = set(tracker.getJobIdsForGroup(None))
    group = f"test-lakehouse-writes-{step}"
    sc.setJobGroup(group, step)
    try:
        if step == "bronze.write":
            write_bronze(api, bronze_dir)
        else:
            migrate(spark, bronze_dir, silver_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker is fed by listener events
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
    # one write job per entity: three videos stay under the 32-path
    # threshold above which reading bronze/comment launches a listing job
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) == len(ENTITIES)
    # a shared copy of the caller's local properties would put all four
    # jobs under one SQL execution id, nested under each other
    executions = _sql_execution_of(spark, jobs)
    assert sorted(executions) == sorted(jobs)
    assert len({ex for ex, _ in executions.values()}) == len(ENTITIES)
    assert all(ex == root for ex, root in executions.values())


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
