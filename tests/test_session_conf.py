"""Session-factory gates: confs that must hold on every session the
package creates, driver-local AND cluster posture.

The JDK-17 GCLocker mitigation (session.py) was diagnosed in r14 —
spurious "Retried waiting for GCLocker too often" OOMs under
JNI-critical (parquet/zstd) + array churn, not real heap exhaustion.
In local mode the driver JVM is the executor, so only the driver conf
is load-bearing here; on a real cluster the executor conf is the one
that matters.  This gate pins BOTH so the factory is cluster-correct
as its docstring promises, not just locally lucky.

Two confs remove fixed driver-side costs: partition discovery never
launches a listing job, and PySpark Column calls capture no Python call
site (errors keep their classes, and lose only the file:line context).

The session's Hadoop Configuration carries no YARN defaults (the session
jar ships an empty ``yarn-default.xml``), keeps the core and mapred ones,
and stays that way after the lakehouse's writes.
"""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.errors import utils as errors_utils
from pyspark.sql import functions as F

from youtube_data_lakehouse_and_analysis_spark.plans.silver import migrate
from youtube_data_lakehouse_and_analysis_spark.sources import youtube_api as yt

VIDEOS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "youtube", "videos")

GCLOCKER_FLAGS = "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=100"


def test_gclocker_mitigation_on_driver_and_executor(spark):
    for side in ("driver", "executor"):
        opts = spark.conf.get(f"spark.{side}.extraJavaOptions")
        assert "-XX:GCLockerRetryAllocationCount=100" in opts, side
        assert "-XX:+UnlockDiagnosticVMOptions" in opts, side


def test_session_core_confs(spark):
    # UTC pin: the DuckDB oracle hashes naive-UTC timestamps; a drifted
    # session timezone silently flips every timestamp-valued hash.
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    # AQE posture adopted in r13/r14 (SCALE.md "partition knee").
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    cpus = spark.sparkContext.defaultParallelism
    init = int(spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum"))
    assert init == 8 * cpus


def test_driver_side_fixed_costs_off(spark):
    threshold = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold")
    assert threshold == str(2**31 - 1)
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_building_a_source_read_captures_no_call_site(spark, monkeypatch):
    calls = []
    capture = errors_utils._capture_call_site
    monkeypatch.setattr(
        errors_utils, "_capture_call_site", lambda depth: calls.append(depth) or capture(depth)
    )
    # read the session's conf, not a value cached before this session began
    monkeypatch.setattr(errors_utils, "_enable_debugging_cache", None)
    yt.read_videos(spark, VIDEOS)
    assert calls == []


def test_bad_column_still_raises_analysis_exception(spark):
    with pytest.raises(AnalysisException, match="no_such_column"):
        spark.range(1).select(F.col("no_such_column"))


def _assert_no_yarn_defaults(spark):
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    assert conf.get("yarn.resourcemanager.address") is None
    assert conf.size() < 700  # 1,112 with hadoop-client-api's yarn-default.xml
    assert conf.get("fs.defaultFS") == "file:///"
    assert conf.get("mapreduce.fileoutputcommitter.algorithm.version") == "1"


def test_hadoop_conf_has_no_yarn_defaults(spark):
    _assert_no_yarn_defaults(spark)


def test_lakehouse_writes_bring_no_yarn_defaults_back(spark, many_videos, tmp_path):
    bronze_dir, _ = many_videos
    migrate(spark, bronze_dir, str(tmp_path / "silver"))
    _assert_no_yarn_defaults(spark)
