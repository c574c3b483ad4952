"""SparkSession factory tuned for the driver's local[32] harness while
remaining cluster-correct: every setting below is either scale-neutral or
the documented best practice for a large multi-executor deployment.

Scale notes (100 TB design):
  * AQE on — runtime coalescing, skew-join splitting, dynamic broadcast.
  * shuffle.partitions — sized to cores locally; on a real cluster AQE
    coalesces from a high initial number, so the literal value is a local
    concern only.
  * session timezone pinned UTC — the reference parses zoned timestamps
    (/root/reference/app.py:335,383) and the DuckDB oracle hashes naive-UTC
    timestamps, so both engines must agree.
  * Arrow enabled — fast toPandas()/pandas_udf exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "youtube_lakehouse_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """``extra_conf`` lets diagnostic tooling (tools/stage_attrib.py) layer
    observability confs (event logging) on the SAME tuned session the bench
    runs — a hand-rolled session would measure plan shapes the shipped conf
    never produces.  It must not be used to vary performance confs per
    caller; those belong here, visible to every session."""
    cpus = cpus or CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Adopted r14 (SCALE.md "partition knee"; the A/B/C harness is
        # tools/ab_partitions.py at commit 7fdd085, since deleted):
        # shuffles START at 8× the session's core count and AQE
        # coalesces back (parallelismFirst stays default true).
        # Measured on the 32-core bench session (init=256): frozen
        # headline at sf0.1 10.53 -> 9.50 s (5 interleaved reps/query,
        # quiet box) — the shuffle-heavy queries win (j05 1.25->0.96,
        # q09 1.18->0.96).  The multiplier SCALES WITH PARALLELISM
        # rather than being a flat 256 because a flat 256 on the
        # 8-thread audit session measurably hurt the longdocs tiers
        # (dd22 x64 121.6 -> 273.8 s) and OOM'd dd18's audit — 32
        # tasks per core of fine partitions is overhead-dominated
        # there, while 8 per core keeps both regimes healthy.  On a
        # real cluster the same rule (initial ≈ 8× total cores, AQE
        # coalesces the small stages) is standard posture; the
        # size-only variant (parallelismFirst=false) measured 12.65 s
        # at sf0.1 and is deliberately NOT used.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS", str(8 * cpus)),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # JDK-17 G1 GCLocker starvation mitigation (r14): the longdocs
        # dedup tiers repeatedly died with "Retried waiting for GCLocker
        # too often" spurious OutOfMemoryErrors — an allocation giving up
        # after the DEFAULT TWO retries while JNI critical sections
        # (parquet/compression) hold the GCLocker under high array-churn
        # load, NOT actual heap exhaustion (the same measurements pass
        # with identical heap on a quiet re-run).  Raising the retry
        # count is the documented mitigation.  Set on BOTH driver and
        # executor: in local mode the driver JVM is the executor (the
        # executor conf is a no-op), and on a real cluster the array
        # churn happens in executor JVMs, so the executor conf is the
        # one that matters.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=100",
        )
        .config(
            "spark.executor.extraJavaOptions",
            "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=100",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
