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
  * ``file:`` permissions set in-process — without Hadoop's native library
    the stock local file system forks one ``chmod`` per file, ``.crc`` file
    and directory a write creates (650 a lakehouse pass at 100 videos), a
    cost that scales with file count, not data. ``jvm/NioLocalFileSystem``
    sets the same mode bits through ``java.nio``; javac compiles it into
    ``spark-warehouse/jvm/`` on the first session. On a cluster the
    warehouse is not ``file:``, so this is a local concern only.
  * no YARN defaults in the Hadoop Configuration — every write task
    deserializes the session's whole conf, and every Parquet file written
    walks it (and every file read copies it). The shim's jar also carries
    an empty ``jvm/yarn-default.xml`` that shadows hadoop-client-api's, so
    ``newHadoopConf()`` holds 592 entries (55,906 bytes serialized)
    instead of 1,112 (111,633 bytes). Only YARN's file is emptied: no
    code path of a ``local[N]`` session reads a ``yarn.*`` key, while
    core and mapred defaults are read (``FileOutputCommitter`` reads the
    ``mapreduce.fileoutputcommitter.*`` keys). The jar is on the
    classpath only of a JVM this factory launches, so a YARN deployment
    keeps its defaults: a local concern only.
  * partition discovery never launches a listing job — above
    ``parallelPartitionDiscovery.threshold`` directories (default 32)
    Spark lists them in a job with one task per directory, and each task
    deserializes the session's whole Hadoop Configuration (1,078 entries,
    109 KB). Bronze comments hold one ``video_id=`` directory per video,
    96 at 100 videos, so every ``silver.migrate`` paid a 96-task job
    before its comment write could start: a traced lakehouse pass at 100
    videos on 4 cores ran 176 tasks instead of 80, and ``silver.migrate``
    took 1.05 s instead of 0.45-0.53 s. In ``local[N]`` those tasks run
    in the driver's JVM, which lists a ``file:`` directory in
    microseconds, so the threshold is the largest int. On a cluster
    reading an object store, where one listing call is a network round
    trip, the distributed listing job is the right tool and the default
    threshold should stay.
  * DataFrame debugging off — with it on, every PySpark Column call
    (``F.col``, ``alias``, ``getField``, ...) captures its Python call
    site: about five py4j round trips, a walk of the Python stack and a
    failed ``import IPython``. Reading the lakehouse's API pages made
    1,373 py4j calls with it on and 393 with it off (0.31-0.34 s against
    0.19-0.22 s traced). Results, plans and the exception classes raised
    are unchanged; errors lose only the Python file:line context of the
    failing call.
"""

from __future__ import annotations

import glob
import hashlib
import logging
import os
import subprocess
import tempfile
import zipfile

import pyspark
from pyspark import SparkContext
from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

_PKG = os.path.dirname(os.path.abspath(__file__))
_JVM_DIR = os.path.join(_PKG, "jvm")
NIO_FS_CLASS = "youtube_data_lakehouse_and_analysis_spark.jvm.NioLocalFileSystem"
_log = logging.getLogger(__name__)


def _jvm_inputs() -> list[str]:
    """Everything the jar is built from: the ``.java`` sources under jvm/,
    and the resources beside them (``yarn-default.xml``) that go in as they
    are, at the jar's root."""
    return sorted(p for p in glob.glob(os.path.join(_JVM_DIR, "*")) if os.path.isfile(p))


def nio_fs_jar_path() -> str:
    """Where the compiled shim lives: keyed by the names and bytes of every
    input of the jar, under the (gitignored) warehouse that already serves
    as the cache."""
    digest = hashlib.sha256()
    for path in _jvm_inputs():
        with open(path, "rb") as f:
            digest.update(os.path.basename(path).encode() + b"\0" + f.read() + b"\0")
    key = digest.hexdigest()[:12]
    return os.path.join(os.path.dirname(_PKG), "spark-warehouse", "jvm", f"{key}.jar")


def _build_nio_fs_jar() -> str | None:
    """The shim's jar, compiled on first use against pyspark's bundled
    Hadoop API; None (and one warning) when it cannot be built, in which
    case sessions keep the stock local file system and Hadoop conf."""
    jar = nio_fs_jar_path()
    if os.path.exists(jar):
        return jar
    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    api = os.pathsep.join(glob.glob(os.path.join(jars, "hadoop-client-api-*.jar")))
    inputs = _jvm_inputs()
    sources = [p for p in inputs if p.endswith(".java")]
    try:
        os.makedirs(os.path.dirname(jar), exist_ok=True)
        # build aside, then rename: concurrent processes never see a torn jar
        with tempfile.TemporaryDirectory(dir=os.path.dirname(jar)) as tmp:
            cmd = ["javac", "--release", "17", "-cp", api, "-d", tmp, *sources]
            subprocess.run(cmd, check=True, capture_output=True, text=True)
            staged = os.path.join(tmp, "fs.jar")
            with zipfile.ZipFile(staged, "w") as z:
                for cls in glob.glob(os.path.join(tmp, "**", "*.class"), recursive=True):
                    z.write(cls, os.path.relpath(cls, tmp))
                for res in inputs:
                    if res not in sources:
                        z.write(res, os.path.basename(res))
            os.replace(staged, jar)
    except (OSError, subprocess.CalledProcessError) as exc:
        _log.warning(
            "local writes fork chmod per file and carry YARN's defaults: %s %s",
            exc,
            getattr(exc, "stderr", ""),
        )
        return None
    return jar


def _local_fs_conf() -> dict[str, str]:
    """Confs that point ``file:`` at the shim. Only for a JVM that can load
    it: one this call launches (the jar goes on its classpath), or one
    already launched with the jar. A reused JVM without it keeps the stock
    class. ``fs.file.impl`` is set explicitly because hive-exec registers
    its own ``file:`` class through the service loader. Being on the
    classpath also puts the jar's empty ``yarn-default.xml`` ahead of
    hadoop-client-api's; that needs no conf."""
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        jar = _build_nio_fs_jar()
    elif SparkContext._jvm is not None:
        # the class's resource URL names the jar the JVM was launched with
        # (reading java.class.path over py4j took ~45 ms on a 4-core host)
        loader = SparkContext._jvm.java.lang.ClassLoader.getSystemClassLoader()
        url = loader.getResource(NIO_FS_CLASS.replace(".", "/") + ".class")
        jar = nio_fs_jar_path()
        jar = jar if url is not None and f"/{os.path.basename(jar)}!/" in url.toString() else None
    else:
        jar = None
    if jar is None:
        return {}
    return {"spark.driver.extraClassPath": jar, "spark.hadoop.fs.file.impl": NIO_FS_CLASS}


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
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in {**_local_fs_conf(), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
