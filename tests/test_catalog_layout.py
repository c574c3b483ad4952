"""Testdata-layout canary: the driver regenerates /root/testdata between
rounds, and the physical encoding of columns has already changed once
(events.ts shipped as INT64 TIMESTAMP(NANOS) through round 3, then as plain
TIMESTAMP micros in round 4 — the silent switch broke 33 queries, 45 tests
and the whole bench run). These tests pin the contract:

1. ``load()`` must return the DOCUMENTED logical schema for every table,
   whatever the parquet-level encoding of the current vintage.
2. The events loader specifically must accept BOTH vintages — a synthetic
   legacy nanos file and a synthetic micros file — and yield a timestamp
   column with identical values either way.

If the driver ships a third vintage, this file fails loudly at the start
of the round instead of 20% of the engine failing at the end of it.
"""

from __future__ import annotations

import datetime
import os
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from youtube_data_lakehouse_and_analysis_spark.catalog import TABLES, load

SF_DIR = "/root/testdata/sf0.001"

# The logical schema contract per table: column -> acceptable Spark types.
# Date-like dimension columns accept both TZ and NTZ timestamp flavors
# (parquet isAdjustedToUTC decides what Spark infers; queries cast where
# they need date semantics and the session zone is pinned to UTC) — but
# events.ts is the engine's time axis and must come out as TimestampType
# exactly: load() normalizes both known vintages (INT64 nanos, TIMESTAMP
# micros NTZ) to it, and every time function downstream depends on that.
_ANY_TS = (T.TimestampType(), T.TimestampNTZType(), T.DateType())
EXPECTED = {
    "region": {"r_regionkey": (T.IntegerType(), T.LongType()), "r_name": (T.StringType(),)},
    "nation": {
        "n_nationkey": (T.IntegerType(), T.LongType()),
        "n_name": (T.StringType(),),
        "n_regionkey": (T.IntegerType(), T.LongType()),
    },
    "customer": {
        "c_custkey": (T.LongType(),),
        "c_nationkey": (T.IntegerType(), T.LongType()),
        "c_acctbal": (T.DoubleType(),),
        "c_mktsegment": (T.StringType(),),
    },
    "supplier": {"s_suppkey": (T.LongType(),), "s_acctbal": (T.DoubleType(),)},
    "part": {
        "p_partkey": (T.LongType(),),
        "p_size": (T.IntegerType(), T.LongType()),
        "p_retailprice": (T.DoubleType(),),
    },
    "orders": {
        "o_orderkey": (T.LongType(),),
        "o_orderdate": _ANY_TS,
        "o_totalprice": (T.DoubleType(),),
    },
    "lineitem": {
        "l_orderkey": (T.LongType(),),
        "l_quantity": (T.DoubleType(), T.LongType()),
        "l_extendedprice": (T.DoubleType(),),
        "l_discount": (T.DoubleType(),),
        "l_shipdate": _ANY_TS,
    },
    "events": {
        "event_id": (T.LongType(),),
        "ts": (T.TimestampType(),),
        "user_id": (T.LongType(),),
        "event_type": (T.StringType(),),
        "value": (T.DoubleType(),),
    },
    "documents": {
        "doc_id": (T.LongType(),),
        "text": (T.StringType(),),
        "lang": (T.StringType(),),
        "source": (T.StringType(),),
        "n_chars": (T.LongType(),),
    },
    "embeddings": {
        "vec_id": (T.LongType(),),
        "embedding": (
            T.ArrayType(T.FloatType(), True),
            T.ArrayType(T.FloatType(), False),
        ),
        "label": (T.IntegerType(), T.LongType()),
    },
}


@pytest.mark.parametrize("name", TABLES)
def test_documented_schema(spark, name):
    df = load(spark, SF_DIR, name)
    fields = {f.name: f.dataType for f in df.schema.fields}
    for col, accepted in EXPECTED[name].items():
        assert col in fields, f"{name}.{col} missing; has {sorted(fields)}"
        assert fields[col] in accepted, (
            f"{name}.{col} is {fields[col]}, expected one of {accepted} — "
            "testdata vintage changed; fix catalog.load()"
        )


_ROWS = {
    "event_id": [0, 1, 2],
    "user_id": [7, 8, 9],
    "event_type": ["view", "click", "view"],
    "value": [1.5, 2.5, 3.5],
    "props": ['{"k": 1}', '{"k": 2}', '{"k": 3}'],
}
_TIMES = [
    datetime.datetime(2024, 1, 1, 0, 0, 0, 123456),
    datetime.datetime(2024, 1, 1, 0, 5, 0, 654321),
    datetime.datetime(2024, 1, 2, 12, 0, 0, 1),
]


def _write_events(tmpdir: str, unit: str) -> str:
    sf_dir = os.path.join(tmpdir, f"sf-{unit}")
    os.makedirs(sf_dir, exist_ok=True)
    table = pa.table(
        {
            "event_id": pa.array(_ROWS["event_id"], pa.int64()),
            "ts": pa.array(_TIMES, pa.timestamp(unit)),
            "user_id": pa.array(_ROWS["user_id"], pa.int64()),
            "event_type": pa.array(_ROWS["event_type"], pa.string()),
            "value": pa.array(_ROWS["value"], pa.float64()),
            "props": pa.array(_ROWS["props"], pa.string()),
        }
    )
    # version 2.6 keeps nanos as INT64 TIMESTAMP(NANOS) — the legacy vintage.
    pq.write_table(table, os.path.join(sf_dir, "events.parquet"), version="2.6")
    return sf_dir


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_events_both_vintages(spark, tmp_path, unit):
    sf_dir = _write_events(str(tmp_path), unit)
    df = load(spark, sf_dir, "events")
    assert df.schema["ts"].dataType == T.TimestampType(), df.schema["ts"].dataType
    got = [r.ts for r in df.orderBy("event_id").select("ts").collect()]
    assert got == _TIMES, (unit, got)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_events_key_uniqueness(sf):
    """(event_id, ts) must uniquely key events: st04_stream_dedup's oracle
    (DISTINCT over all columns) only matches Spark's dropDuplicates on the
    key while this holds. A vintage with colliding keys but differing
    payloads would make st04 nondeterministic — fail here instead."""
    import duckdb

    path = f"/root/testdata/{sf}/events.parquet"
    dupes = duckdb.sql(
        f"SELECT count(*) FROM (SELECT event_id, ts FROM '{path}' "
        "GROUP BY 1, 2 HAVING count(*) > 1)"
    ).fetchone()[0]
    assert dupes == 0, f"{dupes} colliding (event_id, ts) keys in {sf}"


def test_compaction_cache_fault_injection(spark, tmp_path):
    """A damaged compaction cache must NEVER yield a silently short
    result (r12, r11 verdict ask #6).  ``_SUCCESS`` survives post-build
    damage — a part file deleted or truncated by disk pressure, a
    half-synced volume — and a bare parquet read over the survivors
    returns fewer rows with no error.  load() validates every cache hit
    against the build-time manifest (file set + byte sizes + row count)
    and rebuilds from source on any mismatch, so the observable contract
    is: full, correct rows after every kind of damage."""
    import glob
    import shutil as sh

    from youtube_data_lakehouse_and_analysis_spark.catalog import _cache_intact, _repo_root

    src_dir = tmp_path / "sf_fault"
    src_dir.mkdir()
    sh.copy("/root/testdata/sf0.01/lineitem.parquet", src_dir / "lineitem.parquet")

    opt = os.path.join(_repo_root(), "spark-warehouse", "optimized")
    before = set(glob.glob(os.path.join(opt, "lineitem-*")))
    expected = load(spark, str(src_dir), "lineitem").count()
    new_dirs = set(glob.glob(os.path.join(opt, "lineitem-*"))) - before
    assert len(new_dirs) == 1, "compaction cache dir not created (need >=2 chunks)"
    dest = new_dirs.pop()
    parts = sorted(
        f for f in os.listdir(dest) if f.endswith(".parquet") and os.path.getsize(os.path.join(dest, f))
    )
    assert len(parts) >= 2 and os.path.exists(os.path.join(dest, "_SUCCESS"))

    # damage 1: delete one part file, _SUCCESS intact → naive read would
    # be silently short; load() must still return every row
    os.remove(os.path.join(dest, parts[0]))
    assert load(spark, str(src_dir), "lineitem").count() == expected

    # the rebuild restored a validated cache in place
    rebuilt = set(glob.glob(os.path.join(opt, "lineitem-*"))) - before
    assert rebuilt == {dest}
    parts = sorted(f for f in os.listdir(dest) if f.endswith(".parquet"))

    # damage 2: truncate one part file under an intact _SUCCESS
    p = os.path.join(dest, parts[0])
    blob = open(p, "rb").read()
    with open(p, "wb") as fh:
        fh.write(blob[: len(blob) // 2])
    assert load(spark, str(src_dir), "lineitem").count() == expected

    # damage 3: garbage _GRAFT_META.json.  An unparseable manifest must
    # fail validation like any other damage and get the copy rebuilt in
    # place — not a silent raw single-row-group read that every later
    # process repeats because the damaged copy is never replaced.
    with open(os.path.join(dest, "_GRAFT_META.json"), "w") as fh:
        fh.write("{not json")
    df = load(spark, str(src_dir), "lineitem")
    assert df.count() == expected
    assert _cache_intact(dest)
    files = df.inputFiles()
    assert files and all(os.path.dirname(urlparse(f).path) == dest for f in files)
