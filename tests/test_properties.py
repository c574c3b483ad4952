"""Property-based spot checks (SURVEY §5.4): engine invariants verified
against plain-Python references on hypothesis-generated data. Examples are
kept small and few — each example runs real Spark jobs."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.window import Window

SET = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),     # group key
        st.integers(min_value=-100, max_value=100),  # value
    ),
    min_size=1,
    max_size=30,
)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),  # group key
            st.one_of(st.none(), st.integers(min_value=-100, max_value=100)),  # value
        ),
        min_size=1,
        max_size=30,
    )
)
@example(rows=[(0, None), (0, None), (1, 7), (1, None), (1, 7)])  # all-NULL group 0
@SET
def test_groupwise_max_invariant(spark, rows):
    """Q5 semantics: join form and the window-MAX form q05_groupwise_max_window
    uses return exactly the rows whose value equals their group max (ALL
    ties kept). rank()==1 agrees except on q05w's documented non-null-price
    precondition: an all-NULL group is kept by rank()==1 (every row ranks
    first) and dropped by the MAX forms (NULL == NULL is not true)."""
    df = spark.createDataFrame([(i, k, v) for i, (k, v) in enumerate(rows)], "id long, k long, v long")
    m = df.groupBy("k").agg(F.max("v").alias("mx"))
    join_form = df.join(m, on="k").filter(F.col("v") == F.col("mx")).select("id", "k", "v")
    max_form = (
        df.withColumn("mx", F.max("v").over(Window.partitionBy("k")))
        .filter(F.col("v") == F.col("mx"))
        .select("id", "k", "v")
    )
    w = Window.partitionBy("k").orderBy(F.desc("v"))
    win_form = df.withColumn("r", F.rank().over(w)).filter(F.col("r") == 1).select("id", "k", "v")
    got_join = {tuple(r) for r in join_form.collect()}
    got_max = {tuple(r) for r in max_form.collect()}
    got_win = {tuple(r) for r in win_form.collect()}
    maxes = {}
    for k, v in rows:
        if v is not None:
            maxes[k] = max(maxes.get(k, v), v)
    want = {(i, k, v) for i, (k, v) in enumerate(rows) if v is not None and v == maxes[k]}
    all_null = {(i, k, v) for i, (k, v) in enumerate(rows) if k not in maxes}
    assert got_join == want == got_max
    assert got_win == want | all_null


@given(rows=rows_strategy, k=st.integers(min_value=1, max_value=5))
@SET
def test_topk_is_sorted_prefix(spark, rows, k):
    """ORDER BY + LIMIT k returns a prefix of the total order (ties may
    swap only within equal sort keys)."""
    df = spark.createDataFrame([(i, v) for i, (_, v) in enumerate(rows)], "id long, v long")
    got = [r["v"] for r in df.orderBy(F.desc("v"), F.asc("id")).limit(k).collect()]
    want = sorted((v for _, v in rows), reverse=True)[:k]
    assert got == want


@given(
    pts=st.lists(st.floats(min_value=0, max_value=100, allow_nan=False), min_size=1, max_size=15),
    ivs=st.lists(
        st.tuples(st.floats(min_value=0, max_value=100, allow_nan=False),
                  st.floats(min_value=0, max_value=40, allow_nan=False)),
        min_size=1, max_size=8,
    ),
    width=st.sampled_from([7.0, 20.0, 55.0]),
)
@SET
def test_range_join_invariant(spark, pts, ivs, width):
    """Bucketized range join ≡ naive containment at any bucket width."""
    from youtube_data_lakehouse_and_analysis_spark.operators.rangejoin import range_join

    p = spark.createDataFrame([(i, x) for i, x in enumerate(pts)], "pid long, x double")
    iv = spark.createDataFrame(
        [(j, lo, lo + w) for j, (lo, w) in enumerate(ivs)], "iid long, lo double, hi double"
    )
    got = {
        (r["pid"], r["iid"])
        for r in range_join(p, iv, point_col="x", lo_col="lo", hi_col="hi", bucket_width=width).collect()
    }
    want = {
        (i, j)
        for i, x in enumerate(pts)
        for j, (lo, w) in enumerate(ivs)
        if lo <= x < lo + w
    }
    assert got == want


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),      # key
            st.integers(min_value=0, max_value=1000),   # ts offset sec
            st.booleans(),                               # is right-side row
        ),
        min_size=1,
        max_size=20,
    )
)
@SET
def test_asof_join_invariant(spark, events):
    """asof_join: the matched right ts is the max right ts <= left ts for
    the key, or null if none exists."""
    from youtube_data_lakehouse_and_analysis_spark.operators.asof import asof_join

    base = dt.datetime(2024, 1, 1)
    lrows = [
        (i, k, base + dt.timedelta(seconds=s))
        for i, (k, s, is_r) in enumerate(events)
        if not is_r
    ]
    rrows = [
        (k, base + dt.timedelta(seconds=s), float(i))
        for i, (k, s, is_r) in enumerate(events)
        if is_r
    ]
    if not lrows or not rrows:
        return
    left = spark.createDataFrame(lrows, "id long, k long, ts timestamp")
    right = spark.createDataFrame(rrows, "k long, ts timestamp, px double")
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts", right_cols=["px"])
    got = {r["id"]: r["asof_ts"] for r in out.collect()}
    for lid, lk, lts in lrows:
        cand = [rts for rk, rts, _ in rrows if rk == lk and rts <= lts]
        assert got[lid] == (max(cand) if cand else None)


def test_sessionization_invariant_to_input_order(spark):
    """ses01's sessions are a function of (user, sorted events) — the
    result must be identical however the input rows are partitioned or
    ordered on arrival (the property that makes the oracle gate and any
    cluster run agree)."""
    import pyspark.sql.functions as F

    import __spark_entry__ as entrymod
    from .conftest import SF_DIR

    fn = entrymod.queries()["ses01_gap_sessions"]
    base = fn(spark, SF_DIR)

    def canon(df):
        return sorted(
            (r["user_id"], r["session_seq"], r["session_start"], r["n_events"])
            for r in df.collect()
        )

    want = canon(base)
    # same query over a deliberately re-shuffled copy of the input
    from youtube_data_lakehouse_and_analysis_spark.catalog import load
    from pyspark.sql import Window

    ev = load(spark, SF_DIR, "events").repartition(17, "event_type").cache()
    ev.createOrReplaceTempView("_scrambled_events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    prev = F.lag(us).over(w)
    new_session = F.when(prev.isNull() | (us - prev > 30 * 60 * 1_000_000), 1).otherwise(0)
    got = canon(
        ev.select(
            "user_id",
            "ts",
            F.sum(new_session).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("session_seq"),
        )
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
    )
    ev.unpersist()
    assert got == want


_DUR = st.tuples(
    st.integers(min_value=0, max_value=30),  # hours
    st.integers(min_value=0, max_value=90),  # minutes (ISO allows >59)
    st.integers(min_value=0, max_value=90),  # seconds
    st.tuples(st.booleans(), st.booleans(), st.booleans()),  # component present?
)


@given(specs=st.lists(_DUR, min_size=1, max_size=20))
@SET
def test_iso8601_duration_parse_reference(spark, specs):
    """functions/transforms.py duration parse vs a plain-Python reference
    over generated PT[nH][nM][nS] strings with any component subset."""
    from youtube_data_lakehouse_and_analysis_spark.functions.transforms import (
        iso8601_duration_seconds,
    )

    rows, want = [], []
    for i, (h, m, s, (ph, pm, ps)) in enumerate(specs):
        if not (ph or pm or ps):
            ph = True  # PT alone is not a duration; keep ≥1 component
        txt = "PT" + (f"{h}H" if ph else "") + (f"{m}M" if pm else "") + (f"{s}S" if ps else "")
        rows.append((i, txt))
        want.append((i, (h * 3600 if ph else 0) + (m * 60 if pm else 0) + (s if ps else 0)))
    df = spark.createDataFrame(rows, ["i", "dur"])
    got = [
        (r["i"], r["secs"])
        for r in df.select("i", iso8601_duration_seconds(F.col("dur")).alias("secs"))
        .orderBy("i")
        .collect()
    ]
    assert got == sorted(want)


@given(
    tok_counts=st.lists(st.integers(min_value=1, max_value=400), min_size=1, max_size=25),
    ctx=st.sampled_from([16, 128, 512]),
)
@SET
def test_packing_arithmetic_reference(spark, tok_counts, ctx):
    """ta13's chunk/waste arithmetic vs the obvious Python ceil-division
    reference, for arbitrary token counts and context lengths."""
    df = spark.createDataFrame([(i, n) for i, n in enumerate(tok_counts)], ["i", "n_tok"])
    got = df.select(
        F.sum(F.floor((F.col("n_tok") + (ctx - 1)) / ctx)).cast("long").alias("chunks")
    ).collect()[0]["chunks"]
    want = sum(-(-n // ctx) for n in tok_counts)
    assert got == want


# ---------------------------------------------------------------------------
# round-6 integer-exact helper properties (no Spark needed — these pin
# cross-engine arithmetic contracts against DuckDB directly)
# ---------------------------------------------------------------------------


_FLT_MAX = 3.4028234663852886e38  # exact float32 max — hypothesis requires width-exact bounds


@given(
    xs=st.lists(
        st.floats(min_value=-_FLT_MAX, max_value=_FLT_MAX, width=32),
        min_size=1,
        max_size=16,
    )
)
@SET
def test_pd04_python_quantization_matches_duckdb_round(xs):
    """pd04's worker quantizes with an exact fractional-part test; it
    must agree with DuckDB's round(clamp(x)*1000) (the oracle twin's
    grid) for arbitrary float32 inputs — including representation-
    boundary values (the bug class the naive floor(x+0.5) has) and the
    ±FLT_MAX saturation region (the r9 maxvals class: the shared clamp
    to ±1000 is what keeps the BIGINT cast total on both engines)."""
    import duckdb
    import numpy as np

    v = np.array(xs, dtype=np.float32).astype(np.float64)
    mag = np.minimum(np.abs(v), 1000.0) * 1000.0
    fl = np.floor(mag)
    q = (fl + (mag - fl >= 0.5)).astype(np.int64) * np.where(v < 0, -1, 1)
    con = duckdb.connect()
    got = [
        con.execute(
            "SELECT CAST(round(least(greatest(CAST(? AS DOUBLE), -1000.0), 1000.0)"
            " * 1000) AS BIGINT)",
            [float(x)],
        ).fetchone()[0]
        for x in v
    ]
    assert list(q) == got, (list(q), got)


@given(
    cents=st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=20),
    ks=st.lists(st.integers(min_value=0, max_value=20), min_size=1, max_size=20),
)
@SET
def test_time_decay_shift_reference(cents, ks):
    """ev14's bit-shift decay: each term equals floor(cents / 2^k), the
    total never exceeds the raw sum, and decaying by a LARGER k never
    increases a term (monotone decay)."""
    n = min(len(cents), len(ks))
    terms = [c >> k for c, k in zip(cents[:n], ks[:n])]
    assert all(t == c // (2**k) for t, c, k in zip(terms, cents, ks))
    assert sum(terms) <= sum(cents[:n])
    assert all((c >> min(k + 1, 63)) <= (c >> k) for c, k in zip(cents[:n], ks[:n]))


@given(
    tf=st.integers(min_value=1, max_value=50),
    dl=st.integers(min_value=1, max_value=500),
    n=st.integers(min_value=2, max_value=5000),
    tl=st.integers(min_value=500, max_value=300_000),
    df=st.integers(min_value=1, max_value=100),
)
@SET
def test_bm25_term_score_monotonicity_and_bounds(tf, dl, n, tl, df):
    """ir02's rational BM25 term score: positive for tf >= 1, increases
    (weakly) with tf, decreases (weakly) with df, and never overflows
    int64 at the documented scales."""
    from youtube_data_lakehouse_and_analysis_spark.plans.corpus5 import _BM25_SCALE

    df = min(df, n - 1)

    def score(tf_, df_):
        idf = ((n - df_ + 1) * _BM25_SCALE) // (df_ + 1)
        num = 22 * tf_ * tl
        den = 10 * tf_ * tl + 3 * tl + 9 * dl * n
        assert idf * num < 2**63
        return (idf * num) // den

    s = score(tf, df)
    assert s > 0
    assert score(tf + 1, df) >= s
    assert score(tf, min(df + 1, n - 1)) <= s
