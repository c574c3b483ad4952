"""Training-data pipeline operators, batch 6: LSH banding quality
evaluation, integer time-decay scoring, and cross-vintage drift
monitoring.

  dd21 — precision/recall of the MinHash-LSH banding (dd03's 4×4
         scheme) against exact-Jaccard ground truth: the eval that sizes
         bands/rows before trusting the approximate dedup path, sibling
         of sim09/sim10's ANN recall evals
  ev14 — time-decayed engagement scores with power-of-two half-life
         weights (value >> age-epochs): exponential decay without a
         single float, so scores are bit-stable under any partitioning
  dq03 — distribution drift between order vintages (1995 vs 1996):
         fixed integer price buckets, cross-multiplied L1 deviation (no
         division) — the monitoring statistic a data contract alerts on

Like every corpus batch: no transcendentals (f05), integer arithmetic
with documented BIGINT bounds, and DuckDB oracle twins over the same
fragments the dedup family already pins (plans/dedup.py CTEs).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import checkpoint, load
from ..operators import dedup as D
from .dedup import _SIG_CTE
from .queries import dec2, query

# ---------------------------------------------------------------------------
# dd21 — LSH banding precision/recall vs exact Jaccard
# ---------------------------------------------------------------------------

_J_NUM, _J_DEN = 3, 10  # truth threshold J >= 3/10, compared cross-multiplied


@query(
    "dd21_lsh_band_eval",
    f"""WITH {_SIG_CTE},
        bandkey AS (
          SELECT doc_id, seed // 4 AS band,
                 md5(string_agg(minhash, ',' ORDER BY seed)) AS band_key
          FROM sig GROUP BY doc_id, seed // 4
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bandkey a
          JOIN bandkey b ON a.band = b.band AND a.band_key = b.band_key
                         AND a.doc_id < b.doc_id
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM shing GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
          FROM shing a JOIN shing b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        ),
        truth AS (
          SELECT doc_a, doc_b
          FROM common
          JOIN sizes sa ON doc_a = sa.doc_id
          JOIN sizes sb ON doc_b = sb.doc_id
          WHERE {_J_DEN} * n_common >= {_J_NUM} * (sa.n + sb.n - n_common)
        ),
        hits AS (SELECT * FROM truth INTERSECT SELECT * FROM cand)
        SELECT
          (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS n_hits,
          CASE WHEN (SELECT COUNT(*) FROM cand) = 0 THEN 0
               ELSE ((SELECT CAST(COUNT(*) AS BIGINT) FROM hits) * 1000)
                    // (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) END
            AS precision_permille,
          CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN 0
               ELSE ((SELECT CAST(COUNT(*) AS BIGINT) FROM hits) * 1000)
                    // (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) END
            AS recall_permille""",
)
def dd21_lsh_band_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measure the MinHash-LSH banding scheme (dd03's 4 bands × 4 rows)
    against exact-Jaccard ground truth at J ≥ 0.3: precision (how many
    candidate pairs are real) and recall (how many real pairs the
    banding surfaces) in integer permille. This is the sizing eval every
    production dedup runs before trusting LSH — the S-curve theory gives
    P(candidate) = 1−(1−J^r)^b, and this op measures the actual corpus
    against it. Sibling of sim09/sim10 (ANN recall evals): approximate
    paths ship with their measured quality, never assumed.

    Truth uses cross-multiplied integer comparison (10·common ≥
    3·union) — no float threshold edge. Ground truth is exact over
    pairs sharing ≥1 shingle (disjoint pairs have J = 0 < t by
    construction), priced like dd04: the eval is quadratic-ish and runs
    on a SAMPLE at 100 TB, while the banding path it certifies stays
    linear. Both legs reuse the pinned shingle/signature fragments, so
    the eval cannot fork from the operators it measures."""
    docs = load(spark, sf_dir, "documents")
    # Both legs feed multiple count branches (their own total + the
    # intersection); checkpoint them so the truth pair set and the
    # banding pipeline each run ONCE — same discipline as gr03's edge
    # list (at 100 TB these are the materialized pair sets any eval
    # would persist before scoring).  r10: the truth leg goes through the
    # shared prefix-filtered machinery (operators/dedup.py
    # jaccard_truth_pairs) — identical pair set to the naive shingle
    # self-join the SQL twin keeps, without its Σ df² blow-up.
    truth = (
        D.jaccard_truth_pairs(docs, _J_NUM, _J_DEN)
        .select("doc_a", "doc_b")
        .transform(checkpoint)
    )
    cand = D.lsh_candidate_pairs(
        D.lsh_band_keys(D.minhash_signatures(docs, num_hashes=16), rows_per_band=4)
    ).transform(checkpoint)
    hits = truth.join(cand, ["doc_a", "doc_b"])
    nt = truth.agg(F.count("*").alias("n_truth"))
    nc = cand.agg(F.count("*").alias("n_candidates"))
    nh = hits.agg(F.count("*").alias("n_hits"))
    return (
        nh.crossJoin(nt)
        .crossJoin(nc)
        .select(
            "n_truth",
            "n_candidates",
            "n_hits",
            F.expr(
                "CASE WHEN n_candidates = 0 THEN 0"
                " ELSE (n_hits * 1000) div n_candidates END"
            ).alias("precision_permille"),
            F.expr(
                "CASE WHEN n_truth = 0 THEN 0"
                " ELSE (n_hits * 1000) div n_truth END"
            ).alias("recall_permille"),
        )
    )


# ---------------------------------------------------------------------------
# ev14 — integer time-decay engagement score
# ---------------------------------------------------------------------------

_DECAY_EPOCH_DAYS = 28  # one half-life per 4 weeks of age
_DECAY_MAX_SHIFT = 20


@query(
    "ev14_time_decay_scores",
    f"""WITH ref AS (SELECT CAST(MAX(ts) AS DATE) AS ref_day FROM events),
        w AS (
          SELECT user_id,
                 CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
                 least(date_diff('day', CAST(ts AS DATE), ref_day)
                         // {_DECAY_EPOCH_DAYS}, {_DECAY_MAX_SHIFT}) AS k
          FROM events CROSS JOIN ref
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(cents // (CAST(1 AS BIGINT) << k)) AS BIGINT)
                 AS decayed_cents
        FROM w GROUP BY user_id
        ORDER BY decayed_cents DESC, user_id LIMIT 20""",
)
def ev14_time_decay_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 users by time-decayed engagement value: each event's exact
    cents are right-shifted one bit per 4 weeks of age (capped at 20
    epochs) relative to the corpus's latest event — exponential decay
    with half-life = 28 days, computed ENTIRELY in integers (weight =
    2^-k via bit shift), so the recency-weighted leaderboard is
    bit-stable under any partitioning where float exp(-λ·age) would
    accumulate order-dependent error.

    Scale: the reference day is a 1-row broadcast; shift-and-sum is a
    map-side expression feeding one combine-friendly integer groupBy
    over user_id; the leaderboard is TakeOrderedAndProject. The decayed
    sum also maintains INCREMENTALLY (ia-family): yesterday's scores
    shift right at epoch boundaries and today's events add in — the
    property float decay weights lose."""
    ev = load(spark, sf_dir, "events")
    ref = ev.agg(F.max(F.to_date("ts")).alias("ref_day"))
    w = ev.crossJoin(F.broadcast(ref)).select(
        "user_id",
        (dec2("value") * 100).cast("bigint").alias("cents"),
        F.least(
            F.floor(
                F.datediff(F.col("ref_day"), F.to_date("ts")) / _DECAY_EPOCH_DAYS
            ),
            F.lit(_DECAY_MAX_SHIFT),
        )
        .cast("int")
        .alias("k"),
    )
    return (
        w.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.expr("cents div shiftleft(cast(1 as bigint), k)")).alias(
                "decayed_cents"
            ),
        )
        .orderBy(F.desc("decayed_cents"), F.asc("user_id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# dq03 — cross-vintage distribution drift
# ---------------------------------------------------------------------------

_BUCKET_CENTS = 5_000_000  # 50k-currency-unit fixed-width price buckets
_N_BUCKETS = 10


@query(
    "dq03_vintage_drift",
    f"""WITH b AS (
          SELECT year(o_orderdate) AS yr,
                 least(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                         // {_BUCKET_CENTS}, {_N_BUCKETS - 1}) AS bucket
          FROM orders WHERE year(o_orderdate) IN (1995, 1996)
        ),
        c AS (
          SELECT bucket,
                 CAST(SUM(CASE WHEN yr = 1995 THEN 1 ELSE 0 END) AS BIGINT) AS n_1995,
                 CAST(SUM(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) AS BIGINT) AS n_1996
          FROM b GROUP BY bucket
        ),
        t AS (SELECT CAST(SUM(n_1995) AS BIGINT) AS t95,
                     CAST(SUM(n_1996) AS BIGINT) AS t96 FROM c)
        SELECT bucket, n_1995, n_1996,
               abs(n_1995 * t96 - n_1996 * t95) AS cross_l1_dev
        FROM c CROSS JOIN t ORDER BY bucket""",
)
def dq03_vintage_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor between order vintages: 1995 vs 1996
    order totals in ten fixed 50k-wide price buckets (exact cents, last
    bucket open-ended), with per-bucket deviation measured
    CROSS-MULTIPLIED — |n95·T96 − n96·T95| compares the two shares
    without a single division, so the drift report is pure BIGINT (bound:
    n·T ≤ 1.5e4·1.5e4 at sf0.1, far inside 2⁶³ through sf100). A data
    contract alerts when any bucket's deviation exceeds a threshold —
    the vintage-to-vintage schema/distribution check dq01's single-table
    expectations and dq02's cross-table reconciliation don't cover.

    Scale: one scan with the year predicate pushed to parquet, one
    combine-friendly bucket aggregate (10 groups), a 1-row totals
    broadcast. Histogram-vs-histogram comparison cost is O(buckets),
    independent of corpus size."""
    o = load(spark, sf_dir, "orders")
    b = o.filter(F.year("o_orderdate").isin(1995, 1996)).select(
        F.year("o_orderdate").alias("yr"),
        F.least(
            F.expr(
                f"cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)"
                f" div {_BUCKET_CENTS}"
            ),
            F.lit(_N_BUCKETS - 1),
        ).alias("bucket"),
    )
    c = b.groupBy("bucket").agg(
        F.sum((F.col("yr") == 1995).cast("long")).alias("n_1995"),
        F.sum((F.col("yr") == 1996).cast("long")).alias("n_1996"),
    )
    t = c.agg(
        F.sum("n_1995").alias("t95"),
        F.sum("n_1996").alias("t96"),
    )
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "bucket",
            "n_1995",
            "n_1996",
            F.abs(
                F.col("n_1995") * F.col("t96") - F.col("n_1996") * F.col("t95")
            ).alias("cross_l1_dev"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# pp02 — the LLM-corpus build, composed from the batch-5 operators
# ---------------------------------------------------------------------------

_PP2_MAX_DUP = 500  # drop docs with > 50% duplicated char-window mass
_PP2_SHARDS = 16
_PP2_EPOCH = 7


def _pp02_sql() -> str:
    from ..functions.text import sql_md5_prefix_long
    from .corpus5 import (
        _DSIR_DOC_CTES,
        _DUP_MASS_CTES,
        _LM_DOC_CTES,
    )

    shard = (
        sql_md5_prefix_long(f"'{_PP2_EPOCH}|' || CAST(doc_id AS VARCHAR)")
        + f" % {_PP2_SHARDS}"
    )
    return f"""WITH {_LM_DOC_CTES},
        {_DSIR_DOC_CTES},
        {_DUP_MASS_CTES},
        gm AS (SELECT CAST(SUM(aff) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
                 AS corpus_mean_aff FROM aff),
        sel AS (
          SELECT d.doc_id, doc.n_chars, d.mean_condprob_scaled, aff.aff
          FROM d
          JOIN aff ON d.doc_id = aff.doc_id
          JOIN dm ON d.doc_id = dm.doc_id
          JOIN documents doc ON d.doc_id = doc.doc_id
          CROSS JOIN gm
          WHERE aff.aff > gm.corpus_mean_aff
            AND dm.dup_mass_permille <= {_PP2_MAX_DUP}),
        sh AS (SELECT *, {shard} AS shard FROM sel)
        SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(mean_condprob_scaled) AS BIGINT)
                 // CAST(COUNT(*) AS BIGINT) AS mean_lm_scaled,
               CAST(SUM(aff) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
                 AS mean_aff_scaled
        FROM sh GROUP BY shard ORDER BY shard"""


@query("pp02_llm_corpus_build", _pp02_sql())
def pp02_llm_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The modern LLM-corpus build as ONE composed dataflow — pp01's
    classic pipeline (gate → dedup → decontaminate → cap → split)
    upgraded to the batch-5 model-based operators in their production
    order:

      1. LM quality score   (bigram-LM mean conditional probability —
                             ta19's scorer, via the SHARED lm_doc_scores)
      2. DSIR selection     (keep docs STRICTLY more target-like than
                             the corpus-mean affinity — a relative
                             threshold, robust to the smoothing bias
                             that drags all absolute affinities below
                             SCALE; sm09's scorer)
      3. dup-mass filter    (drop docs with > 50% duplicated char-window
                             mass; dd20's scorer)
      4. epoch shard layout (sm08's keyed-hash sharding) with per-shard
                             quality metadata (mean LM / affinity scores)

    Every stage reuses the exact helper the standalone query registers —
    lm_doc_scores / dsir_doc_affinity / dup_mass_per_doc — so the
    composed build can never fork from the operators it composes (the
    same discipline as dd21 vs dd03/dd04).

    Scale: the three scorers are each one-to-two combine-friendly
    shuffles with broadcast feature tables (their own docstrings); the
    composition joins them on doc_id — co-partitioned after their
    per-doc groupBys, which AQE exploits — then one map-side hash shard
    assignment and a 16-group rollup. Catalyst sees ONE plan: the
    documents scan is shared across scorers via the exchange reuse the
    plan gate asserts for pp01."""
    from .corpus5 import (
        dsir_doc_affinity,
        dup_mass_per_doc,
        lm_doc_scores,
    )
    from ..functions.text import md5_prefix_long

    lm = lm_doc_scores(spark, sf_dir).select("doc_id", "mean_condprob_scaled")
    # the affinity table feeds BOTH the corpus-mean threshold and the
    # selection join; checkpoint it so the hashed-feature pipeline runs
    # once (gr03/dd21 discipline)
    af = (
        dsir_doc_affinity(spark, sf_dir)
        .select("doc_id", "aff")
        .transform(checkpoint)
    )
    gm = af.agg(F.expr("sum(aff) div count(*)").alias("corpus_mean_aff"))
    dm = dup_mass_per_doc(spark, sf_dir).select("doc_id", "dup_mass_permille")
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    sel = (
        lm.join(af, "doc_id")
        .join(dm, "doc_id")
        .join(docs, "doc_id")
        .crossJoin(F.broadcast(gm))
        .filter(
            (F.col("aff") > F.col("corpus_mean_aff"))
            & (F.col("dup_mass_permille") <= _PP2_MAX_DUP)
        )
    )
    sh = sel.withColumn(
        "shard",
        md5_prefix_long(
            F.concat(F.lit(f"{_PP2_EPOCH}|"), F.col("doc_id").cast("string"))
        )
        % _PP2_SHARDS,
    )
    return (
        sh.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.expr("sum(mean_condprob_scaled) div count(*)").alias("mean_lm_scaled"),
            F.expr("sum(aff) div count(*)").alias("mean_aff_scaled"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# sk01 — HyperLogLog from first principles (integer-exact registers)
# ---------------------------------------------------------------------------

_HLL_M = 64  # registers (b = 6 bucket bits) → ~13% standard error
_HLL_R = 55  # rho sentinel/bound: the 54-bit suffix's lowbit position ≤ 54
# alpha_64 = 0.709 as the exact rational 709/1000. The numerator
# 709 * 4096 * 2^55 is computed HERE as one exact double (22 significant
# bits shifted — representable) and emitted as a literal, because DuckDB
# parses bare decimal literals as DECIMAL (which overflows at this
# magnitude) while Spark parses them as DOUBLE; a single shortest-repr
# literal round-trips to the identical double in both parsers. pow() is
# libm territory (see f05), hence no runtime exponentiation.
_HLL_NUM = repr(709.0 * 4096.0 * 36028797018963968.0)
_HLL_RAW = f"({_HLL_NUM} / (CAST(1000 AS DOUBLE) * CAST(raw AS DOUBLE)))"
# Small-range correction (Flajolet et al. 2007 §4, the practical
# algorithm): when the raw estimate E <= 5/2·m and some registers are
# still zero, raw HLL is badly biased high and the published algorithm
# switches to LINEAR COUNTING, E* = m·ln(m/V) with V = #zero registers.
# ln is libm territory (f05 discipline: no runtime transcendentals), but
# V only takes values 1..m, so ln(m/V) is a 64-entry table of EXACT
# shortest-repr double literals generated here — identical parses on
# both engines, one identical multiply. V = 0 (all registers hit) can
# only happen far above 5/2·m, where the raw branch is taken.
# each THEN literal is CAST(... AS DOUBLE): DuckDB parses bare decimal
# literals as DECIMAL (the _HLL_NUM note) and would do decimal-typed CASE
# arithmetic; the cast re-rounds the shortest-repr decimal to the exact
# original double on both engines.
_HLL_LC_CASE = (
    "CASE v0 "
    + " ".join(
        f"WHEN {v} THEN CAST({repr(math.log(64.0 / v))} AS DOUBLE)"
        for v in range(1, 65)
    )
    + " ELSE CAST(0 AS DOUBLE) END"
)
_HLL_EST = (
    f"CASE WHEN v0 > 0 AND {_HLL_RAW} <= 160.0 "
    f"THEN CAST(64 AS DOUBLE) * ({_HLL_LC_CASE}) "
    f"ELSE {_HLL_RAW} END"
)


def _sk01_sql() -> str:
    from ..functions.text import sql_md5_prefix_long

    h = sql_md5_prefix_long("CAST(user_id AS VARCHAR)", 15)
    return f"""WITH h AS (
          SELECT event_type, {h} AS h FROM events),
        r AS (
          SELECT event_type, h % {_HLL_M} AS j,
                 CASE WHEN h // {_HLL_M} = 0 THEN {_HLL_R}
                      ELSE length(bin((h // {_HLL_M}) & -(h // {_HLL_M}))) END AS rho
          FROM h),
        m AS (SELECT event_type, j, MAX(rho) AS mj FROM r GROUP BY event_type, j),
        grid AS (
          SELECT event_type, gj AS j
          FROM (SELECT DISTINCT event_type FROM events)
          CROSS JOIN UNNEST(range(0, {_HLL_M})) AS t(gj)),
        reg AS (
          SELECT g.event_type, COALESCE(m.mj, 0) AS mj
          FROM grid g LEFT JOIN m ON g.event_type = m.event_type AND g.j = m.j),
        raws AS (
          SELECT event_type,
                 CAST(SUM(CAST(1 AS BIGINT) << ({_HLL_R} - mj)) AS BIGINT) AS raw,
                 CAST(SUM(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v0
          FROM reg GROUP BY event_type),
        exact AS (
          SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
          FROM events GROUP BY event_type)
        SELECT e.event_type, e.n_exact, {_HLL_EST} AS hll_estimate
        FROM exact e JOIN raws USING (event_type)
        ORDER BY e.event_type"""


@query("sk01_hll_from_scratch", _sk01_sql())
def sk01_hll_from_scratch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog built from first principles (Flajolet et al. 2007),
    bit-exact across engines — unlike a03's approx_count_distinct, whose
    engine-specific sketch can only be oracled via its accuracy bound,
    this one is fully value-checked: per event type, 64 registers hold the max lowest-
    set-bit position of the 54-bit md5 suffix (rho via the x & -x lowbit
    isolate + bin-length — no logs), the harmonic denominator is the
    EXACT integer Σ 2^(R − M[j]), and the α·m²-scaled estimate is one
    identical double rounding chain, with the published SMALL-RANGE
    correction (r8): when E ≤ 5/2·m and zero registers remain, linear
    counting m·ln(m/V) takes over — ln from a 64-entry exact-literal
    table, keeping the no-runtime-transcendentals discipline. Reported
    next to the exact distinct count so the ~13% (1.04/√64) error budget
    is measured, not assumed (with correction: +5% at n=15 vs +255%
    raw — the small-cardinality regime every per-group HLL hits).

    Scale: THE mergeable-sketch pattern — registers combine with MAX, so
    per-partition sketches merge map-side and the shuffle carries
    64 small integers per group regardless of cardinality; exactly how
    distinct-user counts run over 100 TB when a02's exact shuffle is too
    wide. The exact leg exists for the eval (like sim13/dd21, the
    approximate path ships with its measured quality)."""
    from ..functions.text import md5_prefix_long

    ev = load(spark, sf_dir, "events")
    h = ev.select(
        "event_type",
        md5_prefix_long(F.col("user_id").cast("string"), 15).alias("h"),
    )
    r = h.select(
        "event_type",
        (F.col("h") % _HLL_M).alias("j"),
        F.expr(
            f"CASE WHEN h div {_HLL_M} = 0 THEN {_HLL_R}"
            f" ELSE length(bin((h div {_HLL_M}) & -(h div {_HLL_M}))) END"
        ).alias("rho"),
    )
    m = r.groupBy("event_type", "j").agg(F.max("rho").alias("mj"))
    grid = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(F.sequence(F.lit(0), F.lit(_HLL_M - 1))).alias("j"),
        )
    )
    reg = grid.join(m, ["event_type", "j"], "left").select(
        "event_type", F.coalesce(F.col("mj"), F.lit(0)).alias("mj")
    )
    raws = reg.groupBy("event_type").agg(
        F.sum(F.expr(f"shiftleft(cast(1 as bigint), {_HLL_R} - mj)")).alias("raw"),
        F.sum(F.expr("CASE WHEN mj = 0 THEN 1 ELSE 0 END")).cast("bigint").alias("v0"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return (
        exact.join(raws, "event_type")
        .select(
            "event_type",
            "n_exact",
            F.expr(_HLL_EST).alias("hll_estimate"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# sk02 — KMV (theta-style) sketch set algebra
# ---------------------------------------------------------------------------

_KMV_K = 32
_KMV_A, _KMV_B = "click", "view"
# (k-1) * 2^60 as one exact double literal (5 significant bits shifted),
# same DuckDB-DECIMAL-literal rationale as sk01's constant.
_KMV_NUM = repr(float((_KMV_K - 1) * (1 << 60)))


def _topk_smallest(df: DataFrame, group_cols: list[str], k: int) -> DataFrame:
    """Exact k-smallest `h` per group, TWO-PHASE: per-input-partition heads
    first (parallel — bounded work per task), then the merge window over
    <= k x n_partitions surviving rows.  A single row_number() over the
    group would sort the ENTIRE distinct-hash stream in one task per group
    (sk02's original union leg was the worst case: one global partition) —
    this is the production form, and its correctness IS the KMV merge
    property pinned by tests/test_sketch_merge.py: per-partition synopses
    merged equal the global synopsis under any layout."""
    from pyspark.sql.window import Window

    w1 = Window.partitionBy(*group_cols, "_pid").orderBy("h")
    w2 = (
        Window.partitionBy(*group_cols).orderBy("h")
        if group_cols
        else Window.orderBy("h")  # merge leg: <= k * n_partitions rows
    )
    return (
        df.withColumn("_pid", F.spark_partition_id())
        .withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k)
        .withColumn("_rn2", F.row_number().over(w2))
        .filter(F.col("_rn2") <= k)
        .drop("_pid", "_rn", "_rn2")
    )


def _sk02_sql() -> str:
    from ..functions.text import sql_md5_prefix_long

    h = sql_md5_prefix_long("CAST(user_id AS VARCHAR)", 15)
    est = (
        f"CASE WHEN cnt < {_KMV_K} THEN CAST(cnt AS DOUBLE) "
        f"ELSE {_KMV_NUM} / CAST(hk AS DOUBLE) END"
    )
    return f"""WITH h AS (
          SELECT DISTINCT event_type, {h} AS h FROM events
          WHERE event_type IN ('{_KMV_A}', '{_KMV_B}')),
        ranked AS (
          SELECT event_type, h,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
          FROM h),
        sk AS (SELECT event_type, h FROM ranked WHERE rn <= {_KMV_K}),
        stats AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
                 CAST(MAX(h) AS BIGINT) AS hk
          FROM sk GROUP BY event_type),
        uh AS (SELECT DISTINCT h FROM h),
        uranked AS (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM uh),
        usk AS (SELECT h FROM uranked WHERE rn <= {_KMV_K}),
        ustats AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
                          CAST(MAX(h) AS BIGINT) AS hk FROM usk),
        common AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS c FROM usk u
          WHERE EXISTS (SELECT 1 FROM h a
                        WHERE a.event_type = '{_KMV_A}' AND a.h = u.h)
            AND EXISTS (SELECT 1 FROM h b
                        WHERE b.event_type = '{_KMV_B}' AND b.h = u.h)),
        exact AS (
          SELECT CAST(COUNT(DISTINCT CASE WHEN event_type = '{_KMV_A}' THEN user_id END) AS BIGINT) AS n_a,
                 CAST(COUNT(DISTINCT CASE WHEN event_type = '{_KMV_B}' THEN user_id END) AS BIGINT) AS n_b,
                 CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_union
          FROM events WHERE event_type IN ('{_KMV_A}', '{_KMV_B}'))
        SELECT e.n_a AS n_a_exact,
               (SELECT {est} FROM stats WHERE event_type = '{_KMV_A}') AS est_a,
               e.n_b AS n_b_exact,
               (SELECT {est} FROM stats WHERE event_type = '{_KMV_B}') AS est_b,
               e.n_union AS n_union_exact,
               (SELECT {est} FROM ustats) AS est_union,
               (SELECT (c * 1000) // LEAST((SELECT cnt FROM ustats), {_KMV_K})
                FROM common) AS jaccard_kmv_permille
        FROM exact e"""


@query("sk02_kmv_set_ops", _sk02_sql())
def sk02_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / theta-style sketch set algebra (Beyer et al. 2007; the
    Datasketches theta design): each side keeps only its K=32 smallest
    60-bit hashes, cardinality is estimated as (K−1)·2^60 / h_(K)
    (exactly the count when the set is smaller than K — the estimator's
    own degenerate case, handled identically on both engines), and the
    UNION sketch is just the K smallest of the merged sketches. The
    overlap ratio counts union-sketch members present in BOTH sides —
    theta-sketch intersection — giving a Jaccard estimate in integer
    permille. Exact legs ride along (sk01/dd21/sim13 discipline).

    This is what cross-SOURCE overlap costs at 100 TB: dd15's exact
    duplication matrix shuffles real pair sets; sketch algebra answers
    the same "how much do sources overlap" question shipping K hashes
    per source — sketches merge by MIN/top-K, so they combine map-side
    and the coordinator sees K·|sources| integers total.

    Determinism: hashes are md5-derived integers, top-K selection and
    MAX are order-free, the single estimate division is one double chain
    with the numerator emitted as an exact shortest-repr literal."""
    from ..functions.text import md5_prefix_long
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_KMV_A, _KMV_B)
    )
    h = ev.select(
        "event_type", md5_prefix_long(F.col("user_id").cast("string"), 15).alias("h")
    ).distinct()
    sk = _topk_smallest(h, ["event_type"], _KMV_K).transform(
        checkpoint  # feeds stats AND the merged union sketch below
    )
    est_expr = (
        f"CASE WHEN cnt < {_KMV_K} THEN CAST(cnt AS DOUBLE) "
        f"ELSE {_KMV_NUM} / CAST(hk AS DOUBLE) END"
    )
    stats = (
        sk.groupBy("event_type")
        .agg(F.count("*").alias("cnt"), F.max("h").alias("hk"))
        .select("event_type", F.expr(est_expr).alias("est"), "cnt")
    )
    # Union sketch MERGED from the side sketches (r16): the K smallest
    # distinct hashes of A ∪ B are exactly the K smallest distinct of
    # top-K(A) ∪ top-K(B) — any union-sketch member is within the K
    # smallest of its own side, so it survives into sk.  This is the KMV
    # merge property tests/test_sketch_merge.py pins, applied to the
    # query itself: the pre-r16 form recomputed the union sketch from
    # uh = h.distinct() (a SECOND full distinct shuffle over every user
    # hash plus a global two-phase top-K window over it), and its
    # ustats semi-join uh ⋉ usk was an identity (usk ⊆ uh), so cnt/hk
    # read directly off the merged sketch are value-identical.  Measured
    # interleaved ×7 at sf0.1: 1.141 → 0.973 s median (−15%),
    # row-identical in-run (reproduce: tools/ab.py
    # 27c06c4:sk02_kmv_set_ops sk02_kmv_set_ops).
    usk = _topk_smallest(sk.select("h").distinct(), [], _KMV_K).select("h")
    ustats = usk.agg(F.count("*").alias("cnt"), F.max("h").alias("hk"))
    ha = h.filter(F.col("event_type") == _KMV_A).select("h")
    hb = h.filter(F.col("event_type") == _KMV_B).select("h")
    common = (
        usk.join(ha, "h", "left_semi")
        .join(hb, "h", "left_semi")
        .agg(F.count("*").alias("c"))
    )
    exact = ev.agg(
        F.countDistinct(
            F.when(F.col("event_type") == _KMV_A, F.col("user_id"))
        ).alias("n_a_exact"),
        F.countDistinct(
            F.when(F.col("event_type") == _KMV_B, F.col("user_id"))
        ).alias("n_b_exact"),
        F.countDistinct("user_id").alias("n_union_exact"),
    )
    est_a = stats.filter(F.col("event_type") == _KMV_A).select(
        F.col("est").alias("est_a")
    )
    est_b = stats.filter(F.col("event_type") == _KMV_B).select(
        F.col("est").alias("est_b")
    )
    est_u = ustats.select(
        F.expr(est_expr).alias("est_union"), F.col("cnt").alias("ucnt")
    )
    return (
        exact.crossJoin(F.broadcast(est_a))
        .crossJoin(F.broadcast(est_b))
        .crossJoin(F.broadcast(est_u))
        .crossJoin(F.broadcast(common))
        .select(
            "n_a_exact",
            "est_a",
            "n_b_exact",
            "est_b",
            "n_union_exact",
            "est_union",
            F.expr(f"(c * 1000) div least(ucnt, {_KMV_K})").alias(
                "jaccard_kmv_permille"
            ),
        )
    )


# ---------------------------------------------------------------------------
# sk03 — count-min sketch frequency estimates
# ---------------------------------------------------------------------------

_CMS_D = 4  # hash rows
_CMS_W = 256  # counters per row
_CMS_TOPK = 10


def _sk03_sql() -> str:
    from ..functions.text import sql_md5_prefix_long

    cell = sql_md5_prefix_long("CAST(s AS VARCHAR) || '|' || word")
    qcell = sql_md5_prefix_long("CAST(t.s AS VARCHAR) || '|' || e.word")
    return f"""WITH w AS (
          SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        cells AS (
          SELECT s, {cell} % {_CMS_W} AS cell, CAST(COUNT(*) AS BIGINT) AS c
          FROM w, UNNEST(range(0, {_CMS_D})) AS t(s)
          GROUP BY s, cell),
        exact AS (
          SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM w GROUP BY word
          ORDER BY n DESC, word LIMIT {_CMS_TOPK}),
        est AS (
          SELECT e.word, e.n, MIN(c.c) AS cm
          FROM exact e, UNNEST(range(0, {_CMS_D})) AS t(s)
          JOIN cells c ON c.s = t.s AND c.cell = {qcell} % {_CMS_W}
          GROUP BY e.word, e.n)
        SELECT word, n AS n_exact, CAST(cm AS BIGINT) AS cm_estimate,
               CAST(cm - n AS BIGINT) AS overcount
        FROM est ORDER BY n_exact DESC, word"""


@query("sk03_countmin_heavy_hitters", _sk03_sql())
def sk03_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) over the token
    stream: d=4 hash rows × w=256 counters absorb every word occurrence,
    and a word's frequency estimate is the MIN of its d cells — never an
    undercount (the CMS one-sided guarantee; the test pins it), over by
    at most the collisions in its luckiest row. Reported for the top-10
    exact heavy hitters with the measured overcount, completing the
    sketch shelf: sk01 HLL (distinct), sk02 KMV (set algebra), sk03 CMS
    (frequencies) — all bit-exact across engines where a03's native
    sketch can only be bound-checked.

    Scale: the sketch is d·w = 1024 integer counters REGARDLESS of
    stream size, built by one combine-friendly count shuffle (counters
    merge by +, so partial sketches combine map-side — the streaming/
    distributed property that makes CMS the standard heavy-hitter
    primitive); the probe side joins the top-k candidates against the
    broadcast-sized counter table. The exact leg exists for the eval,
    as everywhere (dd21/sim13/sk01/sk02)."""
    from ..functions.text import md5_prefix_long

    w = load(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("word")
    )
    seeds = F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("s")
    cellno = (
        md5_prefix_long(F.concat(F.col("s").cast("string"), F.lit("|"), F.col("word")))
        % _CMS_W
    )
    cells = (
        w.select("word", seeds)
        .select("s", cellno.alias("cell"))
        .groupBy("s", "cell")
        .agg(F.count("*").alias("c"))
    )
    exact = (
        w.groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(_CMS_TOPK)
    )
    probes = exact.select("word", "n", seeds).select(
        "word", "n", "s", cellno.alias("cell")
    )
    est = (
        probes.join(F.broadcast(cells), ["s", "cell"])
        .groupBy("word", "n")
        .agg(F.min("c").alias("cm"))
    )
    return est.select(
        "word",
        F.col("n").alias("n_exact"),
        F.col("cm").alias("cm_estimate"),
        (F.col("cm") - F.col("n")).alias("overcount"),
    ).orderBy(F.desc("n_exact"), F.asc("word"))


# ---------------------------------------------------------------------------
# sk04 — theta-sketch A-NOT-B (set difference at sketch cost)
# ---------------------------------------------------------------------------

_SK04_SCALE = repr(float(1 << 60))  # hash-space size as an exact double literal
_SK04_YA, _SK04_YB = 1995, 1996


def _sk04_sql() -> str:
    from ..functions.text import sql_md5_prefix_long

    h = sql_md5_prefix_long("CAST(o_custkey AS VARCHAR)", 15)
    return f"""WITH h AS (
          SELECT DISTINCT year(o_orderdate) AS side, {h} AS h FROM orders
          WHERE year(o_orderdate) IN ({_SK04_YA}, {_SK04_YB})),
        ranked AS (
          SELECT side, h,
                 ROW_NUMBER() OVER (PARTITION BY side ORDER BY h) AS rn
          FROM h),
        sk AS (SELECT side, h FROM ranked WHERE rn <= {_KMV_K}),
        theta AS (
          SELECT LEAST(
            (SELECT CAST(MAX(h) AS BIGINT) FROM sk WHERE side = {_SK04_YA}),
            (SELECT CAST(MAX(h) AS BIGINT) FROM sk WHERE side = {_SK04_YB})
          ) AS th),
        anb AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS retained FROM sk a, theta t
          WHERE a.side = {_SK04_YA} AND a.h < t.th
            AND NOT EXISTS (SELECT 1 FROM sk b
                            WHERE b.side = {_SK04_YB} AND b.h = a.h)),
        bna AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS retained FROM sk b, theta t
          WHERE b.side = {_SK04_YB} AND b.h < t.th
            AND NOT EXISTS (SELECT 1 FROM sk a
                            WHERE a.side = {_SK04_YA} AND a.h = b.h)),
        exact AS (
          SELECT
            CAST(COUNT(DISTINCT CASE WHEN a.o_custkey IS NOT NULL AND b.o_custkey IS NULL
                                     THEN a.o_custkey END) AS BIGINT) AS n_a_not_b,
            CAST(COUNT(DISTINCT CASE WHEN b.o_custkey IS NOT NULL AND a.o_custkey IS NULL
                                     THEN b.o_custkey END) AS BIGINT) AS n_b_not_a
          FROM (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = {_SK04_YA}) a
          FULL OUTER JOIN
               (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = {_SK04_YB}) b
          ON a.o_custkey = b.o_custkey)
        SELECT e.n_a_not_b AS n_a_not_b_exact,
               (SELECT (CAST(retained AS DOUBLE) * {_SK04_SCALE}) / CAST(t.th AS DOUBLE)
                FROM anb, theta t) AS est_a_not_b,
               (SELECT retained FROM anb) AS retained_a_not_b,
               e.n_b_not_a AS n_b_not_a_exact,
               (SELECT (CAST(retained AS DOUBLE) * {_SK04_SCALE}) / CAST(t.th AS DOUBLE)
                FROM bna, theta t) AS est_b_not_a,
               (SELECT retained FROM bna) AS retained_b_not_a,
               (SELECT CAST(th AS BIGINT) FROM theta) AS theta_int
        FROM exact e"""


@query("sk04_theta_a_not_b", _sk04_sql())
def sk04_theta_a_not_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch A-NOT-B (the Datasketches set-DIFFERENCE operation,
    completing sk02's union/intersection algebra) over customer order
    vintages — "who bought in 1995 but not 1996" (churn) and its
    converse (acquisition), the cardinalities a retention team reads
    daily.  Clip both KMV sketches to the shared threshold θ =
    min(θ_A, θ_B), retain A-sketch entries below θ absent from B's
    sketch (exact 60-bit hash equality — no false positives), estimate
    |A∖B| = retained · 2⁶⁰ / θ.  Both directions reported against their
    exact legs (sk01/sk02 discipline), with retained counts and θ
    exposed so the estimator's inputs are auditable.  The events-table
    sides were rejected for this op on purpose: every synthetic user
    does every event type, so the vintage split is the one real
    difference in the testdata.

    Scale: sketches are K=32 hashes per side regardless of order
    volume, so the A-NOT-B combine is trivial at any scale; the exact
    legs (one side-flags aggregate over custkeys) exist only for the
    eval.
    Determinism: integer hashes, LEAST/MAX over integers, one double
    chain per estimate."""
    from ..functions.text import md5_prefix_long
    from pyspark.sql.window import Window

    o = load(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("side"), "o_custkey"
    ).filter(F.col("side").isin(_SK04_YA, _SK04_YB))
    h = o.select(
        "side", md5_prefix_long(F.col("o_custkey").cast("string"), 15).alias("h")
    ).distinct()
    sk = (
        _topk_smallest(h, ["side"], _KMV_K)
        .select("side", "h")
        .transform(checkpoint)  # four consumers: theta + both difference legs
    )
    theta = sk.groupBy("side").agg(F.max("h").alias("hk")).agg(
        F.min("hk").alias("th")
    )
    ska = sk.filter(F.col("side") == _SK04_YA).select("h")
    skb = sk.filter(F.col("side") == _SK04_YB).select("h")

    def retained(side_df, other):
        return (
            side_df.crossJoin(F.broadcast(theta))
            .filter(F.col("h") < F.col("th"))
            .join(other, "h", "left_anti")
            .agg(F.count("*").alias("retained"))
        )

    anb = retained(ska, skb)
    bna = retained(skb, ska)
    # Exact legs fused (r16): ONE side-flags aggregate — groupBy custkey
    # with boolean in_a/in_b MAX flags, then a 1-row count — replacing
    # the ua.distinct + ub.distinct + full_outer sort-merge join (two
    # extra orders scans + two distinct shuffles + the join).  sk02's
    # exact leg already uses this single-aggregate style; a custkey is
    # counted in n_a_not_b iff it appears with side YA and never YB,
    # exactly the full_outer null-pattern the old form counted (on
    # distinct inputs countDistinct degenerated to count).  Measured
    # interleaved ×7 at sf0.1, steal ≤0.43%: 0.879 → 0.609 s median
    # (−31%), row-identical in-run (reproduce: tools/ab.py
    # 27c06c4:sk04_theta_a_not_b sk04_theta_a_not_b).
    # Precondition: o_custkey is non-null (a TPC-H FK); a NULL group would be
    # counted here, where the old countDistinct form ignored it.
    flags = o.groupBy("o_custkey").agg(
        F.max(F.col("side") == _SK04_YA).alias("in_a"),
        F.max(F.col("side") == _SK04_YB).alias("in_b"),
    )
    exact = flags.agg(
        F.count(F.when(F.col("in_a") & ~F.col("in_b"), True)).alias("n_a_not_b"),
        F.count(F.when(F.col("in_b") & ~F.col("in_a"), True)).alias("n_b_not_a"),
    )
    est = lambda r: (  # noqa: E731 — one double chain, literal scale
        F.col(r).cast("double") * F.lit(float(1 << 60)) / F.col("th").cast("double")
    )
    return (
        exact.crossJoin(anb.withColumnRenamed("retained", "retained_a_not_b"))
        .crossJoin(bna.withColumnRenamed("retained", "retained_b_not_a"))
        .crossJoin(F.broadcast(theta))
        .select(
            F.col("n_a_not_b").alias("n_a_not_b_exact"),
            est("retained_a_not_b").alias("est_a_not_b"),
            "retained_a_not_b",
            F.col("n_b_not_a").alias("n_b_not_a_exact"),
            est("retained_b_not_a").alias("est_b_not_a"),
            "retained_b_not_a",
            F.col("th").alias("theta_int"),
        )
    )
