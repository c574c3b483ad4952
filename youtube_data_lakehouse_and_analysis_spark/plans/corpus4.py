"""Training-data pipeline operators, batch 4: Bloom-filter benchmark
decontamination and temperature-scaled source mixing.

  dd17 — the Bloom variant of dd10's exact n-gram decontamination: the
         eval set's 5-gram inventory is folded into an m-bit / k-hash
         Bloom signature and training docs are flagged by bit membership,
         with the false-positive count reported against the exact join
  sm06 — temperature sampling (the mT5/multilingual mixing rule): each
         language's share of the output mixture is proportional to
         n^α (α = 1/2 here), flattening head languages and boosting the
         tail, with the concrete per-language sample pinned by content
         hash

The reference has no corpus ops (SURVEY §2.11; its text columns pass
through untouched, /root/reference/app.py:322-389) — this family is part
of the 100 TB extension surface, expressed entirely in JVM built-ins.

Determinism notes: Bloom bit positions come from the portable md5-prefix
hash (functions/text.py) so both engines compute the identical bit set —
false positives included; sm06's α = 1/2 weights use floor(sqrt(n)) so
the weight basis, its sum, and every derived target count are pure
integer arithmetic (no order-dependent float summation), with exactly one
IEEE division per reported weight.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import checkpoint, load
from ..functions.text import md5_prefix_long
from ..operators.cdf import cdf_cuts, sql_cdf_cuts
from .corpus2 import _BENCH_MOD, _N, _word_ngrams
from .queries import query

# ---------------------------------------------------------------------------
# dd17 — Bloom-filter decontamination with false-positive accounting
# ---------------------------------------------------------------------------

_BLOOM_M = 65536  # bits in the filter — sized so the bench-gram fill stays
#                   ~20% (the eval split holds ~2.6k distinct 5-grams here);
#                   an undersized filter saturates and flags everything
_BLOOM_K = 5  # hash functions (seeds 0..k-1): fp/gram = fill^k ≈ 2e-4


def _sql_pos(expr: str) -> str:
    """DuckDB twin of md5_prefix_long(expr) % _BLOOM_M."""
    return (
        f"CAST(('0x' || substring(md5({expr}), 1, 8)) AS BIGINT) % {_BLOOM_M}"
    )


_DD17_SQL = f"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g AS (SELECT doc_id,
                 array_to_string(list_slice(ws, i + 1, i + {_N}), ' ') AS ngram
          FROM w, UNNEST(range(0, len(ws) - {_N} + 1)) AS t(i)
          WHERE len(ws) >= {_N}),
    bench AS (SELECT DISTINCT ngram FROM g WHERE doc_id % {_BENCH_MOD} = 0),
    bloom_bits AS (
      SELECT DISTINCT {_sql_pos("CAST(s AS VARCHAR) || '|' || ngram")} AS pos
      FROM bench, UNNEST(range(0, {_BLOOM_K})) AS u(s)),
    train_g AS (SELECT DISTINCT doc_id, ngram FROM g WHERE doc_id % {_BENCH_MOD} <> 0),
    probes AS (
      SELECT doc_id, ngram,
             {_sql_pos("CAST(s AS VARCHAR) || '|' || ngram")} AS pos
      FROM train_g, UNNEST(range(0, {_BLOOM_K})) AS u(s)),
    hits AS (SELECT doc_id, ngram, COUNT(*) AS k_hit
             FROM probes WHERE pos IN (SELECT pos FROM bloom_bits)
             GROUP BY doc_id, ngram),
    bloom_docs AS (SELECT DISTINCT doc_id FROM hits WHERE k_hit = {_BLOOM_K}),
    exact_docs AS (SELECT DISTINCT doc_id FROM train_g
                   WHERE ngram IN (SELECT ngram FROM bench))
    SELECT d.source,
           COUNT(*) AS n_train,
           CAST(SUM(CASE WHEN b.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS bloom_flagged,
           CAST(SUM(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS exact_hits,
           CAST(SUM(CASE WHEN b.doc_id IS NOT NULL AND e.doc_id IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS false_positives
    FROM documents d
    LEFT JOIN bloom_docs b ON d.doc_id = b.doc_id
    LEFT JOIN exact_docs e ON d.doc_id = e.doc_id
    WHERE d.doc_id % {_BENCH_MOD} <> 0
    GROUP BY d.source"""


@query("dd17_bloom_decontaminate", _DD17_SQL)
def dd17_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter benchmark decontamination, reported per source against
    the exact answer: the eval split's (doc_id % 29 == 0) distinct word
    5-grams are hashed into an m=65536-bit / k=5 Bloom signature; a
    training document is bloom-flagged when ANY of its 5-grams has all k
    bit positions set. exact_hits re-runs dd10's exact membership join on
    the same grams, so false_positives = bloom_flagged − exact_hits is
    the filter's measured error (deterministic — both engines compute the
    identical md5-derived bit set, so the SAME false positives).

    Scale: this is why the Bloom form exists — the exact join must
    broadcast the eval set's distinct n-gram STRINGS (GBs for a large
    benchmark suite), while the Bloom signature is m bits regardless
    (128 MB covers 10⁹ grams at ~1% fp), shippable in every task closure.
    Probing is map-side; only the per-(doc, gram) seed-hit count
    aggregates, and it collapses in partial agg. Here the bit set is a
    one-column broadcast-semi-join (≤ m rows).

    The literal-bitmap closure variant (pack the bit set into an
    array<bigint> literal at plan-build time, test k positions per gram
    map-side) was implemented in r16, MEASURED, and REJECTED — recorded
    here so it is not re-attempted without new evidence.  Two shapes
    both lost to this join form at sf0.1 (old 1.37–1.53 s): bind()-per
    -position 3.03 s (the transform() binder drops the predicate out of
    WholeStageCodegen into interpreted eval), and a codegen-friendly
    5×(project, filter) chain 4.16 s — bisected to ~0.5–1.0 s per seed
    of element_at() on the 1024-long literal array (boxed
    GenericArrayData access per row) plus per-operator row copies
    through the widening project chain.  The broadcast hash relation IS
    the engine-native bitmap: its probe is codegen'd and cheaper than
    any literal-array indexing expressible today, and the k_hit
    aggregate it requires is partial-agg collapsible.  See
    OPTIMIZATION_r16.md."""
    docs = load(spark, sf_dir, "documents")
    seeds = F.array(*[F.lit(s) for s in range(_BLOOM_K)])

    def pos(ngram_col):
        return md5_prefix_long(
            F.concat(F.col("s").cast("string"), F.lit("|"), ngram_col)
        ) % _BLOOM_M

    grams = _word_ngrams(docs, _N)
    bench = grams.filter(F.col("doc_id") % _BENCH_MOD == 0).select("ngram").distinct()
    bloom_bits = (
        bench.select(F.explode(seeds).alias("s"), "ngram")
        .select(pos(F.col("ngram")).alias("pos"))
        .distinct()
    )
    train_g = grams.filter(F.col("doc_id") % _BENCH_MOD != 0).distinct()
    probes = train_g.select(
        "doc_id", "ngram", F.explode(seeds).alias("s")
    ).select("doc_id", "ngram", pos(F.col("ngram")).alias("pos"))
    hits = (
        probes.join(F.broadcast(bloom_bits), "pos", "left_semi")
        .groupBy("doc_id", "ngram")
        .agg(F.count("*").alias("k_hit"))
    )
    bloom_docs = hits.filter(F.col("k_hit") == _BLOOM_K).select("doc_id").distinct()
    exact_docs = (
        train_g.join(F.broadcast(bench), "ngram", "left_semi").select("doc_id").distinct()
    )
    return (
        docs.filter(F.col("doc_id") % _BENCH_MOD != 0)
        .join(F.broadcast(bloom_docs.withColumn("b", F.lit(1))), "doc_id", "left")
        .join(F.broadcast(exact_docs.withColumn("e", F.lit(1))), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_train"),
            F.sum(F.when(F.col("b").isNotNull(), 1).otherwise(0)).alias("bloom_flagged"),
            F.sum(F.when(F.col("e").isNotNull(), 1).otherwise(0)).alias("exact_hits"),
            F.sum(
                F.when(F.col("b").isNotNull() & F.col("e").isNull(), 1).otherwise(0)
            ).alias("false_positives"),
        )
    )


# ---------------------------------------------------------------------------
# sm06 — temperature-scaled language mixing (n^α, α = 1/2)
# ---------------------------------------------------------------------------

_MIX_T = 200  # total documents the mixture targets


_SM06_SQL = f"""WITH n AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
    s AS (SELECT lang, n_docs, CAST(floor(sqrt(n_docs)) AS BIGINT) AS sw FROM n),
    d AS (SELECT CAST(SUM(sw) AS BIGINT) AS denom FROM s),
    t AS (SELECT lang, n_docs, sw, denom,
                 CAST(sw AS DOUBLE) / denom AS temp_weight,
                 ({_MIX_T} * sw) // denom AS target_n
          FROM s CROSS JOIN d),
    r AS (SELECT doc_id, lang,
                 ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                                 AS BIGINT), doc_id) AS rn
          FROM documents),
    k AS (SELECT r.lang, COUNT(*) AS sampled_n, CAST(SUM(doc_id) AS BIGINT) AS sample_id_sum
          FROM r JOIN t ON r.lang = t.lang
          WHERE rn <= target_n GROUP BY r.lang)
    SELECT t.lang, t.n_docs, t.temp_weight, t.target_n,
           COALESCE(k.sampled_n, 0) AS sampled_n,
           COALESCE(k.sample_id_sum, 0) AS sample_id_sum
    FROM t LEFT JOIN k ON t.lang = k.lang"""


@query("sm06_temperature_mixing", _SM06_SQL)
def sm06_temperature_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature sampling over languages (the mT5/XLM-R mixing rule):
    each language's target share of a {_MIX_T}-doc mixture is
    w_l = n_l^α / Σ n^α with α = 1/2, flattening the head (English keeps
    less than its raw share) and boosting the tail. The weight basis is
    floor(sqrt(n)) — an integer — so the denominator is an
    order-independent integer sum and target_n = (T·s_l) div Σs is exact
    integer arithmetic on both engines; temp_weight is one IEEE division
    for reporting. The concrete sample is the target_n lowest
    (md5(doc_id), doc_id)-ranked docs per language — content-hash-pinned,
    so reruns, engines, and partitionings agree row-for-row (sample_id_sum
    pins the actual selection, not just its size).

    Scale: the weight table is |languages| rows (broadcast); ranking
    shuffles once on lang — for skewed corpora swap the global per-lang
    ROW_NUMBER for the hash-threshold filter (sm04's shape) to avoid
    sorting a dominant language, at the cost of approximate target
    counts."""
    docs = load(spark, sf_dir, "documents")
    n = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    s = n.withColumn("sw", F.floor(F.sqrt(F.col("n_docs"))).cast("long"))
    d = s.agg(F.sum("sw").alias("denom"))
    t = s.crossJoin(F.broadcast(d)).select(
        "lang",
        "n_docs",
        "sw",
        "denom",
        (F.col("sw").cast("double") / F.col("denom")).alias("temp_weight"),
        F.expr(f"({_MIX_T} * sw) div denom").alias("target_n"),
    )
    w = Window.partitionBy("lang").orderBy(
        md5_prefix_long(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    r = docs.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
    k = (
        r.join(F.broadcast(t.select("lang", "target_n")), "lang")
        .filter(F.col("rn") <= F.col("target_n"))
        .groupBy("lang")
        .agg(F.count("*").alias("sampled_n"), F.sum("doc_id").alias("sample_id_sum"))
    )
    return (
        t.join(F.broadcast(k), "lang", "left")
        .select(
            "lang",
            "n_docs",
            "temp_weight",
            "target_n",
            F.coalesce(F.col("sampled_n"), F.lit(0)).alias("sampled_n"),
            F.coalesce(F.col("sample_id_sum"), F.lit(0)).alias("sample_id_sum"),
        )
    )


# ---------------------------------------------------------------------------
# fe03 — linear quality-classifier inference (the fastText-filter shape)
# ---------------------------------------------------------------------------

_FE3_BUCKETS = 64

# Shared CTE chain: hashed bag-of-words (fe01's recipe) -> md5-derived
# weight per bucket -> per-doc integer score.  fe03 thresholds it; sm07
# buckets it into keep-rate quartiles.  ONE definition so the two
# queries can never fork.
_SCORE_CTES = f"""tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                 FROM documents),
    feat AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(term), 1, 8)) AS BIGINT)
               % {_FE3_BUCKETS} AS bucket,
             COUNT(*) AS cnt
      FROM tok GROUP BY doc_id, bucket),
    weighted AS (
      SELECT doc_id,
             CAST(SUM(cnt * ((CAST(('0x' || substring(md5('w|' || CAST(bucket AS VARCHAR)), 1, 8))
                               AS BIGINT) % 2001) - 1000)) AS BIGINT) AS score
      FROM feat GROUP BY doc_id)"""


def _quality_scores(docs: DataFrame) -> DataFrame:
    """Spark twin of _SCORE_CTES: (doc_id, score) with score an exact
    integer — the single definition both fe03 and sm07 build on."""
    bucket = (
        F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10).cast("bigint")
        % _FE3_BUCKETS
    )
    weight = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("w|"), F.col("bucket").cast("string"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        % 2001
        - 1000
    )
    return (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(F.sum(F.col("cnt") * weight).alias("score"))
    )


_FE03_SQL = f"""WITH {_SCORE_CTES},
    scored AS (
      SELECT d.source, w.score FROM documents d JOIN weighted w ON d.doc_id = w.doc_id)
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           CAST(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS keep_rate,
           CAST(SUM(score) AS BIGINT) AS sum_score
    FROM scored GROUP BY source"""


@query("fe03_quality_classifier", _FE03_SQL)
def fe03_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier INFERENCE over hashed features — the
    fastText-style filter every web-scale corpus passes through (CCNet /
    GPT-3 quality filtering): score = Σ count_b · w_b over fe01's 64
    hashing-trick buckets, keep iff score > 0. The weight vector here is
    a deterministic md5-derived stand-in for trained weights (values in
    [-1000, 1000]); in production the same expression consumes a
    broadcast weight table from the trainer. The decision is a pure
    integer threshold — no sigmoid, because σ is monotone so
    σ(score) > ½ ⟺ score > 0 — which keeps the keep/drop bit and both
    engines' reports exact.

    Scale: explode → (doc, bucket) partial-agg → per-doc weighted sum →
    per-source rollup: two combine-friendly shuffles, weight lookup
    computed inline (zero join; with trained weights: one broadcast of
    |buckets| rows). Inference cost is independent of vocabulary —
    hashing-trick classifiers have no dictionary to ship."""
    docs = load(spark, sf_dir, "documents")
    weighted = _quality_scores(docs)
    return (
        docs.select("doc_id", "source")
        .join(weighted, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("score") > 0, 1).otherwise(0)).alias("n_keep"),
            (
                F.sum(F.when(F.col("score") > 0, 1).otherwise(0)).cast("double")
                / F.count("*")
            ).alias("keep_rate"),
            F.sum("score").alias("sum_score"),
        )
    )


# ---------------------------------------------------------------------------
# sm07 — quality-weighted sampling (CCNet-style bucket keep rates)
# ---------------------------------------------------------------------------


_SM07_SQL = f"""WITH {_SCORE_CTES},
    q AS (
      SELECT doc_id, score,
             NTILE(4) OVER (ORDER BY score, doc_id) AS quartile,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS hv
      FROM weighted)
    SELECT quartile,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN hv < (CASE quartile WHEN 1 THEN 1 WHEN 2 THEN 2
                                                  WHEN 3 THEN 4 ELSE 8 END)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN hv < (CASE quartile WHEN 1 THEN 1 WHEN 2 THEN 2
                                                  WHEN 3 THEN 4 ELSE 8 END)
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS kept_rate,
           CAST(MIN(score) AS BIGINT) AS min_score,
           CAST(MAX(score) AS BIGINT) AS max_score
    FROM q GROUP BY quartile"""


@query("sm07_quality_weighted_sampling", _SM07_SQL)
def sm07_quality_weighted_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus sampling (the CCNet recipe): documents are
    bucketed into quartiles of fe03's classifier score, and each quartile
    keeps a different deterministic fraction — 1/8 of the worst quartile
    up to all of the best (hash-threshold keep, so the decision is
    reproducible across runs, engines, and partitionings). This is the
    step between quality SCORING (fe03) and the final mixture (sm04/
    sm06): don't discard low-quality text outright, down-sample it.

    Scale: scoring is fe03's two combine-friendly shuffles; the global
    NTILE runs on the per-doc score table (one row per doc) — at true
    scale it becomes 3 approx-quantile cut points broadcast into a
    map-side CASE (same contract, no global sort), and the keep decision
    is already map-side."""
    docs = load(spark, sf_dir, "documents")
    weighted = _quality_scores(docs)
    hv = md5_prefix_long(F.col("doc_id").cast("string")) % 8
    q = weighted.select(
        "doc_id",
        "score",
        F.ntile(4).over(Window.orderBy("score", "doc_id")).alias("quartile"),
        hv.alias("hv"),
    )
    slots = (
        F.when(F.col("quartile") == 1, 1)
        .when(F.col("quartile") == 2, 2)
        .when(F.col("quartile") == 3, 4)
        .otherwise(8)
    )
    kept = F.when(F.col("hv") < slots, 1).otherwise(0)
    return q.groupBy("quartile").agg(
        F.count("*").alias("n_docs"),
        F.sum(kept).alias("n_kept"),
        (F.sum(kept).cast("double") / F.count("*")).alias("kept_rate"),
        F.min("score").alias("min_score"),
        F.max("score").alias("max_score"),
    )


# ---------------------------------------------------------------------------
# sm07a/sm07b — the PRODUCTION (no-global-sort) form of sm07's quartiles:
# histogram-CDF cut points broadcast into a map-side assignment, plus the
# oracled agreement eval against the exact NTILE form (the sim13 discipline:
# never ship an approximation without measuring it).
# ---------------------------------------------------------------------------


_SM07A_ASSIGN_CTES = f"""{_SCORE_CTES},
    {sql_cdf_cuts("cuts", "weighted", "score", 4, "quartile")}"""

_SM07A_SQL = f"""WITH {_SM07A_ASSIGN_CTES},
    q AS (
      SELECT w.doc_id, w.score, c.quartile,
             CAST(('0x' || substring(md5(CAST(w.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS hv
      FROM weighted w JOIN cuts c ON w.score = c.score)
    SELECT quartile,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN hv < (CASE quartile WHEN 1 THEN 1 WHEN 2 THEN 2
                                                  WHEN 3 THEN 4 ELSE 8 END)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN hv < (CASE quartile WHEN 1 THEN 1 WHEN 2 THEN 2
                                                  WHEN 3 THEN 4 ELSE 8 END)
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS kept_rate,
           CAST(MIN(score) AS BIGINT) AS min_score,
           CAST(MAX(score) AS BIGINT) AS max_score
    FROM q GROUP BY quartile"""


@query("sm07a_histogram_cdf_sampling", _SM07A_SQL)
def sm07a_histogram_cdf_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sm07's quality-weighted sampling with the quartile assignment the
    production pipeline would actually run at 100 TB: a two-pass histogram
    CDF (integer scores → bounded bin domain) instead of a global NTILE.
    Bucket semantics shift from tie-SPLITTING (ntile fills buckets to
    exactly N/4 by breaking score ties on doc_id) to tie-PRESERVING
    (every doc with the same score lands in the same quartile — the only
    semantics an approx-quantile cut can deliver, and arguably the right
    one: identical documents should share a keep rate).  sm07b measures
    the assignment agreement between the two forms.

    Scale: score histogram is one combine-friendly shuffle; the CDF
    window runs over the bounded histogram (whitelisted in the plan
    gate); assignment is a broadcast hash join back onto the per-doc
    scores; keep decision and rollup are map-side + one final tiny
    shuffle.  NO unpartitioned per-row window — compare sm07's plan."""
    docs = load(spark, sf_dir, "documents")
    # consumed twice (histogram leg + assignment join): checkpoint so the
    # two token-stream shuffles behind the scores run once
    weighted = _quality_scores(docs).transform(checkpoint)
    cuts = cdf_cuts(weighted, "score", 4, "quartile")
    hv = md5_prefix_long(F.col("doc_id").cast("string")) % 8
    q = weighted.join(F.broadcast(cuts), "score").select(
        "doc_id", "score", "quartile", hv.alias("hv")
    )
    slots = (
        F.when(F.col("quartile") == 1, 1)
        .when(F.col("quartile") == 2, 2)
        .when(F.col("quartile") == 3, 4)
        .otherwise(8)
    )
    kept = F.when(F.col("hv") < slots, 1).otherwise(0)
    return q.groupBy("quartile").agg(
        F.count("*").alias("n_docs"),
        F.sum(kept).alias("n_kept"),
        (F.sum(kept).cast("double") / F.count("*")).alias("kept_rate"),
        F.min("score").alias("min_score"),
        F.max("score").alias("max_score"),
    )


_SM07B_SQL = f"""WITH {_SM07A_ASSIGN_CTES},
    exact AS (
      SELECT doc_id, score,
             NTILE(4) OVER (ORDER BY score, doc_id) AS q_exact
      FROM weighted),
    joined AS (
      SELECT e.doc_id, e.q_exact, c.quartile AS q_approx
      FROM exact e JOIN cuts c ON e.score = c.score)
    SELECT COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN q_exact = q_approx THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
           CAST(SUM(CASE WHEN q_exact = q_approx THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS agree_rate,
           CAST(MAX(ABS(q_exact - q_approx)) AS INT) AS max_bucket_gap
    FROM joined"""


@query("sm07b_cdf_ntile_agreement", _SM07B_SQL)
def sm07b_cdf_ntile_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agreement eval between sm07's exact NTILE quartiles and sm07a's
    histogram-CDF quartiles: docs can only disagree where a score value
    straddles an N/4 boundary (ntile splits the tie, the CDF doesn't), so
    agree_rate ≈ 1 − (boundary-tie mass)/N and max_bucket_gap is 1 unless
    a single score holds > 25% of the corpus.  The eval that licenses
    shipping sm07a at scale — same discipline as sim13's PQ recall.

    Scale: eval-only query; the exact leg keeps the global NTILE and is
    priced accordingly (runs on the per-doc score table, never the token
    stream)."""
    docs = load(spark, sf_dir, "documents")
    weighted = _quality_scores(docs).transform(checkpoint)
    cuts = cdf_cuts(weighted, "score", 4, "quartile")
    exact = weighted.select(
        "doc_id",
        "score",
        F.ntile(4).over(Window.orderBy("score", "doc_id")).alias("q_exact"),
    )
    joined = exact.join(F.broadcast(cuts), "score").withColumnRenamed(
        "quartile", "q_approx"
    )
    agree = F.when(F.col("q_exact") == F.col("q_approx"), 1).otherwise(0)
    return joined.agg(
        F.count("*").alias("n_docs"),
        F.sum(agree).alias("n_agree"),
        (F.sum(agree).cast("double") / F.count("*")).alias("agree_rate"),
        F.max(F.abs(F.col("q_exact") - F.col("q_approx"))).cast("int").alias("max_bucket_gap"),
    )


# ---------------------------------------------------------------------------
# sm10 — length-bucketed batching manifest (the seq2seq batching recipe)
# ---------------------------------------------------------------------------

_SM10_BANDS = (16, 32, 64, 128, 256, 512, 1024)
_SM10_B = 32  # batch size


def _band_case_sql() -> str:
    whens = " ".join(
        f"WHEN n_tokens <= {b} THEN {b}" for b in _SM10_BANDS
    )
    return f"CASE {whens} ELSE {_SM10_BANDS[-1]} END"


_SM10_SQL = f"""WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents),
    banded AS (
      SELECT doc_id, n_tokens,
             CAST({_band_case_sql()} AS INT) AS band
      FROM t),
    per_band AS (
      SELECT band,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
             CAST((COUNT(*) + {_SM10_B} - 1) // {_SM10_B} AS BIGINT) AS n_batches
      FROM banded GROUP BY band),
    shaped AS (
      SELECT band, n_docs, sum_tokens, n_batches,
             CAST(n_batches * {_SM10_B} * band AS BIGINT) AS padded_tokens
      FROM per_band),
    unbucketed AS (
      SELECT CAST(-1 AS INT) AS band,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
             CAST((COUNT(*) + {_SM10_B} - 1) // {_SM10_B} AS BIGINT) AS n_batches,
             CAST(((COUNT(*) + {_SM10_B} - 1) // {_SM10_B}) * {_SM10_B} * MAX(n_tokens) AS BIGINT)
               AS padded_tokens
      FROM t)
    SELECT band, n_docs, sum_tokens, n_batches, padded_tokens,
           (1000 * (padded_tokens - sum_tokens)) // padded_tokens AS waste_permille
    FROM (SELECT * FROM shaped UNION ALL SELECT * FROM unbucketed) u"""


@query("sm10_length_bucketed_batches", _SM10_SQL)
def sm10_length_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching manifest — the classic seq2seq batching
    recipe (bucket by length band, pad only to the band edge) priced
    against naive pad-to-global-max batching (the band = -1 row): per
    power-of-two length band, doc count, exact token mass, batch count
    at B=32, padded token slots, and the integer permille padding waste.
    The delta between the banded rows' waste and the -1 row's waste IS
    the throughput argument for bucketing, measured on this corpus.
    Complements ta13 (fixed-context PACKING, concat-and-chunk) with the
    padding-based discipline encoder/seq2seq training uses.

    Scale: token counts are map-side expressions on the scan; one
    combine-friendly groupBy over ≤|bands| groups and a 1-row global
    agg — no joins, no windows, all integer arithmetic (floor division
    identical on both engines)."""
    t = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    band = F.lit(_SM10_BANDS[-1])
    for b in reversed(_SM10_BANDS):
        band = F.when(F.col("n_tokens") <= b, b).otherwise(band)
    per_band = (
        t.select(band.cast("int").alias("band"), "n_tokens")
        .groupBy("band")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
        .select(
            "band",
            "n_docs",
            "sum_tokens",
            F.expr(f"(n_docs + {_SM10_B} - 1) div {_SM10_B}").alias("n_batches"),
        )
        .select(
            "band",
            "n_docs",
            "sum_tokens",
            "n_batches",
            (F.col("n_batches") * _SM10_B * F.col("band")).cast("bigint").alias("padded_tokens"),
        )
    )
    unbucketed = (
        t.agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .select(
            F.lit(-1).cast("int").alias("band"),
            "n_docs",
            "sum_tokens",
            F.expr(f"(n_docs + {_SM10_B} - 1) div {_SM10_B}").alias("n_batches"),
            F.expr(
                f"((n_docs + {_SM10_B} - 1) div {_SM10_B}) * {_SM10_B} * max_tokens"
            ).cast("bigint").alias("padded_tokens"),
        )
    )
    return per_band.unionAll(unbucketed).select(
        "band",
        "n_docs",
        "sum_tokens",
        "n_batches",
        "padded_tokens",
        F.expr("(1000 * (padded_tokens - sum_tokens)) div padded_tokens").alias(
            "waste_permille"
        ),
    )
