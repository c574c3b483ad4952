"""Training-data pipeline operators, batch 5: lexical retrieval ranking,
n-gram LM quality gating, epoch-deterministic shuffle manifests, and
DSIR-style hashed importance weights.

  ir02 — integer-exact BM25 ranking (Robertson/Spärck Jones) over the
         documents table for a fixed query: tf, df, dl and avgdl enter a
         fully rational score (k1 = 6/5, b = 3/4 cleared to integers) so
         both engines produce bit-identical BIGINT scores
  ta19 — CCNet-style LM quality gate: a bigram LM with add-one smoothing
         is "trained" on the English slice and every document is scored
         by its mean scaled conditional probability, then bucketed
         head/middle/tail
  sm08 — epoch-deterministic global shuffle: a keyed-md5 permutation
         assigns every doc a shard and an intra-shard position, and the
         per-shard manifest (counts, bytes, order checksum) pins the
         exact permutation an epoch's dataloader would replay
  sm09 — DSIR-shaped importance weights (Xie et al. 2023): hashed
         unigram buckets, target(=en)/source frequency ratios, per-doc
         mean affinity, reported per language

The reference carries no corpus machinery (SURVEY §2.11 — its text
columns pass through untouched, /root/reference/app.py:322-389); this
family is the 100 TB LLM-pipeline extension surface.

Determinism notes: transcendentals are libm-dependent across engines
(see f05_math), so nothing here takes a log — BM25's idf and both LM /
DSIR scores are scaled-integer rationals (floor division over exact
integer products), every cross-term product is bounded well inside
BIGINT at bench scales (bounds in each docstring), and integer sums are
order-independent under any partitioning. Documents ship pre-normalized
(single-space lowercase), so both engines split on a single space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import checkpoint, load
from ..functions.text import bind, char_array, md5_keyed, md5_prefix_long, sql_md5_prefix_long
from ..operators.cdf import cdf_cuts, sql_cdf_cuts
from .queries import query

# ---------------------------------------------------------------------------
# ir02 — integer-exact BM25 ranking
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "window", "vector")
_BM25_SCALE = 100_000  # idf quantum; see overflow bound in the docstring

# k1 = 6/5, b = 3/4 ⇒ tf-component = 22·tf·TL / (10·tf·TL + 3·TL + 9·dl·N)
# after clearing denominators by 10·TL (TL = Σ dl — total corpus tokens).


def _bm25_sql() -> str:
    tf_cols = ", ".join(
        f"len(list_filter(ws, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ", ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    score_terms = " + ".join(
        f"(CASE WHEN tf{i} > 0 THEN "
        f"((((n - df{i} + 1) * {_BM25_SCALE}) // (df{i} + 1)) * (22 * tf{i} * tl)) "
        f"// (10 * tf{i} * tl + 3 * tl + 9 * dl * n) ELSE 0 END)"
        for i in range(len(_BM25_TERMS))
    )
    tf_aliases = ", ".join(
        f"tf{i} AS tf_{t}" for i, t in enumerate(_BM25_TERMS)
    )
    return f"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        t AS (SELECT doc_id, len(ws) AS dl, {tf_cols} FROM w),
        s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS tl,
                     {df_cols}
              FROM t),
        sc AS (SELECT doc_id, dl, {", ".join(f"tf{i}" for i in range(len(_BM25_TERMS)))},
                      {score_terms} AS bm25_scaled
               FROM t CROSS JOIN s)
        SELECT doc_id, dl, {tf_aliases}, bm25_scaled
        FROM sc WHERE bm25_scaled > 0
        ORDER BY bm25_scaled DESC, doc_id LIMIT 10"""


def _tf_count(term: str):
    """Occurrences of `term` in the ws array (single-arg lambda — the
    two-arg form would be read as PySpark's (element, index) filter)."""
    return F.size(F.filter("ws", lambda x: x == F.lit(term)))


@query("ir02_bm25", _bm25_sql())
def ir02_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for the fixed query {spark, window, vector} — the
    lexical-retrieval ranking primitive (inverted-index scoring) next to
    ir01's boolean keyword top-k, and the standard sparse half of a
    hybrid dense+sparse retrieval stack for training-data curation.

    Integer-exact scoring: idf is the rational surrogate
    ((N − df + 1)·SCALE) ÷ (df + 1) (monotone in the classical
    log-idf, log itself being libm-dependent — see f05), and the
    k1 = 1.2 / b = 0.75 saturation term is cleared to one BIGINT ratio
    per term. Per-doc totals add ≤3 BIGINTs in fixed column order — no
    float, no order dependence. Overflow bound: idf ≤ (N+1)·SCALE,
    numerator ≤ 22·tf·TL, so the product stays under 2⁶³ through
    sf0.1 (≈1.7e17); larger corpora shrink SCALE.

    Scale: tf/dl are map-side per-doc expressions; the corpus stats
    (N, TL, df per term) are ONE tiny all-reduce broadcast back into a
    map-side score — a scan + two exchanges of one row, then
    TakeOrderedAndProject for the top-10. No per-term explode, no join
    against a posting list: for a fixed small query, scoring is a
    projection."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    t = d.select(
        "doc_id",
        F.size("ws").alias("dl"),
        *[_tf_count(t_).alias(f"tf{i}") for i, t_ in enumerate(_BM25_TERMS)],
    )
    stats = t.agg(
        F.count("*").alias("n"),
        F.sum("dl").alias("tl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    sc = t.crossJoin(F.broadcast(stats))
    score = None
    for i in range(len(_BM25_TERMS)):
        term = F.expr(
            f"CASE WHEN tf{i} > 0 THEN "
            f"((((n - df{i} + 1) * {_BM25_SCALE}) div (df{i} + 1)) * (22 * tf{i} * tl)) "
            f"div (10 * tf{i} * tl + 3 * tl + 9 * dl * n) ELSE 0 END"
        )
        score = term if score is None else score + term
    sc = sc.withColumn("bm25_scaled", score)
    return (
        sc.filter(F.col("bm25_scaled") > 0)
        .select(
            "doc_id",
            "dl",
            *[
                F.col(f"tf{i}").alias(f"tf_{t_}")
                for i, t_ in enumerate(_BM25_TERMS)
            ],
            "bm25_scaled",
        )
        .orderBy(F.desc("bm25_scaled"), F.asc("doc_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# ta19 — bigram-LM quality gate (CCNet head/middle/tail)
# ---------------------------------------------------------------------------

_LM_SCALE = 1_000_000
_LM_LANG = "en"


def lm_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc bigram-LM scores: (doc_id, lang, n_bigrams,
    mean_condprob_scaled). Shared by ta19 (tercile gate) and pp02 (the
    composed corpus build), so the two can never fork on LM
    arithmetic."""
    w = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split("text", " ").alias("ws")
    )
    bg = (
        w.filter(F.size("ws") >= 2)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ws) - 2),"
                    " i -> struct(ws[i] AS w1, ws[i + 1] AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "lang", "b.w1", "b.w2")
    )
    en = bg.filter(F.col("lang") == _LM_LANG)
    c2 = en.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    # context counts derive from the (tiny) bigram table — identical to
    # counting the en stream again, one less pass over the corpus
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    v = (
        w.filter(F.col("lang") == _LM_LANG)
        .select(F.explode("ws").alias("word"))
        .agg(F.countDistinct("word").alias("v"))
    )
    p = (
        bg.join(F.broadcast(c2), ["w1", "w2"], "left")
        .join(F.broadcast(c1), ["w1"], "left")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            "lang",
            # GREATEST(v, 1): with zero ``lang`` docs the vocabulary is
            # empty and the Laplace denominator would be 0 (degenerate-
            # input sweep, r8); v >= 1 on any real corpus, so identical.
            F.expr(
                f"((COALESCE(c2, 0) + 1) * {_LM_SCALE}) div (COALESCE(c1, 0) + GREATEST(v, 1))"
            ).alias("p"),
        )
    )
    return p.groupBy("doc_id", "lang").agg(
        F.count("*").alias("n_bigrams"),
        F.expr("sum(p) div count(*)").alias("mean_condprob_scaled"),
    )


# DuckDB twin of lm_doc_scores — the `d` CTE yields the same per-doc rows.
_LM_DOC_CTES = f"""w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
        bg AS (SELECT doc_id, lang, ws[i + 1] AS w1, ws[i + 2] AS w2
               FROM w, UNNEST(range(0, len(ws) - 1)) AS t(i)
               WHERE len(ws) >= 2),
        c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
               FROM bg WHERE lang = '{_LM_LANG}' GROUP BY w1, w2),
        c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1
               FROM bg WHERE lang = '{_LM_LANG}' GROUP BY w1),
        v AS (SELECT CAST(COUNT(DISTINCT word) AS BIGINT) AS v
              FROM (SELECT unnest(ws) AS word FROM w WHERE lang = '{_LM_LANG}')),
        p AS (SELECT b.doc_id, b.lang,
                     ((COALESCE(c2.c2, 0) + 1) * {_LM_SCALE})
                       // (COALESCE(c1.c1, 0) + GREATEST(v.v, 1)) AS p
              FROM bg b
              LEFT JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
              LEFT JOIN c1 ON b.w1 = c1.w1
              CROSS JOIN v),
        d AS (SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                     CAST(SUM(p) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
                       AS mean_condprob_scaled
              FROM p GROUP BY doc_id, lang)"""


@query(
    "ta19_lm_quality_gate",
    f"""WITH {_LM_DOC_CTES}
        SELECT doc_id, lang, n_bigrams, mean_condprob_scaled,
               CASE NTILE(3) OVER (ORDER BY mean_condprob_scaled DESC, doc_id)
                 WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
        FROM d""",
)
def ta19_lm_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality gate (Wenzek et al. 2020): train a bigram
    LM with add-one smoothing on the English slice, score EVERY document
    by its mean scaled conditional probability p(w2|w1) =
    (c(w1,w2)+1)/(c(w1·)+V), and split the corpus into head/middle/tail
    terciles — the classic perplexity-bucket curriculum, with the mean
    probability as the integer-exact monotone surrogate for mean log
    probability (logs are libm-dependent across engines, see f05; the
    tercile CUTS differ from true-perplexity cuts only where document
    rankings differ, which the docstring accepts and records).

    Scale: the "LM" is two count tables over the target slice — both
    tiny relative to the corpus (vocab², vocab) and BROADCAST into the
    scoring join, so scoring is map-side over the exploded bigram
    stream; per-doc reduction is a combine-friendly integer groupBy.
    NTILE over a global order is the one non-scalable step (exact
    terciles need a total order) — production swaps approx_percentile
    cutoffs computed in one pass, as ta15 does for its median gate."""
    d = lm_doc_scores(spark, sf_dir)
    tercile = F.ntile(3).over(
        Window.orderBy(F.desc("mean_condprob_scaled"), F.asc("doc_id"))
    )
    return d.select(
        "doc_id",
        "lang",
        "n_bigrams",
        "mean_condprob_scaled",
        F.when(tercile == 1, "head")
        .when(tercile == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


# ---------------------------------------------------------------------------
# sm08 — epoch-deterministic shuffle manifest
# ---------------------------------------------------------------------------

_EPOCH = 7
_SHARDS = 16


@query(
    "sm08_epoch_shuffle_manifest",
    f"""WITH h AS (
          SELECT doc_id, n_chars,
                 md5('{_EPOCH}|' || CAST(doc_id AS VARCHAR)) AS hx,
                 {sql_md5_prefix_long(f"'{_EPOCH}|' || CAST(doc_id AS VARCHAR)")}
                   % {_SHARDS} AS shard
          FROM documents),
        pos AS (
          SELECT shard, doc_id, n_chars,
                 ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hx, doc_id) AS pos
          FROM h)
        SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
               CAST(SUM(pos * (doc_id + 1)) AS BIGINT) AS order_checksum
        FROM pos GROUP BY shard ORDER BY shard""",
)
def sm08_epoch_shuffle_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-deterministic global shuffle for training dataloaders: a
    keyed md5 (epoch number as the key) permutes the corpus, shards are
    assigned by hash modulo, and intra-shard order is the hash order —
    so every epoch is a DIFFERENT but perfectly REPRODUCIBLE
    permutation, with no RNG state to checkpoint. The manifest row per
    shard (doc count, byte budget, id range, and a position-weighted
    checksum Σ pos·(doc_id+1)) pins the exact permutation: any reader
    that replays the shard in a different order fails the checksum.

    Scale: shard assignment is a map-side hash; intra-shard positions
    are a window PARTITIONED by shard (the global permutation is never
    materialized in one place — each shard sorts locally after one
    shuffle on shard id, exactly how a 1000-executor job would lay out
    epoch files). Checksum and byte totals are combine-friendly integer
    aggregates. This is sm03's split assignment upgraded from membership
    to a full ordered-layout contract."""
    key = md5_keyed(_EPOCH, F.col("doc_id").cast("string"))
    h = load(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        key.alias("hx"),
        (md5_prefix_long(F.concat(F.lit(f"{_EPOCH}|"), F.col("doc_id").cast("string"))) % _SHARDS).alias(
            "shard"
        ),
    )
    pos = h.withColumn(
        "pos",
        F.row_number().over(
            Window.partitionBy("shard").orderBy(F.asc("hx"), F.asc("doc_id"))
        ),
    )
    return (
        pos.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.sum(F.expr("pos * (doc_id + 1)")).alias("order_checksum"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# sm09 — DSIR-style hashed importance weights
# ---------------------------------------------------------------------------

_DSIR_B = 1024
_DSIR_SCALE = 1_000_000

# DuckDB twin of dsir_doc_affinity — the `aff` CTE yields the per-doc rows.
# CTE names are prefixed ds_ so the block composes with _LM_DOC_CTES in one
# WITH (pp02).
_DSIR_DOC_CTES = f"""ds_w AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
               FROM documents),
        ds_b AS (SELECT doc_id, lang,
                     {sql_md5_prefix_long("word")} % {_DSIR_B} AS bucket
              FROM ds_w),
        ds_src AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cs FROM ds_b GROUP BY bucket),
        ds_tots AS (SELECT CAST((SELECT COUNT(*) FROM ds_b) AS BIGINT) AS ts,
                        CAST((SELECT COUNT(*) FROM ds_b WHERE lang = '{_LM_LANG}') AS BIGINT) AS tt),
        ds_tgt AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS ct
                FROM ds_b WHERE lang = '{_LM_LANG}' GROUP BY bucket),
        ds_r AS (SELECT s.bucket,
                     ((COALESCE(t.ct, 0) + 1) * (o.ts + {_DSIR_B}) * {_DSIR_SCALE})
                       // ((s.cs + 1) * (o.tt + {_DSIR_B})) AS ratio
              FROM ds_src s LEFT JOIN ds_tgt t ON s.bucket = t.bucket CROSS JOIN ds_tots o),
        aff AS (SELECT doc_id, lang,
                     CAST(SUM(ratio) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS aff
              FROM ds_b JOIN ds_r ON ds_b.bucket = ds_r.bucket GROUP BY doc_id, lang)"""


def dsir_doc_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc DSIR affinity: (doc_id, lang, aff). Shared by sm09 (the
    per-language report) and pp02 (the composed corpus build)."""
    w = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("word")
    )
    b = w.select(
        "doc_id", "lang", (md5_prefix_long(F.col("word")) % _DSIR_B).alias("bucket")
    )
    src = b.groupBy("bucket").agg(F.count("*").alias("cs"))
    tgt = (
        b.filter(F.col("lang") == _LM_LANG)
        .groupBy("bucket")
        .agg(F.count("*").alias("ct"))
    )
    tots = b.agg(
        F.count("*").alias("ts"),
        F.sum((F.col("lang") == _LM_LANG).cast("long")).alias("tt"),
    )
    r = (
        src.join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "bucket",
            F.expr(
                f"((COALESCE(ct, 0) + 1) * (ts + {_DSIR_B}) * {_DSIR_SCALE})"
                f" div ((cs + 1) * (tt + {_DSIR_B}))"
            ).alias("ratio"),
        )
    )
    return (
        b.join(F.broadcast(r), "bucket")
        .groupBy("doc_id", "lang")
        .agg(F.expr("sum(ratio) div count(*)").alias("aff"))
    )


@query(
    "sm09_dsir_affinity",
    f"""WITH {_DSIR_DOC_CTES},
        d AS (SELECT * FROM aff)
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(aff) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
                 AS mean_affinity_scaled,
               MIN(aff) AS min_affinity_scaled,
               MAX(aff) AS max_affinity_scaled
        FROM d GROUP BY lang ORDER BY lang""",
)
def sm09_dsir_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-shaped data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): hash every unigram into
    one of B buckets, estimate target (English slice) vs source (whole
    corpus) bucket frequencies with add-one smoothing, and score each
    document by its mean scaled frequency RATIO — the integer-exact
    monotone stand-in for the mean log-likelihood ratio (logs are
    libm-dependent across engines, f05; ratio-mean and log-ratio-mean
    rank differently in general, which this operator documents and
    accepts — the point is the hashed-feature estimation pipeline).
    Reported per language: English lands highest by construction, and
    the gap to other languages measures the selector's discrimination.

    Scale: the feature table is B=1024 rows regardless of corpus size —
    built by one combine-friendly count shuffle, then BROADCAST into the
    word stream so per-doc scoring is map-side + one integer groupBy.
    Products are bounded by (tot_t+B)·(tot_s+B)·SCALE ≈ 4e16 at sf0.1,
    inside BIGINT through sf1 (≈4e18); larger corpora shrink SCALE.
    This is exactly how DSIR runs over a full CommonCrawl: two passes,
    no driver state beyond the 1024-row table."""
    d = dsir_doc_affinity(spark, sf_dir)
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.expr("sum(aff) div count(*)").alias("mean_affinity_scaled"),
            F.min("aff").alias("min_affinity_scaled"),
            F.max("aff").alias("max_affinity_scaled"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# dd20 — char-window duplicate mass (ExactSubstr-style)
# ---------------------------------------------------------------------------

_WIN = 20  # window length (chars)
_STRIDE = 10

# DuckDB twin of dup_mass_per_doc — the `dm` CTE yields the per-doc rows.
_DUP_MASS_CTES = f"""wpos AS (
          SELECT doc_id, substring(text, p, {_WIN}) AS w
          FROM documents, UNNEST(range(1, len(text) - {_WIN - 2}, {_STRIDE})) AS t(p)
          WHERE len(text) >= {_WIN}),
        dw AS (SELECT DISTINCT doc_id, w FROM wpos),
        fr AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM dw GROUP BY w),
        j AS (SELECT wpos.doc_id, fr.c FROM wpos JOIN fr ON wpos.w = fr.w),
        dm AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
               CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dup_windows,
               (CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) * 1000)
                 // CAST(COUNT(*) AS BIGINT) AS dup_mass_permille
          FROM j GROUP BY doc_id)"""


def dup_mass_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc char-window duplicate mass: (doc_id, n_windows,
    n_dup_windows, dup_mass_permille). Shared by dd20 and pp02."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    # Windows are built MAP-SIDE as one transform over a materialized char
    # array, then exploded: the previous explode-positions-then-substring
    # form both copied the full text into every exploded row and paid
    # substring's O(p) code-point scan per window — O(L²/stride) per doc,
    # hours on the maxvals layout's 1 MB text (r10); this form is
    # O(L·win/stride) with identical window strings.
    def windows(chars):
        return F.transform(
            F.sequence(F.lit(1), F.size(chars) - (_WIN - 1), F.lit(_STRIDE)),
            lambda p: F.concat_ws("", F.slice(chars, p, _WIN)),
        )

    wpos = (
        d.filter(F.length("text") >= _WIN)
        .select("doc_id", F.explode(bind(char_array("text"), windows)).alias("w"))
    )
    fr = (
        wpos.select("doc_id", "w")
        .distinct()
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    j = wpos.join(fr, "w")
    return j.groupBy("doc_id").agg(
        F.count("*").alias("n_windows"),
        F.sum((F.col("c") >= 2).cast("long")).alias("n_dup_windows"),
        F.expr("(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) * 1000) div count(*)").alias(
            "dup_mass_permille"
        ),
    )


@query(
    "dd20_char_window_dup_mass",
    f"""WITH {_DUP_MASS_CTES}
        SELECT doc_id, n_windows, n_dup_windows, dup_mass_permille FROM dm""",
)
def dd20_char_window_dup_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level duplicate-mass scoring, the streaming-friendly
    approximation of suffix-array ExactSubstr dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): slide a
    20-char window at stride 10 over every document, call a window
    duplicated when it occurs in ≥2 DISTINCT documents, and report per
    doc the fraction of its windows that are duplicated (integer
    permille). Complements the word-level families: dd09 finds the top
    shared n-grams, ta14 measures within-corpus n-gram repetition — this
    measures each document's cross-document copied MASS at character
    granularity, the signal ExactSubstr thresholds to cut boilerplate.

    Scale: windowing is a map-side Generate (positions arithmetic, no
    Python); the window-frequency table is one combine-friendly count
    shuffle keyed by the 20-char window (uniformly-hashed keys — no skew
    hazard beyond hot boilerplate, which is precisely the signal); the
    join back is window-keyed and AQE-coalesced; the per-doc rollup is
    an integer groupBy. Production drops the window STRINGS for 8-byte
    hashes before the shuffle (same keys, 2.5× narrower rows) — here the
    strings keep the oracle twin byte-exact."""
    return dup_mass_per_doc(spark, sf_dir)


# ---------------------------------------------------------------------------
# ta20 — apply learned merges (tokenizer-apply)
# ---------------------------------------------------------------------------

_N_MERGES = 8


def _ta20_sql() -> str:
    applied = "' ' || text || ' '"
    for i in range(1, _N_MERGES + 1):
        applied = f"replace({applied}, m{i}f, m{i}t)"
    # COALESCE to a no-op sentinel (replace(x, chr(1), chr(1)) is identity):
    # with fewer than _N_MERGES distinct bigrams the pivoted columns are
    # NULL, and replace(text, NULL, NULL) would null out n_tokens_after on
    # BOTH engines — oracle parity would hold while the output is garbage.
    piv_cols = ", ".join(
        f"COALESCE(MAX(CASE WHEN rk = {i} THEN ' ' || w1 || ' ' || w2 || ' ' END), chr(1)) AS m{i}f, "
        f"COALESCE(MAX(CASE WHEN rk = {i} THEN ' ' || w1 || '_' || w2 || ' ' END), chr(1)) AS m{i}t"
        for i in range(1, _N_MERGES + 1)
    )
    return f"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        bg AS (SELECT ws[i + 1] AS w1, ws[i + 2] AS w2
               FROM w, UNNEST(range(0, len(ws) - 1)) AS t(i)
               WHERE len(ws) >= 2),
        ranked AS (
          SELECT w1, w2, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w1, w2) AS rk
          FROM bg GROUP BY w1, w2),
        merges AS (SELECT {piv_cols} FROM ranked WHERE rk <= {_N_MERGES}),
        applied AS (
          SELECT doc_id, len(string_split(text, ' ')) AS n_tokens_before,
                 len(string_split(trim({applied}, ' '), ' ')) AS n_tokens_after
          FROM documents CROSS JOIN merges)
        SELECT doc_id, n_tokens_before, n_tokens_after,
               n_tokens_before - n_tokens_after AS n_merged
        FROM applied"""


@query("ta20_merge_apply", _ta20_sql())
def ta20_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-APPLY: contract the corpus's top-8 word bigrams (by
    count, lexicographic tiebreak) into single underscore-joined tokens,
    in rank order — the encode side of the BPE loop whose TRAINER lives
    in ta05/ta10 (this is the word-level analog of applying a learned
    merge list to the token stream; the real BPE encoder iterates the
    identical replace-in-rank-order discipline at byte level). Reports
    per doc the token count before/after and the merge savings — the
    statistic that prices a vocabulary change against a 100 TB corpus.

    Replacement semantics are pinned cross-engine: both replace() scans
    consume matched spans left-to-right without rescanning their own
    output, so of back-to-back occurrences ("a b a b") only the first
    merges per pass — deterministic and identical in Spark and DuckDB,
    asserted by the oracle hash over every document.

    Scale: the merge list is learned with ONE combine-friendly bigram
    count shuffle, pivoted to a single broadcast row; application is 8
    chained JVM string replaces — map-side, no explode of the applied
    corpus, no Python. The learned list is rank-stable because count
    ties break lexicographically."""
    w = load(spark, sf_dir, "documents").select(
        "doc_id", "text", F.split("text", " ").alias("ws")
    )
    bg = (
        w.filter(F.size("ws") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ws) - 2),"
                    " i -> struct(ws[i] AS w1, ws[i + 1] AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
    )
    # TakeOrderedAndProject picks the top merges without a global sort of
    # the count table; the ranking window then runs on _N_MERGES rows.
    ranked = (
        bg.groupBy("w1", "w2")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("w1"), F.asc("w2"))
        .limit(_N_MERGES)
        .withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.desc("cnt"), F.asc("w1"), F.asc("w2"))
            ),
        )
    )
    # coalesce to the no-op sentinel chr(1): replace(x, '\x01', '\x01') is
    # identity, so a corpus with < _N_MERGES distinct bigrams degrades to
    # fewer merges instead of NULLing every row (advice r6).
    piv = ranked.groupBy().agg(
        *[
            c
            for i in range(1, _N_MERGES + 1)
            for c in (
                F.coalesce(
                    F.max(
                        F.when(
                            F.col("rk") == i,
                            F.concat(
                                F.lit(" "), F.col("w1"), F.lit(" "), F.col("w2"), F.lit(" ")
                            ),
                        )
                    ),
                    F.lit("\x01"),
                ).alias(f"m{i}f"),
                F.coalesce(
                    F.max(
                        F.when(
                            F.col("rk") == i,
                            F.concat(
                                F.lit(" "), F.col("w1"), F.lit("_"), F.col("w2"), F.lit(" ")
                            ),
                        )
                    ),
                    F.lit("\x01"),
                ).alias(f"m{i}t"),
            )
        ]
    )
    applied_expr = "concat(' ', text, ' ')"
    for i in range(1, _N_MERGES + 1):
        applied_expr = f"replace({applied_expr}, m{i}f, m{i}t)"
    return (
        w.crossJoin(F.broadcast(piv))
        .select(
            "doc_id",
            F.size("ws").alias("n_tokens_before"),
            F.size(F.split(F.expr(f"trim({applied_expr})"), " ")).alias(
                "n_tokens_after"
            ),
        )
        .withColumn(
            "n_merged", F.col("n_tokens_before") - F.col("n_tokens_after")
        )
    )


# ---------------------------------------------------------------------------
# ta19a/ta19b — the PRODUCTION (no-global-sort) form of ta19's terciles:
# histogram-CDF cut points over the integer LM-score domain, plus the
# oracled agreement eval — the last docstring-promised approx swap shipped
# (sm07a/ev10a/w08a pattern).
# ---------------------------------------------------------------------------


_TA19A_CUTS_CTES = f"""{_LM_DOC_CTES},
        {sql_cdf_cuts("cuts", "d", "mean_condprob_scaled", 3, "t", descending=True)}"""


@query(
    "ta19a_lm_gate_histogram",
    f"""WITH {_TA19A_CUTS_CTES}
        SELECT d.doc_id, d.lang, d.n_bigrams, d.mean_condprob_scaled,
               CASE c.t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
        FROM d JOIN cuts c ON d.mean_condprob_scaled = c.mean_condprob_scaled""",
)
def ta19a_lm_gate_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ta19's head/middle/tail LM-quality buckets in the production form:
    cumulative histogram over the integer score domain (DESC, so tercile
    1 is the head), bucket = CEIL(3·cdf) broadcast back onto the per-doc
    scores.  Same-score docs share a bucket (tie-preserving — for a
    quality gate the RIGHT semantics: identical scores should not be
    split across curriculum buckets by doc_id); ta19b measures the
    agreement against the exact NTILE form.

    Scale: score histogram is one combine-friendly shuffle; the CDF
    window runs over the bounded histogram (plan-gate whitelisted); the
    assignment is a broadcast join.  ta19's global per-doc NTILE — the
    one non-scalable step its docstring flagged — is gone."""
    # consumed twice (histogram leg + assignment join): checkpoint so the
    # bigram explode + LM joins behind the scores run once
    d = lm_doc_scores(spark, sf_dir).transform(checkpoint)
    cuts = cdf_cuts(d, "mean_condprob_scaled", 3, "t", descending=True)
    return (
        d.join(F.broadcast(cuts), "mean_condprob_scaled")
        .select(
            "doc_id",
            "lang",
            "n_bigrams",
            "mean_condprob_scaled",
            F.when(F.col("t") == 1, "head")
            .when(F.col("t") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
    )


@query(
    "ta19b_lm_gate_agreement",
    f"""WITH {_TA19A_CUTS_CTES},
        exact AS (
          SELECT doc_id, mean_condprob_scaled,
                 NTILE(3) OVER (ORDER BY mean_condprob_scaled DESC, doc_id) AS t_exact
          FROM d),
        j AS (
          SELECT e.doc_id,
                 CASE WHEN e.t_exact = c.t THEN 1 ELSE 0 END AS ok
          FROM exact e JOIN cuts c ON e.mean_condprob_scaled = c.mean_condprob_scaled)
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(ok) AS BIGINT) AS n_agree,
               CAST(SUM(ok) AS DOUBLE) / COUNT(*) AS agree_rate
        FROM j""",
)
def ta19b_lm_gate_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agreement eval licensing ta19a: exact DESC NTILE terciles vs the
    histogram-CDF terciles.  Disagreement is confined to score values
    straddling an N/3 boundary; the rate bounds how much of the corpus a
    curriculum switch would move between buckets.

    Scale: eval-only; the exact leg is priced as ta19 is."""
    d = lm_doc_scores(spark, sf_dir).transform(checkpoint)
    cuts = cdf_cuts(d, "mean_condprob_scaled", 3, "t", descending=True)
    exact = d.select(
        "doc_id",
        "mean_condprob_scaled",
        F.ntile(3)
        .over(Window.orderBy(F.desc("mean_condprob_scaled"), F.asc("doc_id")))
        .alias("t_exact"),
    )
    j = exact.join(F.broadcast(cuts), "mean_condprob_scaled").select(
        "doc_id",
        F.when(F.col("t_exact") == F.col("t"), 1).otherwise(0).alias("ok"),
    )
    return j.agg(
        F.count("*").alias("n_docs"),
        F.sum("ok").alias("n_agree"),
        (F.sum("ok").cast("double") / F.count("*")).alias("agree_rate"),
    )
