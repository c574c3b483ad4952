"""Third OLAP coverage batch: the classic multi-way-join benchmark shapes
(TPC-H Q5 local-supplier volume, Q18 large-volume customer), EXISTS
correlated subqueries, ntile bucketing, the canonical deduplicated corpus
(the end product of the dd-series), and a BPE-ish regex token counter.

Determinism strategy as in plans/queries.py: money math in DECIMAL(18,2),
every LIMIT behind a total order, identical float expression trees on both
engines, and window orderings made total with unique tiebreak keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load
from ..operators.cdf import cdf_cuts, sql_cdf_cuts
from .queries import dec2, query

# ---------------------------------------------------------------------------
# Multi-way join benchmark shapes
# ---------------------------------------------------------------------------


@query(
    "j11_local_supplier_volume",
    """SELECT n_name,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                       * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
       FROM customer
       JOIN orders   ON c_custkey = o_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       JOIN nation   ON s_nationkey = n_nationkey
       JOIN region   ON n_regionkey = r_regionkey
       WHERE r_name = 'ASIA'
         AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
       GROUP BY n_name""",
)
def j11_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): a 6-table join where the
    customer and the supplier must share a nation, restricted to one region
    and a date range, aggregated to per-nation revenue.

    Scale: region→nation is a handful of rows → broadcast into supplier,
    and the (filtered) supplier side itself broadcasts into lineitem, so
    the only real shuffles are orders⋈lineitem on orderkey and the final
    customer join; the date predicate pushes to the orders scan and the
    region filter prunes 4/5 of nations before any fact data moves. The
    c_nationkey = s_nationkey condition rides along as a post-join filter
    on already-joined rows — no extra shuffle."""
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1999-01-01 00:00:00").cast("timestamp")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supplier = load(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = load(spark, sf_dir, "lineitem")
    cust = load(spark, sf_dir, "customer")
    rev = dec2("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec2("l_discount"))
    return (
        li.join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@query(
    "j12_large_volume_customer",
    """SELECT c_custkey, o_orderkey, o_orderdate,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
       FROM customer
       JOIN orders   ON c_custkey = o_custkey
       JOIN lineitem ON o_orderkey = l_orderkey
       WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                            GROUP BY l_orderkey
                            HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150)
       GROUP BY c_custkey, o_orderkey, o_orderdate""",
)
def j12_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customer): orders whose line quantities
    sum past a threshold, re-joined to customer and re-aggregated.

    Scale: the HAVING side aggregates lineitem down to qualifying orderkeys
    FIRST (map-side partial sums, then one shuffle on orderkey), and that
    small key set semi-joins back into lineitem — at TPC-H selectivities
    ~1/5 of orders survive, and with a tighter threshold the key set
    broadcasts. The second aggregation reuses the orderkey partitioning
    from the semi-join shuffle, so AQE plans no extra exchange."""
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec2("l_quantity")).alias("qty"))
        .filter(F.col("qty") > F.lit(150).cast("decimal(18,2)"))
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    orders = load(spark, sf_dir, "orders").join(
        big, F.col("o_orderkey") == F.col("big_orderkey"), "left_semi"
    )
    cust = load(spark, sf_dir, "customer")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "o_orderkey", "o_orderdate")
        .agg(F.sum(dec2("l_quantity")).cast("double").alias("total_qty"))
    )


@query(
    "j13_exists_subquery",
    """SELECT c_custkey, c_name FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey
                       AND o.o_orderstatus = 'F')""",
)
def j13_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS — customers with at least one finished order —
    written through the SQL API on purpose: Catalyst rewrites the EXISTS
    into a left-semi hash join (RewritePredicateSubquery), the same
    physical plan as the hand-built j03 semi join.

    Scale: the status filter pushes to the orders scan; the semi join
    shuffles both sides on custkey and keeps at most one match per
    customer — no row multiplication, no distinct needed."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """SELECT c_custkey, c_name FROM customer c
           WHERE EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_custkey = c.c_custkey
                           AND o.o_orderstatus = 'F')"""
    )


# ---------------------------------------------------------------------------
# ntile bucketing
# ---------------------------------------------------------------------------


@query(
    "w08_ntile_buckets",
    """SELECT o_orderkey, o_custkey,
              ntile(4) OVER (PARTITION BY o_custkey
                             ORDER BY CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT),
                                      o_orderkey) AS price_quartile
       FROM orders""",
)
def w08_ntile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer price quartiles via ntile(4). ntile assigns by row
    position, so the window order must be TOTAL for engine-identical
    output: exact integer cents first, unique o_orderkey as tiebreak.

    Scale: one shuffle on o_custkey + one in-partition sort — same cost
    profile as any ranking window; no second pass, ntile is computed from
    the partition row count available at sort time."""
    cents = (dec2("o_totalprice") * 100).cast("bigint")
    w = Window.partitionBy("o_custkey").orderBy(cents, F.col("o_orderkey"))
    return load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.ntile(4).over(w).alias("price_quartile")
    )


# ---------------------------------------------------------------------------
# Canonical deduplicated corpus — the end product of the dd-series
# ---------------------------------------------------------------------------


def _dd_closure_cte() -> str:
    from .dedup import capped_pairs_subquery

    return f"""WITH RECURSIVE
        pairs AS (
          SELECT doc_a, doc_b FROM {capped_pairs_subquery()} t
        ),
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs
          UNION SELECT doc_a, doc_a FROM pairs
          UNION SELECT doc_b, doc_b FROM pairs
        ),
        reach(a, b) AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        ),
        clus AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a)"""


@query(
    "dd08_canonical_corpus",
    _dd_closure_cte()
    + """
       SELECT d.doc_id, d.lang, d.source, d.n_chars
       FROM documents d
       LEFT JOIN clus ON d.doc_id = clus.doc_id
       WHERE clus.cluster_id IS NULL OR clus.cluster_id = d.doc_id""",
)
def dd08_canonical_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus itself: every document except non-canonical
    members of a near-dup cluster (canonical = min doc_id in the connected
    component, as in dd07). This is the query a training-data pipeline
    actually ships — dd01..dd07 are its building blocks.

    Scale: the discard set (cluster members minus canonicals) is a small
    keyed DataFrame — typically a few % of the corpus — so the final
    left-anti join broadcasts it; the corpus itself is never shuffled.
    The closure runs on candidate PAIRS (LSH-bounded), never on all
    n² document combinations."""
    from ..operators import dedup as D
    from ..operators.cluster import connected_components

    docs = load(spark, sf_dir, "documents")
    sigs = D.minhash_signatures(docs, num_hashes=16)
    pairs = D.lsh_candidate_pairs(
        D.lsh_band_keys(sigs, rows_per_band=4),
        max_bucket_width=D.DEFAULT_MAX_BUCKET_WIDTH,
    )
    comp = connected_components(pairs, "doc_a", "doc_b")
    discard = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("doc_id")
    )
    return docs.join(F.broadcast(discard), on="doc_id", how="left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


# ---------------------------------------------------------------------------
# BPE-ish token counting
# ---------------------------------------------------------------------------

# Letter runs, single digits, single punctuation marks — the shape of a
# byte-pair-encoding pre-tokenizer, kept to constructs RE2 (DuckDB) and the
# JVM regex engine (Spark) interpret identically.
_BPE_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


@query(
    "ta05_bpe_token_count",
    f"""SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT) AS n_bpe_tokens,
               CAST(n_chars AS DOUBLE)
                 / NULLIF(len(regexp_extract_all(text, '{_BPE_RE}')), 0) AS chars_per_token
        FROM documents""",
)
def ta05_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-tokenizer token counts: letter runs + single digits +
    single punctuation, counted with regexp_extract_all — a deterministic
    proxy for LLM token budgeting (real BPE merges only ever reduce the
    count within a pre-token). chars_per_token is the usual compression
    diagnostic; NULL for empty docs on both engines (Spark's x/0 → NULL,
    DuckDB via NULLIF).

    Scale: pure per-row JVM-side regex — whole-stage codegen, no shuffle,
    no Python; the scan reads only (doc_id, text, n_chars)."""
    toks = F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), 0))
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        toks.cast("bigint").alias("n_bpe_tokens"),
        (F.col("n_chars").cast("double") / F.nullif(toks, F.lit(0))).alias(
            "chars_per_token"
        ),
    )


@query(
    "j14_small_qty_revenue",
    """WITH pa AS (SELECT l_partkey, COUNT(*) AS n,
                          SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq
                   FROM lineitem GROUP BY l_partkey)
       SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS small_qty_revenue,
              COUNT(*) AS n_lines
       FROM lineitem
       JOIN part ON l_partkey = p_partkey
       JOIN pa   ON lineitem.l_partkey = pa.l_partkey
       WHERE p_name LIKE '%blue%'
         AND CAST(l_quantity AS DECIMAL(18,2)) * 5 * n < sq""",
)
def j14_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): lines of 'blue'
    parts whose quantity is below 20% of that part's average quantity.
    The correlated AVG subquery of the textbook form is written as a
    pre-aggregated join — the de-correlation Catalyst would do anyway,
    stated explicitly — and the threshold is cross-multiplied
    (5·qty·n < Σqty), so the row set is decided in exact decimal
    arithmetic on both engines.

    Scale: the per-part aggregate shuffles lineitem once on partkey and
    its output is |parts| rows; the probe join reuses that partitioning;
    the name-filtered part side broadcasts. Final agg is a single
    all-reduce of two partial sums."""
    li = load(spark, sf_dir, "lineitem")
    pa = li.groupBy(F.col("l_partkey").alias("pa_partkey")).agg(
        F.count("*").alias("n"), F.sum(dec2("l_quantity")).alias("sq")
    )
    blue = load(spark, sf_dir, "part").filter(F.col("p_name").like("%blue%"))
    return (
        li.join(pa, F.col("l_partkey") == F.col("pa_partkey"))
        .join(F.broadcast(blue), F.col("l_partkey") == F.col("p_partkey"))
        .filter(dec2("l_quantity") * 5 * F.col("n") < F.col("sq"))
        .agg(
            F.sum(dec2("l_extendedprice")).cast("double").alias("small_qty_revenue"),
            F.count("*").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# grouping_id over rollup; stratified deterministic sampling
# ---------------------------------------------------------------------------


@query(
    "a12_grouping_id",
    """SELECT l_returnflag, l_linestatus,
              CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
              COUNT(*) AS n
       FROM lineitem
       GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
)
def a12_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping_id: distinguishes a real NULL group key from a
    rollup-generated subtotal row — the standard way to make super-
    aggregate rows machine-readable. The oracle recomputes the id from the
    two GROUPING() bits (DuckDB's GROUPING_ID argument form differs, the
    bit arithmetic does not).

    Scale: rollup = one shuffle; Spark expands the grouping sets map-side
    and partial-aggregates each, so the exchange carries one partial row
    per (set, key) — no per-set rescans."""
    return (
        load(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count("*").alias("n"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n")
    )


@query(
    "sm02_stratified_sample",
    """SELECT event_type, event_id, user_id FROM (
         SELECT event_type, event_id, user_id,
                ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
         FROM events) t
       WHERE rn <= 100""",
)
def sm02_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sample: exactly min(100, |stratum|) rows
    per event_type, selected by md5-hash order — reproducible across
    engines and runs, unlike rand()-based sampleBy. The hash IS the random
    key; the unique event_id tiebreak makes the order total.

    Scale: one shuffle on the stratum key + per-partition top-k sort.
    For heavily skewed strata the same pattern runs as a two-phase top-k
    (per-partition heads, then merge), which Spark's window already
    approximates with partial sort spilling."""
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), F.col("event_id")
    )
    return (
        load(spark, sf_dir, "events")
        .select("event_type", "event_id", "user_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 100)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# j15 — null-safe equi-join (<=> / IS NOT DISTINCT FROM)
# ---------------------------------------------------------------------------


@query(
    "j15_null_safe_join",
    """WITH cust AS (SELECT c_custkey,
                            CASE WHEN c_custkey % 10 = 0 THEN NULL
                                 ELSE c_nationkey END AS nk
                     FROM customer),
        dim AS (SELECT n_nationkey AS nk, n_name FROM nation
                UNION ALL SELECT NULL, 'UNKNOWN')
        SELECT d.n_name, COUNT(*) AS n_customers
        FROM cust c JOIN dim d ON c.nk IS NOT DISTINCT FROM d.nk
        GROUP BY d.n_name""",
)
def j15_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join: every 10th customer's nation key is NULLed
    (a dirty-dimension stand-in) and the dimension carries an explicit
    NULL→'UNKNOWN' row; `<=>` matches the NULL keys to it, where plain
    `=` would silently drop those customers.

    Scale: EqualNullSafe is still hash-joinable — Catalyst plans the same
    broadcast hash join as `=` (plan would degrade to nested-loop only
    for general theta predicates). The NULL bucket hashes to ONE key, so
    at 100 TB a mostly-null fact column makes this the textbook skew key:
    salt the null bucket (operators/skew.py) or route IS NULL rows around
    the join entirely and union the 'UNKNOWN' rollup back."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_custkey") % 10 == 0, F.lit(None))
        .otherwise(F.col("c_nationkey"))
        .alias("nk"),
    )
    nation = load(spark, sf_dir, "nation")
    dim = nation.select(F.col("n_nationkey").alias("nk"), "n_name").unionByName(
        spark.createDataFrame([(None, "UNKNOWN")], "nk bigint, n_name string")
    )
    return (
        cust.join(F.broadcast(dim), cust["nk"].eqNullSafe(dim["nk"]))
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# rc01 — recursive CTE date spine (Spark 4 WITH RECURSIVE)
# ---------------------------------------------------------------------------


@query(
    "rc01_recursive_date_spine",
    """WITH RECURSIVE dates(d) AS (
         SELECT DATE '1995-01-01'
         UNION ALL
         SELECT d + INTERVAL '1 day' FROM dates WHERE d < DATE '1995-12-31')
       SELECT CAST(dates.d AS DATE) AS d, COUNT(o_orderkey) AS n_orders
       FROM dates LEFT JOIN orders ON orders.o_orderdate = dates.d
       GROUP BY dates.d""",
)
def rc01_recursive_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-standard recursive CTE (new in Spark 4): generate the 1995
    calendar as a recursive date spine, then LEFT JOIN order counts onto
    it so zero-order days surface — the same gap-fill semantics as ts01.

    Scale: recursion runs one micro-job per step on the driver's loop —
    fine for a 365-row spine, wrong for data-sized recursion; ts01's
    `sequence()`+explode generates the identical spine in one map-side
    expression and is the 100 TB form. This entry pins the API surface
    and proves result-parity between the two generation strategies (the
    spine side is tiny either way, so the join broadcasts it)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_rc01")
    return spark.sql(
        """WITH RECURSIVE dates(d) MAX RECURSION LEVEL 400 AS (
             SELECT DATE '1995-01-01'
             UNION ALL
             SELECT date_add(d, 1) FROM dates WHERE d < DATE '1995-12-31')
           SELECT dates.d AS d, COUNT(o_orderkey) AS n_orders
           FROM dates LEFT JOIN orders_rc01 ON orders_rc01.o_orderdate = dates.d
           GROUP BY dates.d"""
    )


# ---------------------------------------------------------------------------
# a13 — equal-width histogram (two-pass: global extent, then bucket counts)
# ---------------------------------------------------------------------------

_HIST_BUCKETS = 20


@query(
    "a13_histogram",
    f"""WITH cents AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                              AS BIGINT) AS c
                       FROM orders),
        ext AS (SELECT MIN(c) AS lo, MAX(c) AS hi FROM cents)
        SELECT (c - lo) * {_HIST_BUCKETS} // (hi - lo + 1) AS bucket,
               COUNT(*) AS n
        FROM cents, ext
        GROUP BY bucket""",
)
def a13_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram of order value in 20 buckets: pass one finds
    the global extent, pass two assigns `(c-lo)*B/(hi-lo+1)` — all
    integer-exact on cents, so bucket boundaries are engine-identical
    (double width math would disagree at edges).

    Scale: the extent is a 1-row aggregate broadcast into the bucketing
    scan (a cross join against one row — Catalyst plans a broadcast
    nested loop that is really a map-side constant); the count pass
    partial-aggregates into at most B cells per task. Two scans total;
    a single-pass approximation (fixed pre-agreed extent, or
    approx-quantile edges) trades the second scan for edge drift."""
    orders = load(spark, sf_dir, "orders")
    cents = orders.select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("c")
    )
    ext = cents.agg(F.min("c").alias("lo"), F.max("c").alias("hi"))
    # integer division on both engines (DuckDB's / is float division and
    # its double->BIGINT cast ROUNDS, so edge cents would drift buckets)
    bucket = F.expr(f"(c - lo) * {_HIST_BUCKETS} div (hi - lo + 1)")
    return (
        cents.join(F.broadcast(ext))
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# j16 — correlated LATERAL top-n join
# ---------------------------------------------------------------------------

_LATERAL_SQL = """
    SELECT n.n_name, t.c_custkey, t.c_acctbal
    FROM nation n,
    LATERAL (SELECT c_custkey, c_acctbal FROM customer c
             WHERE c.c_nationkey = n.n_nationkey
             ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t"""


@query("j16_lateral_topn", _LATERAL_SQL)
def j16_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 customers by account balance per nation, written as a
    correlated LATERAL subquery with ORDER BY + LIMIT — the SQL-standard
    spelling of w01's top-k-per-group. Catalyst de-correlates the lateral
    into a window/rank over a single join (DecorrelateInnerQuery) rather
    than executing the subquery once per outer row; DuckDB runs the same
    text natively as the oracle.

    Scale: after de-correlation this is w01's plan — one shuffle on the
    correlation key, per-group rank, no per-row re-execution. The LIMIT
    is k-bounded per group, so the lateral's output is |nations|×2 rows
    regardless of customer volume. (The tiebreak on c_custkey makes the
    top-2 a total order — engine-identical under ties.)"""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


# ---------------------------------------------------------------------------
# w08a/w08b — GLOBAL price quartiles without a global sort: histogram-CDF
# cut points over the whole-dollar price domain (w08's per-customer window
# needs no such treatment — its partitions are per-key; this is the global
# variant, the one that would single-partition at scale as exact NTILE).
# ---------------------------------------------------------------------------


_W08A_CUTS_CTES = f"""b AS (
         SELECT o_orderkey, o_custkey,
                CAST(FLOOR(o_totalprice) AS BIGINT) AS m_bin
         FROM orders),
       {sql_cdf_cuts("c", "b", "m_bin", 4, "price_quartile")}"""


def _w08a_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    b = orders.select(
        "o_orderkey",
        "o_custkey",
        F.floor("o_totalprice").cast("bigint").alias("m_bin"),
    )
    cuts = cdf_cuts(b, "m_bin", 4, "price_quartile")
    return b.join(F.broadcast(cuts), "m_bin").select(
        "o_orderkey", "o_custkey", "price_quartile"
    )


@query(
    "w08a_global_price_quartile",
    f"""WITH {_W08A_CUTS_CTES}
       SELECT b.o_orderkey, b.o_custkey, c.price_quartile
       FROM b JOIN c USING (m_bin)""",
)
def w08a_global_price_quartile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-WIDE price quartile per order — the query that, written as
    NTILE(4) OVER (ORDER BY price), single-partitions at scale.  Here:
    whole-dollar histogram (bin domain bounded by the price RANGE, not
    the row count), cumulative CDF over the histogram, quartile =
    CEIL(4·cdf) broadcast back onto orders.  Same-dollar orders share a
    quartile (tie-preserving); w08b measures agreement with exact NTILE.

    Scale: one combine-friendly histogram shuffle + a broadcast join —
    the orders table itself is never sorted or shuffled; the CDF window
    runs over ≤ (max−min) dollar bins (plan-gate whitelisted)."""
    return _w08a_assigned(spark, sf_dir)


@query(
    "w08b_global_quartile_agreement",
    f"""WITH {_W08A_CUTS_CTES},
       exact AS (
         SELECT o_orderkey,
                NTILE(4) OVER (ORDER BY CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT),
                               o_orderkey) AS q_exact
         FROM orders),
       approx AS (
         SELECT b.o_orderkey, c.price_quartile AS q_approx
         FROM b JOIN c USING (m_bin)),
       j AS (
         SELECT e.o_orderkey,
                CASE WHEN e.q_exact = a.q_approx THEN 1 ELSE 0 END AS ok
         FROM exact e JOIN approx a ON e.o_orderkey = a.o_orderkey)
       SELECT COUNT(*) AS n_orders,
              CAST(SUM(ok) AS BIGINT) AS n_agree,
              CAST(SUM(ok) AS DOUBLE) / COUNT(*) AS agree_rate
       FROM j""",
)
def w08b_global_quartile_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agreement eval licensing w08a: exact global NTILE(4) on exact
    integer cents vs the whole-dollar histogram CDF.  Two disagreement
    sources: quartile-boundary tie-splits and the cents→dollar bin
    coarsening; both are confined to boundary dollar bins, so the rate
    stays near 1 and bounds the coarsening error explicitly.

    Scale: eval-only; the exact leg is the priced-in global sort."""
    exact = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.ntile(4)
        .over(Window.orderBy((dec2("o_totalprice") * 100).cast("bigint"), F.col("o_orderkey")))
        .alias("q_exact"),
    )
    approx = _w08a_assigned(spark, sf_dir).select(
        "o_orderkey", F.col("price_quartile").alias("q_approx")
    )
    j = exact.join(approx, "o_orderkey").select(
        "o_orderkey",
        F.when(F.col("q_exact") == F.col("q_approx"), 1).otherwise(0).alias("ok"),
    )
    return j.agg(
        F.count("*").alias("n_orders"),
        F.sum("ok").alias("n_agree"),
        (F.sum("ok").cast("double") / F.count("*")).alias("agree_rate"),
    )


# ---------------------------------------------------------------------------
# w13 — Gini concentration of customer spend, exact integers over the
# histogram (no per-row global sort)
# ---------------------------------------------------------------------------


@query(
    "w13_gini_concentration",
    """WITH per_cust AS (
         SELECT o_custkey,
                CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
                  AS cents
         FROM orders GROUP BY o_custkey),
       hist AS (
         SELECT cents // 100 AS v, CAST(COUNT(*) AS BIGINT) AS c
         FROM per_cust GROUP BY cents // 100),
       pre AS (
         SELECT v, c,
                COALESCE(SUM(c) OVER (ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnt_lt,
                COALESCE(SUM(v * c) OVER (ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS val_lt
         FROM hist),
       agg AS (
         SELECT CAST(SUM(c * (v * cnt_lt - val_lt)) AS BIGINT) AS half_abs_diff_sum,
                CAST(SUM(c) AS BIGINT) AS n,
                CAST(SUM(v * c) AS BIGINT) AS total_cents
         FROM pre)
       SELECT n AS n_customers,
              total_cents AS total_dollars,
              half_abs_diff_sum * 2 AS abs_diff_sum,
              CAST(half_abs_diff_sum AS DOUBLE)
                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * (CAST(total_cents AS DOUBLE) / CAST(n AS DOUBLE)))
                AS gini
       FROM agg""",
)
def w13_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer spend at WHOLE-DOLLAR grain —
    the revenue-concentration statistic ("do 20% of customers carry 80%
    of revenue") without any per-row global sort: Σᵢⱼ|xᵢ−xⱼ| unrolls
    over the dollar-spend histogram as 2·Σ_b c_b·(v_b·cnt_below −
    val_below), with the prefix sums over the SORTED HISTOGRAM, all in
    BIGINT; Gini = Σ_ordered|diff| / (2·n²·mean) = half_sum/(n²·mean)
    is the single double chain at
    the end.  The dollar grain is the scalability decision, made
    explicit: exact-cents per-customer totals are nearly UNIQUE, so
    their "histogram" degenerates to one row per customer and the
    prefix window back to a global sort — binning to dollars bounds the
    domain by the spend RANGE (w08a's recipe) at a ≤1-dollar-per-pair
    quantization whose effect on Gini is < $1/mean relative.  Fifth
    instance of the r7 histogram pattern.

    Overflow bound: v ≤ ~6·10⁵ dollars, cnt_lt ≤ n ≤ 10⁷ at sf100, so
    v·cnt_lt ≤ 6·10¹² and the c·(…) sums stay far under 2⁶³.

    Scale: one per-customer shuffle (combine-friendly SUM), one
    histogram shuffle, prefix windows over the bounded histogram
    (plan-gate whitelisted), one 1-row reduce.  No joins."""
    per_cust = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum((dec2("o_totalprice") * 100).cast("bigint")).cast("bigint").alias("cents"))
    )
    hist = per_cust.groupBy(
        F.expr("cents div 100").alias("v")
    ).agg(F.count("*").alias("c"))
    w_prev = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    pre = hist.select(
        "v",
        "c",
        F.coalesce(F.sum("c").over(w_prev), F.lit(0)).alias("cnt_lt"),
        F.coalesce(F.sum(F.col("v") * F.col("c")).over(w_prev), F.lit(0)).alias("val_lt"),
    )
    agg = pre.agg(
        F.sum(F.col("c") * (F.col("v") * F.col("cnt_lt") - F.col("val_lt"))).alias("half_abs_diff_sum"),
        F.sum("c").alias("n"),
        F.sum(F.col("v") * F.col("c")).alias("total_cents"),
    )
    return agg.select(
        F.col("n").alias("n_customers"),
        F.col("total_cents").alias("total_dollars"),
        (F.col("half_abs_diff_sum") * 2).alias("abs_diff_sum"),
        (
            F.col("half_abs_diff_sum").cast("double")
            / (
                F.col("n").cast("double")
                * F.col("n").cast("double")
                * (F.col("total_cents").cast("double") / F.col("n").cast("double"))
            )
        ).alias("gini"),
    )
