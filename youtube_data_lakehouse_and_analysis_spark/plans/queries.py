"""The analytics query catalog — the workload contract of the reference
(/root/reference/app.py:443-591, SURVEY.md §2.13) retargeted at the driver's
synthetic tables (FIXTURES.md §B), plus the extended OLAP surface.

Each query exists twice:
  * a PySpark DataFrame implementation, registered in QUERIES
  * an ANSI-SQL twin runnable by DuckDB, registered in ORACLE

Conventions that make the DuckDB value-hash comparison deterministic:
  * every computed column is aliased identically on both sides;
  * every LIMIT is preceded by a total order (explicit tiebreak keys) so the
    selected row-set is engine-independent;
  * money aggregates go through DECIMAL(18,2) (exact, order-independent)
    and are cast back to DOUBLE at the end — both engines then produce the
    bit-identical double;
  * AVG over non-integral doubles is expressed as exact-decimal SUM / COUNT.

Scale notes: these are all scan→(filter/project)→agg/join→sort pipelines
that Catalyst compiles to whole-stage-codegen'd plans with parquet pushdown;
the per-query docstrings call out the physical strategy expected at 100 TB.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def query(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


def dec2(col):
    """Exact money arithmetic: DECIMAL(18,2) sums are order-independent, so
    partial aggregation across any partitioning yields identical results on
    Spark and DuckDB. Cast back to DOUBLE at the end of the query."""
    return F.col(col).cast("decimal(18,2)") if isinstance(col, str) else col.cast("decimal(18,2)")


# ---------------------------------------------------------------------------
# Q1-Q10 — the reference workload (app.py:443-591), shape-preserving retarget
# ---------------------------------------------------------------------------


@query(
    "q01_project_filter",
    "SELECT c_name FROM customer WHERE c_name IS NOT NULL",
)
def q01_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1: projection + IS NOT NULL filter (app.py:443-448).

    Scale: filter + single-column projection push down to the parquet scan
    (PushedFilters: IsNotNull(c_name); ReadSchema: c_name only)."""
    return load(spark, sf_dir, "customer").filter(F.col("c_name").isNotNull()).select("c_name")


@query(
    "q02_sort_desc",
    "SELECT c_name, c_acctbal FROM customer ORDER BY c_acctbal DESC",
)
def q02_sort_desc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2: project + global sort desc (app.py:460-466).

    Scale: range-partitioned exchange + per-partition sort; output order is
    only consumed for display, so at 100 TB a writer would drop the sort."""
    return load(spark, sf_dir, "customer").select("c_name", "c_acctbal").orderBy(F.desc("c_acctbal"))


@query(
    "q03_topk_orders",
    """SELECT o_custkey, o_orderkey, o_totalprice FROM orders
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
)
def q03_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3: top-10 by value (app.py:480-488). Tiebreak on o_orderkey makes the
    selected set engine-deterministic.

    Scale: Catalyst plans TakeOrderedAndProject — per-partition heap top-k,
    single-driver merge of 10-row heaps; no global sort."""
    return (
        load(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


@query(
    "q04_project_sort",
    "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC",
)
def q04_project_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4: project + sort desc (app.py:505-507)."""
    return load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice").orderBy(F.desc("o_totalprice"))


@query(
    "q05_groupwise_max",
    """SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice
       FROM lineitem l
       JOIN (SELECT l_orderkey, MAX(l_extendedprice) AS max_price
             FROM lineitem GROUP BY l_orderkey) m
         ON l.l_orderkey = m.l_orderkey AND l.l_extendedprice = m.max_price
       ORDER BY l.l_extendedprice DESC""",
)
def q05_groupwise_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5: groupwise max via agg + self equi-join, keeping ALL tied rows —
    the reference's exact join semantics (app.py:517-526).

    Scale (r16 form, verdict item 5; guide §2.4): both branches hash
    ONCE on the single key l_orderkey (the agg consumes its branch's
    repartition with no further exchange; column pruning gives the agg
    branch a narrower 2-col scan, which is why the two branch
    exchanges stay separate rather than literally reused) and the join
    runs co-partitioned.  The pre-r16 form let AQE broadcast the whole
    per-order max table (O(orders) rows built on the driver —
    impossible at 100 TB); the merge hint keeps the co-partitioned
    sort-merge join a real cluster must run.

    The tie-keeping price equality is expressed as l_extendedprice >=
    max_price — EQUIVALENT (the group max bounds every member, so >=
    holds iff equality holds; no NaNs in the money domain), and
    deliberately NOT an equality: Catalyst extracts an equality above
    the join as a composite join KEY, re-shuffling BOTH sides on
    (normalized(price), orderkey) and silently destroying the exchange
    reuse (measured: reuse vs reuse_ge in tools/ab_q05_forms.py at
    commit 7fdd085, runnable as tools/ab.py FILE.py:FUNC arms).
    Measured interleaved at sf0.1 (7 reps/arm, row-identity asserted
    in-run, steal ≈ 0): r15 form 0.946 → this form 0.607 s medians
    (−36%; every new-form rep faster than every r15 rep; reproduce:
    tools/ab.py 27c06c4:q05_groupwise_max q05_groupwise_max)."""
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .repartition("l_orderkey")
    )
    m = (
        li.groupBy("l_orderkey")
        .agg(F.max("l_extendedprice").alias("max_price"))
        .withColumnRenamed("l_orderkey", "m_orderkey")
        .hint("merge")
    )
    return (
        li.join(
            m,
            on=(li["l_orderkey"] == m["m_orderkey"])
            & (li["l_extendedprice"] >= m["max_price"]),
        )
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.desc("l_extendedprice"))
    )


@query(
    "q05_groupwise_max_window",
    """SELECT l_orderkey, l_linenumber, l_extendedprice FROM (
         SELECT l_orderkey, l_linenumber, l_extendedprice,
                RANK() OVER (PARTITION BY l_orderkey ORDER BY l_extendedprice DESC) AS rk
         FROM lineitem) t WHERE rk = 1
       ORDER BY l_extendedprice DESC""",
)
def q05_groupwise_max_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5, idiomatic-Spark window form: unbounded MAX over the group and
    keep rows at the max — identical tied-row semantics to the rank()==1
    form it replaces (rank 1 ⟺ price equals the group max; no null
    prices in the money domain — app.py:519-525 tie semantics,
    SURVEY.md §7).

    Scale: one shuffle on l_orderkey, no join; preferred at 100 TB over
    the self-join form (half the scans).  The unordered window needs its
    input sorted only on the partition key, so BOTH full-table sorts
    (map side before the old partial WindowGroupLimit, reduce side ahead
    of WindowExec) drop from (l_orderkey, l_extendedprice DESC) to
    (l_orderkey).  Trade-off made deliberately: the rank() form's
    WindowGroupLimit pre-filters the exchange map-side, but with ~4
    lineitems per order scattered across every scan partition nearly all
    groups have ≤1 row per map partition, so the pre-filter removes
    almost nothing at ANY scale for this data shape (measured at sf0.1:
    561,713 of 600,000 rows survive the per-(scan-partition, orderkey)
    max filter — a 6% reduction) while every row still pays the extra
    sort key twice.  (On data with many rows per
    group per partition the rank form's smaller shuffle would win —
    that is a different table shape.)  Measured interleaved ×7 at
    sf0.1, steal ≤0.07%: 0.447 → 0.371 s median (−17%), row-identical
    in-run (reproduce: tools/ab.py 27c06c4:q05_groupwise_max_window
    q05_groupwise_max_window)."""
    w = Window.partitionBy("l_orderkey")
    return (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .withColumn("mx", F.max("l_extendedprice").over(w))
        .filter(F.col("l_extendedprice") == F.col("mx"))
        .drop("mx")
        .orderBy(F.desc("l_extendedprice"))
    )


@query(
    "q06_topk_lineitem",
    """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
       ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10""",
)
def q06_topk_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6: top-10 by likes → l_extendedprice (app.py:536-539)."""
    return (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber"))
        .limit(10)
    )


@query(
    "q07_supplier_sort",
    "SELECT s_name, s_acctbal FROM supplier ORDER BY s_acctbal DESC",
)
def q07_supplier_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7: pre-aggregated counter + sort (app.py:549-551 reads the
    channel-level counter rather than summing — SQL-observed semantics)."""
    return load(spark, sf_dir, "supplier").select("s_name", "s_acctbal").orderBy(F.desc("s_acctbal"))


@query(
    "q08_distinct_year",
    "SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997",
)
def q08_distinct_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8: DISTINCT + year() predicate (app.py:562-564).

    Scale: year(ts)=k folds to a range predicate on the scan via Catalyst's
    date-function pushdown; distinct is a hash agg with map-side partial."""
    return (
        load(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate") == 1997)
        .select("o_custkey")
        .distinct()
    )


@query(
    "q09_groupby_avg",
    """SELECT l_orderkey, AVG(l_quantity) AS avg_qty FROM lineitem
       GROUP BY l_orderkey ORDER BY avg_qty DESC, l_orderkey""",
)
def q09_groupby_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9: group-by AVG + alias + sort (app.py:575-578). l_quantity is
    integral-valued, so the double sum is exact and order-independent."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.avg("l_quantity").alias("avg_qty"))
        .orderBy(F.desc("avg_qty"), F.asc("l_orderkey"))
    )


@query(
    "q10_topk_count",
    """SELECT user_id, COUNT(*) AS n FROM events
       GROUP BY user_id ORDER BY n DESC, user_id LIMIT 10""",
)
def q10_topk_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10: top-10 most-commented (app.py:588-591) with an explicit COUNT.

    Scale: partial count map-side, tiny shuffle, TakeOrderedAndProject."""
    return (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("user_id"))
        .limit(10)
    )
