"""Lakehouse maintenance operators: CDC snapshot diff and SCD2 history.

  cdc01 — snapshot differencing: classify every key across two table
          snapshots as insert / update / delete (the change feed a MERGE
          INTO consumes; the reference's "idempotency-by-failure" migrate
          loop, app.py:392-394 / SURVEY §2.12 C3, done right)
  scd01 — slowly-changing-dimension type-2 history: turn a change log
          into [valid_from, valid_to) validity intervals with a current
          flag (the warehouse-side shape of the reference's
          overwrite-on-remigrate, app.py:404-415)

Determinism: snapshot membership and the simulated update are pure
functions of key columns; price arithmetic is DECIMAL(18,2); interval
edges order by (ts, event_id) — a total order since event_id is unique.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from .queries import query

# ---------------------------------------------------------------------------
# cdc01 — snapshot diff → change feed
# ---------------------------------------------------------------------------

_OLD_CUTOFF = "1997-06-30"
_NEW_CUTOFF = "1997-12-31"


@query(
    "cdc01_snapshot_diff",
    f"""WITH old AS (SELECT o_orderkey,
                            CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
                              AS price
                     FROM orders WHERE o_orderdate <= DATE '{_OLD_CUTOFF}'),
        new AS (SELECT o_orderkey,
                       CAST(CAST(o_totalprice AS DECIMAL(18,2))
                            + CASE WHEN o_orderkey % 7 = 0
                                   THEN CAST(1 AS DECIMAL(18,2))
                                   ELSE CAST(0 AS DECIMAL(18,2)) END
                            AS DOUBLE) AS price
                FROM orders
                WHERE o_orderdate <= DATE '{_NEW_CUTOFF}' AND o_orderkey % 13 <> 0)
        SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
               CASE WHEN old.o_orderkey IS NULL THEN 'insert'
                    WHEN new.o_orderkey IS NULL THEN 'delete'
                    ELSE 'update' END AS change_type,
               old.price AS old_price,
               new.price AS new_price
        FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
        WHERE old.o_orderkey IS NULL OR new.o_orderkey IS NULL
           OR old.price <> new.price""",
)
def cdc01_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff two snapshots of `orders` into the insert/update/delete feed a
    MERGE INTO (or downstream incremental view) consumes. The "new"
    snapshot simulates churn deterministically: orders past the old
    cutoff appear (inserts), o_orderkey % 13 == 0 vanish (deletes),
    o_orderkey % 7 == 0 get a DECIMAL-exact +1 price (updates);
    unchanged keys are filtered out of the feed.

    Scale: a single full-outer sort-merge join on the primary key — the
    canonical big-big diff. At 100 TB both snapshots are bucketed by key
    (operators/bucketing.py), making this a zero-Exchange storage-
    partitioned join; with a transactional table format the diff comes
    free from the commit log instead, and this operator is the backfill
    path for plain-parquet snapshots."""
    orders = load(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    old = orders.filter(F.col("o_orderdate") <= F.lit(_OLD_CUTOFF).cast("date")).select(
        "o_orderkey", price.cast("double").alias("price")
    )
    bump = F.when(F.col("o_orderkey") % 7 == 0, F.lit(1)).otherwise(F.lit(0)).cast(
        "decimal(18,2)"
    )
    new = (
        orders.filter(
            (F.col("o_orderdate") <= F.lit(_NEW_CUTOFF).cast("date"))
            & (F.col("o_orderkey") % 13 != 0)
        )
        .select("o_orderkey", (price + bump).cast("double").alias("price"))
    )
    o, n = old.alias("o"), new.alias("n")
    joined = o.join(n, F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full_outer")
    return joined.filter(
        F.col("o.o_orderkey").isNull()
        | F.col("n.o_orderkey").isNull()
        | (F.col("o.price") != F.col("n.price"))
    ).select(
        F.coalesce(F.col("o.o_orderkey"), F.col("n.o_orderkey")).alias("o_orderkey"),
        F.when(F.col("o.o_orderkey").isNull(), F.lit("insert"))
        .when(F.col("n.o_orderkey").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("change_type"),
        F.col("o.price").alias("old_price"),
        F.col("n.price").alias("new_price"),
    )


# ---------------------------------------------------------------------------
# scd01 — SCD type-2 validity intervals from a change log
# ---------------------------------------------------------------------------


@query(
    "scd01_scd2_history",
    """SELECT user_id, event_id, value AS attr_value,
              ts AS valid_from,
              LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                AS valid_to,
              (LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 IS NULL) AS is_current
       FROM events""",
)
def scd01_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 dimension build: each event is a new attribute version for
    its user; the validity interval is [this ts, next ts) with NULL
    valid_to (and is_current=true) on the latest version. (ts, event_id)
    is a total order per user, so interval edges are deterministic even
    with equal timestamps.

    Scale: one shuffle on user_id, then a sorted single-pass window —
    LEAD needs no frame buffering beyond one row. State per user is O(1);
    skewed users are fine because the window is per-user sequential
    anyway. The streaming twin is applyInPandasWithState closing the
    previous interval as each new version arrives
    (streaming/stateful.py)."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return events.select(
        "user_id",
        "event_id",
        F.col("value").alias("attr_value"),
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# ia01 — incremental aggregate maintenance (partial-state merge)
# ---------------------------------------------------------------------------

_IA_CUTOFF = "1997-01-01"


@query(
    "ia01_incremental_agg",
    """SELECT l_suppkey,
              COUNT(*) AS n_items,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                AS total_price,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                / COUNT(*) AS avg_price
       FROM lineitem GROUP BY l_suppkey""",
)
def ia01_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: per-supplier (count, sum) states are
    computed separately for the historical slice (shipdate < 1997) and the
    delta slice (>= 1997), then MERGED by summing states — the oracle is
    the single-pass recompute over the whole table, so the gate proves
    merge(partial(base), partial(delta)) == full recompute. count/sum are
    the self-merging algebra every incremental pipeline builds on (avg
    derives at read time; the states stay additive).

    Scale: this is how a 100 TB rollup absorbs a daily 100 GB delta —
    aggregate only the delta, merge against the stored state table (a
    key-bucketed join or a co-partitioned groupBy), never rescan the
    base. Both partials partition-prune on the date predicate; the merge
    shuffles only K rows per slice, not the fact table. DECIMAL(18,2)
    sums are order- and grouping-independent, so the merged state is
    bit-identical to the recompute."""
    li = load(spark, sf_dir, "lineitem")
    cutoff = F.lit(_IA_CUTOFF).cast("date")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("l_suppkey").agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("psum"),
        )

    base = partial(li.filter(F.col("l_shipdate") < cutoff))
    delta = partial(li.filter(F.col("l_shipdate") >= cutoff))
    merged = (
        base.unionByName(delta)
        .groupBy("l_suppkey")
        .agg(F.sum("cnt").alias("n_items"), F.sum("psum").alias("tsum"))
    )
    total = F.col("tsum").cast("double")
    return merged.select(
        "l_suppkey",
        "n_items",
        total.alias("total_price"),
        (total / F.col("n_items")).alias("avg_price"),
    )


# ---------------------------------------------------------------------------
# dq01 — data-quality expectations (constraint violation report)
# ---------------------------------------------------------------------------


@query(
    "dq01_expectations",
    """SELECT 'orders_null_orderkey' AS check_name,
              COUNT(*) FILTER (o_orderkey IS NULL) AS n_violations
       FROM orders
       UNION ALL
       SELECT 'orders_dup_orderkey',
              COUNT(*) - COUNT(DISTINCT o_orderkey)
       FROM orders
       UNION ALL
       SELECT 'lineitem_nonpositive_price',
              COUNT(*) FILTER (l_extendedprice <= 0)
       FROM lineitem
       UNION ALL
       SELECT 'lineitem_nonpositive_qty',
              COUNT(*) FILTER (l_quantity <= 0)
       FROM lineitem
       UNION ALL
       SELECT 'lineitem_orphan_orderkey', COUNT(*)
       FROM lineitem l
       WHERE NOT EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_orderkey = l.l_orderkey)""",
)
def dq01_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectations report: null/duplicate primary keys, domain-range
    violations, and referential orphans, as (check_name, n_violations)
    rows — the validation gate a bronze→silver promotion runs (the
    reference swallows constraint errors instead, app.py:392-394).

    Scale: all same-table checks share ONE scan (a single multi-aggregate
    pass — adding a check adds a column, not a job); the FK check is the
    only join, a key-projected anti join whose count partial-aggregates.
    At 100 TB the per-check outputs are single rows, so the report's
    union is free; checks gate the write atomically rather than scanning
    the table once per rule."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    o_stats = orders.agg(
        F.count_if(F.col("o_orderkey").isNull()).alias("orders_null_orderkey"),
        (F.count("*") - F.countDistinct("o_orderkey")).alias("orders_dup_orderkey"),
    )
    li_stats = li.agg(
        F.count_if(F.col("l_extendedprice") <= 0).alias("lineitem_nonpositive_price"),
        F.count_if(F.col("l_quantity") <= 0).alias("lineitem_nonpositive_qty"),
    )
    orphans = (
        li.select("l_orderkey")
        .join(orders.select("o_orderkey"), li.l_orderkey == orders.o_orderkey, "left_anti")
        .agg(F.count("*").alias("lineitem_orphan_orderkey"))
    )

    def melt(df: DataFrame) -> DataFrame:
        # explode-of-map, not unpivot: unpivot plans one copy of the child
        # subtree PER value column (re-running the agg and its scan); a map
        # explode evaluates the single-row agg once and fans out rows.
        pairs = [x for c in df.columns for x in (F.lit(c), F.col(f"`{c}`"))]
        return df.select(F.explode(F.create_map(*pairs))).toDF(
            "check_name", "n_violations"
        )

    return melt(o_stats).unionByName(melt(li_stats)).unionByName(melt(orphans))


# ---------------------------------------------------------------------------
# mg01 — MERGE application: snapshot + change feed -> next snapshot
# ---------------------------------------------------------------------------


@query(
    "mg01_apply_changes",
    f"""WITH old AS (SELECT o_orderkey,
                            CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
                              AS price
                     FROM orders WHERE o_orderdate <= DATE '{_OLD_CUTOFF}'),
        new AS (SELECT o_orderkey,
                       CAST(CAST(o_totalprice AS DECIMAL(18,2))
                            + CASE WHEN o_orderkey % 7 = 0
                                   THEN CAST(1 AS DECIMAL(18,2))
                                   ELSE CAST(0 AS DECIMAL(18,2)) END
                            AS DOUBLE) AS price
                FROM orders
                WHERE o_orderdate <= DATE '{_NEW_CUTOFF}' AND o_orderkey % 13 <> 0)
        SELECT o_orderkey, price FROM new""",
)
def mg01_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO, emulated relationally: take the OLD snapshot and the
    cdc01 change feed and produce the NEXT snapshot — drop keys the feed
    deletes or updates (one anti join), then union the feed's
    insert/update images. The oracle is the new snapshot computed
    directly, so the gate proves apply(old, diff(old, new)) == new —
    the round-trip invariant a MERGE implementation owes you.

    Scale: one anti join on the key plus a union — the same plan Delta's
    MERGE lowers to for non-matched-by-source-untouched merges. Bucketed
    snapshots make the anti join zero-Exchange; the feed is typically
    ~1% of the snapshot, so it broadcasts. File-level pruning (rewriting
    only files containing touched keys) is the storage-format half of
    MERGE and lives below this dataflow."""
    feed = cdc01_snapshot_diff(spark, sf_dir)
    orders = load(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderdate") <= F.lit(_OLD_CUTOFF).cast("date")).select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("price"),
    )
    touched = feed.select("o_orderkey")  # delete, update, and insert keys
    upserts = feed.filter(F.col("change_type") != "delete").select(
        "o_orderkey", F.col("new_price").alias("price")
    )
    return old.join(F.broadcast(touched), "o_orderkey", "left_anti").unionByName(upserts)


@query(
    "ia02_incremental_join",
    """SELECT o_orderstatus, COUNT(*) AS n_items,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                AS revenue
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       GROUP BY o_orderstatus""",
)
def ia02_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view (the join sibling of ia01):
    orders arrive in two batches (base = o_orderkey % 10 != 0, delta =
    the rest — standing in for "yesterday's table" and "today's feed");
    the maintained view lineitem⋈orders→per-status rollup absorbs the
    delta by joining ONLY the delta against the fact and merging additive
    (count, decimal-sum) states with the stored base state. The oracle is
    the single-pass recompute over the full join — the gate proves
    merge(view(base), view(Δ)) == view(base ∪ Δ), which holds because
    join distributes over union and the states are additive.

    Scale: the whole point — a daily delta is orders of magnitude smaller
    than the base, so the maintenance job broadcasts the delta into one
    map-side join over the fact (no fact shuffle, no base-join rescan;
    the base state is a stored K-row table). DECIMAL sums make the merged
    state bit-identical to the recompute under any batch split."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    base = o.filter(F.col("o_orderkey") % 10 != 0)
    delta = F.broadcast(o.filter(F.col("o_orderkey") % 10 == 0))

    def view_state(orders_slice: DataFrame) -> DataFrame:
        return (
            li.join(orders_slice, li["l_orderkey"] == orders_slice["o_orderkey"])
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("cnt"),
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("psum"),
            )
        )

    return (
        view_state(base)
        .unionByName(view_state(delta))
        .groupBy("o_orderstatus")
        .agg(F.sum("cnt").alias("n_items"), F.sum("psum").cast("double").alias("revenue"))
    )


@query(
    "scd02_point_in_time",
    """WITH dim AS (
         SELECT user_id, event_id AS version_id, value AS attr_value,
                ts AS valid_from,
                LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
         FROM events WHERE event_type = 'signup'),
       p AS (
         SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
                value AS amount
         FROM events WHERE event_type = 'purchase')
       SELECT p.user_id, p.purchase_id, p.purchase_ts, p.amount,
              d.version_id, d.attr_value,
              CASE WHEN d.version_id IS NULL THEN FALSE
                   ELSE d.valid_to IS NULL END AS version_is_current
       FROM p LEFT JOIN dim d
         ON p.user_id = d.user_id
        AND p.purchase_ts >= d.valid_from
        AND (d.valid_to IS NULL OR p.purchase_ts < d.valid_to)""",
)
def scd02_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (as-of-version) join against the SCD2 dimension:
    every purchase fact picks up the dimension version that was valid AT
    ITS TIMESTAMP — the lookup every feature store and financial report
    runs against scd01's intervals, and the reason SCD2 keeps intervals
    at all. Intervals partition time per user ([ts, next ts), built with
    the same (ts, event_id) total order as scd01), so each fact matches
    at most one version and the LEFT JOIN is row-preserving —
    pre-first-version purchases surface with a NULL version instead of
    vanishing.

    Scale: an equi-join on user_id with the interval bounds as join-level
    FILTERS — Catalyst keeps the hash/sort-merge strategy of the equi key
    (never a nested loop over time ranges); the dimension side holds only
    'signup' versions (small fraction of events) and broadcast-upgrades
    under AQE when it fits. The window building the intervals is scd01's
    one user-keyed shuffle."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            "user_id",
            F.col("event_id").alias("version_id"),
            F.col("value").alias("attr_value"),
            F.col("ts").alias("valid_from"),
        )
        .withColumn("valid_to", F.lead("valid_from").over(
            Window.partitionBy("user_id").orderBy("valid_from", "version_id")
        ))
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("amount"),
    )
    joined = p.join(
        dim,
        on=(p["user_id"] == dim["user_id"])
        & (p["purchase_ts"] >= dim["valid_from"])
        & (dim["valid_to"].isNull() | (p["purchase_ts"] < dim["valid_to"])),
        how="left",
    )
    return joined.select(
        p["user_id"],
        "purchase_id",
        "purchase_ts",
        "amount",
        "version_id",
        "attr_value",
        F.when(F.col("version_id").isNull(), F.lit(False))
        .otherwise(F.col("valid_to").isNull())
        .alias("version_is_current"),
    )


@query(
    "dq02_order_reconciliation",
    """WITH li AS (
         SELECT l_orderkey,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
                  AS li_total
         FROM lineitem GROUP BY l_orderkey),
       checked AS (
         SELECT o.o_orderstatus,
                CASE WHEN li.l_orderkey IS NULL THEN 1 ELSE 0 END AS orphan,
                CASE WHEN li.l_orderkey IS NOT NULL
                      AND abs(CAST(o.o_totalprice AS DECIMAL(18,2)) - li.li_total) > 0.01
                     THEN 1 ELSE 0 END AS mismatch,
                CASE WHEN li.l_orderkey IS NULL THEN NULL
                     ELSE abs(CAST(o.o_totalprice AS DECIMAL(18,2)) - li.li_total) END
                  AS abs_diff
         FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey)
       SELECT o_orderstatus,
              COUNT(*) AS n_orders,
              CAST(SUM(orphan) AS BIGINT) AS n_orphans,
              CAST(SUM(mismatch) AS BIGINT) AS n_mismatched,
              CAST(MAX(abs_diff) AS DOUBLE) AS max_abs_diff
       FROM checked GROUP BY o_orderstatus""",
)
def dq02_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation (the invariant dq01's single-table
    expectations can't see): does each order's header total equal the sum
    of its line items, and which orders have no lines at all? Reported
    per order status with the worst absolute deviation. All comparisons
    run in DECIMAL(18,2) (exact, order-independent), cast to DOUBLE only
    for the final report column. On THIS synthetic data the generator
    draws o_totalprice independently, so every order mismatches — the
    report says so instead of assuming the invariant holds, which is
    precisely the point of a reconciliation check.

    Scale: one combine-friendly groupBy on the lineitem side (shuffle
    carries |orders| pre-aggregated rows, not |lineitem|), then an
    equi-join on the order key and a ≤|statuses| rollup — the same
    shape as the j01 fact-fact join, and the canonical pattern for
    warehouse invariant monitoring."""
    o = load(spark, sf_dir, "orders")
    li = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("li_total")
        )
    )
    joined = o.join(li, o["o_orderkey"] == li["l_orderkey"], "left")
    orphan = F.when(F.col("l_orderkey").isNull(), 1).otherwise(0)
    diff = F.abs(F.col("o_totalprice").cast("decimal(18,2)") - F.col("li_total"))
    mismatch = F.when(
        F.col("l_orderkey").isNotNull() & (diff > 0.01), 1
    ).otherwise(0)
    abs_diff = F.when(F.col("l_orderkey").isNull(), F.lit(None)).otherwise(diff)
    return (
        joined.select(
            "o_orderstatus",
            orphan.alias("orphan"),
            mismatch.alias("mismatch"),
            abs_diff.alias("abs_diff"),
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("orphan").alias("n_orphans"),
            F.sum("mismatch").alias("n_mismatched"),
            F.max("abs_diff").cast("double").alias("max_abs_diff"),
        )
    )


# ---------------------------------------------------------------------------
# dq04 — one-pass column profiler (the Deequ-profiler capability)
# ---------------------------------------------------------------------------

# (column, portable stringified expression): exact-representation types
# only — BIGINT and VARCHAR stringify identically on both engines, and the
# timestamp goes through DATE first so both render 'YYYY-MM-DD'.  DOUBLE
# columns are excluded by design: float->string rendering is
# engine-specific (see a11's decimal quantization note).
_DQ04_COLS = [
    ("o_orderkey", "CAST(o_orderkey AS {S})"),
    ("o_custkey", "CAST(o_custkey AS {S})"),
    ("o_orderstatus", "o_orderstatus"),
    ("o_orderpriority", "o_orderpriority"),
    ("o_orderdate", "CAST(CAST(o_orderdate AS DATE) AS {S})"),
]


def _dq04_sql() -> str:
    legs = " UNION ALL ".join(
        f"SELECT '{c}' AS col_name, {e.format(S='VARCHAR')} AS v FROM orders"
        for c, e in _DQ04_COLS
    )
    return f"""WITH long AS ({legs})
        SELECT col_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
               MIN(v) AS min_str,
               MAX(v) AS max_str
        FROM long GROUP BY col_name"""


@query("dq04_column_profile", _dq04_sql())
def dq04_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiler over the orders table — the
    Deequ/Great-Expectations "profile before you write expectations"
    capability next to dq01's expectation CHECKS: per column, row count,
    null count, exact distinct count, and lexicographic min/max of the
    portable string form.  Long-form (column, value) via a single stack
    explode, so every column's profile comes from ONE scan — the
    per-column-subquery form dq01's docstring already rejects would
    re-read the table once per column.

    min/max are defined over the STRINGIFIED value (binary collation —
    identical on both engines); numeric-order extremes for exact types
    are a08's min/max stats.  DOUBLE columns are excluded by design:
    float→string rendering is engine-specific.

    Scale: one scan + a two-level aggregate (r16) — first a
    combine-friendly count per (col_name, v), then the per-column
    rollup, where n_rows = Σ counts, n_null = Σ counts of null groups,
    n_distinct = count of non-null groups (countDistinct's exact
    semantics) and min/max over group keys equal min/max over values.
    The pre-r16 single mixed countDistinct aggregate planned as a
    SortAggregate chain that SORTS every stacked row on (col_name, v)
    ahead of the exchange (plans/r16/dq04_column_profile_before.txt:3-12);
    the two-level form hash-aggregates map-side and shuffles one row per
    DISTINCT (col, v) instead, leaving only the bounded per-column
    rollup to sort-aggregate.  Measured
    interleaved ×7 at sf0.1, steal ≤0.81%: 0.505 → 0.354 s median
    (−30%), row-identical in-run (reproduce: tools/ab.py
    27c06c4:dq04_column_profile dq04_column_profile).  The distinct
    count stays exact per column (the profiler contract) — at 100 TB
    swap approx_count_distinct per column (a03's trade) or sk01's
    mergeable registers."""
    legs = ", ".join(
        f"'{c}', {e.format(S='STRING')}" for c, e in _DQ04_COLS
    )
    long = load(spark, sf_dir, "orders").select(
        F.expr(f"stack({len(_DQ04_COLS)}, {legs}) AS (col_name, v)")
    )
    grp = long.groupBy("col_name", "v").agg(F.count("*").alias("cnt"))
    return grp.groupBy("col_name").agg(
        F.sum("cnt").alias("n_rows"),
        F.sum(F.when(F.col("v").isNull(), F.col("cnt")).otherwise(F.lit(0))).alias(
            "n_null"
        ),
        F.count(F.when(F.col("v").isNotNull(), True)).alias("n_distinct"),
        F.min("v").alias("min_str"),
        F.max("v").alias("max_str"),
    )
