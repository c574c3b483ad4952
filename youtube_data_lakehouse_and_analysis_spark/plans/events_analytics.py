"""Event-analytics shapes over the `events` table: ordered conversion
funnels and retention cohorts — the two canonical product-analytics
queries (and at 100 TB/day event volumes, the ones whose shuffle structure
matters most).

Both are pure built-in-expression pipelines; timestamps compare exactly
because catalog.load pins the nanos→micros truncation and UTC on both
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import checkpoint, load
from ..operators.cdf import cdf_cuts, sql_cdf_cuts
from .queries import query


@query(
    "ev01_funnel",
    """WITH stages AS (
         SELECT user_id,
                MIN(CASE WHEN event_type = 'view'     THEN ts END) AS t_view,
                MIN(CASE WHEN event_type = 'click'    THEN ts END) AS t_click,
                MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
         FROM events GROUP BY user_id)
       SELECT COUNT(*) AS n_users,
              COUNT(t_view) AS n_view,
              COUNT(CASE WHEN t_click > t_view THEN 1 END) AS n_view_then_click,
              COUNT(CASE WHEN t_click > t_view AND t_purchase > t_click
                         THEN 1 END) AS n_full_funnel
       FROM stages""",
)
def ev01_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: a user advances a
    stage only if the stage's FIRST occurrence is strictly after the
    previous stage's first occurrence (NULL stage times drop out of the
    count via three-valued logic — identically on both engines).

    Scale: stage timestamps come from one conditional-MIN aggregation —
    a single shuffle on user_id with map-side partials, per-user state of
    three timestamps. The funnel conditions are then a driver-free global
    count (second tiny all-reduce). No joins, no window, no event-order
    sort: first-occurrence funnels never need the full event sequence."""
    stages = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
            F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
        )
    )
    advanced = F.col("t_click") > F.col("t_view")
    full = advanced & (F.col("t_purchase") > F.col("t_click"))
    return stages.agg(
        F.count("*").alias("n_users"),
        F.count("t_view").alias("n_view"),
        F.count(F.when(advanced, 1)).alias("n_view_then_click"),
        F.count(F.when(full, 1)).alias("n_full_funnel"),
    )


@query(
    "ev02_retention_cohorts",
    """WITH days AS (
         SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
       first AS (
         SELECT user_id, MIN(d) AS d0 FROM days GROUP BY user_id)
       SELECT d0 AS cohort_day,
              date_diff('day', d0, d) AS day_offset,
              COUNT(*) AS n_users
       FROM days JOIN first USING (user_id)
       GROUP BY d0, date_diff('day', d0, d)""",
)
def ev02_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users grouped by first-active day, counted
    on each subsequent active day (offset in days). The standard cohort
    heat-map feed.

    Scale: events collapse to DISTINCT (user, day) first — the biggest
    cardinality cut available (events/user/day → 1) — so everything after
    runs on active-days, not raw events. first-day derives from that same
    distinct set (shuffle on user_id, reused by the join under AQE); the
    final group-by is on (cohort_day, offset), tiny. Nothing touches the
    raw event payload after the first projection."""
    days = (
        load(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("d"))
        .distinct()
    )
    first = days.groupBy("user_id").agg(F.min("d").alias("d0"))
    return (
        days.join(first, on="user_id")
        .groupBy(
            F.col("d0").alias("cohort_day"),
            F.datediff(F.col("d"), F.col("d0")).alias("day_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# ses01 — batch sessionization by inactivity gap
# ---------------------------------------------------------------------------

_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap, in microseconds


@query(
    "ses01_gap_sessions",
    f"""WITH flagged AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN epoch_us(ts)
                        - LAG(epoch_us(ts)) OVER w > {_GAP_US}
                      OR LAG(ts) OVER w IS NULL
                      THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        numbered AS (
          SELECT user_id, ts,
                 CAST(SUM(new_session) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id
                                             ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS session_seq
          FROM flagged)
        SELECT user_id, session_seq,
               MIN(ts) AS session_start,
               MAX(ts) AS session_end,
               COUNT(*) AS n_events
        FROM numbered GROUP BY user_id, session_seq""",
)
def ses01_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: a new session starts when a user's gap since
    their previous event exceeds 30 minutes; sessions are numbered by a
    running sum of the start flags, then reduced to (start, end, count).
    The batch twin of the streaming session window (st03) — same
    semantics, replayable over history.

    Gap math runs in integer microseconds (unix_micros / epoch_us) so
    both engines compare exactly; (ts, event_id) totally orders each
    user's history.

    Scale: one exchange on user_id drives BOTH window passes (lag and
    running sum share the same partitioning+ordering, one sort); the
    final per-session reduce partial-aggregates map-side since each
    session's rows are co-located. Per-user state is one row — skewed
    power users cost sort time, not memory."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    prev = F.lag(us).over(w)
    new_session = F.when(prev.isNull() | (us - prev > _GAP_US), 1).otherwise(0)
    numbered = events.select(
        "user_id",
        "ts",
        F.sum(new_session).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "session_seq"
        ),
    )
    return numbered.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# ev04 — last-touch attribution (ignore-nulls carry within one stream)
# ---------------------------------------------------------------------------


@query(
    "ev04_last_touch",
    """WITH tagged AS (
         SELECT user_id, ts, event_id, event_type,
                LAST_VALUE(CASE WHEN event_type = 'click' THEN event_id END
                           IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS attributed_click
         FROM events)
       SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
              attributed_click
       FROM tagged WHERE event_type = 'purchase'""",
)
def ev04_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase is credited to the user's
    most recent preceding click (NULL if none) — the marketing-analytics
    sibling of the as-of join (as01), done with an ignore-nulls running
    carry instead of a join because both sides live in one stream.

    Scale: one user_id exchange + one sorted pass; the carry is O(1)
    state per user. The filter to purchases happens AFTER the window
    (the carry needs click rows), so the shuffle carries all events —
    at 100 TB, pre-filter to the event types that participate
    (click/purchase) before the exchange; Catalyst can't do that
    automatically because the CASE hides which types feed the carry."""
    events = load(spark, sf_dir, "events")
    # only participating types cross the shuffle (the scale note, applied)
    ev = events.filter(F.col("event_type").isin("click", "purchase"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carry = F.last(
        F.when(F.col("event_type") == "click", F.col("event_id")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("attributed_click", carry)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            "attributed_click",
        )
    )


# ---------------------------------------------------------------------------
# ev05 — time-bounded conversion: purchases with a click in the prior hour
# ---------------------------------------------------------------------------


@query(
    "ev05_timed_conversion",
    """WITH p AS (SELECT user_id, event_id, ts FROM events
                  WHERE event_type = 'purchase'),
        converted AS (
          SELECT p.user_id, p.event_id FROM p
          WHERE EXISTS (SELECT 1 FROM events c
                        WHERE c.event_type = 'click'
                          AND c.user_id = p.user_id
                          AND c.ts >= p.ts - INTERVAL '1 hour'
                          AND c.ts < p.ts))
        SELECT p.user_id,
               COUNT(*) AS n_purchases,
               COUNT(c.event_id) AS n_converted
        FROM p LEFT JOIN converted c USING (user_id, event_id)
        GROUP BY p.user_id""",
)
def ev05_timed_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user conversion within a deadline: a purchase "converts" if the
    same user clicked within the preceding hour (strictly before). The
    time-bounded variant of the ev01 funnel — attribution windows, not
    lifetime ordering.

    Scale: the EXISTS lowers to a LEFT SEMI join whose EQUI key is
    user_id; the hour bound rides as a join-condition filter, so this is
    one user-keyed shuffle (clicks+purchases only — the type filters push
    to the scans), never an interval cross-product. Exactly the
    stream-stream interval join's batch twin (evj01) with per-user
    aggregation on top."""
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select("user_id", "event_id", "ts")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    converted = (
        p.join(
            c,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("c_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("c_ts") < F.col("ts")),
            "left_semi",
        )
        .select("user_id", "event_id")
        .withColumn("conv", F.lit(1))
    )
    return (
        p.join(converted, ["user_id", "event_id"], "left")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_purchases"),
            F.count("conv").alias("n_converted"),
        )
    )


# ---------------------------------------------------------------------------
# ev06 — behavioral transition matrix (Markov bigram counts)
# ---------------------------------------------------------------------------


@query(
    "ev06_transition_matrix",
    """WITH seq AS (
         SELECT event_type,
                LAG(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS prev_type
         FROM events)
       SELECT prev_type, event_type AS next_type, COUNT(*) AS n
       FROM seq WHERE prev_type IS NOT NULL
       GROUP BY prev_type, event_type""",
)
def ev06_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral transition counts: how often each event type
    follows each other type within a user's timeline — the empirical
    Markov matrix behind next-action prediction and anomalous-flow
    detection (row-normalizing to probabilities is one division per cell
    on the K×K result).

    Scale: one user_id exchange feeds the lag window; the transition
    reduce is K² cells (tiny for any real event taxonomy), so the second
    aggregation's shuffle carries at most K² rows per task after map-side
    combine. Same single-shuffle family as ses01/ev04 — per-user
    sequence ops never need a global sort."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type"), F.lag("event_type").over(w).alias("prev_type")
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )


@query(
    "ev07_conversion_latency",
    """WITH s AS (SELECT user_id, MIN(ts) AS signup_ts
                  FROM events WHERE event_type = 'signup' GROUP BY user_id),
       p AS (SELECT e.user_id, MIN(e.ts) AS first_purchase_ts
             FROM events e JOIN s ON e.user_id = s.user_id
             WHERE e.event_type = 'purchase' AND e.ts >= s.signup_ts
             GROUP BY e.user_id)
       SELECT s.user_id, s.signup_ts, p.first_purchase_ts,
              (epoch_us(p.first_purchase_ts) - epoch_us(s.signup_ts)) // 1000000
                AS secs_to_convert
       FROM s JOIN p ON s.user_id = p.user_id""",
)
def ev07_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert per user: first signup → first subsequent purchase,
    with the latency in whole seconds (integer micros difference, floor
    division — engine-exact where a float seconds column could round
    differently). The growth-analytics companion to ev01's funnel counts
    and ev05's windowed conversion.

    Scale: two conditional-MIN aggregates on user_id (combine-friendly,
    the event-sequence family's single-shuffle shape) and a same-key
    join that reuses the aggregation partitioning — no per-user sequence
    sort, no window over the raw stream."""
    ev = load(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, on="user_id")
        .filter(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase_ts"))
    )
    return (
        s.join(p, on="user_id")
        .select(
            "user_id",
            "signup_ts",
            "first_purchase_ts",
            F.expr(
                "(unix_micros(first_purchase_ts) - unix_micros(signup_ts)) div 1000000"
            ).alias("secs_to_convert"),
        )
    )


@query(
    "ev08_behavior_bitmask",
    """WITH m AS (SELECT user_id, date_trunc('day', ts) AS day,
                         bit_or(CASE event_type WHEN 'click' THEN 1
                                                WHEN 'view' THEN 2
                                                WHEN 'purchase' THEN 4
                                                WHEN 'signup' THEN 8
                                                WHEN 'error' THEN 16
                                                ELSE 0 END) AS mask
                  FROM events GROUP BY user_id, date_trunc('day', ts))
       SELECT mask, COUNT(*) AS n_user_days,
              CAST(bit_count(mask) AS INT) AS n_event_types
       FROM m GROUP BY mask""",
)
def ev08_behavior_bitmask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral segmentation as bit algebra: each user-DAY's event-type
    set packed into a 5-bit mask with a BIT_OR aggregate, then the
    population per distinct daily behavior profile. The bitmask form is the
    cardinality-friendly way to segment at scale — one long per user
    instead of a collected set, set algebra (has-purchased AND
    never-errored = mask & 4 != 0 AND mask & 16 = 0) stays in codegen,
    and masks compose under further BIT_OR rollups (weekly → monthly
    profiles merge losslessly, the same additive-state property ia01/ia02
    build on).

    Scale: two combine-friendly shuffles (user_id, then mask — the
    second over ≤2^5 groups). No collect_set, no array columns."""
    ev = load(spark, sf_dir, "events")
    mask_expr = (
        "bit_or(CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2 "
        "WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8 WHEN 'error' THEN 16 "
        "ELSE 0 END)"
    )
    masks = ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day")).agg(
        F.expr(mask_expr).alias("mask")
    )
    return (
        masks.groupBy("mask")
        .agg(F.count("*").alias("n_user_days"))
        .select(
            "mask",
            "n_user_days",
            F.bit_count("mask").cast("int").alias("n_event_types"),
        )
    )


@query(
    "ev09_path_trigrams",
    """WITH seq AS (
         SELECT event_type AS e1,
                LEAD(event_type, 1) OVER w AS e2,
                LEAD(event_type, 2) OVER w AS e3
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       paths AS (
         SELECT e1 || '>' || e2 || '>' || e3 AS path FROM seq
         WHERE e2 IS NOT NULL AND e3 IS NOT NULL)
       SELECT path, COUNT(*) AS n_paths
       FROM paths GROUP BY path
       ORDER BY n_paths DESC, path LIMIT 10""",
)
def ev09_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path mining: the ten most common 3-step event-type
    sequences across per-user timelines (the "what do users do next"
    primitive under journey/flow analysis). Each user's events are
    ordered by (ts, event_id) — event_id breaks timestamp ties, so the
    sequence (and therefore every trigram) is deterministic on both
    engines.

    Scale: one shuffle on user_id for the sequence window (lead(1)/
    lead(2) share a single sort), then a combine-friendly path count
    (≤|event_types|³ = 125 groups here) and a global top-10 that
    executes as TakeOrderedAndProject — no driver-side sequence
    assembly, no collect_list of whole user histories."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        seq.filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
        .select(F.concat_ws(">", "e1", "e2", "e3").alias("path"))
        .groupBy("path")
        .agg(F.count("*").alias("n_paths"))
        .orderBy(F.desc("n_paths"), F.asc("path"))
        .limit(10)
    )


@query(
    "ev10_rfm_segments",
    """WITH p AS (
         SELECT user_id,
                MAX(ts) AS last_purchase,
                COUNT(*) AS frequency,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
         FROM events WHERE event_type = 'purchase' GROUP BY user_id),
       scored AS (
         SELECT user_id, monetary,
                NTILE(5) OVER (ORDER BY last_purchase, user_id) AS r_score,
                NTILE(5) OVER (ORDER BY frequency, user_id) AS f_score,
                NTILE(5) OVER (ORDER BY monetary, user_id) AS m_score
         FROM p)
       SELECT r_score, f_score, m_score,
              COUNT(*) AS n_users,
              CAST(SUM(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE) AS segment_value
       FROM scored GROUP BY r_score, f_score, m_score""",
)
def ev10_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (the classic CRM/value model): per purchasing
    user, recency (last purchase), frequency (purchase count), monetary
    (exact-decimal spend), each scored into quintiles — 5 = most recent /
    most frequent / highest spend — then rolled up to segment cells with
    user counts and segment value. Every NTILE sits on a
    (metric, user_id) total order, so quintile boundaries are
    deterministic on both engines; money runs through DECIMAL(18,2).

    Scale: one shuffle to the per-user purchase profile (combine-friendly
    MAX/COUNT/SUM). The three unpartitioned NTILEs are the textbook
    global-sort hazard — fine here because the input is already one row
    per purchasing USER (orders of magnitude smaller than events), and at
    true scale each becomes approx-quantile cut points (5 numbers)
    broadcast into a map-side CASE — same output contract, no global
    sort. The final rollup has ≤125 cells."""
    ev = load(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_purchase"),
            F.count("*").alias("frequency"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("monetary"),
        )
    )
    scored = p.select(
        "user_id",
        "monetary",
        F.ntile(5).over(Window.orderBy("last_purchase", "user_id")).alias("r_score"),
        F.ntile(5).over(Window.orderBy("frequency", "user_id")).alias("f_score"),
        F.ntile(5).over(Window.orderBy("monetary", "user_id")).alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_users"),
        F.sum(F.col("monetary").cast("decimal(18,2)")).cast("double").alias("segment_value"),
    )


@query(
    "ev11_activity_streaks",
    """WITH days AS (
         SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
       numbered AS (
         SELECT user_id, day,
                ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rn
         FROM days),
       islands AS (
         SELECT user_id, day - rn * INTERVAL 1 DAY AS grp, COUNT(*) AS streak_len
         FROM numbered GROUP BY user_id, day - rn * INTERVAL 1 DAY),
       per_user AS (
         SELECT user_id, MAX(streak_len) AS longest_streak,
                CAST(SUM(streak_len) AS BIGINT) AS n_active_days,
                COUNT(*) AS n_streaks
         FROM islands GROUP BY user_id)
       SELECT user_id, longest_streak, n_active_days, n_streaks
       FROM per_user
       ORDER BY longest_streak DESC, user_id LIMIT 20""",
)
def ev11_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the canonical
    gaps-and-islands rewrite: distinct active days, a per-user row
    number, and (day − rn) as the island key (consecutive days share
    it). Complements ses01's TIME-gap sessionization with the
    CALENDAR-grain variant retention teams actually track. Top-20 under
    a (streak DESC, user_id) total order.

    Scale: distinct day collapse first (combine-friendly, shrinks events
    to user-days), then ONE user-keyed window shuffle; islands aggregate
    by (user, grp) with bounded state and the top-20 is
    TakeOrderedAndProject. Calendar math is integer date arithmetic —
    identical on both engines."""
    ev = load(spark, sf_dir, "events")
    days = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    numbered = days.withColumn("rn", F.row_number().over(w))
    islands = (
        numbered.withColumn("grp", F.date_sub(F.col("day"), F.col("rn")))
        .groupBy("user_id", "grp")
        .agg(F.count("*").alias("streak_len"))
    )
    per_user = islands.groupBy("user_id").agg(
        F.max("streak_len").alias("longest_streak"),
        F.sum("streak_len").alias("n_active_days"),
        F.count("*").alias("n_streaks"),
    )
    return per_user.orderBy(F.desc("longest_streak"), F.asc("user_id")).limit(20)


@query(
    "ev12_dau_wau",
    """WITH au AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
       days AS (SELECT DISTINCT day FROM au),
       dau AS (SELECT day, COUNT(*) AS dau FROM au GROUP BY day),
       wau AS (SELECT d.day, COUNT(DISTINCT a.user_id) AS wau
               FROM days d JOIN au a
                 ON a.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
               GROUP BY d.day)
       SELECT d.day, dau.dau, wau.wau,
              CAST(dau.dau AS DOUBLE) / wau.wau AS stickiness
       FROM days d JOIN dau ON d.day = dau.day JOIN wau ON d.day = wau.day
       ORDER BY d.day""",
)
def ev12_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness (DAU÷WAU) per calendar day —
    the growth-team dashboard triple. Exact distinct counts: the corpus
    first collapses to user-days (one combine-friendly distinct), then
    the trailing window is a date-range join against the DAY GRID (30ish
    rows), never a self-join of the event stream.

    Scale: the user-day collapse is the only corpus-sized shuffle; the
    range join replicates each user-day to ≤7 grid days (bounded fan-out,
    broadcast day grid); COUNT(DISTINCT) shuffles (day, user) pairs
    already bounded by 7·|user-days|. The approximate form swaps in HLL
    sketches per day merged across the window (a03's machinery) when
    user-days stop fitting — same plan, fixed-size state."""
    ev = load(spark, sf_dir, "events")
    au = ev.select(F.col("ts").cast("date").alias("day"), "user_id").distinct()
    days = au.select("day").distinct()
    dau = au.groupBy("day").agg(F.count("*").alias("dau"))
    # WAU via bounded explode (r16): a user-day belongs to exactly the 7
    # trailing windows ending on days day..day+6, so emit those 7 rows
    # map-side and aggregate — replacing the BroadcastNestedLoopJoin that
    # range-joined user-days against the day grid and evaluated every
    # grid day's predicate per user-day (O(|user-days| × |days|) compute:
    # ~52× wasted comparisons per row at one year of history, growing
    # with retention; the explode is O(7·|user-days|) at any scale).
    # Window days with no activity of their own are emitted here but
    # drop out in the inner join on the day grid below — exactly the
    # domain the grid side of the range join enforced, so the output is
    # row-identical.
    wau = (
        au.select(
            F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6))).alias("day"),
            "user_id",
        )
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("wau"))
    )
    return (
        days.join(dau, "day")
        .join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            (F.col("dau").cast("double") / F.col("wau")).alias("stickiness"),
        )
        .orderBy("day")
    )


@query(
    "ev13_cohort_ltv",
    """WITH first_signup AS (
         SELECT user_id, MIN(ts) AS signup_ts
         FROM events WHERE event_type = 'signup' GROUP BY user_id),
       rev AS (
         SELECT f.user_id,
                CAST(date_trunc('week', f.signup_ts) AS DATE) AS cohort_week,
                (CAST(p.ts AS DATE) - CAST(f.signup_ts AS DATE)) // 7 AS weeks_since,
                CAST(p.value AS DECIMAL(18,2)) AS amount
         FROM first_signup f
         JOIN events p ON p.user_id = f.user_id
          AND p.event_type = 'purchase' AND p.ts >= f.signup_ts)
       SELECT cohort_week, CAST(weeks_since AS BIGINT) AS weeks_since,
              COUNT(DISTINCT user_id) AS n_buyers,
              CAST(SUM(amount) AS DOUBLE) AS revenue
       FROM rev GROUP BY cohort_week, weeks_since""",
)
def ev13_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV triangle: post-signup purchase revenue bucketed by
    signup-cohort week × weeks-since-signup — the revenue sibling of
    ev02's retention counts, and the table under every LTV-curve /
    payback-period chart. Money runs in DECIMAL(18,2) (exact,
    order-independent) and both week edges come from integer date
    arithmetic (date_trunc('week') is Monday-based on both engines), so
    every cell is bit-deterministic.

    Scale: first-signup is a combine-friendly per-user MIN; the
    cohort-assign join is user-keyed (the signup table is one row per
    user — broadcastable long before the fact side); the triangle
    rollup has |cohorts|×|weeks| cells with map-side partial
    aggregation. COUNT(DISTINCT user) shuffles (cell, user) pairs —
    swap in HLL sketches at 100 TB, same plan."""
    ev = load(spark, sf_dir, "events")
    first_signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("value").alias("amount")
    )
    rev = (
        first_signup.join(p, "user_id")
        .filter(F.col("p_ts") >= F.col("signup_ts"))
        .select(
            "user_id",
            F.date_trunc("week", "signup_ts").cast("date").alias("cohort_week"),
            F.floor(
                F.datediff(F.col("p_ts").cast("date"), F.col("signup_ts").cast("date")) / 7
            ).alias("weeks_since"),
            F.col("amount").cast("decimal(18,2)").alias("amount"),
        )
    )
    return rev.groupBy("cohort_week", "weeks_since").agg(
        F.count_distinct("user_id").alias("n_buyers"),
        F.sum("amount").cast("double").alias("revenue"),
    )


# ---------------------------------------------------------------------------
# ev10a/ev10b — ev10's RFM quintiles in the PRODUCTION (no-global-sort)
# form: per-metric histogram-CDF cut points broadcast into map-side
# assignment, plus the oracled agreement eval against the exact NTILEs.
# ---------------------------------------------------------------------------


_EV10A_ASSIGN_CTES = f"""p AS (
         SELECT user_id,
                MAX(ts) AS last_purchase,
                COUNT(*) AS frequency,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
         FROM events WHERE event_type = 'purchase' GROUP BY user_id),
       b AS (
         SELECT user_id, monetary,
                CAST(last_purchase AS DATE) AS r_bin,
                frequency AS f_bin,
                CAST(FLOOR(monetary) AS BIGINT) AS m_bin
         FROM p),
       {sql_cdf_cuts("rc", "b", "r_bin", 5, "r_score")},
       {sql_cdf_cuts("fc", "b", "f_bin", 5, "f_score")},
       {sql_cdf_cuts("mc", "b", "m_bin", 5, "m_score")},
       scored AS (
         SELECT b.user_id, b.monetary, rc.r_score, fc.f_score, mc.m_score
         FROM b JOIN rc USING (r_bin) JOIN fc USING (f_bin) JOIN mc USING (m_bin))"""


def _ev10a_scored(spark: SparkSession, sf_dir: str):
    """(user_id, monetary, r_score, f_score, m_score) with each quintile
    assigned by a histogram-CDF over a DOMAIN-bounded bin (calendar day /
    small-int frequency / whole-dollar spend) — three tiny windows over
    histograms, three broadcast joins, zero per-user global sorts."""
    ev = load(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_purchase"),
            F.count("*").alias("frequency"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("monetary"),
        )
    )
    b = p.select(
        "user_id",
        "monetary",
        F.col("last_purchase").cast("date").alias("r_bin"),
        F.col("frequency").alias("f_bin"),
        F.floor("monetary").cast("bigint").alias("m_bin"),
        # consumed four times (three histograms + the assignment join):
        # checkpoint so the events scan + per-user agg run once
    ).transform(checkpoint)
    out = b
    for bin_col, score_col in (("r_bin", "r_score"), ("f_bin", "f_score"), ("m_bin", "m_score")):
        out = out.join(F.broadcast(cdf_cuts(b, bin_col, 5, score_col)), bin_col)
    return out.select("user_id", "monetary", "r_score", "f_score", "m_score")


@query(
    "ev10a_rfm_segments_approx",
    f"""WITH {_EV10A_ASSIGN_CTES}
       SELECT r_score, f_score, m_score,
              COUNT(*) AS n_users,
              CAST(SUM(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE) AS segment_value
       FROM scored GROUP BY r_score, f_score, m_score""",
)
def ev10a_rfm_segments_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev10's RFM segmentation in the form a 100 TB/day events pipeline
    ships: each metric's quintile comes from a cumulative histogram over
    a DOMAIN-bounded bin (recency → calendar day, frequency → its small
    integer range, monetary → whole dollars), score = CEIL(5·cdf).
    Same-bin users share a score (tie-preserving, vs ntile's tie-split);
    ev10b measures the agreement.

    Scale: the per-user profile shuffle is shared with ev10; then three
    combine-friendly histogram aggs whose CDF windows run over bin
    domains (≈ days / counts / dollars — bounded regardless of user
    count, whitelisted in the plan gate), three broadcast assignment
    joins, and the ≤125-cell rollup.  The three unpartitioned PER-USER
    NTILEs of ev10 are gone."""
    return _ev10a_scored(spark, sf_dir).groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_users"),
        F.sum(F.col("monetary").cast("decimal(18,2)")).cast("double").alias("segment_value"),
    )


@query(
    "ev10b_rfm_agreement",
    f"""WITH {_EV10A_ASSIGN_CTES},
       exact AS (
         SELECT user_id,
                NTILE(5) OVER (ORDER BY last_purchase, user_id) AS r_exact,
                NTILE(5) OVER (ORDER BY frequency, user_id) AS f_exact,
                NTILE(5) OVER (ORDER BY monetary, user_id) AS m_exact
         FROM p),
       j AS (
         SELECT e.user_id,
                CASE WHEN e.r_exact = s.r_score THEN 1 ELSE 0 END AS r_ok,
                CASE WHEN e.f_exact = s.f_score THEN 1 ELSE 0 END AS f_ok,
                CASE WHEN e.m_exact = s.m_score THEN 1 ELSE 0 END AS m_ok
         FROM exact e JOIN scored s ON e.user_id = s.user_id)
       SELECT COUNT(*) AS n_users,
              CAST(SUM(r_ok) AS DOUBLE) / COUNT(*) AS r_agree_rate,
              CAST(SUM(f_ok) AS DOUBLE) / COUNT(*) AS f_agree_rate,
              CAST(SUM(m_ok) AS DOUBLE) / COUNT(*) AS m_agree_rate,
              CAST(SUM(r_ok * f_ok * m_ok) AS DOUBLE) / COUNT(*) AS cell_agree_rate
       FROM j""",
)
def ev10b_rfm_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agreement eval licensing ev10a: per-dimension and full-cell match
    rates between the exact NTILE quintiles and the histogram-CDF
    quintiles.  Disagreement concentrates where a bin straddles an N/5
    boundary (coarser bins → more straddle mass: expect monetary ≥
    recency ≥ frequency agreement ordering to reflect bin granularity).

    Scale: eval-only; the exact leg keeps ev10's global NTILEs on the
    per-user table and is priced as such."""
    ev = load(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_purchase"),
            F.count("*").alias("frequency"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("monetary"),
        )
    )
    exact = p.select(
        "user_id",
        F.ntile(5).over(Window.orderBy("last_purchase", "user_id")).alias("r_exact"),
        F.ntile(5).over(Window.orderBy("frequency", "user_id")).alias("f_exact"),
        F.ntile(5).over(Window.orderBy("monetary", "user_id")).alias("m_exact"),
    )
    scored = _ev10a_scored(spark, sf_dir)
    j = exact.join(scored, "user_id").select(
        "user_id",
        F.when(F.col("r_exact") == F.col("r_score"), 1).otherwise(0).alias("r_ok"),
        F.when(F.col("f_exact") == F.col("f_score"), 1).otherwise(0).alias("f_ok"),
        F.when(F.col("m_exact") == F.col("m_score"), 1).otherwise(0).alias("m_ok"),
    )
    return j.agg(
        F.count("*").alias("n_users"),
        (F.sum("r_ok").cast("double") / F.count("*")).alias("r_agree_rate"),
        (F.sum("f_ok").cast("double") / F.count("*")).alias("f_agree_rate"),
        (F.sum("m_ok").cast("double") / F.count("*")).alias("m_agree_rate"),
        (F.sum(F.col("r_ok") * F.col("f_ok") * F.col("m_ok")).cast("double") / F.count("*")).alias("cell_agree_rate"),
    )
