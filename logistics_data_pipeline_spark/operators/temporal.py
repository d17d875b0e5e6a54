"""Temporal / semi-structured operators over the events table: as-of
join, tumbling-window aggregation, day × type pivot, JSON property
extraction.

The as-of join is the one operator here Spark lacks as a primitive
(DuckDB ships ASOF JOIN; Flink has temporal joins). The scalable
formulation is NOT a range join (which explodes to O(probe × candidate)
pairs before picking the max): tag both sides, union, and take a
running last-non-null over a window partitioned by the join key and
ordered by time. One shuffle on user_id, O(n log n) per partition,
no pair blow-up — survives 100 TB where a backward range join dies.

Pivot uses an explicit value list so Spark skips the extra distinct-
values job (a full scan at scale) and the output schema is static.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

EVENT_TYPES = ["click", "error", "pageview", "purchase", "signup"]


# --- as-of join ------------------------------------------------------------


def asof_join_prior_signup(events: DataFrame) -> DataFrame:
    """For every purchase event: the user's most recent signup event at
    or before the purchase time (NULLs where none precede).

    Union-window formulation: signup rows carry their own ts/id as
    candidate columns, purchase rows carry NULL candidates; a
    last-non-null window over (user_id ORDER BY ts, is_probe) makes each
    purchase row see exactly the latest candidate ≤ its ts. Ties
    (signup.ts == purchase.ts) sort candidate-first, matching ASOF's
    inclusive <= bound.
    """
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    signups = events.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("event_id").alias("signup_event_id")
    )
    tagged = purchases.select(
        "user_id",
        "ts",
        F.lit(1).alias("is_probe"),
        "event_id",
        "value",
        F.lit(None).cast("bigint").alias("cand_id"),
        F.lit(None).cast("timestamp").alias("cand_ts"),
    ).unionByName(
        signups.select(
            "user_id",
            "ts",
            F.lit(0).alias("is_probe"),
            F.lit(None).cast("bigint").alias("event_id"),
            F.lit(None).cast("double").alias("value"),
            F.col("signup_event_id").alias("cand_id"),
            F.col("ts").alias("cand_ts"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_probe")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn("signup_event_id", F.last("cand_id", ignorenulls=True).over(w))
        .withColumn("signup_ts", F.last("cand_ts", ignorenulls=True).over(w))
        .filter(F.col("is_probe") == 1)
        .select("event_id", "user_id", "ts", "value", "signup_event_id", "signup_ts")
        .orderBy("event_id")
    )


ASOF_JOIN_SQL = """
SELECT p.event_id, p.user_id, p.ts, p.value,
       s.event_id AS signup_event_id, s.ts AS signup_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
  ON p.user_id = s.user_id AND s.ts <= p.ts
ORDER BY p.event_id
""".strip()


# --- tumbling windows (batch twin of the streaming agg) --------------------


def tumbling_window_counts(events: DataFrame, minutes: int = 60) -> DataFrame:
    """Per-type counts and value sums in tumbling event-time windows —
    the batch twin of streaming/windowed.py (same plan minus the
    watermark; Structured Streaming's windowed agg is verified against
    this in tests)."""
    win = F.window("ts", f"{minutes} minutes")
    return (
        events.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias(
                "total_value"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


TUMBLING_WINDOW_SQL = """
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
""".strip()


# --- day × event_type pivot ------------------------------------------------


def daily_type_pivot(events: DataFrame) -> DataFrame:
    """Events per day pivoted to one column per event type. The value
    list is pinned (EVENT_TYPES) so no distinct-scan job runs and the
    schema is static; empty cells coalesce to 0 like SQL's FILTER."""
    p = (
        events.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("event_date"))
        .pivot("event_type", EVENT_TYPES)
        .count()
    )
    return p.select(
        "event_date",
        *[F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(t) for t in EVENT_TYPES],
    ).orderBy("event_date")


DAILY_TYPE_PIVOT_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS event_date,
       COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
       COUNT(*) FILTER (WHERE event_type = 'error')    AS error,
       COUNT(*) FILTER (WHERE event_type = 'pageview') AS pageview,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup
FROM events
GROUP BY 1
ORDER BY 1
""".strip()


# --- JSON property extraction ----------------------------------------------


def props_json_stats(events: DataFrame) -> DataFrame:
    """Parse the JSON props column (k: int) and aggregate per type —
    semi-structured extraction stays JVM-side via get_json_object (no
    Python UDF), so it pipelines inside whole-stage codegen."""
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.count("k").alias("n_k"),
            F.round(F.sum("k") / F.count("k"), 6).alias("avg_k"),
        )
        .orderBy("event_type")
    )


PROPS_JSON_SQL = """
SELECT event_type,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       COUNT(k) AS n_k,
       ROUND(CAST(SUM(k) AS DOUBLE) / COUNT(k), 6) AS avg_k
FROM (SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events)
GROUP BY event_type
ORDER BY event_type
""".strip()


# --- native session windows ------------------------------------------------

SESSION_GAP = "30 minutes"


def session_window_stats(events: DataFrame) -> DataFrame:
    """Per-user sessions via Spark's NATIVE session_window groupBy (the
    merging-interval operator; same machinery Structured Streaming uses
    for streaming session windows). Complements the lag/cumsum
    formulation in analytics.user_sessions — same shuffle profile, but
    the session merge happens inside the aggregation instead of two
    window passes.

    Closure semantics: session_window extends a session to
    [ts, ts + gap), so a follow-up event at EXACTLY gap distance starts
    a NEW session (>= closes); the oracle encodes >= on microseconds.
    """
    return (
        events.groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


SESSION_WINDOW_SQL = """
SELECT user_id, MIN(ts) AS session_start,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
FROM (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM (
    SELECT user_id, ts, value, event_id,
           CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  OR date_diff('microsecond',
                               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                               ts) >= 1800000000
                THEN 1 ELSE 0 END AS new_session
    FROM events) t)
GROUP BY user_id, sid
ORDER BY user_id, session_start
""".strip()


def daily_type_unpivot(events: DataFrame) -> DataFrame:
    """Unpivot (melt) the day × type matrix back to long form via
    stack() — the wide→long inverse of daily_type_pivot, zero cells
    included (so pivot∘unpivot is lossless)."""
    wide = daily_type_pivot(events)
    stack_expr = ", ".join(f"'{t}', {t}" for t in EVENT_TYPES)
    return (
        wide.selectExpr(
            "event_date",
            f"stack({len(EVENT_TYPES)}, {stack_expr}) as (event_type, n_events)",
        )
        .orderBy("event_date", "event_type")
    )


DAILY_TYPE_UNPIVOT_SQL = """
WITH days AS (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS event_date FROM events),
types AS (SELECT unnest(['click','error','pageview','purchase','signup']) AS event_type),
counts AS (
  SELECT strftime(ts, '%Y-%m-%d') AS event_date, event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT d.event_date, t.event_type, COALESCE(c.n, 0) AS n_events
FROM days d CROSS JOIN types t
LEFT JOIN counts c ON c.event_date = d.event_date AND c.event_type = t.event_type
ORDER BY d.event_date, t.event_type
""".strip()


def daily_type_cube(events: DataFrame) -> DataFrame:
    """GROUP BY CUBE(day, type): all four grouping combinations in one
    pass (per-cell, per-day, per-type, grand total), with explicit
    grouping() flags so subtotal rows are unambiguous even if a real
    NULL ever appears in a grouping column. Spark expands the cube
    map-side — one shuffle for all 4 groupings, not 4 scans."""
    base = events.select(
        F.date_format("ts", "yyyy-MM-dd").alias("event_date"), "event_type", "value"
    )
    return (
        base.cube("event_date", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_value"),
            F.grouping("event_date").alias("g_date"),
            F.grouping("event_type").alias("g_type"),
        )
        .orderBy("g_date", "g_type", "event_date", "event_type")
    )


DAILY_TYPE_CUBE_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS event_date,
       event_type,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value,
       CAST(GROUPING(strftime(ts, '%Y-%m-%d')) AS INT) AS g_date,
       CAST(GROUPING(event_type) AS INT) AS g_type
FROM events
GROUP BY CUBE(strftime(ts, '%Y-%m-%d'), event_type)
ORDER BY g_date, g_type, event_date, event_type
""".strip()


# --- bucketed interval (band) join ----------------------------------------

ATTRIBUTION_MINUTES = 30


def purchase_click_attribution(events: DataFrame) -> DataFrame:
    """Per purchase: how many clicks the same user made in the
    preceding 30 minutes (exclusive start, inclusive purchase time).

    This is a range join — naively O(clicks x purchases) per user. The
    scalable formulation quantizes time into window-sized buckets: a
    30-min lookback can only overlap 2 buckets, so each purchase is
    expanded to its <=2 candidate buckets and joined to clicks on
    (user_id, bucket) EQUALITY, then the exact ts-range predicate
    filters the small candidate set. Pair count is bounded by events
    per (user, bucket) — no quadratic blow-up at 100 TB, and the join
    stays a hash join Catalyst can plan normally.
    """
    win_s = ATTRIBUTION_MINUTES * 60
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    p_bucketed = purchases.withColumn(
        "bucket",
        F.explode(
            F.array_distinct(
                F.array(
                    F.floor((F.unix_timestamp("ts") - win_s) / win_s),
                    F.floor(F.unix_timestamp("ts") / win_s),
                )
            )
        ),
    )
    c_bucketed = clicks.withColumn(
        "bucket", F.floor(F.unix_timestamp("click_ts") / win_s)
    )
    matched = (
        p_bucketed.join(c_bucketed, ["user_id", "bucket"])
        .filter(
            (F.col("click_ts") > F.col("ts") - F.expr(f"INTERVAL {win_s} SECONDS"))
            & (F.col("click_ts") <= F.col("ts"))
        )
        .groupBy("purchase_id")
        .agg(F.count("*").alias("n"))
    )
    return (
        purchases.join(matched, "purchase_id", "left")
        .select(
            "purchase_id",
            "user_id",
            "ts",
            F.coalesce(F.col("n"), F.lit(0).cast("bigint")).alias("n_prior_clicks"),
        )
        .orderBy("purchase_id")
    )


PURCHASE_CLICK_ATTRIBUTION_SQL = f"""
WITH purchases AS (SELECT event_id AS purchase_id, user_id, ts
                   FROM events WHERE event_type = 'purchase'),
clicks AS (SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'),
matched AS (
  SELECT p.purchase_id, COUNT(*) AS n
  FROM purchases p JOIN clicks c
    ON c.user_id = p.user_id
   AND c.click_ts > p.ts - INTERVAL {ATTRIBUTION_MINUTES} MINUTE
   AND c.click_ts <= p.ts
  GROUP BY p.purchase_id
)
SELECT p.purchase_id, p.user_id, p.ts, COALESCE(m.n, 0) AS n_prior_clicks
FROM purchases p LEFT JOIN matched m ON m.purchase_id = p.purchase_id
ORDER BY p.purchase_id
""".strip()


# --- cohort retention -------------------------------------------------------


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Classic cohort retention: users grouped by first-activity date,
    counted on each later active day as (cohort_date, day_offset).

    Two shuffles: per-user first date, then the (cohort, offset) count.
    The (user_id, day) distinct and the first-date agg share the
    user_id clustering, and the final matrix is tiny (days^2), so the
    reduce side never concentrates — cohort analytics at any scale."""
    user_first = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_date")
    )
    activity = events.select("user_id", F.to_date("ts").alias("active_date")).distinct()
    return (
        activity.join(user_first, "user_id")
        .groupBy(
            "cohort_date",
            F.datediff("active_date", "cohort_date").alias("day_offset"),
        )
        .agg(F.count("*").cast("bigint").alias("n_active_users"))
        .orderBy("cohort_date", "day_offset")
    )


RETENTION_COHORTS_SQL = """
WITH fu AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_date
            FROM events GROUP BY user_id),
act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_date FROM events)
SELECT fu.cohort_date,
       CAST(date_diff('day', fu.cohort_date, act.active_date) AS INT) AS day_offset,
       COUNT(*) AS n_active_users
FROM act JOIN fu ON act.user_id = fu.user_id
GROUP BY fu.cohort_date, day_offset
ORDER BY fu.cohort_date, day_offset
""".strip()


# --- signup -> purchase conversion funnel -----------------------------------

FUNNEL_DAYS = 7


def signup_purchase_funnel(events: DataFrame) -> DataFrame:
    """One-row funnel: total users, users who signed up, and users whose
    first purchase landed within 7 days of their first signup, plus the
    conversion ratios. Per-user mins first (high-cardinality shuffle),
    then a broadcast-sized join of two per-user aggregates — never a
    row-level event-to-event join."""
    first_signup = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_signup"))
    )
    converted = (
        events.filter(F.col("event_type") == "purchase")
        .join(first_signup, "user_id")
        .filter(
            (F.col("ts") >= F.col("first_signup"))
            & (F.col("ts") <= F.col("first_signup") + F.expr(f"INTERVAL {FUNNEL_DAYS} DAYS"))
        )
        .select("user_id")
        .distinct()
    )
    # three single-row aggregates cross-joined — fully lazy, no driver
    # actions; each input collapses map-side before the 1-row join
    totals = (
        events.agg(F.count_distinct("user_id").alias("n_users"))
        .crossJoin(first_signup.agg(F.count("*").alias("n_signed_up")))
        .crossJoin(converted.agg(F.count("*").alias("n_converted")))
    )
    return totals.select(
        "n_users",
        "n_signed_up",
        "n_converted",
        F.round(F.col("n_signed_up") / F.col("n_users").cast("double"), 6).alias(
            "signup_rate"
        ),
        F.round(F.col("n_converted") / F.col("n_signed_up").cast("double"), 6).alias(
            "conversion_rate"
        ),
    )


SIGNUP_FUNNEL_SQL = f"""
WITH fs AS (SELECT user_id, MIN(ts) AS first_signup
            FROM events WHERE event_type = 'signup' GROUP BY user_id),
conv AS (
  SELECT DISTINCT e.user_id
  FROM events e JOIN fs ON e.user_id = fs.user_id
  WHERE e.event_type = 'purchase'
    AND e.ts >= fs.first_signup
    AND e.ts <= fs.first_signup + INTERVAL {FUNNEL_DAYS} DAY
)
SELECT (SELECT COUNT(DISTINCT user_id) FROM events) AS n_users,
       (SELECT COUNT(*) FROM fs) AS n_signed_up,
       (SELECT COUNT(*) FROM conv) AS n_converted,
       ROUND((SELECT COUNT(*) FROM fs)
             / CAST((SELECT COUNT(DISTINCT user_id) FROM events) AS DOUBLE), 6)
         AS signup_rate,
       ROUND((SELECT COUNT(*) FROM conv)
             / CAST((SELECT COUNT(*) FROM fs) AS DOUBLE), 6) AS conversion_rate
""".strip()


# --- inter-arrival gap statistics (lag windows) -----------------------------


def interarrival_stats(events: DataFrame) -> DataFrame:
    """Per-user event inter-arrival gaps via lag(): event count, mean /
    min / max gap in seconds. One shuffle on user_id; the window sort is
    per-user local. Ties order by (ts, event_id) so the lag sequence is
    deterministic in any engine."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    return (
        events.select("user_id", gap.alias("gap_s"))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.avg("gap_s"), 6).alias("mean_gap_s"),
            F.round(F.min("gap_s"), 6).alias("min_gap_s"),
            F.round(F.max("gap_s"), 6).alias("max_gap_s"),
        )
        .orderBy("user_id")
    )


INTERARRIVAL_STATS_SQL = """
WITH gaps AS (
  SELECT user_id,
         epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS gap_s
  FROM events
)
SELECT user_id,
       COUNT(*) AS n_events,
       ROUND(AVG(gap_s), 6) AS mean_gap_s,
       ROUND(MIN(gap_s), 6) AS min_gap_s,
       ROUND(MAX(gap_s), 6) AS max_gap_s
FROM gaps
GROUP BY user_id
ORDER BY user_id
""".strip()


# --- event-type transition matrix -------------------------------------------


def type_transition_matrix(events: DataFrame) -> DataFrame:
    """First-order transition counts/probabilities between consecutive
    event types within each user's timeline (the Markov-chain view of
    user behavior). lag() over (user_id ORDER BY ts, event_id) — ties
    deterministic, one shuffle; the matrix itself is types x types,
    constant size at any scale, so the row-count window for the
    probabilities is trivial."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select("user_id", F.lag("event_type").over(w).alias("from_type"),
                      F.col("event_type").alias("to_type"))
        .filter(F.col("from_type").isNotNull())
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").cast("bigint").alias("n_transitions")
    )
    total_from = F.sum("n_transitions").over(Window.partitionBy("from_type"))
    return (
        counts.select(
            "from_type",
            "to_type",
            "n_transitions",
            F.round(F.col("n_transitions") / total_from.cast("double"), 6).alias(
                "p_transition"
            ),
        )
        .orderBy("from_type", "to_type")
    )


TYPE_TRANSITION_SQL = """
WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS from_type,
         event_type AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, COUNT(*) AS n_transitions
  FROM pairs WHERE from_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, n_transitions,
       ROUND(n_transitions / CAST(SUM(n_transitions)
             OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p_transition
FROM counts
ORDER BY from_type, to_type
""".strip()


def hopping_window_counts(events: DataFrame) -> DataFrame:
    """Per-type counts/value sums in HOPPING (sliding) 10-minute
    event-time windows with a 5-minute slide — each event lands in
    width/slide = 2 overlapping windows. Spark's native ``window()``
    generator expands the windows JVM-side (no UDF, no explode of a
    constructed array); the shuffle key is (window, type), so partial
    aggregation collapses the map side exactly as the tumbling case.
    The oracle replays the window arithmetic on the epoch-second grid."""
    win = F.window("ts", "10 minutes", "5 minutes")
    return (
        events.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias(
                "total_value"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


HOPPING_WINDOW_SQL = """
WITH hopped AS (
  SELECT make_timestamp((CAST(floor(epoch(ts) / 300) AS BIGINT) - j) * 300 * 1000000)
           AS window_start,
         event_type, value
  FROM events, (SELECT unnest(range(0, 2)) AS j)
)
SELECT window_start,
       window_start + INTERVAL 10 MINUTE AS window_end,
       event_type,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
FROM hopped
GROUP BY 1, 2, 3
ORDER BY 1, 3
""".strip()


def window_unique_users(events: DataFrame, minutes: int = 60) -> DataFrame:
    """Exact distinct users per tumbling window, in the two-stage shape
    that scales: an explicit (window, user) dedup shuffle first, then a
    plain COUNT(*) — both stages get map-side partial aggregation,
    whereas a direct COUNT(DISTINCT) plans an Expand + one wide
    aggregation whose distinct state can't combine map-side. Same
    result, bounded per-task state."""
    win = F.window("ts", f"{minutes} minutes")
    per_user = events.select(
        win.alias("w"), "user_id"
    ).select(F.col("w.start").alias("window_start"), "user_id").distinct()
    return (
        per_user.groupBy("window_start")
        .agg(F.count("*").cast("bigint").alias("unique_users"))
        .orderBy("window_start")
    )


WINDOW_UNIQUE_USERS_SQL = """
SELECT date_trunc('hour', ts) AS window_start,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS unique_users
FROM events
GROUP BY 1
ORDER BY 1
""".strip()


def daily_type_grouping_sets(events: DataFrame) -> DataFrame:
    """Explicit GROUPING SETS ((date), (type), ()) — the hand-picked
    subtotal lattice (rollup/cube's general form; Catalyst expands all
    three into ONE Expand + hash aggregate pass, same as the rollup
    operator). GROUPING() flags disambiguate real NULLs from subtotal
    rows. Expressed through the SQL gateway — the engine's DataFrame
    and SQL surfaces share Catalyst, so this also exercises the
    view-registration path."""
    ev = events.select(
        F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
        "event_type",
        "value",
    )
    ev.createOrReplaceTempView("_gs_events_input")
    return ev.sparkSession.sql(
        """
        SELECT event_date, event_type,
               COUNT(*) AS n_events,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
                 AS total_value,
               CAST(GROUPING(event_date) AS INT) AS g_date,
               CAST(GROUPING(event_type) AS INT) AS g_type
        FROM _gs_events_input
        GROUP BY GROUPING SETS ((event_date), (event_type), ())
        ORDER BY g_date, g_type, event_date, event_type
        """
    )


DAILY_TYPE_GROUPING_SETS_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS event_date, event_type,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value,
       CAST(GROUPING(strftime(ts, '%Y-%m-%d')) AS INT) AS g_date,
       CAST(GROUPING(event_type) AS INT) AS g_type
FROM events
GROUP BY GROUPING SETS ((strftime(ts, '%Y-%m-%d')), (event_type), ())
ORDER BY g_date, g_type, event_date, event_type
""".strip()


HOT_WINDOW_TOP_K = 20
HOT_WINDOW_BEFORE_S = 300   # window = [minute - 5 min, minute + 6 min)
HOT_WINDOW_AFTER_S = 360
_RJ_BIN_S = 60


def hot_window_range_join(events: DataFrame, top_k: int = HOT_WINDOW_TOP_K) -> DataFrame:
    """Interval × point RANGE JOIN, bin-decomposed: the ``top_k``
    busiest minutes (ties broken by minute) each define a surrounding
    [minute−5 min, minute+6 min) incident window; count events and
    distinct users inside every window.

    Scale shape: a range predicate has no equi-key, and the naive plan
    is a broadcast nested-loop (dies when the interval side grows) or a
    cartesian. The scalable decomposition: slice time into fixed
    ``_RJ_BIN_S``-second bins, explode each interval into the ≤11 bins
    it covers, bin-key each point with integer division, equi-JOIN on
    the bin key, then apply the exact range predicate. Every
    (interval, point) pair meets in exactly one bin (a point has ONE
    bin), so no dedup pass is needed; both sides shuffle-partition by
    bin, so the join stays a hash join at any interval count. Interval
    discovery (minute counts → top-k) is an aggregation plus a
    TakeOrdered — never a global window."""
    mi = F.date_trunc("minute", F.col("ts"))
    hot = (
        events.groupBy(mi.alias("mi"))
        .agg(F.count("*").alias("n_minute"))
        .orderBy(F.desc("n_minute"), F.asc("mi"))
        .limit(top_k)
    )
    iv = hot.select(
        (F.col("mi") - F.expr(f"INTERVAL {HOT_WINDOW_BEFORE_S} SECONDS")).alias("w_start"),
        (F.col("mi") + F.expr(f"INTERVAL {HOT_WINDOW_AFTER_S} SECONDS")).alias("w_end"),
        "n_minute",
    )
    iv_bins = iv.select(
        "w_start",
        "w_end",
        "n_minute",
        F.explode(
            F.sequence(
                F.floor(F.col("w_start").cast("long") / _RJ_BIN_S),
                F.floor((F.col("w_end").cast("long") - 1) / _RJ_BIN_S),
            )
        ).alias("bin"),
    )
    pts = events.select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.floor(F.col("ts").cast("long") / _RJ_BIN_S).alias("bin"),
    )
    return (
        iv_bins.join(pts, "bin")
        .filter((F.col("p_ts") >= F.col("w_start")) & (F.col("p_ts") < F.col("w_end")))
        .groupBy("w_start", "w_end", "n_minute")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("w_start")
    )


HOT_WINDOW_RANGE_JOIN_SQL = f"""
WITH hot AS (
  SELECT date_trunc('minute', ts) AS mi, COUNT(*) AS n_minute
  FROM events GROUP BY 1
  ORDER BY n_minute DESC, mi ASC
  LIMIT {HOT_WINDOW_TOP_K}
),
iv AS (
  SELECT mi - INTERVAL {HOT_WINDOW_BEFORE_S} SECOND AS w_start,
         mi + INTERVAL {HOT_WINDOW_AFTER_S} SECOND AS w_end,
         n_minute
  FROM hot
)
SELECT iv.w_start, iv.w_end, iv.n_minute,
       COUNT(*) AS n_events,
       COUNT(DISTINCT e.user_id) AS n_users
FROM iv JOIN events e ON e.ts >= iv.w_start AND e.ts < iv.w_end
GROUP BY 1, 2, 3
ORDER BY iv.w_start
""".strip()


WAU_DAYS = 7


def dau_wau_stickiness(events: DataFrame) -> DataFrame:
    """Daily/weekly active users and stickiness (DAU/WAU) per day — the
    engagement panel. Rolling DISTINCT counts don't decompose like sums
    (a user active twice in the window must count once), so WAU is
    computed by the supported-window explode: each distinct (day, user)
    pair is emitted to every one of the ≤ WAU_DAYS trailing windows it
    supports, then one countDistinct per window day. Map-side explode
    factor is the window length — constant — and the aggregation keys
    by day, so the shape is two hash aggregations regardless of scale
    (the alternative, a per-day range self-join, re-scans the pair set
    |days| times). Window days with no events simply don't appear
    (consistent with the oracle's join over observed days).

    The trailing window is CALENDAR-complete: a pair supports target
    day d if d-6 ≤ pair_day ≤ d AND d is an observed day — windows are
    anchored on observed days, so sparse calendars stay correct."""
    pairs = events.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id"
    ).dropDuplicates(["day", "user_id"])
    dau = pairs.groupBy("day").agg(
        F.countDistinct("user_id").cast("bigint").alias("dau")
    )
    # explode each pair to the trailing windows it supports
    supported = pairs.select(
        F.explode(
            F.sequence(F.lit(0), F.lit(WAU_DAYS - 1))
        ).alias("off"),
        F.date_format(
            F.date_add(F.to_date("day"), F.col("off")), "yyyy-MM-dd"
        ).alias("target_day"),
        "user_id",
    ).select("target_day", "user_id")
    wau = supported.groupBy("target_day").agg(
        F.countDistinct("user_id").cast("bigint").alias("wau")
    )
    return (
        dau.join(wau, dau.day == wau.target_day)
        .select(
            "day",
            "dau",
            "wau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias(
                "stickiness"
            ),
        )
        .orderBy("day")
    )


DAU_WAU_SQL = f"""
WITH pairs AS (
  SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day, user_id FROM events
),
dau AS (
  SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
  FROM pairs GROUP BY day
),
wau AS (
  SELECT d.day,
         CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS wau
  FROM (SELECT DISTINCT day FROM pairs) d
  JOIN pairs p
    ON CAST(p.day AS DATE) BETWEEN CAST(d.day AS DATE) - {WAU_DAYS - 1}
                               AND CAST(d.day AS DATE)
  GROUP BY d.day
)
SELECT dau.day, dau.dau, wau.wau,
       ROUND(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
FROM dau JOIN wau USING (day)
ORDER BY day
""".strip()


LATENESS_BOUNDS = [60, 300, 900, 3600, 21600]  # 1m 5m 15m 1h 6h
LATENESS_BUCKET_SIZE = 8192  # arrival-order scan decomposition width


def lateness_panel(events: DataFrame) -> DataFrame:
    """Watermark-sizing panel: how late does each event arrive behind
    the event-time FRONT (the max event time among everything that
    arrived before it, arrival order = event_id)? The histogram of
    `front - ts` is exactly the distribution `withWatermark` must
    cover: the p-quantile of this lateness is the delay bound that
    loses 1-p of events — the number a streaming deployment needs
    BEFORE choosing its watermark.

    Scale: a global running max is a sequential scan, so it is
    decomposed the way ``exact_ntile`` decomposes ranking — arrival
    order splits into fixed-width id buckets; each bucket computes its
    internal running max with a PARTITIONED window, the per-bucket
    maxima (corpus/8192 rows, bounded) take a prefix max on the driver-
    sized side, and the two combine map-side. No unpartitioned window
    ever sees corpus-sized input; the bucket-maxima window and the
    1-row total share are the reviewed config-sized exceptions."""
    e = events.select(
        "event_id",
        F.col("ts").cast("double").alias("t"),
        (F.col("event_id") / LATENESS_BUCKET_SIZE).cast("bigint").alias("b"),
    )
    w_in = (
        Window.partitionBy("b")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = e.withColumn("prev_in_bucket", F.max("t").over(w_in))
    bmax = e.groupBy("b").agg(F.max("t").alias("bmax"))
    w_pref = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    pref = bmax.select("b", F.max("bmax").over(w_pref).alias("prev_bucket_max"))
    lat = (
        within.join(F.broadcast(pref), "b")
        .select(
            "event_id",
            F.greatest(
                F.lit(0.0),
                F.coalesce(
                    F.greatest(
                        F.coalesce("prev_in_bucket", F.lit(float("-inf"))),
                        F.coalesce("prev_bucket_max", F.lit(float("-inf"))),
                    ),
                    F.lit(float("-inf")),
                )
                - F.col("t"),
            ).alias("late_s"),
        )
        .withColumn(
            "late_s",
            F.when(F.col("late_s") == float("inf"), 0.0).otherwise(F.col("late_s")),
        )
    )
    bounds = LATENESS_BOUNDS
    label = F.when(F.col("late_s") < bounds[0], "0_lt_1m")
    names = ["1_lt_5m", "2_lt_15m", "3_lt_1h", "4_lt_6h"]
    for i, nm in enumerate(names):
        label = label.when(F.col("late_s") < bounds[i + 1], nm)
    label = label.otherwise("5_ge_6h")
    hist = lat.groupBy(label.alias("bucket")).agg(
        F.count("*").cast("bigint").alias("n_events")
    )
    total = hist.agg(F.sum("n_events").alias("_total"))
    return (
        hist.join(F.broadcast(total))
        .select(
            "bucket",
            "n_events",
            F.round(F.col("n_events").cast("double") / F.col("_total"), 6).alias(
                "share"
            ),
        )
        .orderBy("bucket")
    )


LATENESS_PANEL_SQL = f"""
WITH lat AS (
  SELECT event_id,
         GREATEST(0, COALESCE(
           MAX(epoch(ts)) OVER (ORDER BY event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           - epoch(ts), 0)) AS late_s
  FROM events
),
hist AS (
  SELECT CASE
           WHEN late_s < {LATENESS_BOUNDS[0]} THEN '0_lt_1m'
           WHEN late_s < {LATENESS_BOUNDS[1]} THEN '1_lt_5m'
           WHEN late_s < {LATENESS_BOUNDS[2]} THEN '2_lt_15m'
           WHEN late_s < {LATENESS_BOUNDS[3]} THEN '3_lt_1h'
           WHEN late_s < {LATENESS_BOUNDS[4]} THEN '4_lt_6h'
           ELSE '5_ge_6h' END AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM lat GROUP BY 1
)
SELECT bucket, n_events,
       ROUND(CAST(n_events AS DOUBLE) / (SELECT SUM(n_events) FROM hist), 6) AS share
FROM hist
ORDER BY bucket
""".strip()


BURST_BASELINE_S = 86400  # trailing day
BURST_MIN_HISTORY = 6  # populated hours of baseline before bursts are judged
BURST_RATIO = 1.5


def rate_bursts(events: DataFrame) -> DataFrame:
    """Per-type traffic-burst detection: each (event_type, hour)'s
    event count versus the mean hourly rate over the TRAILING day
    (RANGE frame, current hour excluded) — flagged when the ratio
    clears ``BURST_RATIO`` with at least ``BURST_MIN_HISTORY`` populated
    hours of baseline. The rate-domain companion of the value-domain
    anomaly detectors (z-score / MAD): it catches incident-shaped
    volume spikes that per-event value stats never see. (Hour grain
    fits the driver data's ~1 event/min/type density; the grain and
    window are the two module constants.)

    Determinism: baseline mean is SUM/COUNT over exact integer counts
    (single double division, no accumulation-order sensitivity);
    ratio rounds to 6 dp identically in both engines.

    Scale: one (type, hour) aggregation collapses the corpus; the
    RANGE window then runs over the hour GRID (types × hours — ~9k
    rows/type/year), partitioned by type."""
    grid = events.select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).groupBy("event_type", "hour").agg(F.count("*").cast("bigint").alias("n"))
    g = grid.withColumn("h_epoch", F.col("hour").cast("double"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("h_epoch")
        .rangeBetween(-BURST_BASELINE_S, -3600)
    )
    scored = g.select(
        "event_type",
        "hour",
        "n",
        F.count("n").over(w).alias("hist_hours"),
        (F.sum("n").over(w).cast("double") / F.count("n").over(w)).alias("base"),
    )
    return (
        scored.filter(
            (F.col("hist_hours") >= BURST_MIN_HISTORY)
            & (F.col("n").cast("double") >= F.lit(BURST_RATIO) * F.col("base"))
        )
        .select(
            "event_type",
            "hour",
            "n",
            F.round(F.col("base"), 6).alias("baseline_per_hour"),
            F.round(F.col("n").cast("double") / F.col("base"), 6).alias("burst_ratio"),
        )
        .orderBy("event_type", "hour")
    )


RATE_BURSTS_SQL = f"""
WITH grid AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
scored AS (
  SELECT event_type, hour, n,
         COUNT(n) OVER w AS hist_hours,
         CAST(SUM(n) OVER w AS DOUBLE) / COUNT(n) OVER w AS base
  FROM (SELECT *, epoch(hour) AS h_epoch FROM grid)
  WINDOW w AS (PARTITION BY event_type ORDER BY h_epoch
               RANGE BETWEEN {BURST_BASELINE_S} PRECEDING AND 3600 PRECEDING)
)
SELECT event_type, hour, n,
       ROUND(base, 6) AS baseline_per_hour,
       ROUND(CAST(n AS DOUBLE) / base, 6) AS burst_ratio
FROM scored
WHERE hist_hours >= {BURST_MIN_HISTORY}
  AND CAST(n AS DOUBLE) >= {BURST_RATIO} * base
ORDER BY event_type, hour
""".strip()


SEASONAL_MIN_DAYS = 7
SEASONAL_RATIO = 1.5


def seasonal_deviation(events: DataFrame) -> DataFrame:
    """Seasonality-aware anomaly panel: each (event_type, date, hour)
    cell versus the SAME-HOUR-OF-DAY mean across all days — the
    complement of ``rate_bursts``' trailing window. A 3 a.m. spike
    that is normal for 3 p.m. only stands out against the same-hour
    profile; conversely daily rush hours never false-alarm here. Cells
    flagged when count ≥ ``SEASONAL_RATIO`` × profile mean with ≥
    ``SEASONAL_MIN_DAYS`` days of support (the flagged day is part of
    its own profile — a deliberate, deterministic simplification that
    only dampens the ratio).

    Determinism: profile mean is SUM/COUNT over exact integer counts.
    Scale: one (type, date, hour) aggregation collapses the corpus;
    the profile is a second aggregation over the grid (types × 24 ×
    days rows) and a broadcast join back."""
    grid = (
        events.select(
            "event_type",
            F.col("ts").cast("date").alias("event_date"),
            F.hour("ts").alias("hod"),
        )
        .groupBy("event_type", "event_date", "hod")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    profile = grid.groupBy("event_type", "hod").agg(
        F.count("*").alias("n_days"),
        (F.sum("n").cast("double") / F.count("*")).alias("profile_mean"),
    )
    return (
        grid.join(F.broadcast(profile), ["event_type", "hod"])
        .filter(
            (F.col("n_days") >= SEASONAL_MIN_DAYS)
            & (F.col("n").cast("double") >= F.lit(SEASONAL_RATIO) * F.col("profile_mean"))
        )
        .select(
            "event_type",
            "event_date",
            F.col("hod").cast("int").alias("hod"),
            "n",
            F.round(F.col("profile_mean"), 6).alias("profile_mean"),
            F.round(F.col("n").cast("double") / F.col("profile_mean"), 6).alias(
                "seasonal_ratio"
            ),
        )
        .orderBy("event_type", "event_date", "hod")
    )


SEASONAL_DEVIATION_SQL = f"""
WITH grid AS (
  SELECT event_type, CAST(ts AS DATE) AS event_date,
         CAST(EXTRACT(HOUR FROM ts) AS INT) AS hod,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2, 3
),
profile AS (
  SELECT event_type, hod, COUNT(*) AS n_days,
         CAST(SUM(n) AS DOUBLE) / COUNT(*) AS profile_mean
  FROM grid GROUP BY 1, 2
)
SELECT g.event_type, g.event_date, g.hod, g.n,
       ROUND(p.profile_mean, 6) AS profile_mean,
       ROUND(CAST(g.n AS DOUBLE) / p.profile_mean, 6) AS seasonal_ratio
FROM grid g JOIN profile p USING (event_type, hod)
WHERE p.n_days >= {SEASONAL_MIN_DAYS}
  AND CAST(g.n AS DOUBLE) >= {SEASONAL_RATIO} * p.profile_mean
ORDER BY g.event_type, g.event_date, g.hod
""".strip()

# --- gaps and islands: per-user activity streaks ----------------------------


def gaps_islands(events: DataFrame) -> DataFrame:
    """Per-user consecutive-active-day streaks — the classic SQL
    "gaps and islands" shape: distinct active days per user, island id
    = day_number − row_number (constant exactly while days are
    consecutive), islands aggregated to streaks, then one row per user
    with the streak census (active days, streak count, longest streak
    and its start date). The engagement metric behind "7-day streak"
    badges and churn-risk features.

    Determinism: pure integer arithmetic on day numbers; the longest
    streak's start date ties (two equal-length streaks) break to the
    EARLIEST start via MIN over the per-user longest-length window.

    Scale: distinct (user, day) collapses the corpus first; both
    windows and both aggregations share the user_id hash partitioning,
    so after the first shuffle everything is partition-local."""
    days = (
        events.select(
            "user_id",
            F.col("ts").cast("date").alias("day"),
        )
        .distinct()
        .withColumn("dn", F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")))
    )
    w = Window.partitionBy("user_id").orderBy("dn")
    islands = (
        days.withColumn("grp", F.col("dn") - F.row_number().over(w))
        .groupBy("user_id", "grp")
        .agg(
            F.count("*").cast("bigint").alias("len"),
            F.min("day").alias("start_day"),
        )
    )
    wmax = Window.partitionBy("user_id")
    per_user = islands.withColumn("mx", F.max("len").over(wmax))
    return (
        per_user.groupBy("user_id")
        .agg(
            F.sum("len").cast("bigint").alias("n_active_days"),
            F.count("*").cast("bigint").alias("n_streaks"),
            F.max("len").cast("bigint").alias("longest_streak"),
            F.min(
                F.when(F.col("len") == F.col("mx"), F.col("start_day"))
            ).alias("longest_streak_start"),
        )
        .orderBy("user_id")
    )


GAPS_ISLANDS_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
numbered AS (
  SELECT user_id, day,
         date_diff('day', DATE '1970-01-01', day) AS dn
  FROM days
),
islands AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS len, MIN(day) AS start_day
  FROM (SELECT user_id, day,
               dn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY dn) AS g
        FROM numbered)
  GROUP BY user_id, g
),
marked AS (
  SELECT user_id, len, start_day,
         MAX(len) OVER (PARTITION BY user_id) AS mx
  FROM islands
)
SELECT user_id,
       CAST(SUM(len) AS BIGINT) AS n_active_days,
       CAST(COUNT(*) AS BIGINT) AS n_streaks,
       CAST(MAX(len) AS BIGINT) AS longest_streak,
       MIN(CASE WHEN len = mx THEN start_day END) AS longest_streak_start
FROM marked
GROUP BY user_id
ORDER BY user_id
""".strip()

# --- date-spine gap fill ----------------------------------------------------


def daily_gapfill(events: DataFrame) -> DataFrame:
    """Calendar-complete daily series: a generated min→max date spine
    LEFT-joined to the per-day aggregate so silent ingestion gaps
    surface as explicit zero rows (``is_gap``) instead of vanishing
    from GROUP BY output — the spine/gap-fill idiom every monitoring
    chart and forecasting feature pipeline needs before it can trust
    "days with no data" to mean zero rather than missing.

    Determinism: counts are integers; the value sum accumulates in
    DECIMAL. Scale: the spine explodes from a 1-row min/max aggregate
    (days-sized, trivially broadcast); the daily aggregate collapses
    the corpus before the join."""
    daily = (
        events.select(F.col("ts").cast("date").alias("day"), "value")
        .groupBy("day")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)")).alias("v"),
        )
    )
    bounds = daily.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("day")
    )
    return (
        F.broadcast(spine)
        .join(daily, "day", "left")
        .select(
            "day",
            F.coalesce(F.col("n_events"), F.lit(0).cast("bigint")).alias("n_events"),
            F.round(
                F.coalesce(F.col("v"), F.lit(0).cast("decimal(28,6)")).cast("double"),
                6,
            ).alias("total_value"),
            F.col("n_events").isNull().alias("is_gap"),
        )
        .orderBy("day")
    )


DAILY_GAPFILL_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         SUM(CAST(value AS DECIMAL(28,6))) AS v
  FROM events GROUP BY 1
),
bounds AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM daily),
spine AS (
  SELECT CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
)
SELECT spine.day,
       COALESCE(daily.n_events, 0) AS n_events,
       ROUND(CAST(COALESCE(daily.v, 0) AS DOUBLE), 6) AS total_value,
       daily.n_events IS NULL AS is_gap
FROM spine LEFT JOIN daily ON spine.day = daily.day
ORDER BY spine.day
""".strip()


ATTRIB_DECAY_TAU_S = 600.0  # 10-min half-life-ish time-decay constant


def attribution_models(events: DataFrame) -> DataFrame:
    """Multi-touch attribution credit per (purchase, prior click) under
    the four standard marketing models in one pass: LINEAR (1/n),
    FIRST-touch and LAST-touch flags (deterministic tie-breaks on
    click id), and TIME-DECAY (exp(−Δt/τ) normalized per purchase,
    τ = 10 min) — the comparison table an attribution migration runs
    before switching models. Clicks attach by the same 30-minute
    lookback as ``purchase_click_attribution``, via the same
    bucketed-equality range join (never clicks × purchases).

    Scale: pair volume is the range-join candidate set (bounded per
    (user, bucket)); the per-purchase normalizations are two window
    functions partitioned by purchase_id. exp() is double math on both
    engines; 6-dp rounding absorbs last-ulp libm differences — the
    same defense every cosine twin uses."""
    win_s = ATTRIBUTION_MINUTES * 60
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p_b = purchases.withColumn(
        "bucket",
        F.explode(
            F.array_distinct(
                F.array(
                    F.floor((F.unix_timestamp("p_ts") - win_s) / win_s),
                    F.floor(F.unix_timestamp("p_ts") / win_s),
                )
            )
        ),
    )
    c_b = clicks.withColumn(
        "bucket", F.floor(F.unix_timestamp("click_ts") / win_s)
    )
    pairs = p_b.join(c_b, ["user_id", "bucket"]).filter(
        (F.col("click_ts") > F.col("p_ts") - F.expr(f"INTERVAL {win_s} SECONDS"))
        & (F.col("click_ts") <= F.col("p_ts"))
    ).select("purchase_id", "click_id", "p_ts", "click_ts")
    w_all = Window.partitionBy("purchase_id")
    w_first = Window.partitionBy("purchase_id").orderBy(
        F.col("click_ts").asc(), F.col("click_id").asc()
    )
    w_last = Window.partitionBy("purchase_id").orderBy(
        F.col("click_ts").desc(), F.col("click_id").desc()
    )
    dt_s = F.col("p_ts").cast("double") - F.col("click_ts").cast("double")
    decay_w = F.exp(-dt_s / F.lit(ATTRIB_DECAY_TAU_S))
    return (
        pairs.select(
            "purchase_id",
            "click_id",
            F.count("*").over(w_all).cast("bigint").alias("n_clicks"),
            F.row_number().over(w_first).alias("rn_f"),
            F.row_number().over(w_last).alias("rn_l"),
            decay_w.alias("w"),
            F.sum(decay_w).over(w_all).alias("w_sum"),
        )
        .select(
            "purchase_id",
            "click_id",
            "n_clicks",
            F.round(F.lit(1.0) / F.col("n_clicks"), 6).alias("linear_credit"),
            (F.col("rn_f") == 1).alias("is_first_touch"),
            (F.col("rn_l") == 1).alias("is_last_touch"),
            F.round(F.col("w") / F.col("w_sum"), 6).alias("time_decay_credit"),
        )
        .orderBy("purchase_id", "click_id")
    )


ATTRIBUTION_MODELS_SQL = f"""
WITH purchases AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts
                   FROM events WHERE event_type = 'purchase'),
clicks AS (SELECT user_id, event_id AS click_id, ts AS click_ts
           FROM events WHERE event_type = 'click'),
pairs AS (
  SELECT p.purchase_id, c.click_id, p.p_ts, c.click_ts
  FROM purchases p JOIN clicks c
    ON c.user_id = p.user_id
   AND c.click_ts > p.p_ts - INTERVAL {ATTRIBUTION_MINUTES} MINUTE
   AND c.click_ts <= p.p_ts
),
scored AS (
  SELECT purchase_id, click_id,
         COUNT(*) OVER (PARTITION BY purchase_id) AS n_clicks,
         ROW_NUMBER() OVER (PARTITION BY purchase_id
                            ORDER BY click_ts ASC, click_id ASC) AS rn_f,
         ROW_NUMBER() OVER (PARTITION BY purchase_id
                            ORDER BY click_ts DESC, click_id DESC) AS rn_l,
         EXP(-(epoch(p_ts) - epoch(click_ts)) / {ATTRIB_DECAY_TAU_S}) AS w,
         SUM(EXP(-(epoch(p_ts) - epoch(click_ts)) / {ATTRIB_DECAY_TAU_S}))
           OVER (PARTITION BY purchase_id) AS w_sum
  FROM pairs
)
SELECT purchase_id, click_id,
       CAST(n_clicks AS BIGINT) AS n_clicks,
       ROUND(1.0 / n_clicks, 6) AS linear_credit,
       rn_f = 1 AS is_first_touch,
       rn_l = 1 AS is_last_touch,
       ROUND(w / w_sum, 6) AS time_decay_credit
FROM scored
ORDER BY purchase_id, click_id
""".strip()


EWMA_LAMBDA = 0.3
EWMA_LOOKBACK_H = 24
EWMA_Z = 3.0


def ewma_control(events: DataFrame) -> DataFrame:
    """EWMA control chart over hourly event volumes — the classic
    SPC monitor beside the MAD robust-z (value outliers) and the
    rate-burst RANGE baseline: per (type, hour), the exponentially
    weighted moving average of the PREVIOUS {EWMA_LOOKBACK_H} hourly
    counts (weight λ(1−λ)^(gap−1), renormalized over the lags actually
    present, so gaps and series edges stay unbiased), a Poisson-scaled
    deviation z = (count − ewma)/√ewma, and the |z| > {EWMA_Z} alarm.

    Scale: the hourly rollup is one aggregation; the baseline is a
    bounded-band self-join on hour INDEX equality-ranges (each row
    joins ≤ {EWMA_LOOKBACK_H} predecessors of its own type — never a
    full history scan), the same bucketed range-join discipline as the
    attribution pass. Σ of ≤ 24 doubles differs across engines only in
    the last ulp; 6-dp rounding absorbs it (the standard defense)."""
    hourly = events.groupBy(
        "event_type",
        F.floor(F.col("ts").cast("long") / 3600).cast("bigint").alias("h"),
    ).agg(F.count("*").cast("bigint").alias("cnt"))
    from ..session import track_persist

    hourly = track_persist(hourly)
    cur, prior = hourly.alias("cur"), hourly.alias("prior")
    gap = F.col("cur.h") - F.col("prior.h")
    w = F.lit(EWMA_LAMBDA) * F.pow(F.lit(1.0 - EWMA_LAMBDA), gap - 1)
    base = (
        cur.join(
            prior,
            (F.col("cur.event_type") == F.col("prior.event_type"))
            & (gap >= 1)
            & (gap <= EWMA_LOOKBACK_H),
        )
        .groupBy(F.col("cur.event_type").alias("event_type"), F.col("cur.h").alias("h"))
        .agg(
            (F.sum(w * F.col("prior.cnt")) / F.sum(w)).alias("ewma")
        )
    )
    z = (F.col("cnt") - F.col("ewma")) / F.sqrt(F.col("ewma"))
    return (
        hourly.join(base, ["event_type", "h"], "left")
        .select(
            "event_type",
            F.col("h").alias("hour_idx"),
            "cnt",
            F.round("ewma", 6).alias("ewma"),
            F.round(z, 6).alias("z"),
            F.coalesce(F.abs(z) > EWMA_Z, F.lit(False)).alias("is_alarm"),
        )
        .orderBy("event_type", "hour_idx")
    )


EWMA_CONTROL_SQL = f"""
WITH hourly AS (
  SELECT event_type,
         CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS h,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
base AS (
  SELECT cur.event_type, cur.h,
         SUM({EWMA_LAMBDA} * POWER(1.0 - {EWMA_LAMBDA}, cur.h - prior.h - 1) * prior.cnt)
           / SUM({EWMA_LAMBDA} * POWER(1.0 - {EWMA_LAMBDA}, cur.h - prior.h - 1)) AS ewma
  FROM hourly cur JOIN hourly prior
    ON prior.event_type = cur.event_type
   AND cur.h - prior.h BETWEEN 1 AND {EWMA_LOOKBACK_H}
  GROUP BY cur.event_type, cur.h
)
SELECT hh.event_type, hh.h AS hour_idx, hh.cnt,
       ROUND(b.ewma, 6) AS ewma,
       ROUND((hh.cnt - b.ewma) / SQRT(b.ewma), 6) AS z,
       COALESCE(ABS((hh.cnt - b.ewma) / SQRT(b.ewma)) > {EWMA_Z}, FALSE) AS is_alarm
FROM hourly hh LEFT JOIN base b ON b.event_type = hh.event_type AND b.h = hh.h
ORDER BY hh.event_type, hour_idx
""".strip()


PATH_STEPS = 3
PATH_TOP = 25


def top_paths(events: DataFrame, steps: int = PATH_STEPS, k: int = PATH_TOP) -> DataFrame:
    """PATH ANALYSIS: the top-{PATH_TOP} most-traveled {PATH_STEPS}-step
    event-type sequences across user sessions (30-min gap, the same
    sessionizer cut as ``user_sessions``), each with its traversal
    count, how many distinct users walked it, and the share of walks
    that end in a purchase on the final step — the "what do users do
    before converting" query behind every journey-analysis dashboard.

    Scale: one window pass (partitioned by user) both cuts sessions
    and leads the next {PATH_STEPS - 1} types; the count-and-rank is a
    hash aggregation on the path string. Window state is per-user —
    the standard sessionization shuffle, never cross-user."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    sess = (
        events.select("user_id", "event_id", "ts", "event_type")
        .withColumn(
            "new_session",
            F.when(gap.isNull() | (gap > 1800), 1).otherwise(0),
        )
        .withColumn("session_id", F.sum("new_session").over(w))
    )
    ws = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    leads = [F.lead("event_type", j).over(ws).alias(f"t{j}") for j in range(1, steps)]
    walked = sess.select(
        "user_id", F.col("event_type").alias("t0"), *leads
    ).filter(F.col(f"t{steps - 1}").isNotNull())
    path = F.concat_ws(" > ", *[F.col(f"t{j}") for j in range(steps)])
    agg = walked.groupBy(path.alias("path")).agg(
        F.count("*").cast("bigint").alias("n_walks"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.round(
            F.avg((F.col(f"t{steps - 1}") == "purchase").cast("double")), 6
        ).alias("ends_in_purchase_rate"),
    )
    return (
        agg.orderBy(F.desc("n_walks"), "path")
        .limit(k)
        .select("path", "n_walks", "n_users", "ends_in_purchase_rate")
    )


TOP_PATHS_SQL = f"""
WITH ordered AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR date_diff('second', LAG(ts) OVER w, ts) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS session_id
  FROM ordered
),
walked AS (
  SELECT user_id,
         event_type AS t0,
         LEAD(event_type, 1) OVER ws AS t1,
         LEAD(event_type, 2) OVER ws AS t2
  FROM sess
  WINDOW ws AS (PARTITION BY user_id, session_id ORDER BY ts, event_id)
),
agg AS (
  SELECT t0 || ' > ' || t1 || ' > ' || t2 AS path,
         CAST(COUNT(*) AS BIGINT) AS n_walks,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
         ROUND(AVG(CASE WHEN t2 = 'purchase' THEN 1.0 ELSE 0.0 END), 6)
           AS ends_in_purchase_rate
  FROM walked WHERE t2 IS NOT NULL
  GROUP BY 1
)
SELECT path, n_walks, n_users, ends_in_purchase_rate
FROM agg ORDER BY n_walks DESC, path LIMIT {PATH_TOP}
""".strip()


MARKOV_ITERS = 12
MARKOV_ROUND = 9


def markov_stationary(events: DataFrame, n_iter: int = MARKOV_ITERS) -> DataFrame:
    """STATIONARY DISTRIBUTION of the behavior Markov chain — where
    does a user's session settle if the ``type_transition_matrix``
    dynamics run forever. π ← normalize(πP) iterated exactly
    ``n_iter`` times from uniform, every step rounded to
    {MARKOV_ROUND} dp — the same bit-stable unrolled-iteration
    contract as ``power_iteration`` (types with no outgoing
    transitions leak mass; the per-step L1 renormalization puts it
    back deterministically). P's entries are single exact-integer
    divisions, identical in both engines. Output: one row per event
    type with its stationary share (types unreachable in the chain
    report 0).

    Scale: the transition count is the only corpus-sized pass; the
    chain itself is |types|² — domain-bounded, so the iteration runs
    DRIVER-LOCAL (OPTIMIZATION r13: the round-8 bit-mirrored-trajectory
    device of ``emb_pca_deflation``/``emb_linear_probe``, whose d×d
    collected moment matrices are far larger than this |types|² chain).
    The declarative 12-step loop spent its whole budget on per-step
    orchestration (4 eager checkpoints + broadcasts over ≤25-row
    frames); now the transition matrix collects once and the π updates
    run in Python float64 with ``_round_half_up`` mirroring Spark's
    ROUND-on-DOUBLE exactly. Every sum is ``math.fsum`` (correctly
    rounded), so the trajectory does not depend on the order
    ``collect`` returns the transitions in; oracle hash-checked at
    every committed SF."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select(
            "user_id",
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .filter(F.col("from_type").isNotNull())
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").cast("double").alias("n")
    )
    tot = counts.groupBy("from_type").agg(F.sum("n").alias("t"))
    mat_rows = (
        counts.join(tot, "from_type")
        .select("from_type", "to_type", (F.col("n") / F.col("t")).alias("p"))
        .collect()
    )
    type_rows = events.select(F.col("event_type").alias("t")).distinct().collect()
    from ..llm.similarity import _round_half_up

    tlist = sorted(r["t"] for r in type_rows)
    k = len(tlist)
    val = {t: _round_half_up(1.0 / k, MARKOV_ROUND) for t in tlist} if k else {}
    for _ in range(n_iter):
        terms: dict = {}
        for r in mat_rows:
            if r["from_type"] in val:
                terms.setdefault(r["to_type"], []).append(val[r["from_type"]] * r["p"])
        m = {to: math.fsum(ts) for to, ts in terms.items()}
        s = math.fsum(m.values())
        val = {
            to: _round_half_up(m[to] / s, MARKOV_ROUND) for to in sorted(m)
        }
    out = [
        (t, _round_half_up(val.get(t, 0.0), 6)) for t in tlist
    ]
    return events.sparkSession.createDataFrame(
        out, schema="event_type string, stationary_p double"
    ).orderBy("event_type")


def _markov_stationary_sql() -> str:
    steps = []
    for t in range(1, MARKOV_ITERS + 1):
        prev = f"v{t - 1}"
        steps.append(
            f"""m{t} AS MATERIALIZED (
  SELECT mat.to_type AS t, SUM(v.val * mat.p) AS m
  FROM mat JOIN {prev} v ON mat.from_type = v.t GROUP BY mat.to_type
),
s{t} AS MATERIALIZED (SELECT SUM(m) AS s FROM m{t}),
v{t} AS MATERIALIZED (
  SELECT t, ROUND(m / s, {MARKOV_ROUND}) AS val FROM m{t}, s{t}
)"""
        )
    last = f"v{MARKOV_ITERS}"
    return f"""
WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS from_type,
         event_type AS to_type
  FROM events
),
counts AS MATERIALIZED (
  SELECT from_type, to_type, CAST(COUNT(*) AS DOUBLE) AS n
  FROM pairs WHERE from_type IS NOT NULL
  GROUP BY from_type, to_type
),
mat AS MATERIALIZED (
  SELECT from_type, to_type,
         n / SUM(n) OVER (PARTITION BY from_type) AS p
  FROM counts
),
types AS MATERIALIZED (SELECT DISTINCT event_type AS t FROM events),
kk AS (SELECT COUNT(*) AS k FROM types),
v0 AS MATERIALIZED (
  SELECT t, ROUND(1.0 / k, {MARKOV_ROUND}) AS val FROM types, kk
),
{",".join(steps)}
SELECT ty.t AS event_type,
       ROUND(COALESCE(v.val, 0.0), 6) AS stationary_p
FROM types ty LEFT JOIN {last} v ON v.t = ty.t
ORDER BY event_type
""".strip()


MARKOV_STATIONARY_SQL = _markov_stationary_sql()


STL_HALF_WIN = 12  # centered 25-hour trend window


def stl_decompose(events: DataFrame) -> DataFrame:
    """Additive seasonal decomposition of hourly event volume per type
    — STL's classic shape (trend + daily seasonal + remainder) in
    pure window algebra: trend = centered 25-hour moving average
    (NULL until the window is full, never a half-window edge
    estimate), seasonal = the hour-of-day mean of the detrended
    series re-centered to Σ=0 (so trend keeps the level), remainder =
    what neither explains. The remainder column is where incidents
    live after rush-hour cycles are explained away — the
    decomposition ``seasonal_deviation`` implies, materialized.

    Scale: one hourly rollup, then three window/group passes over the
    (types × hours) frame — all partitioned by type, no corpus
    rescans."""
    hourly = events.groupBy(
        "event_type",
        F.floor(F.col("ts").cast("long") / 3600).cast("bigint").alias("h"),
    ).agg(F.count("*").cast("bigint").alias("cnt"))
    wt = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-STL_HALF_WIN, STL_HALF_WIN)
    )
    with_trend = hourly.select(
        "event_type",
        "h",
        "cnt",
        F.when(
            F.count("*").over(wt) == 2 * STL_HALF_WIN + 1,
            F.avg(F.col("cnt").cast("double")).over(wt),
        ).alias("trend"),
    )
    hod = (F.col("h") % 24).alias("hour_of_day")
    det = with_trend.select(
        "event_type", "h", "cnt", "trend", hod,
        (F.col("cnt") - F.col("trend")).alias("detr"),
    )
    seas_raw = det.groupBy("event_type", "hour_of_day").agg(
        F.avg("detr").alias("s_raw")
    )
    seas = seas_raw.select(
        "event_type",
        "hour_of_day",
        (
            F.col("s_raw")
            - F.avg("s_raw").over(Window.partitionBy("event_type"))
        ).alias("seasonal"),
    )
    out = det.join(seas, ["event_type", "hour_of_day"], "left")
    return out.select(
        "event_type",
        F.col("h").alias("hour_idx"),
        "hour_of_day",
        "cnt",
        F.round("trend", 6).alias("trend"),
        F.round("seasonal", 6).alias("seasonal"),
        F.round(
            F.col("cnt") - F.col("trend") - F.col("seasonal"), 6
        ).alias("remainder"),
    ).orderBy("event_type", "hour_idx")


STL_DECOMPOSE_SQL = f"""
WITH hourly AS (
  SELECT event_type,
         CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS h,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
tr AS (
  SELECT event_type, h, cnt,
         CASE WHEN COUNT(*) OVER w = {2 * STL_HALF_WIN + 1}
              THEN AVG(CAST(cnt AS DOUBLE)) OVER w END AS trend
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY h
               ROWS BETWEEN {STL_HALF_WIN} PRECEDING AND {STL_HALF_WIN} FOLLOWING)
),
det AS (
  SELECT *, h % 24 AS hour_of_day, cnt - trend AS detr FROM tr
),
seas_raw AS (
  SELECT event_type, hour_of_day, AVG(detr) AS s_raw
  FROM det GROUP BY event_type, hour_of_day
),
seas AS (
  SELECT event_type, hour_of_day,
         s_raw - AVG(s_raw) OVER (PARTITION BY event_type) AS seasonal
  FROM seas_raw
)
SELECT d.event_type, d.h AS hour_idx, d.hour_of_day, d.cnt,
       ROUND(d.trend, 6) AS trend,
       ROUND(s.seasonal, 6) AS seasonal,
       ROUND(d.cnt - d.trend - s.seasonal, 6) AS remainder
FROM det d
LEFT JOIN seas s ON s.event_type = d.event_type AND s.hour_of_day = d.hour_of_day
ORDER BY d.event_type, hour_idx
""".strip()


# --- Shapley-value channel attribution ----------------------------------------

SHAPLEY_CHANNELS = ["click", "view", "signup", "error"]  # bit i = channel i


def _shapley_lattice():
    """All (channel, coalition-with, coalition-without, weight) rows of
    the 4-channel Shapley sum, enumerated once in Python: weight
    numerator (|S|−1)!(n−|S|)! over denominator n! = 24."""
    from math import factorial

    n = len(SHAPLEY_CHANNELS)
    rows = []
    for c in range(n):
        for s in range(1 << n):
            if not (s >> c) & 1:
                continue
            size = bin(s).count("1")
            w = factorial(size - 1) * factorial(n - size)
            rows.append((c, s, s & ~(1 << c), w))
    return rows, factorial(n)


_SHAP_ROWS, _SHAP_DEN = _shapley_lattice()


def shapley_attribution(events: DataFrame) -> DataFrame:
    """EXACT Shapley-value attribution over the coalition lattice — the
    game-theoretic credit split beside the positional heuristics of
    ``events_attribution_models`` (linear/first/last/decay are rules;
    Shapley is the unique split satisfying efficiency/symmetry/null-
    player). Each user's touched-channel set is a 4-bit mask, the
    characteristic function v(S) = conversion rate of users whose full
    touch set is exactly S (the Zhao-et-al simplified game, v ≡ 0 on
    unobserved coalitions), and each channel's value is the closed-form
    sum over its 8 lattice terms — enumerated as a LITERAL 32-row table
    interpolated into both engines, so "iterate over subsets" costs one
    tiny broadcast join. Per-term doubles are 9-dp rounded and summed
    as DECIMAL (order-independent); the /24 happens once at the end.

    Scale: one user-keyed mask aggregation (the only data-sized
    shuffle), a 16-row v(S) table, a 32-row lattice join — at any
    corpus size the lattice work is constant."""
    bits = [
        F.max(F.when(F.col("event_type") == ch, 1).otherwise(0)) * (1 << i)
        for i, ch in enumerate(SHAPLEY_CHANNELS)
    ]
    users = events.groupBy("user_id").agg(
        sum(bits[1:], bits[0]).alias("mask"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "conv"
        ),
    )
    v = users.groupBy("mask").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("conv").cast("bigint").alias("n_conv"),
    )
    spark = events.sparkSession
    lat = F.broadcast(
        spark.createDataFrame(
            _SHAP_ROWS, "c int, s_with int, s_without int, w int"
        )
    )
    vw = v.select(
        F.col("mask").alias("s_with"),
        (F.col("n_conv").cast("double") / F.col("n_users").cast("double")).alias(
            "v_with"
        ),
    )
    vo = v.select(
        F.col("mask").alias("s_without"),
        (F.col("n_conv").cast("double") / F.col("n_users").cast("double")).alias(
            "v_without"
        ),
    )
    terms = (
        lat.join(vw, "s_with", "left")
        .join(vo, "s_without", "left")
        .select(
            "c",
            F.round(
                F.col("w")
                * (
                    F.coalesce("v_with", F.lit(0.0))
                    - F.coalesce("v_without", F.lit(0.0))
                ),
                9,
            )
            .cast("decimal(28,9)")
            .alias("t"),
        )
    )
    chan = spark.createDataFrame(
        list(enumerate(SHAPLEY_CHANNELS)), "c int, channel string"
    )
    return (
        terms.groupBy("c")
        .agg(F.sum("t").alias("tsum"))
        .join(F.broadcast(chan), "c")
        .select(
            "channel",
            F.round(
                F.col("tsum").cast("double") / F.lit(float(_SHAP_DEN)), 9
            ).alias("shapley_value"),
        )
        .orderBy("channel")
    )


_SHAP_LAT_SQL = ", ".join(f"({c}, {sw}, {so}, {w})" for c, sw, so, w in _SHAP_ROWS)
_SHAP_CHAN_SQL = ", ".join(
    f"({i}, '{ch}')" for i, ch in enumerate(SHAPLEY_CHANNELS)
)
_SHAP_BITS_SQL = " + ".join(
    f"MAX(CASE WHEN event_type = '{ch}' THEN 1 ELSE 0 END) * {1 << i}"
    for i, ch in enumerate(SHAPLEY_CHANNELS)
)

SHAPLEY_SQL = f"""
WITH users AS (
  SELECT user_id,
         {_SHAP_BITS_SQL} AS mask,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
),
v AS (
  SELECT mask,
         CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(conv) AS BIGINT) AS n_conv
  FROM users GROUP BY 1
),
lat(c, s_with, s_without, w) AS (VALUES {_SHAP_LAT_SQL}),
chan(c, channel) AS (VALUES {_SHAP_CHAN_SQL}),
terms AS (
  SELECT lat.c,
         CAST(ROUND(lat.w * (COALESCE(CAST(a.n_conv AS DOUBLE)
                                      / CAST(a.n_users AS DOUBLE), 0.0)
                             - COALESCE(CAST(b.n_conv AS DOUBLE)
                                        / CAST(b.n_users AS DOUBLE), 0.0)), 9)
              AS DECIMAL(28,9)) AS t
  FROM lat
  LEFT JOIN v a ON a.mask = lat.s_with
  LEFT JOIN v b ON b.mask = lat.s_without
)
SELECT chan.channel,
       ROUND(CAST(SUM(t) AS DOUBLE) / {float(_SHAP_DEN)}, 9) AS shapley_value
FROM terms JOIN chan ON chan.c = terms.c
GROUP BY 1
ORDER BY 1
""".strip()


# --- retention decay fit --------------------------------------------------------

RETFIT_MIN_OFFSET = 1
RETFIT_MAX_OFFSET = 21


def retention_decay_fit(events: DataFrame) -> DataFrame:
    """Power-law fit of the pooled retention curve: average day-k
    retention RATE across cohorts (day-0 cohort size as denominator),
    then OLS of ln(rate) on ln(k) over k = 1..{RETFIT_MAX_OFFSET} — the
    one-number summary ("retention decays like k^-b") of the matrix
    ``events_retention_cohorts`` emits, same ln-OLS discipline as
    ``docs_zipf_fit``. Also reports the fitted day-7 rate and the
    half-life k where the fitted curve crosses half the day-1 rate.

    Scale: rides the retention matrix (days² rows); the regression
    runs over ≤{RETFIT_MAX_OFFSET} pooled points."""
    ret = retention_cohorts(events)
    sizes = ret.filter(F.col("day_offset") == 0).select(
        "cohort_date", F.col("n_active_users").alias("cohort_size")
    )
    pooled = (
        ret.filter(
            (F.col("day_offset") >= RETFIT_MIN_OFFSET)
            & (F.col("day_offset") <= RETFIT_MAX_OFFSET)
        )
        .join(sizes, "cohort_date")
        .groupBy("day_offset")
        .agg(
            F.sum("n_active_users").cast("bigint").alias("active"),
            F.sum("cohort_size").cast("bigint").alias("size"),
        )
        .select(
            "day_offset",
            (F.col("active").cast("double") / F.col("size").cast("double")).alias(
                "rate"
            ),
        )
        .filter(F.col("rate") > 0)
    )
    pts = pooled.select(
        F.log(F.col("day_offset").cast("double")).alias("x"),
        F.log("rate").alias("y"),
    )
    m = pts.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.round("x", 9).cast("decimal(28,9)")).alias("sx"),
        F.sum(F.round("y", 9).cast("decimal(28,9)")).alias("sy"),
        F.sum(F.round(F.col("x") * F.col("x"), 9).cast("decimal(28,9)")).alias(
            "sxx"
        ),
        F.sum(F.round(F.col("x") * F.col("y"), 9).cast("decimal(28,9)")).alias(
            "sxy"
        ),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    slope = (sxy - sx * sy / n) / F.nullif(sxx - sx * sx / n, F.lit(0.0))
    intercept = (sy - slope * sx) / n
    day7 = F.exp(intercept + slope * F.log(F.lit(7.0)))
    # fitted rate(k) = e^a k^b halves vs rate(1) at k = 2^(-1/b)
    half_life = F.pow(F.lit(2.0), F.lit(-1.0) / F.nullif(slope, F.lit(0.0)))
    return m.select(
        "n",
        F.round(slope, 6).alias("decay_exponent"),
        F.round(intercept, 6).alias("log_intercept"),
        F.round(day7, 6).alias("fitted_day7_rate"),
        F.round(half_life, 6).alias("half_life_days"),
    )


RETENTION_DECAY_FIT_SQL = f"""
WITH fu AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_date
            FROM events GROUP BY user_id),
act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_date FROM events),
ret AS (
  SELECT fu.cohort_date,
         CAST(date_diff('day', fu.cohort_date, act.active_date) AS INT)
           AS day_offset,
         COUNT(*) AS n_active_users
  FROM act JOIN fu ON act.user_id = fu.user_id
  GROUP BY 1, 2
),
sizes AS (
  SELECT cohort_date, n_active_users AS cohort_size FROM ret WHERE day_offset = 0
),
pooled AS (
  SELECT r.day_offset,
         CAST(SUM(r.n_active_users) AS DOUBLE)
           / CAST(SUM(s.cohort_size) AS DOUBLE) AS rate
  FROM ret r JOIN sizes s ON r.cohort_date = s.cohort_date
  WHERE r.day_offset BETWEEN {RETFIT_MIN_OFFSET} AND {RETFIT_MAX_OFFSET}
  GROUP BY 1
),
pts AS (
  SELECT ln(CAST(day_offset AS DOUBLE)) AS x, ln(rate) AS y
  FROM pooled WHERE rate > 0
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(ROUND(x, 9) AS DECIMAL(28,9))) AS sx,
         SUM(CAST(ROUND(y, 9) AS DECIMAL(28,9))) AS sy,
         SUM(CAST(ROUND(x * x, 9) AS DECIMAL(28,9))) AS sxx,
         SUM(CAST(ROUND(x * y, 9) AS DECIMAL(28,9))) AS sxy
  FROM pts
),
d AS (
  SELECT n,
         (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                                / CAST(n AS DOUBLE))
           / NULLIF(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                                          / CAST(n AS DOUBLE), 0.0) AS slope,
         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
  FROM m
)
SELECT n,
       ROUND(slope, 6) AS decay_exponent,
       ROUND((syd - slope * sxd) / CAST(n AS DOUBLE), 6) AS log_intercept,
       ROUND(EXP((syd - slope * sxd) / CAST(n AS DOUBLE) + slope * ln(7.0)), 6)
         AS fitted_day7_rate,
       ROUND(POW(2.0, -1.0 / NULLIF(slope, 0.0)), 6) AS half_life_days
FROM d
""".strip()
