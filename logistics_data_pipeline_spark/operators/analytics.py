"""General analytics over the TPC-H-ish testdata: the engine's generic
DataFrame capability beyond the reference's logistics surface, and the
scale-sensitive bench headliners.

Numeric determinism: monetary aggregates are summed as DECIMAL (exact,
order-independent) and cast to double at the end — floating SUM order
varies across partitions/engines, decimal doesn't (SURVEY.md §7 #5).

Scale notes:
* q1: single scan + 4-key hash agg with map-side partials; filter pushed
  to parquet.
* q3/q5: star joins — small dims broadcast (region/nation/supplier),
  big-big joins (orders⋈lineitem) shuffle on the join key with AQE.
* user_sessions: window functions partitioned by user_id — one shuffle
  on the partition key; the lag/cumsum pattern is the standard
  sessionization at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEC = "decimal(18,2)"
SHIP_CUTOFF = "1998-09-02"
Q3_DATE = "1998-01-01"
Q5_START, Q5_END = "1997-01-01", "1999-01-01"


def q1_pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1-shaped pricing summary."""
    ep = F.col("l_extendedprice").cast(DEC)
    disc = F.col("l_discount").cast(DEC)
    tax = F.col("l_tax").cast(DEC)
    qty = F.col("l_quantity").cast(DEC)
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit(SHIP_CUTOFF).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(ep).cast("double").alias("sum_base_price"),
            F.sum(ep * (F.lit(1).cast(DEC) - disc)).cast("double").alias("sum_disc_price"),
            F.sum(ep * (F.lit(1).cast(DEC) - disc) * (F.lit(1).cast(DEC) + tax))
            .cast("double")
            .alias("sum_charge"),
            F.round(F.sum(qty).cast("double") / F.count("*"), 6).alias("avg_qty"),
            F.round(F.sum(ep).cast("double") / F.count("*"), 6).alias("avg_price"),
            F.round(F.sum(disc).cast("double") / F.count("*"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = f"""
SELECT
  l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
  ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{SHIP_CUTOFF} 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""".strip()


def q3_shipping_priority(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """TPC-H Q3-shaped: top-10 unshipped orders by revenue for one
    market segment. customer is broadcast; orders⋈lineitem shuffles."""
    rev = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)
    )
    c = F.broadcast(customer.filter(F.col("c_mktsegment") == "BUILDING")).select(
        "c_custkey"
    )
    o = orders.filter(F.col("o_orderdate") < F.lit(Q3_DATE).cast("timestamp"))
    l = lineitem.filter(F.col("l_shipdate") > F.lit(Q3_DATE).cast("timestamp"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_SQL = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '{Q3_DATE} 00:00:00'
  AND l_shipdate > TIMESTAMP '{Q3_DATE} 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
""".strip()


def q5_local_supplier_volume(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
) -> DataFrame:
    """TPC-H Q5-shaped: revenue by nation where customer and supplier
    share the nation. region/nation/supplier broadcast; the
    orders⋈lineitem backbone shuffles once on orderkey."""
    rev = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)
    )
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit(Q5_START).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(Q5_END).cast("timestamp"))
    )
    joined = (
        lineitem.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.groupBy(F.col("n_name").alias("n_name"))
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


Q5_SQL = f"""
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '{Q5_START} 00:00:00'
  AND o_orderdate < TIMESTAMP '{Q5_END} 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
""".strip()


def events_rollup(events: DataFrame) -> DataFrame:
    """Hierarchical rollup (event_type × day → subtotals → grand total)
    via GROUP BY ROLLUP — the hypertable-style pre-aggregation pattern;
    Catalyst expands it into one pass with grouping-id."""
    # date as ISO string: rollup NULLs make pandas upcast real date
    # columns inconsistently between engines (datetime64 vs object)
    return (
        events.rollup(
            "event_type", F.date_format("ts", "yyyy-MM-dd").alias("event_date")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 2).alias(
                "total_value"
            ),
        )
        .orderBy(
            F.col("event_type").asc_nulls_first(),
            F.col("event_date").asc_nulls_first(),
        )
    )


EVENTS_ROLLUP_SQL = """
SELECT event_type, strftime(ts, '%Y-%m-%d') AS event_date,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
FROM events
GROUP BY ROLLUP(event_type, strftime(ts, '%Y-%m-%d'))
ORDER BY event_type ASC NULLS FIRST, event_date ASC NULLS FIRST
""".strip()


def events_value_quantiles(events: DataFrame) -> DataFrame:
    """Exact per-type quantiles of the value column (continuous
    interpolation — Spark ``percentile`` ≡ DuckDB ``quantile_cont``).
    At 100 TB use approx_percentile; the exact form is the oracle-able
    correctness baseline."""
    pcts = [0.25, 0.5, 0.9, 0.99]
    return (
        events.groupBy("event_type")
        .agg(
            *[
                F.round(F.expr(f"percentile(value, {p})"), 6).alias(
                    f"p{int(p * 100)}"
                )
                for p in pcts
            ],
            F.count("*").alias("n"),
        )
        .orderBy("event_type")
    )


EVENTS_QUANTILES_SQL = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.25), 6) AS p25,
       ROUND(quantile_cont(value, 0.50), 6) AS p50,
       ROUND(quantile_cont(value, 0.90), 6) AS p90,
       ROUND(quantile_cont(value, 0.99), 6) AS p99,
       COUNT(*) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
""".strip()


def events_approx_distinct(events: DataFrame) -> DataFrame:
    """HLL-sketch distinct counts next to exact ones — the 100 TB
    pattern for cardinality dashboards (no oracle: sketch estimates are
    engine-specific; the exact column is unit-tested instead)."""
    return (
        events.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
            F.count("*").alias("n_events"),
        )
        .orderBy("event_type")
    )


SESSION_GAP_S = 1800


def user_sessions(events: DataFrame) -> DataFrame:
    """Sessionization via window functions (extension: the reference has
    none — SURVEY.md §2.5): a new session starts after a >30 min gap;
    per-user event/session counts and value stats."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    with_gap = events.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > SESSION_GAP_S), 1).otherwise(0),
    )
    return (
        with_gap.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("new_session").cast("bigint").alias("n_sessions"),
            F.countDistinct("event_type").alias("n_event_types"),
            F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 2).alias(
                "total_value"
            ),
        )
        .orderBy("user_id")
    )


USER_SESSIONS_SQL = f"""
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(new_session) AS BIGINT) AS n_sessions,
       COUNT(DISTINCT event_type) AS n_event_types,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
FROM (
  SELECT *,
         CASE WHEN date_diff('second',
                             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                             ts) > {SESSION_GAP_S}
                   OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events)
GROUP BY user_id
ORDER BY user_id
""".strip()


def top_orders_per_customer(orders: DataFrame, k: int = 3) -> DataFrame:
    """Top-k orders per customer by price — the canonical ROW_NUMBER
    top-N-per-group: one shuffle on the partition key, rank evaluated
    streaming within each partition (no global sort)."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "rnk")
        .orderBy("o_custkey", "rnk")
    )


TOP_ORDERS_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice, rnk
FROM (
  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
  FROM orders)
WHERE rnk <= 3
ORDER BY o_custkey, rnk
""".strip()


def trailing_revenue_7d(orders: DataFrame) -> DataFrame:
    """Per-customer daily order totals with a trailing 7-day RANGE
    window (event-time range frame, not row frame — days with no orders
    still age out). The range key is integer days-since-epoch because
    Spark's rangeBetween is numeric; sums stay in DECIMAL inside the
    frame for order-independence."""
    day = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).alias("day_num")
    daily = (
        orders.groupBy(
            "o_custkey", F.to_date("o_orderdate").alias("order_date"), day
        )
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("day_total_dec"))
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day_num")
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "o_custkey",
        "order_date",
        F.col("day_total_dec").cast("double").alias("day_total"),
        F.sum("day_total_dec").over(w).cast("double").alias("trailing_7d"),
    ).orderBy("o_custkey", "order_date")


TRAILING_REVENUE_SQL = """
WITH daily AS (
  SELECT o_custkey,
         CAST(o_orderdate AS DATE) AS order_date,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_num,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS day_total_dec
  FROM orders
  GROUP BY 1, 2, 3
)
SELECT o_custkey, order_date,
       CAST(day_total_dec AS DOUBLE) AS day_total,
       CAST(SUM(day_total_dec) OVER (PARTITION BY o_custkey ORDER BY day_num
                                     RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS trailing_7d
FROM daily
ORDER BY o_custkey, order_date
""".strip()


def salted_type_stats(events: DataFrame, n_salts: int = 16) -> DataFrame:
    """Two-stage salted aggregation: pre-aggregate on (key, salt) so a
    pathologically hot key spreads over n_salts reducers, then combine
    the partials. Output is identical to the direct groupBy (the oracle
    is the plain GROUP BY); at 100 TB this is the manual fallback when
    AQE skew-join splitting can't help an aggregation."""
    salted = events.withColumn("salt", F.pmod(F.col("event_id"), F.lit(n_salts)))
    partial = salted.groupBy("event_type", "salt").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("value").cast(DEC)).alias("val_dec"),
    )
    return (
        partial.groupBy("event_type")
        .agg(
            F.sum("cnt").alias("n_events"),
            F.round(F.sum("val_dec").cast("double"), 2).alias("total_value"),
        )
        .orderBy("event_type")
    )


SALTED_TYPE_STATS_SQL = """
SELECT event_type, COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type
""".strip()


# --- exact distributed NTILE ------------------------------------------------


def exact_ntile(
    df: DataFrame, n_buckets: int, sort_cols, out_name: str, n_parts: int | None = None
) -> DataFrame:
    """NTILE(k) over a TOTAL order (tie-free sort key) without a global
    single-partition window — the scale-safe replacement for
    ``ntile(k).over(Window.orderBy(...))`` (VERDICT r1 #4).

    Shape: range-repartition on the sort key (rows in partition p all
    precede partition p+1), per-partition ``row_number`` under a
    PARTITIONED window, then global rank = local rank + partition
    offset. The offsets are a bounded driver collect — one count per
    range partition (≤ n_parts rows, independent of data size; same
    boundedness argument as broadcast k-means centroids) — broadcast
    back as a join. The NTILE bucket is then the closed-form position
    function of (rank, n, k), so the output is bit-identical to the
    window form the oracle runs.

    The range exchange is ``localCheckpoint``-ed (eager) because its
    partitioner SAMPLES the key distribution: the offset-count job and
    the final query must see the SAME boundaries. A plain persist is
    wrong on both failure modes (ADVICE r2): an evicted-then-recomputed
    partition may resample different boundaries than the collected
    offsets were built from (silent mis-bucketing), and the cache
    manager pins the entry by logical plan so repeated registry runs
    accumulate cached frames. Checkpointing truncates lineage — the
    materialized blocks ARE the data, recompute cannot resample — and
    the blocks are released by the ContextCleaner when the returned
    frame goes out of scope. (On a multi-executor cluster, executor
    loss fails the job instead of silently recomputing — the correct
    trade for an exact-rank operator; use a reliable checkpoint dir if
    that job-level retry is unacceptable.)

    ``n_parts`` defaults to the session's ``spark.sql.shuffle.partitions``
    so the range exchange scales with the deployment (a hardcoded 32
    serializes a 1000-executor cluster); the offset collect stays
    bounded at one count per partition."""
    ranked, total = exact_row_number(df, sort_cols, "_rank", n_parts)
    rank = F.col("_rank")
    q, rem = divmod(total, n_buckets)
    if q == 0:  # fewer rows than buckets: NTILE gives each row its own
        bucket = rank
    else:
        big = rem * (q + 1)
        bucket = F.when(rank <= big, F.ceil(rank / (q + 1))).otherwise(
            rem + F.ceil((rank - big) / q)
        )
    return ranked.withColumn(out_name, bucket.cast("int")).drop("_rank")


# Size governor for the NTILE form: up to this many input rows a
# single-partition window is both correct and CHEAPER than
# exact_ntile's two-phase rank (range exchange + eager
# checkpoint + offset collect ≈ 3 extra jobs — measured 1.65 → 4.3 s on
# events_zorder_extents at sf0.1 when exact_ntile ran unconditionally);
# beyond it the distributed rank is the only shape that scales. Both
# forms are bit-identical on a tie-free sort key, so the switch cannot
# change any output — the same size-adaptive device as _knn_graph's
# NSW_EXACT_BOUND and the SRP band tiers.
NTILE_WINDOW_BOUND = 1 << 22


def ntile_governed(
    df: DataFrame, n_buckets: int, sort_cols, out_name: str, n_rows: int
) -> DataFrame:
    """NTILE(k) over a total order with the size governor above.
    ``n_rows`` is a row-count UPPER BOUND for ``df``: callers pass
    ``session.source_rows`` of their raw source (Parquet footers, no
    job), never a count of the derived frame, so sizing never executes
    a pipeline. The sub-bound regime IS the `WindowExec: No Partition
    Defined` warning the gate logs for these call sites — bounded by
    construction here."""
    if n_rows <= NTILE_WINDOW_BOUND:
        w = Window.orderBy(*sort_cols)
        return df.withColumn(out_name, F.ntile(n_buckets).over(w))
    return exact_ntile(df, n_buckets, sort_cols, out_name)


def exact_row_number(
    df: DataFrame, sort_cols, out_name: str = "_rank", n_parts: int | None = None
) -> tuple[DataFrame, int]:
    """Global 1-based ``row_number`` over a TOTAL order (tie-free sort
    key) without a single-partition window — the two-phase rank that
    ``exact_ntile`` buckets and the Lorenz/Gini panel weight by. Range
    exchange → per-partition PARTITIONED-window row_number → add the
    partition's broadcast row-count offset. Returns ``(frame, total)``;
    the offset collect is ≤ n_parts rows (deployment-bounded, not
    data-bounded). See ``exact_ntile`` for why the exchange must be
    ``localCheckpoint``-ed, not persisted."""
    if n_parts is None:
        n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    ranked = (
        df.repartitionByRange(n_parts, *sort_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    pid_counts = sorted(
        (r["_pid"], r["cnt"])
        for r in ranked.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    )
    total = sum(c for _, c in pid_counts)
    offsets, acc = [], 0
    for p, c in pid_counts:
        offsets.append((p, acc))
        acc += c
    off_df = F.broadcast(
        df.sparkSession.createDataFrame(
            offsets or [(0, 0)], schema="_pid int, _off bigint"
        )
    )
    w = Window.partitionBy("_pid").orderBy(*sort_cols)
    return (
        ranked.join(off_df, "_pid")
        .withColumn(out_name, F.row_number().over(w) + F.col("_off"))
        .drop("_pid", "_off"),
        total,
    )


# --- customer lifetime-value deciles (NTILE) --------------------------------


def customer_ltv_deciles(orders: DataFrame) -> DataFrame:
    """Per-customer total spend bucketed into exact deciles, with
    per-decile customer counts and spend stats. Money sums in
    DECIMAL(18,2) (FP sum order varies across engines); the decile
    ordering is (ltv, custkey) so ties break deterministically. Deciles
    come from ``exact_ntile`` (range-partitioned distributed rank), not
    a global window — bit-identical to the oracle's NTILE(10)."""
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("ltv")
    )
    return (
        exact_ntile(spend, 10, [F.col("ltv"), F.col("o_custkey")], "decile")
        .groupBy("decile")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.round(F.min("ltv").cast("double"), 2).alias("min_ltv"),
            F.round(F.max("ltv").cast("double"), 2).alias("max_ltv"),
            F.round(F.sum("ltv").cast("double"), 2).alias("total_ltv"),
        )
        .orderBy("decile")
    )


CUSTOMER_LTV_DECILES_SQL = """
WITH spend AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS ltv
  FROM orders GROUP BY o_custkey
),
bucketed AS (
  SELECT o_custkey, ltv, NTILE(10) OVER (ORDER BY ltv, o_custkey) AS decile
  FROM spend
)
SELECT decile,
       COUNT(*) AS n_customers,
       ROUND(CAST(MIN(ltv) AS DOUBLE), 2) AS min_ltv,
       ROUND(CAST(MAX(ltv) AS DOUBLE), 2) AS max_ltv,
       ROUND(CAST(SUM(ltv) AS DOUBLE), 2) AS total_ltv
FROM bucketed
GROUP BY decile
ORDER BY decile
""".strip()


# --- fixed-width value histogram --------------------------------------------

HIST_BIN_WIDTH = 50.0


def value_histogram(events: DataFrame) -> DataFrame:
    """Fixed-width histogram of event values: one map-side floor()
    projection + a tiny groupBy — the distributed histogram pattern
    (never a sort, never a collect; bin count is data-independent)."""
    bin_no = F.floor(F.col("value") / HIST_BIN_WIDTH).cast("int")
    return (
        events.select(bin_no.alias("bin"), "value")
        .groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias(
                "total_value"
            ),
        )
        .select(
            "bin",
            (F.col("bin") * HIST_BIN_WIDTH).alias("bin_start"),
            "n_events",
            "total_value",
        )
        .orderBy("bin")
    )


VALUE_HISTOGRAM_SQL = f"""
SELECT CAST(FLOOR(value / {HIST_BIN_WIDTH}) AS INT) AS bin,
       CAST(FLOOR(value / {HIST_BIN_WIDTH}) AS INT) * {HIST_BIN_WIDTH} AS bin_start,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
FROM events
GROUP BY bin
ORDER BY bin
""".strip()


# --- distribution-rank windows (percent_rank / cume_dist) -------------------


def order_price_ranks(orders: DataFrame) -> DataFrame:
    """Each order's price position within its priority class:
    percent_rank and cume_dist windows — the distribution-rank family
    the other window ops (row_number/ntile/lag/range) don't touch.
    One shuffle on o_orderpriority; per-class local sort."""
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        orders.select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.round(F.percent_rank().over(w), 6).alias("price_percent_rank"),
            F.round(F.cume_dist().over(w), 6).alias("price_cume_dist"),
        )
        .filter(F.col("o_orderkey") % 100 == 0)  # stable subsample keeps output bounded
        .orderBy("o_orderkey")
    )


ORDER_PRICE_RANKS_SQL = """
SELECT o_orderkey, o_orderpriority, o_totalprice,
       ROUND(percent_rank() OVER w, 6) AS price_percent_rank,
       ROUND(cume_dist() OVER w, 6) AS price_cume_dist
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
QUALIFY o_orderkey % 100 = 0
ORDER BY o_orderkey
""".strip()


# --- z-score anomaly detection ----------------------------------------------

ZSCORE_THRESHOLD = 3.0


def value_anomalies(events: DataFrame) -> DataFrame:
    """Events whose value is a >3-sigma outlier within their event
    type. Moments are accumulated as DECIMAL sums (sum, sum of squares)
    so mean/variance are exact and identical in any engine — built-in
    stddev aggregates vary in summation order and can flip a rounded
    z-score at the last decimal. One shuffle on event_type for the tiny
    moment table, broadcast back over the scan."""
    dec = "decimal(28,6)"
    moments = events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast(dec)).alias("s1"),
        F.sum((F.col("value").cast(dec) * F.col("value").cast(dec))).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n")
    ) / (F.col("n") - 1)
    stats = moments.select(
        "event_type", mean.alias("mean_v"), F.sqrt(var).alias("std_v")
    )
    z = (F.col("value") - F.col("mean_v")) / F.col("std_v")
    return (
        events.join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(z, 6).alias("zscore"),
        )
        .filter(F.abs(F.round(z, 6)) > ZSCORE_THRESHOLD)
        .orderBy("event_id")
    )


VALUE_ANOMALIES_SQL = f"""
WITH moments AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(28,6))) AS s1,
         SUM(CAST(value AS DECIMAL(28,6)) * CAST(value AS DECIMAL(28,6))) AS s2
  FROM events GROUP BY event_type
),
stats AS (
  SELECT event_type,
         CAST(s1 AS DOUBLE) / n AS mean_v,
         sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
              / (n - 1)) AS std_v
  FROM moments
)
SELECT e.event_id, e.event_type, e.value,
       ROUND((e.value - s.mean_v) / s.std_v, 6) AS zscore
FROM events e JOIN stats s ON e.event_type = s.event_type
WHERE ABS(ROUND((e.value - s.mean_v) / s.std_v, 6)) > {ZSCORE_THRESHOLD}
ORDER BY e.event_id
""".strip()


# --- RFM customer segmentation ----------------------------------------------


def customer_rfm(orders: DataFrame, n_parts: int | None = None) -> DataFrame:
    """RFM segmentation: per-customer recency (days before the corpus's
    last order date), frequency, and DECIMAL monetary total, each coded
    into quartiles (1 = weakest, 4 = strongest) plus the combined
    segment string. Reference date = MAX(o_orderdate) so the query is
    deterministic (never wall-clock).

    ONE-PASS quartile coding (VERDICT r2 #7 — was three separate
    ``exact_ntile`` pipelines): the per-customer frame is
    localCheckpoint-ed once, the three metrics are unioned into a long
    (metric, skey, o_custkey) frame — each metric's sort direction
    folded into a double sort key, order-preserving because recency/
    frequency are < 2^53 ints and monetary is already a 2-dp double —
    and a SINGLE range exchange on (metric, skey, o_custkey) ranks all
    three codings together. Per-(partition, metric) counts are one
    bounded collect (≤ rows-per-range-partition map entries, data-size
    independent); global rank = partitioned row_number + offset; the
    NTILE(4) bucket is the closed-form position function, bit-identical
    to the oracle's three NTILE windows. A conditional-max rollup
    pivots (o_custkey, metric, bucket) back to wide. vs the three-pass
    shape: one range exchange of 3n reduced rows instead of three of n,
    one job instead of three, and the orders aggregation runs once."""
    # reference date = one-row scalar aggregate broadcast back on a
    # dummy equality key: a hash join, never a global window over the
    # (unbounded) customer grain
    ref = orders.agg(F.max("o_orderdate").alias("ref_date")).withColumn(
        "_k", F.lit(1)
    )
    per_cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").cast("bigint").alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
    )
    rfm = per_cust.withColumn("_k", F.lit(1)).join(F.broadcast(ref), "_k").select(
        "o_custkey",
        F.datediff("ref_date", "last_order").alias("recency_days"),
        "frequency",
        F.round(F.col("monetary").cast("double"), 2).alias("monetary"),
    )
    # ONE scan of the per-customer frame: explode each row into its
    # three (metric, skey) legs. The sort key doubles as the value
    # carrier, so the wide row is rebuilt from the ranked frame itself
    # — no second pass over rfm, no join back. Low recency is GOOD:
    # negate (as int, so no -0.0) so ascending skey = descending
    # recency.
    long = rfm.select(
        "o_custkey",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("metric"),
                    (-F.col("recency_days")).cast("double").alias("skey"),
                ),
                F.struct(
                    F.lit(1).alias("metric"),
                    F.col("frequency").cast("double").alias("skey"),
                ),
                F.struct(
                    F.lit(2).alias("metric"), F.col("monetary").alias("skey")
                ),
            )
        ).alias("ms"),
    ).select("o_custkey", F.col("ms.metric").alias("metric"), F.col("ms.skey").alias("skey"))
    # Size the range exchange from Catalyst's own estimate: one range
    # per ~64 MB of long rows, clamped to [1, shuffle.partitions]. At
    # sf0.1 that is ONE partition (45k tiny rows) — a fixed 32 paid
    # ~0.5 s in boundary sampling + task overhead for nothing (VERDICT
    # r3 #6) — while at cluster scale the estimate grows with the
    # customer grain and the clamp restores full parallelism. Offset
    # arithmetic below is partition-count-agnostic (range order across
    # _pid is all it needs).
    if n_parts is None:
        sp = int(orders.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
        try:
            est = int(
                str(long._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
            )
            n_parts = max(1, min(sp, (est + (64 << 20) - 1) // (64 << 20)))
        except Exception:  # non-py4j session (connect): keep prior default
            n_parts = sp
    ranked = (
        long.repartitionByRange(n_parts, "metric", "skey", "o_custkey")
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()  # pin sampled range boundaries (see exact_ntile)
    )
    pm_counts = ranked.groupBy("_pid", "metric").agg(
        F.count("*").alias("cnt")
    ).collect()
    total = sum(r["cnt"] for r in pm_counts) // 3
    offsets, acc = [], {0: 0, 1: 0, 2: 0}
    for r in sorted(pm_counts, key=lambda r: (r["metric"], r["_pid"])):
        offsets.append((r["_pid"], r["metric"], acc[r["metric"]]))
        acc[r["metric"]] += r["cnt"]
    off_df = F.broadcast(
        orders.sparkSession.createDataFrame(
            offsets or [(0, 0, 0)], schema="_pid int, metric int, _off bigint"
        )
    )
    w = Window.partitionBy("_pid", "metric").orderBy("skey", "o_custkey")
    rank = F.row_number().over(w) + F.col("_off")
    q, rem = divmod(total, 4)
    if q == 0:
        bucket = rank
    else:
        big = rem * (q + 1)
        bucket = F.when(rank <= big, F.ceil(rank / (q + 1))).otherwise(
            rem + F.ceil((rank - big) / q)
        )

    def _pick(mid, col):
        return F.max(F.when(F.col("metric") == mid, col))

    return (
        ranked.join(off_df, ["_pid", "metric"])
        .select("o_custkey", "metric", "skey", bucket.cast("int").alias("bucket"))
        .groupBy("o_custkey")
        .agg(
            _pick(0, (-F.col("skey")).cast("int")).alias("recency_days"),
            _pick(1, F.col("skey").cast("bigint")).alias("frequency"),
            _pick(2, F.col("skey")).alias("monetary"),
            _pick(0, F.col("bucket")).alias("r_quartile"),
            _pick(1, F.col("bucket")).alias("f_quartile"),
            _pick(2, F.col("bucket")).alias("m_quartile"),
        )
        .withColumn(
            "segment",
            F.concat_ws(
                "", F.col("r_quartile"), F.col("f_quartile"), F.col("m_quartile")
            ),
        )
        .orderBy("o_custkey")
    )


CUSTOMER_RFM_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         MAX(o_orderdate) AS last_order,
         COUNT(*) AS frequency,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
  FROM orders GROUP BY o_custkey
),
rfm AS (
  SELECT o_custkey,
         CAST(date_diff('day', last_order, (SELECT MAX(o_orderdate) FROM orders))
              AS INT) AS recency_days,
         frequency,
         ROUND(CAST(monetary AS DOUBLE), 2) AS monetary
  FROM per_cust
),
coded AS (
  SELECT o_custkey, recency_days, frequency, monetary,
         NTILE(4) OVER (ORDER BY recency_days DESC, o_custkey) AS r_quartile,
         NTILE(4) OVER (ORDER BY frequency ASC, o_custkey) AS f_quartile,
         NTILE(4) OVER (ORDER BY monetary ASC, o_custkey) AS m_quartile
  FROM rfm
)
SELECT o_custkey, recency_days, frequency, monetary,
       r_quartile, f_quartile, m_quartile,
       CAST(r_quartile AS VARCHAR) || CAST(f_quartile AS VARCHAR)
         || CAST(m_quartile AS VARCHAR) AS segment
FROM coded
ORDER BY o_custkey
""".strip()


# --- hierarchical geo rollup ------------------------------------------------


def revenue_geo_rollup(lineitem: DataFrame, supplier: DataFrame, nation: DataFrame,
                       region: DataFrame) -> DataFrame:
    """Supplier revenue rolled up the region > nation hierarchy
    (GROUP BY ROLLUP over a joined star): per-nation rows, per-region
    subtotals, and the grand total, with grouping flags. The dims
    broadcast; the single big-side shuffle is the rollup aggregation,
    which Spark expands map-side (one pass, not one scan per level).
    Each revenue factor casts to DECIMAL before the multiply (the
    module-wide money convention) so every level sums identically in
    any engine."""
    rev = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)
    )
    joined = (
        lineitem.join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.select(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            rev.alias("rev"),
        )
        .rollup("region", "nation")
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            F.round(F.sum("rev").cast("double"), 2).alias("revenue"),
            F.grouping("region").alias("g_region"),
            F.grouping("nation").alias("g_nation"),
        )
        .orderBy("g_region", "g_nation", "region", "nation")
    )


REVENUE_GEO_ROLLUP_SQL = """
SELECT r.r_name AS region, n.n_name AS nation,
       COUNT(*) AS n_items,
       ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2)
         AS revenue,
       CAST(GROUPING(r.r_name) AS INT) AS g_region,
       CAST(GROUPING(n.n_name) AS INT) AS g_nation
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP(r.r_name, n.n_name)
ORDER BY g_region, g_nation, region, nation
""".strip()


# --- exact heavy hitters via mergeable Misra-Gries + verify ----------------

HH_SUPPORT = 0.008


def heavy_hitters(events: DataFrame, support: float = HH_SUPPORT) -> DataFrame:
    """EXACT frequent items (users with ≥ support fraction of all
    events) computed the way a 100 TB pipeline must: a per-partition
    Misra-Gries summary with k = ⌈1/support⌉ counters (one Arrow pass,
    O(k) state per partition) yields a CANDIDATE set that provably
    contains every global heavy hitter — if a user's global count
    exceeds n/k, its count exceeds n_p/k in at least one partition —
    then a second pass counts ONLY the candidates exactly (broadcast
    semi-join + keyed aggregation) and filters by the true threshold.
    Sketch recall is guaranteed, the verify step removes false
    positives, so the composite is exact and the plain GROUP BY /
    HAVING oracle hash-matches. Never a global sort, never a full
    distinct aggregation wider than the candidate set.

    MG merge is the summary-mergeable form: add batch counts, and when
    more than k counters survive, subtract the (k+1)-th largest count
    from all and drop non-positives (vectorized per Arrow batch)."""
    import math

    import numpy as np
    import pandas as pd

    k = int(math.ceil(1.0 / support))

    def _mg(batches):
        counts: "pd.Series | None" = None
        for pdf in batches:
            batch = pdf["user_id"].value_counts()
            counts = batch if counts is None else counts.add(batch, fill_value=0)
            if len(counts) > k:
                s = np.partition(counts.to_numpy(), -(k + 1))[-(k + 1)]
                counts = counts - s
                counts = counts[counts > 0]
        if counts is not None and len(counts):
            yield pd.DataFrame({"user_id": counts.index.to_numpy(dtype=np.int64)})

    candidates = (
        events.select("user_id")
        .mapInPandas(_mg, schema="user_id bigint")
        .distinct()
    )
    total = events.agg(F.count("*").alias("n_total")).withColumn("_k", F.lit(1))
    return (
        events.join(F.broadcast(candidates), "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .withColumn("_k", F.lit(1))
        .join(F.broadcast(total), "_k")
        .filter(F.col("n_events") >= F.lit(support) * F.col("n_total"))
        .select(
            "user_id",
            "n_events",
            F.round(F.col("n_events") / F.col("n_total").cast("double"), 6).alias(
                "share"
            ),
        )
        .orderBy("user_id")
    )


HEAVY_HITTERS_SQL = f"""
WITH tot AS (SELECT COUNT(*) AS n_total FROM events)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(COUNT(*) / CAST(tot.n_total AS DOUBLE), 6) AS share
FROM events, tot
GROUP BY user_id, tot.n_total
HAVING COUNT(*) >= {HH_SUPPORT} * tot.n_total
ORDER BY user_id
""".strip()


# --- sequential conversion funnel -------------------------------------------

FUNNEL_STEPS = ("view", "click", "purchase")


def user_funnel(events: DataFrame) -> DataFrame:
    """Sequential conversion funnel view → click → purchase: a user
    reaches step N only with an event strictly AFTER their step-N−1
    time (first-touch semantics, so 'click before any view' does not
    convert). Output: one row per step with reached-user counts and
    conversion rates from the previous step and from the top.

    Scale: three chained whole-partition window aggregations over ONE
    hash exchange on user_id (same partitioning → Catalyst reuses the
    exchange; no orderBy → no sort), then a per-user dedup aggregation
    and a scalar rollup. Events per user bound the window frame; the
    funnel math never leaves the executors until the 3-row result."""
    w = Window.partitionBy("user_id")
    df = events.withColumn(
        "_t1",
        F.min(F.when(F.col("event_type") == FUNNEL_STEPS[0], F.col("ts"))).over(w),
    )
    df = df.withColumn(
        "_t2",
        F.min(
            F.when(
                (F.col("event_type") == FUNNEL_STEPS[1])
                & (F.col("ts") > F.col("_t1")),
                F.col("ts"),
            )
        ).over(w),
    )
    df = df.withColumn(
        "_t3",
        F.min(
            F.when(
                (F.col("event_type") == FUNNEL_STEPS[2])
                & (F.col("ts") > F.col("_t2")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = df.groupBy("user_id").agg(
        F.max("_t1").alias("t1"), F.max("_t2").alias("t2"), F.max("_t3").alias("t3")
    )
    counts = per_user.agg(
        F.count("t1").cast("bigint").alias("u1"),
        F.count("t2").cast("bigint").alias("u2"),
        F.count("t3").cast("bigint").alias("u3"),
    )

    def _rate(num, den):
        return F.when(
            den > 0, F.round(num.cast("double") / den.cast("double"), 6)
        ).cast("double")

    rows = counts.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).cast("bigint").alias("step"),
                    F.lit(FUNNEL_STEPS[0]).alias("event_type"),
                    F.col("u1").alias("users"),
                    F.lit(None).cast("double").alias("conv_from_prev"),
                    _rate(F.col("u1"), F.col("u1")).alias("conv_from_start"),
                ),
                F.struct(
                    F.lit(2).cast("bigint").alias("step"),
                    F.lit(FUNNEL_STEPS[1]).alias("event_type"),
                    F.col("u2").alias("users"),
                    _rate(F.col("u2"), F.col("u1")).alias("conv_from_prev"),
                    _rate(F.col("u2"), F.col("u1")).alias("conv_from_start"),
                ),
                F.struct(
                    F.lit(3).cast("bigint").alias("step"),
                    F.lit(FUNNEL_STEPS[2]).alias("event_type"),
                    F.col("u3").alias("users"),
                    _rate(F.col("u3"), F.col("u2")).alias("conv_from_prev"),
                    _rate(F.col("u3"), F.col("u1")).alias("conv_from_start"),
                ),
            )
        ).alias("s")
    ).select("s.step", "s.event_type", "s.users", "s.conv_from_prev", "s.conv_from_start")
    return rows.orderBy("step")


USER_FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
  FROM events GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, ANY_VALUE(s1.t1) AS t1,
         MIN(CASE WHEN e.event_type = 'click' AND e.ts > s1.t1 THEN e.ts END) AS t2
  FROM events e JOIN s1 ON s1.user_id = e.user_id
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, ANY_VALUE(s2.t1) AS t1, ANY_VALUE(s2.t2) AS t2,
         MIN(CASE WHEN e.event_type = 'purchase' AND e.ts > s2.t2 THEN e.ts END) AS t3
  FROM events e JOIN s2 ON s2.user_id = e.user_id
  GROUP BY e.user_id
),
c AS (
  SELECT CAST(COUNT(t1) AS BIGINT) AS u1,
         CAST(COUNT(t2) AS BIGINT) AS u2,
         CAST(COUNT(t3) AS BIGINT) AS u3
  FROM s3
)
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type, u1 AS users,
         CAST(NULL AS DOUBLE) AS conv_from_prev,
         ROUND(CAST(u1 AS DOUBLE) / NULLIF(u1, 0), 6) AS conv_from_start
  FROM c
  UNION ALL
  SELECT CAST(2 AS BIGINT), 'click', u2,
         ROUND(CAST(u2 AS DOUBLE) / NULLIF(u1, 0), 6),
         ROUND(CAST(u2 AS DOUBLE) / NULLIF(u1, 0), 6)
  FROM c
  UNION ALL
  SELECT CAST(3 AS BIGINT), 'purchase', u3,
         ROUND(CAST(u3 AS DOUBLE) / NULLIF(u2, 0), 6),
         ROUND(CAST(u3 AS DOUBLE) / NULLIF(u1, 0), 6)
  FROM c
)
ORDER BY step
""".strip()


CMS_DEPTH = 4
CMS_WIDTH = 256
CMS_TOP_USERS = 20


def cms_user_freq(events: DataFrame) -> DataFrame:
    """Count-min sketch frequency estimation: a CMS_DEPTH × CMS_WIDTH
    sketch of per-user event counts, read back for the CMS_TOP_USERS
    most active users next to their exact counts. The hash family is
    the repo's md5-prefix (48-bit, seed-salted) so sketch contents are
    bit-identical in ANSI SQL — the estimate column is oracle-checked,
    not just the exact one, and ``cms_overestimate >= 0`` is a
    structural invariant the oracle enforces for free.

    Scale: the sketch is ONE hash aggregation to depth×width = 1024
    cells (map-side partials collapse each split; the sketch never
    grows with data). Reading it back broadcasts those 1024 rows to
    the per-user side. The exact top-k is agg + TakeOrdered. At
    100 TB the sketch aggregation is the only full-data pass, and it
    reduces to a fixed-size table — the whole point of the sketch."""
    seeds = F.explode(
        F.array(*[F.lit(s) for s in range(CMS_DEPTH)])
    ).alias("seed")
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("seed"), F.col("user_id"))), 1, 12
            ),
            16,
            10,
        ).cast("bigint"),
        F.lit(CMS_WIDTH),
    ).alias("bucket")
    cells = (
        events.select("user_id", seeds)
        .select("seed", bucket)
        .groupBy("seed", "bucket")
        .agg(F.count("*").cast("bigint").alias("cell_count"))
    )
    top = (
        events.groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("user_id"))
        .limit(CMS_TOP_USERS)
    )
    probes = top.select("user_id", "exact_count", seeds).select(
        "user_id", "exact_count", "seed", bucket
    )
    est = (
        probes.join(F.broadcast(cells), ["seed", "bucket"])
        .groupBy("user_id")
        .agg(
            F.max("exact_count").alias("exact_count"),
            F.min("cell_count").cast("bigint").alias("cms_estimate"),
        )
        .withColumn(
            "cms_overestimate",
            (F.col("cms_estimate") - F.col("exact_count")).cast("bigint"),
        )
    )
    return est.orderBy(F.desc("exact_count"), F.asc("user_id"))


CMS_USER_FREQ_SQL = f"""
WITH cells AS (
  SELECT seed,
         CAST('0x' || substring(md5(concat(seed, ':', user_id)), 1, 12)
              AS BIGINT) % {CMS_WIDTH} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cell_count
  FROM events, (SELECT unnest(range(0, {CMS_DEPTH})) AS seed)
  GROUP BY 1, 2
),
top_users AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_count
  FROM events GROUP BY user_id
  ORDER BY exact_count DESC, user_id ASC
  LIMIT {CMS_TOP_USERS}
),
probes AS (
  SELECT t.user_id, t.exact_count, s.seed,
         CAST('0x' || substring(md5(concat(s.seed, ':', t.user_id)), 1, 12)
              AS BIGINT) % {CMS_WIDTH} AS bucket
  FROM top_users t, (SELECT unnest(range(0, {CMS_DEPTH})) AS seed) s
)
SELECT p.user_id,
       MAX(p.exact_count) AS exact_count,
       CAST(MIN(c.cell_count) AS BIGINT) AS cms_estimate,
       CAST(MIN(c.cell_count) - MAX(p.exact_count) AS BIGINT) AS cms_overestimate
FROM probes p
JOIN cells c ON c.seed = p.seed AND c.bucket = p.bucket
GROUP BY p.user_id
ORDER BY exact_count DESC, user_id ASC
""".strip()


PCTL_QS = [0.25, 0.5, 0.75, 0.9, 0.99]


def price_percentiles(orders: DataFrame) -> DataFrame:
    """Exact interpolated percentiles of order value per order
    priority, in long (priority, quantile, value) form. Exact — not
    ``approx_percentile`` — so the oracle can hash-match it
    (``quantile_cont`` uses the same linear interpolation).

    Scale: ``percentile`` is a full-sort-per-group aggregate; with
    5 priorities the group cardinality is tiny but each group's values
    concentrate on few reducers. That is inherent to EXACT percentiles
    (they need the whole group); the approximate path at 100 TB is
    ``approx_percentile`` (tested in events_quantiles). Pairing both
    keeps exact-but-heavy and approximate-but-mergeable on the menu."""
    qs = F.array(*[F.lit(q) for q in PCTL_QS])
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.percentile(F.col("o_totalprice").cast("double"), qs).alias("vals"),
            F.count("*").cast("bigint").alias("n_orders"),
        )
        .select(
            "o_orderpriority",
            "n_orders",
            F.posexplode("vals").alias("q_idx", "value"),
        )
        .select(
            "o_orderpriority",
            "n_orders",
            F.col("q_idx").cast("bigint").alias("q_idx"),
            F.round(F.col("value"), 4).alias("value"),
        )
        .orderBy("o_orderpriority", "q_idx")
    )


PRICE_PERCENTILES_SQL = f"""
WITH g AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         quantile_cont(CAST(o_totalprice AS DOUBLE),
                       {PCTL_QS!r}) AS vals
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority, n_orders,
       CAST(i.q_idx AS BIGINT) AS q_idx,
       ROUND(CAST(g.vals[i.q_idx + 1] AS DOUBLE), 4) AS value
FROM g, (SELECT unnest(range(0, {len(PCTL_QS)})) AS q_idx) i
ORDER BY o_orderpriority, q_idx
""".strip()


BASKET_TOP = 50


def market_basket_pairs(lineitem: DataFrame, top: int = BASKET_TOP) -> DataFrame:
    """Co-purchase analysis: part pairs appearing in the same order,
    with support (co-occurring orders) and lift (co-occurrence over the
    independence expectation; > 1 means the parts travel together) —
    the association-rule primitive over the order→parts basket.

    Scale: pair generation is a self-join CO-PARTITIONED on l_orderkey,
    so fan-out is bounded by (items-per-order)² within each key group —
    the natural basket bound, not corpus-quadratic (same per-key-bound
    argument as the dedup inverted index; a pathological mega-basket is
    the skew to cap upstream). Marginals are one hash aggregation whose
    output is |parts| rows, broadcast back onto the pair table. Lift is
    exact rational arithmetic until one final double division. Top cut
    deterministic by (support desc, part ids)."""
    items = (
        lineitem.select("l_orderkey", "l_partkey")
        .dropDuplicates(["l_orderkey", "l_partkey"])
        .repartition("l_orderkey")
    )
    # basket count as a 1-row broadcast scalar INSIDE the plan (the
    # earlier eager .count() ran an extra full-scan job at build time)
    n_orders_df = items.agg(
        F.countDistinct("l_orderkey").cast("double").alias("n_orders")
    ).withColumn("_k", F.lit(1))
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").cast("bigint").alias("pair_orders"))
    )
    marg = items.groupBy("l_partkey").agg(
        F.count("*").cast("bigint").alias("part_orders")
    )
    ma = marg.select(
        F.col("l_partkey").alias("part_a"), F.col("part_orders").alias("orders_a")
    )
    mb = marg.select(
        F.col("l_partkey").alias("part_b"), F.col("part_orders").alias("orders_b")
    )
    lift = F.round(
        F.col("pair_orders").cast("double")
        * F.col("n_orders")
        / (F.col("orders_a").cast("double") * F.col("orders_b").cast("double")),
        6,
    )
    return (
        pairs.join(F.broadcast(ma), "part_a")
        .join(F.broadcast(mb), "part_b")
        .withColumn("_k", F.lit(1))
        .join(F.broadcast(n_orders_df), "_k")
        .select(
            "part_a", "part_b", "pair_orders", "orders_a", "orders_b",
            lift.alias("lift"),
        )
        .orderBy(F.desc("pair_orders"), "part_a", "part_b")
        .limit(top)
    )


MARKET_BASKET_SQL = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(COUNT(*) AS BIGINT) AS pair_orders
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
marg AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS part_orders
  FROM items GROUP BY l_partkey
)
SELECT part_a, part_b, pair_orders,
       ma.part_orders AS orders_a, mb.part_orders AS orders_b,
       ROUND(CAST(pair_orders AS DOUBLE) * n.n_orders
             / (CAST(ma.part_orders AS DOUBLE) * mb.part_orders), 6) AS lift
FROM pairs
JOIN marg ma ON ma.l_partkey = part_a
JOIN marg mb ON mb.l_partkey = part_b
CROSS JOIN n
ORDER BY pair_orders DESC, part_a, part_b
LIMIT {BASKET_TOP}
""".strip()


def hll_rollup(events: DataFrame) -> DataFrame:
    """Re-aggregatable distinct counting: per-(type, day) HyperLogLog
    sketches of the user set, MERGED upward to per-type and corpus
    levels via ``hll_union_agg`` — the pre-aggregation pattern that
    makes distinct-count rollups O(sketch) instead of O(users) at read
    time (a hypertable continuous aggregate stores exactly these
    sketches). Each level reports the sketch estimate next to the exact
    distinct count so the error is visible in the result.

    Rows-only by construction (sketch estimates are engine-specific);
    pytest pins the load-bearing property instead: the union of the
    daily sketches estimates EXACTLY what one direct sketch over the
    same rows estimates (sketch-merge losslessness), and the relative
    error stays inside HLL's nominal bound.

    Scale: one hash aggregation to (type, day) sketches — map-side
    partial sketch merges collapse each split — then the rollups touch
    only sketch bytes (levels × types rows), never the raw users
    again. The exact twins re-scan per level here for the honesty
    column; a production rollup drops them."""
    day = F.date_format("ts", "yyyy-MM-dd")
    daily = events.groupBy(
        F.col("event_type"), day.alias("event_date")
    ).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").cast("bigint").alias("n_exact"),
    )
    daily_out = daily.select(
        F.lit("type_day").alias("level"),
        "event_type",
        "event_date",
        "n_exact",
        F.hll_sketch_estimate("sk").cast("bigint").alias("n_hll"),
    )
    by_type_sk = daily.groupBy("event_type").agg(
        F.hll_union_agg("sk").alias("sk")
    )
    by_type_exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact")
    )
    type_out = by_type_sk.join(by_type_exact, "event_type").select(
        F.lit("type").alias("level"),
        "event_type",
        F.lit(None).cast("string").alias("event_date"),
        "n_exact",
        F.hll_sketch_estimate("sk").cast("bigint").alias("n_hll"),
    )
    global_out = (
        daily.groupBy()
        .agg(F.hll_union_agg("sk").alias("sk"))
        .crossJoin(
            F.broadcast(
                events.agg(
                    F.countDistinct("user_id").cast("bigint").alias("n_exact")
                )
            )
        )
        .select(
            F.lit("all").alias("level"),
            F.lit(None).cast("string").alias("event_type"),
            F.lit(None).cast("string").alias("event_date"),
            "n_exact",
            F.hll_sketch_estimate("sk").cast("bigint").alias("n_hll"),
        )
    )
    return (
        daily_out.unionByName(type_out)
        .unionByName(global_out)
        .withColumn(
            "rel_error",
            F.round(
                F.abs(F.col("n_hll") - F.col("n_exact")).cast("double")
                / F.col("n_exact"),
                6,
            ),
        )
        .orderBy("level", "event_type", "event_date")
    )


MAD_K = 3.5
MAD_SCALE = 1.4826  # Φ⁻¹-consistent scale so MAD ≈ σ on normal data


def value_anomalies_mad(events: DataFrame) -> DataFrame:
    """Robust outliers per event type via the modified z-score
    |x − median| / (1.4826·MAD) > 3.5 — the standard companion to the
    3-sigma detector (``value_anomalies``): a burst of extreme values
    drags mean/σ and hides itself, while median/MAD have a 50%
    breakdown point and keep flagging.

    Exactness: the per-type median and MAD are EXACT interpolated
    percentiles (``percentile``/``quantile_cont``, same interpolation
    both engines), so the rounded robust z-score hash-matches. Scale:
    two grouped exact-percentile aggregations (the second over the
    absolute deviations — needs the median joined back first) and one
    broadcast join over the scan; exact medians are the honest cost
    here, the mergeable approximation is ``approx_percentile`` (see
    orders_price_percentiles' note)."""
    med = events.groupBy("event_type").agg(
        F.percentile(F.col("value").cast("double"), F.lit(0.5)).alias("med_v")
    )
    dev = events.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        "value",
        "med_v",
        F.abs(F.col("value") - F.col("med_v")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile(F.col("adev"), F.lit(0.5)).alias("mad_v")
    )
    # NULLIF guard (ADVICE r4): a group where >=50% of values are equal
    # has MAD=0; bare division would give ±Infinity in Spark but
    # engine-/flag-dependent NULL-or-inf in DuckDB. Dividing by
    # NULLIF(mad_v, 0) makes robust_z NULL in BOTH engines and the
    # `> MAD_K` filter then drops those rows consistently (a degenerate
    # constant-valued group has no meaningful robust scale to flag on).
    rz = (F.col("value") - F.col("med_v")) / (
        F.lit(MAD_SCALE) * F.nullif(F.col("mad_v"), F.lit(0.0))
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(F.col("med_v"), 6).alias("median_v"),
            F.round(F.col("mad_v"), 6).alias("mad_v"),
            F.round(rz, 6).alias("robust_z"),
        )
        .filter(F.abs(F.round(rz, 6)) > MAD_K)
        .orderBy("event_id")
    )


VALUE_ANOMALIES_MAD_SQL = f"""
WITH med AS (
  SELECT event_type,
         quantile_cont(CAST(value AS DOUBLE), 0.5) AS med_v
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_id, e.event_type, e.value, med.med_v,
         ABS(e.value - med.med_v) AS adev
  FROM events e JOIN med USING (event_type)
),
mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad_v
  FROM dev GROUP BY event_type
)
SELECT d.event_id, d.event_type, d.value,
       ROUND(d.med_v, 6) AS median_v,
       ROUND(m.mad_v, 6) AS mad_v,
       ROUND((d.value - d.med_v) / ({MAD_SCALE} * NULLIF(m.mad_v, 0)), 6) AS robust_z
FROM dev d JOIN mad m USING (event_type)
WHERE ABS(ROUND((d.value - d.med_v) / ({MAD_SCALE} * NULLIF(m.mad_v, 0)), 6)) > {MAD_K}
ORDER BY event_id
""".strip()


SKEW_TOP = 5


def key_skew_stats(events: DataFrame) -> DataFrame:
    """Join/aggregation-key skew diagnostic over user_id: per-key count
    distribution summarized as top-1/top-k shares, the normalized
    entropy of the key histogram, and the mean/max ratio — the numbers
    that decide whether a shuffle on this key needs salting or AQE skew
    handling at 100 TB (top-1 share ≈ straggler task share under hash
    partitioning).

    Scale: one hash aggregation to per-key counts, then one pass over
    the (|keys|-row) histogram: max/sum/entropy as aggregates and the
    top-k share from a bounded TakeOrdered join-back. Everything after
    the first aggregation is O(distinct keys)."""
    counts = events.groupBy("user_id").agg(F.count("*").alias("c"))
    topk = (
        counts.orderBy(F.desc("c"), F.asc("user_id"))
        .limit(SKEW_TOP)
        .agg(F.sum("c").alias("topk_c"))
        .withColumn("_k", F.lit(1))
    )
    c = F.col("c").cast("double")
    agg = counts.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("c").cast("bigint").alias("n_rows"),
        F.max("c").cast("bigint").alias("max_key_rows"),
        # H = ln N − Σ c·ln c / N over the key histogram, normalized by
        # ln(|keys|): 1.0 = perfectly even keys, → 0 = one hot key
        F.round(
            (F.log(F.sum("c").cast("double")) - F.sum(c * F.log(c)) / F.sum("c"))
            / F.nullif(F.log(F.count("*").cast("double")), F.lit(0.0)),
            6,
        ).alias("key_entropy_norm"),
    ).withColumn("_k", F.lit(1))
    return (
        agg.join(F.broadcast(topk), "_k")
        .select(
            "n_keys",
            "n_rows",
            "max_key_rows",
            F.round(
                F.col("max_key_rows").cast("double") / F.col("n_rows"), 6
            ).alias("top1_share"),
            F.round(F.col("topk_c").cast("double") / F.col("n_rows"), 6).alias(
                f"top{SKEW_TOP}_share"
            ),
            F.round(
                F.col("max_key_rows").cast("double")
                * F.col("n_keys")
                / F.col("n_rows"),
                6,
            ).alias("max_over_mean"),
            "key_entropy_norm",
        )
    )


KEY_SKEW_STATS_SQL = f"""
WITH counts AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY user_id
),
topk AS (
  SELECT SUM(c) AS topk_c
  FROM (SELECT c FROM counts ORDER BY c DESC, user_id ASC LIMIT {SKEW_TOP})
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       CAST(MAX(c) AS BIGINT) AS max_key_rows,
       ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top1_share,
       ROUND((SELECT topk_c FROM topk) / CAST(SUM(c) AS DOUBLE), 6)
         AS top{SKEW_TOP}_share,
       ROUND(CAST(MAX(c) AS DOUBLE) * COUNT(*) / SUM(c), 6) AS max_over_mean,
       ROUND((LN(CAST(SUM(c) AS DOUBLE))
              - SUM(CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE))) / SUM(c))
             / NULLIF(LN(CAST(COUNT(*) AS DOUBLE)), 0), 6) AS key_entropy_norm
FROM counts
""".strip()


BLOOM_BITS = 65536
BLOOM_K = 3
BLOOM_SPLIT_DATE = "2024-01-15"


def bloom_membership_panel(events: DataFrame) -> DataFrame:
    """Bloom-filter diagnostic completing the sketch suite (CMS for
    frequency, HLL for distinct, Bloom for membership): build a
    ``BLOOM_BITS``-bit / ``BLOOM_K``-hash filter over first-half
    event_ids, probe it with second-half ids — ALL true negatives, so
    every positive is false — and report fill ratio, the fill-based
    expected FPR (fill^k), and the measured FPR side by side. The
    panel that sizes a join pre-filter before trusting it at 100 TB.

    Exactness: the md5 hash family (same idiom as the CMS) makes the
    bit set itself deterministic and both FPRs exact arithmetic over
    integer counts — the whole panel hash-matches the oracle, sketch
    contents included.

    Scale: the build is one distinct-positions aggregation (≤ m rows
    out); probes explode to k rows each and hash-join the (bounded,
    broadcastable) bit set; one final scalar aggregation. Nothing
    holds state bigger than the m-row bit table."""
    half = F.col("ts").cast("date") <= F.lit(BLOOM_SPLIT_DATE).cast("date")
    seeds = F.explode(F.array(*[F.lit(s) for s in range(BLOOM_K)])).alias("seed")
    pos = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("seed"), F.col("event_id"))), 1, 12
            ),
            16,
            10,
        ).cast("bigint"),
        F.lit(BLOOM_BITS),
    ).alias("pos")
    build_keys = events.filter(half).select("event_id")
    bits = build_keys.select("event_id", seeds).select(pos).distinct()
    n_build = build_keys.agg(F.count("*").alias("n_build"))
    probe_keys = events.filter(~half).select("event_id")
    probe_hits = (
        probe_keys.select("event_id", seeds)
        .select("event_id", pos)
        .join(bits.withColumnRenamed("pos", "pos"), "pos", "left_semi")
        .groupBy("event_id")
        .agg(F.count("*").alias("k_present"))
        .filter(F.col("k_present") == BLOOM_K)
        .agg(F.count("*").cast("bigint").alias("n_false_pos"))
    )
    n_probe = probe_keys.agg(F.count("*").cast("bigint").alias("n_probe"))
    bits_set = bits.agg(F.count("*").cast("bigint").alias("bits_set"))
    fill = F.col("bits_set").cast("double") / F.lit(float(BLOOM_BITS))
    return (
        n_build.join(bits_set)
        .join(n_probe)
        .join(probe_hits)
        .select(
            F.col("n_build").cast("bigint").alias("n_build"),
            "bits_set",
            F.round(fill, 6).alias("fill_ratio"),
            F.round(F.pow(fill, F.lit(BLOOM_K)), 6).alias("expected_fpr"),
            "n_probe",
            "n_false_pos",
            F.round(
                F.col("n_false_pos").cast("double") / F.col("n_probe"), 6
            ).alias("measured_fpr"),
        )
    )


BLOOM_PANEL_SQL = f"""
WITH build_keys AS (
  SELECT event_id FROM events WHERE CAST(ts AS DATE) <= DATE '{BLOOM_SPLIT_DATE}'
),
probe_keys AS (
  SELECT event_id FROM events WHERE CAST(ts AS DATE) > DATE '{BLOOM_SPLIT_DATE}'
),
seeds AS (SELECT unnest(range(0, {BLOOM_K})) AS seed),
bits AS (
  SELECT DISTINCT CAST('0x' || substring(md5(concat(seed, ':', event_id)), 1, 12)
                       AS BIGINT) % {BLOOM_BITS} AS pos
  FROM build_keys, seeds
),
probe_hits AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_false_pos
  FROM (
    SELECT p.event_id
    FROM (SELECT event_id,
                 CAST('0x' || substring(md5(concat(seed, ':', event_id)), 1, 12)
                      AS BIGINT) % {BLOOM_BITS} AS pos
          FROM probe_keys, seeds) p
    WHERE EXISTS (SELECT 1 FROM bits b WHERE b.pos = p.pos)
    GROUP BY p.event_id
    HAVING COUNT(*) = {BLOOM_K})
)
SELECT CAST((SELECT COUNT(*) FROM build_keys) AS BIGINT) AS n_build,
       CAST((SELECT COUNT(*) FROM bits) AS BIGINT) AS bits_set,
       ROUND(CAST((SELECT COUNT(*) FROM bits) AS DOUBLE) / {BLOOM_BITS}, 6) AS fill_ratio,
       ROUND(POWER(CAST((SELECT COUNT(*) FROM bits) AS DOUBLE) / {BLOOM_BITS}, {BLOOM_K}), 6) AS expected_fpr,
       CAST((SELECT COUNT(*) FROM probe_keys) AS BIGINT) AS n_probe,
       (SELECT n_false_pos FROM probe_hits) AS n_false_pos,
       ROUND(CAST((SELECT n_false_pos FROM probe_hits) AS DOUBLE)
             / (SELECT COUNT(*) FROM probe_keys), 6) AS measured_fpr
""".strip()


FUNNEL_WINDOW_S = 86400  # each step must land within a day of the prior


def user_funnel_windowed(
    events: DataFrame, within_s: int = FUNNEL_WINDOW_S
) -> DataFrame:
    """Time-bounded funnel: like ``user_funnel`` but each step counts
    only within ``within_s`` seconds of the PRIOR step's first touch —
    the product-analytics convention ("converted within a day"), which
    separates genuine journeys from coincidental events weeks apart.
    Same one-exchange chained-window plan; only the step predicates
    gain the upper time bound.

    Output matches ``user_funnel`` (step rows with reach + conversion
    rates) so the bounded and unbounded funnels diff directly."""
    w = Window.partitionBy("user_id")
    bound = F.lit(float(within_s))
    df = events.withColumn(
        "_t1",
        F.min(F.when(F.col("event_type") == FUNNEL_STEPS[0], F.col("ts"))).over(w),
    )
    df = df.withColumn(
        "_t2",
        F.min(
            F.when(
                (F.col("event_type") == FUNNEL_STEPS[1])
                & (F.col("ts") > F.col("_t1"))
                & (
                    F.col("ts").cast("double")
                    <= F.col("_t1").cast("double") + bound
                ),
                F.col("ts"),
            )
        ).over(w),
    )
    df = df.withColumn(
        "_t3",
        F.min(
            F.when(
                (F.col("event_type") == FUNNEL_STEPS[2])
                & (F.col("ts") > F.col("_t2"))
                & (
                    F.col("ts").cast("double")
                    <= F.col("_t2").cast("double") + bound
                ),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = df.groupBy("user_id").agg(
        F.max("_t1").alias("t1"), F.max("_t2").alias("t2"), F.max("_t3").alias("t3")
    )
    counts = per_user.agg(
        F.count("t1").cast("bigint").alias("u1"),
        F.count("t2").cast("bigint").alias("u2"),
        F.count("t3").cast("bigint").alias("u3"),
    )

    def _rate(num, den):
        return F.when(
            den > 0, F.round(num.cast("double") / den.cast("double"), 6)
        ).cast("double")

    return counts.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).cast("bigint").alias("step"),
                    F.lit(FUNNEL_STEPS[0]).alias("event_type"),
                    F.col("u1").alias("users"),
                    F.lit(None).cast("double").alias("conv_from_prev"),
                    _rate(F.col("u1"), F.col("u1")).alias("conv_from_start"),
                ),
                F.struct(
                    F.lit(2).cast("bigint").alias("step"),
                    F.lit(FUNNEL_STEPS[1]).alias("event_type"),
                    F.col("u2").alias("users"),
                    _rate(F.col("u2"), F.col("u1")).alias("conv_from_prev"),
                    _rate(F.col("u2"), F.col("u1")).alias("conv_from_start"),
                ),
                F.struct(
                    F.lit(3).cast("bigint").alias("step"),
                    F.lit(FUNNEL_STEPS[2]).alias("event_type"),
                    F.col("u3").alias("users"),
                    _rate(F.col("u3"), F.col("u2")).alias("conv_from_prev"),
                    _rate(F.col("u3"), F.col("u1")).alias("conv_from_start"),
                ),
            )
        ).alias("s")
    ).select("s.step", "s.event_type", "s.users", "s.conv_from_prev", "s.conv_from_start")


USER_FUNNEL_WINDOWED_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = '{FUNNEL_STEPS[0]}' THEN ts END) AS t1
  FROM events GROUP BY user_id
),
s2 AS (
  SELECT e.user_id,
         MIN(CASE WHEN e.event_type = '{FUNNEL_STEPS[1]}' AND e.ts > p.t1
                   AND epoch(e.ts) <= epoch(p.t1) + {FUNNEL_WINDOW_S}
              THEN e.ts END) AS t2
  FROM events e JOIN per_user p USING (user_id)
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id,
         MIN(CASE WHEN e.event_type = '{FUNNEL_STEPS[2]}' AND e.ts > s2.t2
                   AND epoch(e.ts) <= epoch(s2.t2) + {FUNNEL_WINDOW_S}
              THEN e.ts END) AS t3
  FROM events e JOIN s2 USING (user_id)
  GROUP BY e.user_id
),
counts AS (
  SELECT CAST(COUNT(p.t1) AS BIGINT) AS u1,
         CAST(COUNT(s2.t2) AS BIGINT) AS u2,
         CAST(COUNT(s3.t3) AS BIGINT) AS u3
  FROM per_user p
  LEFT JOIN s2 USING (user_id)
  LEFT JOIN s3 USING (user_id)
)
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS step, '{FUNNEL_STEPS[0]}' AS event_type, u1 AS users,
         CAST(NULL AS DOUBLE) AS conv_from_prev,
         CASE WHEN u1 > 0 THEN ROUND(CAST(u1 AS DOUBLE) / u1, 6) END AS conv_from_start
  FROM counts
  UNION ALL
  SELECT 2, '{FUNNEL_STEPS[1]}', u2,
         CASE WHEN u1 > 0 THEN ROUND(CAST(u2 AS DOUBLE) / u1, 6) END,
         CASE WHEN u1 > 0 THEN ROUND(CAST(u2 AS DOUBLE) / u1, 6) END
  FROM counts
  UNION ALL
  SELECT 3, '{FUNNEL_STEPS[2]}', u3,
         CASE WHEN u2 > 0 THEN ROUND(CAST(u3 AS DOUBLE) / u2, 6) END,
         CASE WHEN u1 > 0 THEN ROUND(CAST(u3 AS DOUBLE) / u1, 6) END
  FROM counts
)
ORDER BY step
""".strip()


def type_audience_overlap(events: DataFrame) -> DataFrame:
    """Audience-overlap matrix: for every event-type pair, the Jaccard
    of their user sets — which behaviors share an audience (near-1:
    redundant instrumentation or a hard dependency; near-0: disjoint
    populations worth separate treatment). The same inverted-index
    set-similarity shape as the text dedup joins, keyed on user_id
    with type-pair grouping — at 100 TB the per-user type list is
    bounded by the type vocabulary, so the pair fan-out per user is
    |types|², a constant.

    Output: (type_a, type_b, n_a, n_b, n_both, jaccard) per unordered
    pair, types sorted lexicographically."""
    tu = events.select("event_type", "user_id").distinct()
    sizes = tu.groupBy("event_type").agg(F.count("*").cast("bigint").alias("n"))
    a, b = tu.alias("a"), tu.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").cast("bigint").alias("n_both"))
    )
    return (
        inter.join(
            F.broadcast(sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))),
            "type_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            F.round(
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


TYPE_AUDIENCE_OVERLAP_SQL = """
WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
sizes AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM tu GROUP BY event_type),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM tu a JOIN tu b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT i.type_a, i.type_b, sa.n AS n_a, sb.n AS n_b, i.n_both,
       ROUND(CAST(i.n_both AS DOUBLE) / (sa.n + sb.n - i.n_both), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.event_type = i.type_a
JOIN sizes sb ON sb.event_type = i.type_b
ORDER BY i.type_a, i.type_b
""".strip()


def type_effect_sizes(events: DataFrame) -> DataFrame:
    """Pairwise standardized effect sizes (Cohen's d with pooled
    variance) of `value` between every event-type pair — the A/B-
    analysis primitive: a difference of means says nothing without the
    spread, and d puts every comparison on one scale (|d| ≈ 0.2 small
    / 0.5 medium / 0.8 large). Reuses the DECIMAL exact-moment
    discipline of ``value_anomalies`` — sums and sums-of-squares are
    order-independent decimals, so means, pooled variance, and d are
    bit-identical across engines.

    Scale: one moment aggregation (|types| rows) and a |types|² pair
    join over that tiny table — the corpus is read once."""
    dec = "decimal(28,6)"
    m = events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast(dec)).alias("s1"),
        F.sum((F.col("value").cast(dec) * F.col("value").cast(dec))).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    ss = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n")
    )
    stats = m.select(
        "event_type",
        "n",
        mean.alias("mean_v"),
        ss.alias("ss_v"),
    )
    a = stats.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("n_a"),
        F.col("mean_v").alias("mean_a"),
        F.col("ss_v").alias("ss_a"),
    )
    b = stats.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("n_b"),
        F.col("mean_v").alias("mean_b"),
        F.col("ss_v").alias("ss_b"),
    )
    # NULLIF the dof too: two singleton groups give ss/0 = 0/0 -> NaN in
    # Spark but a flag-dependent NULL in DuckDB; NULL on both is consistent.
    pooled_sd = F.sqrt(
        (F.col("ss_a") + F.col("ss_b"))
        / F.nullif((F.col("n_a") + F.col("n_b") - 2).cast("double"), F.lit(0.0))
    )
    d = (F.col("mean_a") - F.col("mean_b")) / F.nullif(pooled_sd, F.lit(0.0))
    return (
        a.join(b, F.col("type_a") < F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.round(F.col("mean_a") - F.col("mean_b"), 6).alias("mean_diff"),
            F.round(d, 6).alias("cohens_d"),
        )
        .orderBy("type_a", "type_b")
    )


TYPE_EFFECT_SIZES_SQL = """
WITH m AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(28,6))) AS s1,
         SUM(CAST(value AS DECIMAL(28,6)) * CAST(value AS DECIMAL(28,6))) AS s2
  FROM events GROUP BY event_type
),
stats AS (
  SELECT event_type, n,
         CAST(s1 AS DOUBLE) / n AS mean_v,
         CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n AS ss_v
  FROM m
)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
       ROUND(a.mean_v - b.mean_v, 6) AS mean_diff,
       ROUND((a.mean_v - b.mean_v)
             / NULLIF(SQRT((a.ss_v + b.ss_v)
                           / NULLIF(CAST(a.n + b.n - 2 AS DOUBLE), 0)), 0), 6) AS cohens_d
FROM stats a JOIN stats b ON a.event_type < b.event_type
ORDER BY type_a, type_b
""".strip()


PR_SCALE = 10**12
PR_ITERS = 8
PR_TOP = 20


CHANGEPOINT_MIN_SIDE = 3  # days required on each side of a split


def changepoint_scan(events: DataFrame, min_side: int = CHANGEPOINT_MIN_SIDE) -> DataFrame:
    """Offline single change-point detection per event type: over the
    daily mean-value series, find the day split that maximizes the
    between-segment mean-shift |z| (two-sample z over the day-level
    series, pooled from exact prefix/suffix moments) — the
    batch-audit companion to the streaming-style ``type_value_drift``
    two-window monitor: drift says "the last week moved", this says
    WHEN the level shifted, for the whole history.

    Determinism: daily means come from DECIMAL(28,6) sums; prefix
    moments are running windows over the (type, day) series ORDERED BY
    day (exact decimal cumulative sums), suffix = total − prefix; the
    only doubles are the final divisions, rounded 6 dp, and the argmax
    breaks ties by earliest day. Scale: one daily aggregation, one
    cumulative window per type (day-count-sized partitions), one
    row_number pick."""
    dec = "decimal(28,6)"
    daily = (
        events.groupBy(
            "event_type", F.date_trunc("day", "ts").alias("day")
        )
        .agg(
            (
                F.sum(F.col("value").cast(dec))
                / F.count("*")
            ).cast(dec).alias("m")
        )
    )
    wt = Window.partitionBy("event_type")
    wp = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    st = daily.select(
        "event_type",
        "day",
        F.row_number().over(Window.partitionBy("event_type").orderBy("day")).alias("i"),
        F.count("*").over(wt).alias("nd"),
        F.sum("m").over(wp).alias("ps1"),
        F.sum((F.col("m") * F.col("m")).cast(dec)).over(wp).alias("ps2"),
        F.sum("m").over(wt).alias("ts1"),
        F.sum((F.col("m") * F.col("m")).cast(dec)).over(wt).alias("ts2"),
    )
    n1 = F.col("i").cast("double")
    n2 = (F.col("nd") - F.col("i")).cast("double")
    m1 = F.col("ps1").cast("double") / n1
    m2 = (F.col("ts1") - F.col("ps1")).cast("double") / n2
    v1 = F.col("ps2").cast("double") / n1 - m1 * m1
    v2 = (F.col("ts2") - F.col("ps2")).cast("double") / n2 - m2 * m2
    z = (m1 - m2) / F.nullif(F.sqrt(v1 / n1 + v2 / n2), F.lit(0.0))
    cand = st.filter(
        (F.col("i") >= min_side) & (F.col("nd") - F.col("i") >= min_side)
    ).select(
        "event_type",
        "day",
        F.abs(z).alias("absz"),
        F.round(m1, 6).alias("mean_before"),
        F.round(m2, 6).alias("mean_after"),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.desc("absz"), F.asc("day")
    )
    return (
        cand.withColumn("r", F.row_number().over(wr))
        .filter(F.col("r") == 1)
        .select(
            "event_type",
            F.col("day").alias("split_day"),
            "mean_before",
            "mean_after",
            F.round("absz", 6).alias("abs_z"),
        )
        .orderBy("event_type")
    )


CHANGEPOINT_SCAN_SQL = f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(SUM(CAST(value AS DECIMAL(28,6))) / COUNT(*) AS DECIMAL(28,6)) AS m
  FROM events GROUP BY event_type, date_trunc('day', ts)
),
st AS (
  SELECT event_type, day,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i,
         COUNT(*) OVER (PARTITION BY event_type) AS nd,
         SUM(m) OVER w AS ps1,
         SUM(CAST(m * m AS DECIMAL(28,6))) OVER w AS ps2,
         SUM(m) OVER (PARTITION BY event_type) AS ts1,
         SUM(CAST(m * m AS DECIMAL(28,6))) OVER (PARTITION BY event_type) AS ts2
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
cand AS (
  SELECT event_type, day,
         ABS((CAST(ps1 AS DOUBLE) / i
              - CAST(ts1 - ps1 AS DOUBLE) / (nd - i))
             / NULLIF(SQRT(
                 (CAST(ps2 AS DOUBLE) / i
                  - (CAST(ps1 AS DOUBLE) / i) * (CAST(ps1 AS DOUBLE) / i)) / i
                 + (CAST(ts2 - ps2 AS DOUBLE) / (nd - i)
                    - (CAST(ts1 - ps1 AS DOUBLE) / (nd - i))
                      * (CAST(ts1 - ps1 AS DOUBLE) / (nd - i))) / (nd - i)), 0))
           AS absz,
         ROUND(CAST(ps1 AS DOUBLE) / i, 6) AS mean_before,
         ROUND(CAST(ts1 - ps1 AS DOUBLE) / (nd - i), 6) AS mean_after
  FROM st
  WHERE i >= {CHANGEPOINT_MIN_SIDE} AND nd - i >= {CHANGEPOINT_MIN_SIDE}
)
SELECT event_type, day AS split_day, mean_before, mean_after,
       ROUND(absz, 6) AS abs_z
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY absz DESC, day ASC) AS r
  FROM cand)
WHERE r = 1
ORDER BY event_type
""".strip()


KMV_K = 64


def kmv_distinct(events: DataFrame, k: int = KMV_K) -> DataFrame:
    """KMV (k-minimum-values) distinct-user sketch per event type, with
    the exact count and relative error beside it — the ORACLE-CHECKABLE
    mergeable sketch: where HLL's register contents are
    implementation-defined (rows-only check), KMV is just "the k
    smallest md5 values of the key set", identical in any engine, and
    merging sketches = keeping the k smallest of a union. Estimate =
    (k−1) / max_kmv with hashes mapped to (0,1] — the standard
    bottom-k estimator; the panel reports estimate vs exact so the
    sketch's accuracy (≈ 1/sqrt(k−2) ≈ 13% at k=64) is measured on
    THIS corpus, same discipline as the MinHash error panel.

    Scale: one (type, user) dedup aggregation, then a per-type top-k
    over hashes (window, keyed by type) — the sketch state is k doubles
    per group, mergeable across partitions/days by construction."""
    h = (
        events.select("event_type", "user_id")
        .distinct()
        .select(
            "event_type",
            # first 12 md5 hex chars -> uniform in [0, 16^12); +1 maps to
            # (0,1] so the estimator never divides by zero
            (
                (
                    F.conv(
                        F.substring(F.md5(F.col("user_id").cast("string")), 1, 12),
                        16,
                        10,
                    ).cast("double")
                    + 1.0
                )
                / F.lit(float(16**12))
            ).alias("u"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("u")
    topk = h.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= k)
    kth = topk.groupBy("event_type").agg(
        F.count("*").alias("n_kept"),
        F.max("u").alias("max_u"),
    )
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_distinct")
    )
    est = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("double")
    ).otherwise((k - 1) / F.col("max_u"))
    return (
        kth.join(exact, "event_type")
        .select(
            "event_type",
            F.round(est, 2).alias("kmv_estimate"),
            "exact_distinct",
            F.round(
                F.abs(est - F.col("exact_distinct")) / F.col("exact_distinct"), 6
            ).alias("rel_error"),
        )
        .orderBy("event_type")
    )


KMV_DISTINCT_SQL = f"""
WITH h AS (
  SELECT DISTINCT event_type, user_id FROM events
),
u AS (
  SELECT event_type,
         (CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT)
            + 1.0) / POWER(16, 12) AS u
  FROM h
),
topk AS (
  SELECT event_type, u FROM (
    SELECT event_type, u,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY u) AS r
    FROM u)
  WHERE r <= {KMV_K}
),
kth AS (
  SELECT event_type, COUNT(*) AS n_kept, MAX(u) AS max_u FROM topk GROUP BY event_type
),
exact AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM events GROUP BY event_type
)
SELECT k.event_type,
       ROUND(CASE WHEN k.n_kept < {KMV_K} THEN CAST(k.n_kept AS DOUBLE)
                  ELSE ({KMV_K} - 1) / k.max_u END, 2) AS kmv_estimate,
       e.exact_distinct,
       ROUND(ABS(CASE WHEN k.n_kept < {KMV_K} THEN CAST(k.n_kept AS DOUBLE)
                      ELSE ({KMV_K} - 1) / k.max_u END - e.exact_distinct)
             / e.exact_distinct, 6) AS rel_error
FROM kth k JOIN exact e ON k.event_type = e.event_type
ORDER BY k.event_type
""".strip()


HLL_M = 256  # registers (b=8 index bits); std error ~= 1.04/sqrt(256) = 6.5%
HLL_W_BITS = 48  # estimator bits taken from md5 hex chars 3..14
# alpha_256 from the HLL paper's alpha_m = 0.7213/(1 + 1.079/m)
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)


def hll_manual(events: DataFrame, m: int = HLL_M) -> DataFrame:
    """Textbook HyperLogLog built from first principles so the REGISTER
    CONTENTS are oracle-checkable — the companion to ``hll_rollup``
    (whose native Datasketches registers are engine-private, hence
    rows-only) and ``kmv_distinct`` (the bottom-k alternative). Per
    (event_type, user): md5 → 8-bit register index (hex chars 1-2) +
    48-bit suffix w (chars 3-14); rho = leading-zero count + 1 =
    49 − length(bin(w)). Per type: registers = max(rho) per index,
    estimate = alpha·m²/(Σ 2^−M_j) with the paper's small-range
    linear-counting correction (E ≤ 2.5m and empty registers present →
    m·ln(m/V)); an 'all' row MERGES the per-type registers by max —
    the sketch-union that makes HLL re-aggregatable — and its estimate
    is asserted against the exact corpus-wide distinct in the oracle
    itself. Estimate and error round to 2/4 decimals so the two
    engines' float-summation orders cannot flip the hash.

    Scale: the dedup agg is the only user-sized shuffle; everything
    after touches ≤ m rows per group. Register state is m bytes per
    (type) — the thing a 100 TB rollup stores and merges, never
    re-scanning raw users."""
    h = (
        events.select("event_type", "user_id")
        .distinct()
        .select(
            "event_type",
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 2), 16, 10)
            .cast("int")
            .alias("reg"),
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 3, 12), 16, 10)
            .cast("bigint")
            .alias("w"),
        )
        .select(
            "event_type",
            "reg",
            F.when(F.col("w") == 0, F.lit(HLL_W_BITS + 1))
            .otherwise(F.lit(HLL_W_BITS + 1) - F.length(F.bin(F.col("w"))))
            .alias("rho"),
        )
    )
    regs = h.groupBy("event_type", "reg").agg(F.max("rho").alias("mj"))
    merged = regs.groupBy("reg").agg(F.max("mj").alias("mj")).select(
        F.lit("all").alias("event_type"), "reg", "mj"
    )

    def _estimate(rframe: DataFrame) -> DataFrame:
        per = rframe.groupBy("event_type").agg(
            F.sum(F.pow(F.lit(2.0), -F.col("mj"))).alias("s_hit"),
            F.count("*").alias("n_hit"),
        )
        zeros = F.lit(float(m)) - F.col("n_hit")  # empty registers, each 2^0
        raw = F.lit(HLL_ALPHA * m * m) / (F.col("s_hit") + zeros)
        est = F.when(
            (raw <= 2.5 * m) & (zeros > 0),
            F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
        ).otherwise(raw)
        return per.select("event_type", est.alias("est"))

    per_type = _estimate(regs)
    all_est = _estimate(merged)
    exact_t = events.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_distinct")
    )
    exact_all = events.agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_distinct")
    ).select(F.lit("all").alias("event_type"), "exact_distinct")
    joined = per_type.unionByName(all_est).join(
        exact_t.unionByName(exact_all), "event_type"
    )
    return joined.select(
        F.col("event_type").alias("level"),
        F.round(F.col("est"), 2).alias("hll_estimate"),
        "exact_distinct",
        F.round(
            F.abs(F.col("est") - F.col("exact_distinct")) / F.col("exact_distinct"),
            4,
        ).alias("rel_error"),
    ).orderBy("level")


HLL_MANUAL_SQL = f"""
WITH h AS (
  SELECT event_type,
         CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 2)) AS BIGINT) AS reg,
         CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 3, 12)) AS BIGINT) AS w
  FROM (SELECT DISTINCT event_type, user_id FROM events)
),
rho AS (
  SELECT event_type, reg,
         CASE WHEN w = 0 THEN {HLL_W_BITS + 1}
              ELSE {HLL_W_BITS + 1} - length(bin(w)) END AS rho
  FROM h
),
regs AS (
  SELECT event_type, reg, MAX(rho) AS mj FROM rho GROUP BY event_type, reg
),
allregs AS (
  SELECT 'all' AS event_type, reg, MAX(mj) AS mj FROM regs GROUP BY reg
),
u AS (SELECT * FROM regs UNION ALL SELECT * FROM allregs),
per AS (
  SELECT event_type,
         SUM(POWER(2.0, -mj)) AS s_hit,
         COUNT(*) AS n_hit
  FROM u GROUP BY event_type
),
est AS (
  SELECT event_type,
         CASE WHEN (CAST({HLL_ALPHA} AS DOUBLE) * {HLL_M} * {HLL_M})
                   / (s_hit + ({HLL_M} - n_hit)) <= 2.5 * {HLL_M}
                   AND {HLL_M} - n_hit > 0
              THEN {HLL_M} * LN(CAST({HLL_M} AS DOUBLE) / ({HLL_M} - n_hit))
              ELSE (CAST({HLL_ALPHA} AS DOUBLE) * {HLL_M} * {HLL_M})
                   / (s_hit + ({HLL_M} - n_hit)) END AS est
  FROM per
),
exact_t AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM events GROUP BY event_type
  UNION ALL
  SELECT 'all', CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
)
SELECT e.event_type AS level,
       ROUND(e.est, 2) AS hll_estimate,
       x.exact_distinct,
       ROUND(ABS(e.est - x.exact_distinct) / x.exact_distinct, 4) AS rel_error
FROM est e JOIN exact_t x ON e.event_type = x.event_type
ORDER BY level
""".strip()


K_ANON = 5
K_ANON_VALUE_BUCKET = 10.0


def k_anonymity(events: DataFrame, k: int = K_ANON) -> DataFrame:
    """k-anonymity audit of an event release — the third leg of the
    privacy toolkit beside the Laplace DP release
    (``docs_dp_source_counts``) and the PII scrub (``docs_pii_scrub``).
    Quasi-identifier = (event_type, event day, value decabucket): any
    QI group with fewer than ``k`` DISTINCT users re-identifies —
    publishing such a row narrows an attacker's candidate set below k.
    One row per QI group: row count, distinct users, the violation
    flag, and the group's share of all release rows (how much data a
    suppress-violators policy would drop — the utility cost a
    generalization step would have to beat).

    Scale: one hash aggregation on the QI key with a distinct-count —
    map-side partial aggregation applies; the 1-row total is a
    broadcast scalar. At 100 TB the QI cardinality (types × days ×
    buckets) stays config-bounded, so the output is tiny regardless of
    corpus size."""
    qi = events.select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
        F.floor(F.col("value") / F.lit(K_ANON_VALUE_BUCKET))
        .cast("bigint")
        .alias("value_bucket"),
        "user_id",
    )
    groups = qi.groupBy("event_type", "event_date", "value_bucket").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )
    total = F.broadcast(groups.agg(F.sum("n_rows").alias("total_rows")))
    return (
        groups.crossJoin(total)
        .select(
            "event_type",
            "event_date",
            "value_bucket",
            "n_rows",
            "n_users",
            (F.col("n_users") < k).alias("violates_k"),
            F.round(F.col("n_rows") / F.col("total_rows").cast("double"), 6).alias(
                "row_share"
            ),
        )
        .orderBy("event_type", "event_date", "value_bucket")
    )


K_ANONYMITY_SQL = f"""
WITH qi AS (
  SELECT event_type,
         strftime(ts, '%Y-%m-%d') AS event_date,
         CAST(FLOOR(value / {K_ANON_VALUE_BUCKET}) AS BIGINT) AS value_bucket,
         user_id
  FROM events
),
groups AS (
  SELECT event_type, event_date, value_bucket,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
  FROM qi GROUP BY event_type, event_date, value_bucket
),
tot AS (SELECT SUM(n_rows) AS total_rows FROM groups)
SELECT event_type, event_date, value_bucket, n_rows, n_users,
       n_users < {K_ANON} AS violates_k,
       ROUND(n_rows / CAST(total_rows AS DOUBLE), 6) AS row_share
FROM groups, tot
ORDER BY event_type, event_date, value_bucket
""".strip()


DRIFT_WINDOW_S = 7 * 86400
DRIFT_Z = 3.0


def type_value_drift(events: DataFrame, window_s: int = DRIFT_WINDOW_S) -> DataFrame:
    """Training-data drift monitor: per event type, Welch's z between
    the value distribution of the trailing window (last ``window_s``
    seconds before the corpus's max timestamp) and the window before it
    — the check a feature pipeline runs before every retrain to catch
    schema-silent shifts (unit changes, sensor recalibration, upstream
    bug) that no NULL-rate or row-count monitor sees. |z| > 3 flags the
    type.

    Determinism: window edges are epoch-second arithmetic off the max
    timestamp (a 1-row broadcast scalar), moments are DECIMAL(28,6)
    sums (accumulation-order-proof), one double division at read-out,
    6 dp rounds. Scale: one scan, one (type, window) aggregation, a
    |types|-row pivot join."""
    dec = "decimal(28,6)"
    mx = events.agg(
        F.max(F.col("ts").cast("double")).alias("mx")
    ).withColumn("_k", F.lit(1))
    e = (
        events.withColumn("_k", F.lit(1))
        .join(F.broadcast(mx), "_k")
        .withColumn("ep", F.col("ts").cast("double"))
        .withColumn(
            "win",
            F.when(F.col("ep") > F.col("mx") - window_s, "recent").when(
                F.col("ep") > F.col("mx") - 2 * window_s, "prior"
            ),
        )
        .filter(F.col("win").isNotNull())
    )
    m = e.groupBy("event_type", "win").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast(dec)).alias("s1"),
        F.sum((F.col("value").cast(dec) * F.col("value").cast(dec))).alias("s2"),
    )

    def side(name):
        return m.filter(F.col("win") == name).select(
            "event_type",
            F.col("n").alias(f"n_{name}"),
            (F.col("s1").cast("double") / F.col("n")).alias(f"m_{name}"),
            (
                F.col("s2").cast("double") / F.col("n")
                - (F.col("s1").cast("double") / F.col("n"))
                * (F.col("s1").cast("double") / F.col("n"))
            ).alias(f"v_{name}"),
        )

    j = side("recent").join(side("prior"), "event_type")
    z = (F.col("m_recent") - F.col("m_prior")) / F.nullif(
        F.sqrt(
            F.col("v_recent") / F.col("n_recent")
            + F.col("v_prior") / F.col("n_prior")
        ),
        F.lit(0.0),
    )
    return (
        j.select(
            "event_type",
            F.col("n_recent").cast("bigint").alias("n_recent"),
            F.col("n_prior").cast("bigint").alias("n_prior"),
            F.round("m_recent", 6).alias("mean_recent"),
            F.round("m_prior", 6).alias("mean_prior"),
            F.round(z, 6).alias("welch_z"),
            (F.abs(z) > DRIFT_Z).alias("is_drift"),
        )
        .orderBy("event_type")
    )


TYPE_VALUE_DRIFT_SQL = f"""
WITH mx AS (SELECT MAX(epoch(ts)) AS mx FROM events),
e AS (
  SELECT event_type, value,
         CASE WHEN epoch(ts) > mx.mx - {DRIFT_WINDOW_S} THEN 'recent'
              WHEN epoch(ts) > mx.mx - 2 * {DRIFT_WINDOW_S} THEN 'prior'
         END AS win
  FROM events, mx
  WHERE epoch(ts) > mx.mx - 2 * {DRIFT_WINDOW_S}
),
m AS (
  SELECT event_type, win, COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(28,6))) AS s1,
         SUM(CAST(value AS DECIMAL(28,6)) * CAST(value AS DECIMAL(28,6))) AS s2
  FROM e GROUP BY event_type, win
),
sides AS (
  SELECT r.event_type,
         r.n AS n_recent, CAST(r.s1 AS DOUBLE) / r.n AS m_recent,
         CAST(r.s2 AS DOUBLE) / r.n
           - (CAST(r.s1 AS DOUBLE) / r.n) * (CAST(r.s1 AS DOUBLE) / r.n) AS v_recent,
         p.n AS n_prior, CAST(p.s1 AS DOUBLE) / p.n AS m_prior,
         CAST(p.s2 AS DOUBLE) / p.n
           - (CAST(p.s1 AS DOUBLE) / p.n) * (CAST(p.s1 AS DOUBLE) / p.n) AS v_prior
  FROM (SELECT * FROM m WHERE win = 'recent') r
  JOIN (SELECT * FROM m WHERE win = 'prior') p ON r.event_type = p.event_type
)
SELECT event_type,
       CAST(n_recent AS BIGINT) AS n_recent,
       CAST(n_prior AS BIGINT) AS n_prior,
       ROUND(m_recent, 6) AS mean_recent,
       ROUND(m_prior, 6) AS mean_prior,
       ROUND((m_recent - m_prior)
             / NULLIF(SQRT(v_recent / n_recent + v_prior / n_prior), 0), 6)
         AS welch_z,
       ABS((m_recent - m_prior)
           / NULLIF(SQRT(v_recent / n_recent + v_prior / n_prior), 0))
         > {DRIFT_Z} AS is_drift
FROM sides
ORDER BY event_type
""".strip()


TRI_MAX_DEG = 200


def graph_triangles(
    lineitem: DataFrame,
    max_deg: int = TRI_MAX_DEG,
    edges_od: DataFrame | None = None,
) -> DataFrame:
    """Exact triangle census of the co-purchase graph after a degree
    cap, 1 row: triangle count, wedge (open 2-path) count, and the
    global clustering coefficient 3·triangles/wedges — the
    connectivity-quality number beside PageRank's centrality ranking
    (high clustering = co-purchases form communities; low = hub-and-
    spoke). The cap drops hub vertices with degree > ``max_deg`` BEFORE
    counting (mirrored in the oracle): hubs contribute O(deg²) wedges
    that swamp the statistic and the join alike — the standard
    bounded-degree triangle-count discipline, same role as the shingle
    DF cap in the dedup path.

    Scale: with the cap, per-vertex wedge fan-out is ≤ max_deg², the
    wedge build is one self-join of the (a<b)-oriented capped edge list
    keyed on the center vertex, and closure is one equi-join back to
    the edge set — three shuffles total, nothing driver-side."""
    if edges_od is None:
        edges_od = copurchase_edges(lineitem)
    # degree = out-degree in the symmetric list; cap, then orient a<b
    keep = edges_od.filter(F.col("od") <= max_deg)
    und = keep.select("src", "dst")
    # keep only edges where BOTH endpoints survive the cap: the
    # symmetric list already lost capped sources; anti-join drops
    # edges whose DST was capped. Eager localCheckpoint instead of
    # persist (VERDICT r6 #3, the graph_hits discipline): the capped
    # list feeds four consumers (degrees, orientation, wedge count,
    # existing-edge filter) and a cached-but-unmaterialized frame
    # leaves the full build lineage in every consumer's plan — the
    # audit counted 400+ exchanges; checkpointing truncates each
    # stage's plan to one hop.
    capped = und.join(
        und.select(F.col("src").alias("dst")).distinct(), "dst", "left_semi"
    ).localCheckpoint(eager=True)
    # Degree orientation: point every edge from its lower-(degree, id)
    # endpoint to the higher one. Each triangle then has exactly one
    # vertex with two OUT-edges, so pairing out-neighbors per source
    # enumerates each triangle once with per-vertex fan-out bounded by
    # the oriented out-degree — O(sqrt(m)) even at hub vertices, the
    # classic distributed triangle-count bound. The count is
    # orientation-invariant, so the oracle's plain a<b EXISTS
    # formulation yields the identical number.
    degs = capped.groupBy("src").agg(F.count("*").alias("d")).select(
        F.col("src").alias("v"), "d"
    )
    # the degree table is vertex-count-sized (tiny next to the edge
    # list) — broadcast both attachments so orientation is map-side
    ranked = capped.join(
        F.broadcast(degs.select(F.col("v").alias("src"), F.col("d").alias("ds"))),
        "src",
    ).join(
        F.broadcast(degs.select(F.col("v").alias("dst"), F.col("d").alias("dd"))),
        "dst",
    )
    o = (
        ranked.filter(
            (F.col("ds") < F.col("dd"))
            | ((F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst")))
        )
        .select("src", "dst")
        .localCheckpoint(eager=True)
    )
    # Per-EDGE adjacency intersection instead of the wedge self-join:
    # each triangle has exactly one vertex with two out-edges under the
    # orientation, so Σ over oriented edges (u,v) of |N⁺(u) ∩ N⁺(v)|
    # counts every triangle once. The former pairs formulation
    # MATERIALIZED Σ C(out_deg, 2) wedge rows and shuffled them into a
    # semi-join (the measured bulk of the key's ~10 s); here the
    # out-neighbor lists (≤ cap elements, sorted for a merge-step
    # intersect) attach to each edge in two equi-joins and the
    # intersection is map-side codegen — no wedge frame ever exists.
    # adj is read by BOTH sides of the edge-attachment join below —
    # checkpoint so the collect_list agg runs once, not per consumer
    adj = (
        o.groupBy("src")
        .agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))
        .localCheckpoint(eager=True)
    )
    n_tri = (
        o.join(adj.select(F.col("src").alias("src"), F.col("nbrs").alias("na")), "src")
        .join(adj.select(F.col("src").alias("dst"), F.col("nbrs").alias("nb")), "dst")
        .select(F.size(F.array_intersect("na", "nb")).alias("t"))
        .agg(F.sum("t").cast("bigint").alias("n_triangles"))
        .select(F.coalesce(F.col("n_triangles"), F.lit(0).cast("bigint")).alias("n_triangles"))
    )
    # wedge count centered anywhere: sum over vertices of C(deg, 2) in
    # the capped graph (deg from the symmetric capped list)
    n_wed = (
        capped.groupBy("src")
        .agg(F.count("*").alias("d"))
        .agg(
            F.sum(F.col("d") * (F.col("d") - 1) / 2)
            .cast("bigint")
            .alias("n_wedges")
        )
    )
    return (
        n_tri.join(n_wed)
        .select(
            "n_triangles",
            "n_wedges",
            F.round(
                3.0 * F.col("n_triangles") / F.nullif(F.col("n_wedges").cast("double"), F.lit(0.0)),
                6,
            ).alias("clustering_coeff"),
        )
    )


GRAPH_TRIANGLES_SQL = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
),
deg AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY src),
keep AS (
  SELECT e.src, e.dst FROM edges e JOIN deg d ON e.src = d.src
  WHERE d.od <= {TRI_MAX_DEG}
),
capped AS (
  SELECT k.src, k.dst FROM keep k
  WHERE k.dst IN (SELECT DISTINCT src FROM keep)
),
e AS (SELECT src, dst FROM capped WHERE src < dst),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM e x JOIN e y ON x.dst = y.src
  WHERE EXISTS (SELECT 1 FROM e z WHERE z.src = x.src AND z.dst = y.dst)
),
wed AS (
  SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges
  FROM (SELECT src, COUNT(*) AS d FROM capped GROUP BY src)
)
SELECT CAST(tri.n_triangles AS BIGINT) AS n_triangles,
       wed.n_wedges,
       ROUND(3.0 * tri.n_triangles / NULLIF(CAST(wed.n_wedges AS DOUBLE), 0), 6)
         AS clustering_coeff
FROM tri, wed
""".strip()


LP_MAX_DEG = TRI_MAX_DEG  # same hub-cap discipline as the triangle census
LP_RA_SCALE = 10**12  # RA weights in integer micro-units: 10^12 DIV deg(v)
LP_TOP = 50
# Middle-vertex sampling governor (the emb_cosine_histogram pattern):
# the co-purchase graph is DENSE (median degree ~119 at every sf, so
# wedge count Σdeg² ≈ 3·10⁸ at sf0.1 — measured 66 s), and every pair's
# CN/RA is a sum over ~100 interchangeable middles. Keeping middles
# whose md5 nibble < LP_SAMPLE_HEX (rate k/16) estimates both scores
# with ~sqrt(16/cn·deg) relative error while cutting the join 16×.
# Mirrored in the oracle; pass "g" for the exact full-middle scores
# (tests do).
LP_SAMPLE_HEX = "1"  # keep middles with md5 first nibble < '1' (1/16)
LP_SAMPLE_SCALE = 16


def link_prediction(
    lineitem: DataFrame,
    max_deg: int = LP_MAX_DEG,
    top: int = LP_TOP,
    edges_od: DataFrame | None = None,
    sample_hex: str = LP_SAMPLE_HEX,
    sample_scale: int = LP_SAMPLE_SCALE,
) -> DataFrame:
    """Link prediction over the co-purchase graph: for every
    NON-adjacent part pair sharing ≥1 neighbor, the three classic
    neighborhood scores — common-neighbor count, Resource-Allocation
    index (Zhou/Lü/Zhang 2009: Σ_v 1/deg(v) over shared neighbors v),
    and Jaccard of the neighbor sets — ranked to the top predicted
    "parts that should co-sell but don't yet". RA is deliberately
    chosen over Adamic-Adar: 1/deg is computed as 10¹² DIV deg in
    integer micro-units, so the per-pair sum is order-independent and
    bit-exact across engines, where AA's 1/ln(deg) would ride each
    engine's libm. Same hub cap as the triangle census (a degree->
    max_deg vertex contributes O(deg²) candidate pairs and ~zero RA
    weight — pruning it is both the scale guard and statistically
    standard).

    Scale: the candidate build is one self-join of the capped edge
    list keyed on the MIDDLE vertex, with the md5 sampling governor
    (``LP_SAMPLE_HEX``) bounding the wedge fan-out on dense graphs —
    CN/RA become ×``sample_scale`` estimators (columns named cn_est /
    ra_score accordingly); degrees broadcast, existing edges removed by
    an anti-join — no all-pairs anywhere."""
    if edges_od is None:
        edges_od = copurchase_edges(lineitem)
    keep = edges_od.filter(F.col("od") <= max_deg).select("src", "dst")
    # Eager localCheckpoint (VERDICT r6 #3, graph_hits discipline):
    # capped feeds the wedge join twice (middle + outer leg), the
    # anti-join, and the degree table — truncating lineage here keeps
    # every downstream stage's plan one hop deep instead of re-stating
    # the full co-purchase build per consumer.
    capped = keep.join(
        keep.select(F.col("src").alias("dst")).distinct(), "dst", "left_semi"
    ).localCheckpoint(eager=True)
    # capped-graph degrees (vertex-count-sized -> broadcast, read 3x)
    degs = (
        capped.groupBy("src")
        .agg(F.count("*").cast("bigint").alias("d"))
        .localCheckpoint(eager=True)
    )
    mid_kept = F.substring(F.md5(F.col("src").cast("string")), 1, 1) < sample_hex
    e2 = (
        capped.filter(mid_kept)
        .join(F.broadcast(degs), "src")
        .select(
            F.col("src").alias("v"), F.col("dst").alias("w"), F.col("d").alias("dv")
        )
    )
    # OPTIMIZATION r13 (guide §3.1): both wedge legs are 1/16-sampled
    # (Catalyst infers the md5 middle predicate onto the left leg —
    # LP_PROBE_r12), so the join inputs are small but the SMJ still
    # paid two sorts; a shuffled-hash join streams the same rows with
    # no sort and no broadcast-scale risk (build side is the sampled
    # middle leg, ~|E|/16 rows spread over the shuffle partitions).
    pairs = (
        capped.select(F.col("dst").alias("v"), F.col("src").alias("u"))
        .join(e2.hint("shuffle_hash"), "v")
        .filter(F.col("u") < F.col("w"))
        .groupBy("u", "w")
        .agg(
            (F.count("*") * sample_scale).cast("bigint").alias("cn"),
            (F.sum(F.expr(f"{LP_RA_SCALE} DIV dv")) * sample_scale)
            .cast("bigint")
            .alias("ra_micro"),
        )
    )
    # drop pairs already linked (edge list is symmetric: u<w orientation
    # of the existing edges suffices)
    existing = capped.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("w")
    )
    # OPTIMIZATION r13 (guide §3.1): the anti-join's probe side is the
    # aggregated wedge-pair frame (~9.5M rows at sf0.1 — the key's
    # biggest intermediate, LP_PROBE_r12); as a sort-merge anti it paid
    # a full sort of that frame PLUS a sort of the edge list. Hashing
    # the (much smaller, degree-capped) edge side removes both sorts
    # while staying shuffle-based — no broadcast of an edge list that
    # grows with the graph.
    fresh = pairs.join(existing.hint("shuffle_hash"), ["u", "w"], "left_anti")
    scored = (
        fresh.join(
            F.broadcast(degs.select(F.col("src").alias("u"), F.col("d").alias("du"))),
            "u",
        )
        .join(
            F.broadcast(degs.select(F.col("src").alias("w"), F.col("d").alias("dw"))),
            "w",
        )
        .select(
            "u",
            "w",
            F.col("cn").alias("cn_est"),
            F.round(
                F.col("ra_micro").cast("double") / F.lit(float(LP_RA_SCALE)), 6
            ).alias("ra_score"),
            F.round(
                F.col("cn").cast("double")
                / (F.col("du") + F.col("dw") - F.col("cn")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.col("ra_score").desc(), F.col("cn_est").desc(), "u", "w"
    ).limit(top)


LINK_PREDICTION_SQL = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
),
deg0 AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY src),
keep AS (
  SELECT e.src, e.dst FROM edges e JOIN deg0 d ON e.src = d.src
  WHERE d.od <= {LP_MAX_DEG}
),
capped AS (
  SELECT k.src, k.dst FROM keep k
  WHERE k.dst IN (SELECT DISTINCT src FROM keep)
),
degs AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM capped GROUP BY src),
pairs AS (
  SELECT e1.src AS u, e2.dst AS w,
         CAST(COUNT(*) * {LP_SAMPLE_SCALE} AS BIGINT) AS cn,
         CAST(SUM({LP_RA_SCALE} // dm.d) * {LP_SAMPLE_SCALE} AS BIGINT) AS ra_micro
  FROM capped e1
  JOIN capped e2 ON e1.dst = e2.src
  JOIN degs dm ON dm.src = e1.dst
  WHERE e1.src < e2.dst
    AND substr(md5(CAST(e1.dst AS VARCHAR)), 1, 1) < '{LP_SAMPLE_HEX}'
  GROUP BY 1, 2
),
fresh AS (
  SELECT p.* FROM pairs p
  WHERE NOT EXISTS (SELECT 1 FROM capped c
                    WHERE c.src = p.u AND c.dst = p.w)
)
SELECT f.u, f.w, f.cn AS cn_est,
       ROUND(CAST(f.ra_micro AS DOUBLE) / {float(LP_RA_SCALE)}, 6) AS ra_score,
       ROUND(CAST(f.cn AS DOUBLE) / CAST(du.d + dw.d - f.cn AS DOUBLE), 6) AS jaccard
FROM fresh f
JOIN degs du ON du.src = f.u
JOIN degs dw ON dw.src = f.w
ORDER BY ra_score DESC, cn_est DESC, u, w
LIMIT {LP_TOP}
""".strip()


KCORE_K = 8
KCORE_ROUNDS = 16  # oracle unrolls exactly this many peels — keep in sync


def kcore(
    lineitem: DataFrame,
    k: int = KCORE_K,
    max_rounds: int = KCORE_ROUNDS,
    edges_od: DataFrame | None = None,
) -> DataFrame:
    """k-CORE of the degree-capped co-purchase graph — iterative peel
    (drop every vertex with in-subgraph degree < k, repeat to fixpoint)
    with a FULL oracle: the DuckDB twin unrolls exactly
    ``KCORE_ROUNDS`` peel rounds as MATERIALIZED CTEs; once the peel
    converges a round is idempotent, so as long as Spark's loop
    converges within the same bound (asserted — unconverged runs RAISE,
    the label_propagation discipline) the two engines hold the
    identical core. Output: one row per core vertex with its in-core
    degree — the dense-community backbone that survives after hubs
    (cap) and fringe (peel) are gone; empty if no k-core exists.

    Scale: each round is one degree aggregation + two semi-joins on
    the surviving edge list, whose size only shrinks; lineage is cut
    per round (localCheckpoint) so the plan stays round-sized. Rounds
    to fixpoint is small in practice (degeneracy ordering converges
    lazily); the cap bounds the starting degree like the triangle
    census. Cited parity: the peel is the textbook Matula–Beck /
    Batagelj–Zaveršnik iteration expressed relationally."""
    if edges_od is None:
        edges_od = copurchase_edges(lineitem)
    keep0 = edges_od.filter(F.col("od") <= TRI_MAX_DEG)
    und = keep0.select("src", "dst")
    g = und.join(
        und.select(F.col("src").alias("dst")).distinct(), "dst", "left_semi"
    ).localCheckpoint(eager=True)
    n_edges = g.count()
    for _ in range(max_rounds):
        deg = g.groupBy("src").agg(F.count("*").alias("d"))
        keep = deg.filter(F.col("d") >= k).select(F.col("src").alias("v"))
        ng = (
            g.join(keep.select(F.col("v").alias("src")), "src", "left_semi")
            .join(keep.select(F.col("v").alias("dst")), "dst", "left_semi")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
        n_new = ng.count()
        g = ng
        if n_new == n_edges:
            break
        n_edges = n_new
    else:
        raise RuntimeError(
            f"k-core peel did not converge within {max_rounds} rounds "
            "(raise KCORE_ROUNDS and regenerate the oracle)"
        )
    return (
        g.groupBy("src")
        .agg(F.count("*").cast("bigint").alias("core_degree"))
        .select(F.col("src").alias("vertex"), "core_degree")
        .orderBy("vertex")
    )


def _kcore_sql() -> str:
    """Unrolled peel twin of ``kcore`` — MATERIALIZED per round (DuckDB
    inlines plain CTEs; each round references its predecessor three
    times, so un-materialized expansion would be 3^rounds)."""
    steps = []
    for t in range(1, KCORE_ROUNDS + 1):
        prev = f"g{t - 1}"
        steps.append(
            f"""d{t} AS MATERIALIZED (
  SELECT src, COUNT(*) AS d FROM {prev} GROUP BY src
),
k{t} AS MATERIALIZED (SELECT src AS v FROM d{t} WHERE d >= {KCORE_K}),
g{t} AS MATERIALIZED (
  SELECT g.src, g.dst FROM {prev} g
  JOIN k{t} a ON g.src = a.v JOIN k{t} b ON g.dst = b.v
)"""
        )
    last = f"g{KCORE_ROUNDS}"
    return f"""
WITH items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
edges AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
),
deg AS MATERIALIZED (SELECT src, COUNT(*) AS od FROM edges GROUP BY src),
keep AS MATERIALIZED (
  SELECT e.src, e.dst FROM edges e JOIN deg d ON e.src = d.src
  WHERE d.od <= {TRI_MAX_DEG}
),
g0 AS MATERIALIZED (
  SELECT k.src, k.dst FROM keep k
  WHERE k.dst IN (SELECT DISTINCT src FROM keep)
),
{",".join(steps)}
SELECT src AS vertex, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM {last} GROUP BY src ORDER BY vertex
""".strip()


KCORE_SQL = _kcore_sql()


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """The undirected co-purchase edge list WITH out-degrees, ready for
    ``item_pagerank``'s rounds: (src, dst, od), distinct, partitioned on
    src. Exposed separately so a serving layer can materialize it once
    (registry caches it per session — it is the graph table a 100 TB
    pipeline would write to storage, not rebuild per query)."""
    items = lineitem.select("l_orderkey", "l_partkey").dropDuplicates(
        ["l_orderkey", "l_partkey"]
    )
    a, b = items.alias("a"), items.alias("b")
    und = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        .distinct()
    )
    outdeg = und.groupBy("src").agg(F.count("*").alias("od"))
    # pre-partitioned on src: each pagerank round's rank join reuses
    # this partitioning instead of re-shuffling the (large) edge list
    return und.join(outdeg, "src").repartition("src")


def item_pagerank(
    lineitem: DataFrame,
    iters: int = PR_ITERS,
    top: int = PR_TOP,
    edges_od: DataFrame | None = None,
) -> DataFrame:
    """PageRank over the co-purchase graph (parts sharing an order,
    undirected), in EXACT INTEGER arithmetic — the iterative graph
    algorithm the engine's oracle can actually check. Ranks live in
    10¹² micro-units; each round is rank' = tele + (85·Σ in-neighbor
    (rank div outdeg)) div 100 with every operation an integer div/sum,
    so there is no float accumulation order to diverge between engines
    and the fixed-iteration result is bit-exact (the DuckDB twin
    unrolls the same 8 rounds as chained CTEs). Centrality here ranks
    the parts that hold the co-purchase network together — a different
    signal from raw volume (ABC) or pair lift (market basket).

    Scale: per round, one join of the (persisted, out-degree-carrying)
    edge list against the rank vector and one aggregation keyed by
    destination — the standard distributed PageRank shape (Pregel's
    data-parallel equivalent); each round localCheckpoints so the plan
    stays one-round deep, and every intermediate is O(|edges|). Driver
    holds nothing."""
    from ..session import track_persist

    # The edge list feeds every round; persist it once (or accept a
    # pre-materialized shared one). localCheckpoint(eager=True) per
    # round truncates the lineage (same discipline as
    # label_propagation): without it the plan nests all rounds into one
    # DAG that Catalyst re-plans super-linearly (measured 37.6 s ->
    # ~9 s warm at sf0.1).
    if edges_od is None:
        edges_od = track_persist(copurchase_edges(lineitem))
    # checkpoint the node list once (OPTIMIZATION r12): every round's
    # teleport join references `nodes` (and `nn` re-aggregates it) — as
    # a lazy distinct it was re-planned and re-executed inside every
    # round's checkpoint job; as a checkpointed leaf it is read back.
    nodes = (
        edges_od.select(F.col("src").alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nn = F.broadcast(nodes.agg(F.count("*").alias("n")))
    r = nodes.join(nn).select(
        "node", F.expr(f"CAST({PR_SCALE} AS BIGINT) div n").alias("r")
    )
    for _i in range(iters):
        contrib = (
            edges_od.join(r.withColumnRenamed("node", "src"), "src")
            .select("dst", F.expr("r div od").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        r = nodes.join(contrib.withColumnRenamed("dst", "node"), "node", "left").join(
            nn
        ).select(
            "node",
            F.expr(
                f"CAST(15 * {PR_SCALE} AS BIGINT) div (100 * n)"
                f" + (85 * coalesce(s, CAST(0 AS BIGINT))) div 100"
            ).alias("r"),
        )
        # every-1 checkpoint cadence KEPT (OPTIMIZATION r12 measured
        # dead end: an every-2 cadence re-ran the nodes/nn subtrees
        # inside the deeper rounds and measured RELATIVELY slower
        # against the unchanged graph_hits control — 0.84× baseline
        # ratio → 1.00×; reverted same session)
        r = r.localCheckpoint(eager=True)
    return (
        r.orderBy(F.desc("r"), F.asc("node"))
        .limit(top)
        .select(
            F.col("node").alias("p_partkey"),
            F.col("r").alias("rank_micro"),
            F.round(F.col("r").cast("double") / PR_SCALE, 9).alias("rank_share"),
        )
    )


def _pagerank_sql(iters: int = PR_ITERS, top: int = PR_TOP) -> str:
    """DuckDB twin: the same integer rounds unrolled as chained CTEs
    (recursive CTEs disallow aggregation in the recursive term, and
    the iteration count is fixed anyway)."""
    rounds = []
    prev = "r0"
    for i in range(1, iters + 1):
        rounds.append(f"""r{i} AS (
  SELECT n.node,
         (15 * CAST({PR_SCALE} AS BIGINT)) // (100 * (SELECT COUNT(*) FROM nodes))
         + (85 * COALESCE(s.s, 0)) // 100 AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, SUM({prev}.r // o.od) AS s
    FROM edges e
    JOIN {prev} ON {prev}.node = e.src
    JOIN outdeg o ON o.src = e.src
    GROUP BY e.dst
  ) s ON s.node = n.node
)""")
        prev = f"r{i}"
    rounds_sql = ",\n".join(rounds)
    return f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
outdeg AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY src),
r0 AS (
  SELECT node,
         CAST({PR_SCALE} AS BIGINT) // (SELECT COUNT(*) FROM nodes) AS r
  FROM nodes
),
{rounds_sql}
SELECT node AS p_partkey,
       CAST(r AS BIGINT) AS rank_micro,
       ROUND(CAST(r AS DOUBLE) / {PR_SCALE}, 9) AS rank_share
FROM {prev}
ORDER BY r DESC, node ASC
LIMIT {top}
""".strip()


ITEM_PAGERANK_SQL = _pagerank_sql()


# --- HITS hubs/authorities on the customer->part bipartite graph ------------

# Integer fixed-point scale for HITS scores. Overflow bound: each
# normalization computes SUM(score) * SCALE with SUM(score over one
# side's raw totals) <= SCALE * max_degree, so SCALE^2 * max_degree
# must stay under 2^63 — SCALE=10^7 tolerates max_degree ~9e4; at a
# 100 TB graph you'd drop SCALE a decade per degree decade (the knob
# is exactness-preserving: both engines move together).
HITS_SCALE = 10**7
HITS_ITERS = 6
HITS_TOP = 25


def graph_hits(
    orders: DataFrame,
    lineitem: DataFrame,
    iters: int = HITS_ITERS,
    top: int = HITS_TOP,
) -> DataFrame:
    """HITS (Kleinberg) on the bipartite customer->part purchase graph
    in EXACT INTEGER arithmetic: a part's authority is the (normalized)
    sum of its buyers' hub scores, a customer's hub score the sum of
    their parts' authorities — "authoritative parts" are the ones
    well-connected customers converge on, a different centrality from
    PageRank's random walk (co-purchase adjacency) or raw volume (ABC).
    Every round L1-normalizes both sides back to ``HITS_SCALE`` with
    integer division only, so the fixed-iteration result is bit-exact
    and the DuckDB twin (same rounds unrolled as MATERIALIZED CTEs)
    hash-matches. Returns the top ``top`` parts by authority and top
    ``top`` customers by hub score, tagged by ``node_type``.

    Scale: per round two (edges ⋈ score-vector) joins keyed on the
    bipartite sides plus two grouped sums — O(|edges|) intermediates,
    the standard data-parallel HITS shape; the edge list persists once
    and each round localCheckpoints so the plan stays one-round deep
    (same discipline as ``item_pagerank``). Normalization totals are
    1-row broadcasts, never a driver collect."""
    from ..session import track_persist

    edges = (
        lineitem.select("l_orderkey", "l_partkey")
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
    )
    # TWO co-partitioned persisted copies of the edge list — one per
    # join side. The authority update joins on cust, the hub update on
    # part; with a single copy the off-key join re-shuffles the (large)
    # edge list EVERY round (measured: 11.0 s → ~6 s at sf0.1). The
    # score vectors are the only per-round shuffles, and they are
    # node-sized, not edge-sized — the distributed-HITS shape that
    # holds at 100 TB, where the edge table is the thing you cannot
    # afford to move 2×iters times.
    edges_c = track_persist(edges.repartition("cust"))
    edges_p = track_persist(edges_c.repartition("part"))
    # Customer degrees, checkpointed once (OPTIMIZATION r13, VERDICT
    # item 3): the authority normalization total obeys the exact
    # integer identity Σ_p a_raw(p) = Σ_{(c,p)∈E} h(c) = Σ_c deg(c)·h(c)
    # — the same bigint terms regrouped, so the total is bit-equal —
    # which lets each round compute ta from the NODE-sized h vector
    # instead of aggregating a materialized a_raw. a_raw then has a
    # single consumer and needs no checkpoint: one checkpoint job per
    # round (the r12 graph_hits probe put the key at ~2 jobs × iters of
    # mostly per-job orchestration). The r6 lesson still holds — the
    # edge-join subtree appears exactly ONCE per round's plan; the
    # total just comes from degrees now. Overflow: Σ_c deg(c)·h(c) is
    # the same quantity the old SUM(a_raw) computed, inside the
    # HITS_SCALE envelope documented above.
    degc = (
        edges_c.groupBy("cust")
        .agg(F.count("*").cast("bigint").alias("dc"))
        .localCheckpoint(eager=True)
    )
    # the degree table doubles as the distinct-customer list, so the
    # h₀ initializer is a degc projection — no separate edge-sized
    # DISTINCT re-executing inside round 0's plan
    custs = degc.select("cust")
    nc = F.broadcast(degc.agg(F.count("*").alias("n")))
    h = custs.join(nc).select(
        "cust", F.expr(f"CAST({HITS_SCALE} AS BIGINT) div n").alias("h")
    )
    a = None
    for _i in range(iters):
        ta = F.broadcast(
            h.join(degc, "cust").agg(F.sum(F.col("h") * F.col("dc")).alias("t"))
        )
        a = (
            edges_c.join(h, "cust")
            .groupBy("part")
            .agg(F.sum("h").alias("a_raw"))
            .join(ta)
            .select(
                "part",
                F.expr(f"(a_raw * CAST({HITS_SCALE} AS BIGINT)) div t").alias(
                    "a"
                ),
            )
        )
        if _i == iters - 1:
            # the final authority vector feeds BOTH the last hub update
            # and the top-parts output — materialize it once
            a = a.localCheckpoint(eager=True)
        h_raw = (
            edges_p.join(a, "part")
            .groupBy("cust")
            .agg(F.sum("a").alias("h_raw"))
            .localCheckpoint(eager=True)
        )
        th = F.broadcast(h_raw.agg(F.sum("h_raw").alias("t")))
        h = h_raw.join(th).select(
            "cust",
            F.expr(f"(h_raw * CAST({HITS_SCALE} AS BIGINT)) div t").alias("h"),
        )
    top_parts = (
        a.orderBy(F.desc("a"), F.asc("part"))
        .limit(top)
        .select(
            F.lit("part").alias("node_type"),
            F.col("part").alias("node_id"),
            F.col("a").alias("score_units"),
        )
    )
    top_custs = (
        h.orderBy(F.desc("h"), F.asc("cust"))
        .limit(top)
        .select(
            F.lit("customer").alias("node_type"),
            F.col("cust").alias("node_id"),
            F.col("h").alias("score_units"),
        )
    )
    return (
        top_parts.unionAll(top_custs)
        .withColumn(
            "score_share",
            F.round(F.col("score_units").cast("double") / HITS_SCALE, 9),
        )
        .orderBy("node_type", F.desc("score_units"), F.asc("node_id"))
    )


def _hits_sql(iters: int = HITS_ITERS, top: int = HITS_TOP) -> str:
    """DuckDB twin: the same integer rounds unrolled as MATERIALIZED
    CTEs (each score vector is referenced twice — once by the next
    round, once by the normalization total — and a plain CTE would
    inline 2^n copies; see the iterative-oracle lesson in SURVEY §8)."""
    s = HITS_SCALE
    rounds = []
    prev_h = "h0"
    for i in range(1, iters + 1):
        rounds.append(f"""araw{i} AS MATERIALIZED (
  SELECT e.part, SUM({prev_h}.h) AS a_raw
  FROM edges e JOIN {prev_h} ON {prev_h}.cust = e.cust
  GROUP BY e.part
),
a{i} AS MATERIALIZED (
  SELECT part,
         CAST((a_raw * CAST({s} AS BIGINT))
              // (SELECT SUM(a_raw) FROM araw{i}) AS BIGINT) AS a
  FROM araw{i}
),
hraw{i} AS MATERIALIZED (
  SELECT e.cust, SUM(a{i}.a) AS h_raw
  FROM edges e JOIN a{i} ON a{i}.part = e.part
  GROUP BY e.cust
),
h{i} AS MATERIALIZED (
  SELECT cust,
         CAST((h_raw * CAST({s} AS BIGINT))
              // (SELECT SUM(h_raw) FROM hraw{i}) AS BIGINT) AS h
  FROM hraw{i}
)""")
        prev_h = f"h{i}"
    rounds_sql = ",\n".join(rounds)
    return f"""
WITH edges AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS cust, l_partkey AS part
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
h0 AS MATERIALIZED (
  SELECT cust,
         CAST({s} AS BIGINT) // (SELECT COUNT(DISTINCT cust) FROM edges) AS h
  FROM (SELECT DISTINCT cust FROM edges)
),
{rounds_sql},
topparts AS (
  SELECT 'part' AS node_type, part AS node_id, a AS score_units
  FROM a{iters} ORDER BY a DESC, part ASC LIMIT {top}
),
topcusts AS (
  SELECT 'customer' AS node_type, cust AS node_id, h AS score_units
  FROM {prev_h} ORDER BY h DESC, cust ASC LIMIT {top}
)
SELECT node_type, node_id, CAST(score_units AS BIGINT) AS score_units,
       ROUND(CAST(score_units AS DOUBLE) / {s}, 9) AS score_share
FROM (SELECT * FROM topparts UNION ALL SELECT * FROM topcusts)
ORDER BY node_type, score_units DESC, node_id ASC
""".strip()


GRAPH_HITS_SQL = _hits_sql()


# --- item-item similarity (co-purchase Jaccard top-k) -----------------------

ITEM_SIM_TOP_K = 3
ITEM_SIM_MIN_CO = 2


def item_similarity(
    lineitem: DataFrame,
    top_k: int = ITEM_SIM_TOP_K,
    min_co: int = ITEM_SIM_MIN_CO,
) -> DataFrame:
    """Item-item collaborative-filtering table: for every part, its
    ``top_k`` nearest neighbors by ORDER-SET Jaccard (co-orders /
    union of order sets), neighbors below ``min_co`` co-orders pruned —
    the precomputed "customers also bought" serving table, the
    recommendation-side reading of the same basket self-join that
    ``market_basket_pairs`` scores by lift.

    Scale: pair generation co-partitions on l_orderkey (fan-out ≤
    basket², never corpus-quadratic), the ``min_co`` prune drops the
    long tail of coincidental 1-co-order pairs BEFORE the ranking
    shuffle, marginals broadcast back, and top-k is a per-item
    PARTITIONED window. Ties break (jaccard desc, co desc, neighbor id)
    so the k-cut is deterministic in both engines."""
    items = (
        lineitem.select("l_orderkey", "l_partkey")
        .dropDuplicates(["l_orderkey", "l_partkey"])
        .repartition("l_orderkey")
    )
    a, b = items.alias("a"), items.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .agg(F.count("*").cast("bigint").alias("co"))
        .filter(F.col("co") >= min_co)
    )
    marg = items.groupBy("l_partkey").agg(F.count("*").cast("bigint").alias("n"))
    sim = (
        co.join(
            F.broadcast(marg.select(F.col("l_partkey").alias("src"), F.col("n").alias("n_src"))),
            "src",
        )
        .join(
            F.broadcast(marg.select(F.col("l_partkey").alias("dst"), F.col("n").alias("n_dst"))),
            "dst",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("co") / (F.col("n_src") + F.col("n_dst") - F.col("co")).cast("double"),
                6,
            ),
        )
    )
    w = Window.partitionBy("src").orderBy(
        F.desc("jaccard"), F.desc("co"), F.asc("dst")
    )
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            F.col("src").alias("p_partkey"),
            F.col("rank").cast("int").alias("rank"),
            F.col("dst").alias("neighbor_partkey"),
            F.col("co").alias("co_orders"),
            "jaccard",
        )
        .orderBy("p_partkey", "rank")
    )


ITEM_SIMILARITY_SQL = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
co AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst,
         CAST(COUNT(*) AS BIGINT) AS co
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {ITEM_SIM_MIN_CO}
),
marg AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n FROM items GROUP BY 1
),
sim AS (
  SELECT co.src, co.dst, co.co,
         ROUND(co.co / CAST(ms.n + md.n - co.co AS DOUBLE), 6) AS jaccard
  FROM co
  JOIN marg ms ON co.src = ms.l_partkey
  JOIN marg md ON co.dst = md.l_partkey
),
ranked AS (
  SELECT src, dst, co, jaccard,
         ROW_NUMBER() OVER (PARTITION BY src
                            ORDER BY jaccard DESC, co DESC, dst) AS rank
  FROM sim
)
SELECT src AS p_partkey, CAST(rank AS INT) AS rank,
       dst AS neighbor_partkey, co AS co_orders, jaccard
FROM ranked
WHERE rank <= {ITEM_SIM_TOP_K}
ORDER BY p_partkey, rank
""".strip()


# --- reorder cadence: per-customer inter-order gap statistics ---------------

REORDER_MIN_GAPS = 2  # customers with >= 3 orders (2 gaps) get a cadence row


def reorder_intervals(orders: DataFrame) -> DataFrame:
    """Per-customer reorder cadence: the gaps between consecutive
    orders (lag window per customer), summarized as mean / min / max /
    std / coefficient-of-variation in days — the replenishment
    regularity signal behind reorder-point forecasting (a low CV means
    schedulable demand, a high CV means opportunistic). Gaps are
    integer EPOCH SECONDS and the moments accumulate as integer sums
    (Σg, Σg²), so aggregation order cannot perturb the doubles and the
    oracle hash-matches; the σ²·86400² rescale happens once at the end.

    Scale: one shuffle on o_custkey for the lag window, then a hash
    aggregation keyed the same way (AQE reuses the partitioning); all
    state is per-customer bounded."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.select("o_custkey", "o_orderdate", "o_orderkey")
        .withColumn("prev_ts", F.lag("o_orderdate").over(w))
        .filter(F.col("prev_ts").isNotNull())
        .select(
            "o_custkey",
            (
                F.col("o_orderdate").cast("long") - F.col("prev_ts").cast("long")
            ).alias("gap_s"),
        )
    )
    per = (
        gaps.groupBy("o_custkey")
        .agg(
            F.count("*").cast("bigint").alias("n_gaps"),
            F.sum("gap_s").alias("s"),
            F.sum(F.col("gap_s") * F.col("gap_s")).alias("ss"),
            F.min("gap_s").alias("mn"),
            F.max("gap_s").alias("mx"),
        )
        .filter(F.col("n_gaps") >= REORDER_MIN_GAPS)
    )
    n = F.col("n_gaps").cast("double")
    var_s = (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s").cast("double") / n) / (n - F.lit(1.0))
    avg_days = F.col("s").cast("double") / n / F.lit(86400.0)
    std_days = F.sqrt(F.greatest(var_s, F.lit(0.0))) / F.lit(86400.0)
    return per.select(
        "o_custkey",
        (F.col("n_gaps") + F.lit(1)).alias("n_orders"),
        F.round(avg_days, 6).alias("avg_gap_days"),
        F.round(F.col("mn").cast("double") / F.lit(86400.0), 6).alias("min_gap_days"),
        F.round(F.col("mx").cast("double") / F.lit(86400.0), 6).alias("max_gap_days"),
        F.round(std_days, 6).alias("std_gap_days"),
        F.round(std_days / F.nullif(avg_days, F.lit(0.0)), 6).alias("cv_gap"),
    ).orderBy("o_custkey")


REORDER_INTERVALS_SQL = f"""
WITH gaps AS (
  SELECT o_custkey,
         epoch(o_orderdate) - epoch(LAG(o_orderdate) OVER w) AS gap_s
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
per AS (
  SELECT o_custkey,
         CAST(COUNT(*) AS BIGINT) AS n_gaps,
         CAST(SUM(gap_s) AS BIGINT) AS s,
         CAST(SUM(gap_s * gap_s) AS BIGINT) AS ss,
         MIN(gap_s) AS mn, MAX(gap_s) AS mx
  FROM gaps WHERE gap_s IS NOT NULL
  GROUP BY 1
)
SELECT o_custkey,
       n_gaps + 1 AS n_orders,
       ROUND(CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE) / 86400.0, 6) AS avg_gap_days,
       ROUND(CAST(mn AS DOUBLE) / 86400.0, 6) AS min_gap_days,
       ROUND(CAST(mx AS DOUBLE) / 86400.0, 6) AS max_gap_days,
       ROUND(SQRT(GREATEST((CAST(ss AS DOUBLE)
                            - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                           / (CAST(n_gaps AS DOUBLE) - 1.0), 0.0)) / 86400.0, 6)
         AS std_gap_days,
       ROUND((SQRT(GREATEST((CAST(ss AS DOUBLE)
                             - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                            / (CAST(n_gaps AS DOUBLE) - 1.0), 0.0)) / 86400.0)
             / NULLIF(CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE) / 86400.0, 0.0), 6)
         AS cv_gap
FROM per
WHERE n_gaps >= {REORDER_MIN_GAPS}
ORDER BY o_custkey
""".strip()


# --- A/B experiment readout: SRM guard + Welch lift -------------------------

AB_SPLIT_HEX = "8"  # md5 first hex nibble < '8' -> arm A (50/50 design)
AB_SRM_CHI2_CRIT = 3.841  # chi-square 1-dof at alpha = 0.05


def ab_test_srm(events: DataFrame) -> DataFrame:
    """One-row A/B experiment readout over a DETERMINISTIC md5
    assignment (first hex nibble of md5(user_id) — the hash-bucketing
    every experimentation platform uses, reproducible in ANSI SQL):
    per-arm user/event counts, the sample-ratio-mismatch chi² against
    the 50/50 design (the guardrail that invalidates a run before
    anyone reads the lift), per-arm mean event value from exact
    DECIMAL sums, the relative lift, and the Welch z on the
    per-event means. Moments accumulate as DECIMAL (order-independent),
    so both engines agree bit-for-bit.

    Scale: one scan, one conditional-aggregate pass (plus the exact
    two-stage distinct-user count per arm); no joins."""
    arm_a = F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < AB_SPLIT_HEX
    v = F.col("value").cast("decimal(18,2)")
    v2 = (F.col("value").cast("decimal(18,2)") * F.col("value").cast("decimal(18,2)")).cast(
        "decimal(38,4)"
    )
    per_user = events.select(
        arm_a.alias("is_a"), "user_id", v.alias("v"), v2.alias("v2")
    )
    users = (
        per_user.select("is_a", "user_id")
        .distinct()
        .groupBy()
        .agg(
            F.count(F.when(F.col("is_a"), 1)).cast("bigint").alias("n_users_a"),
            F.count(F.when(~F.col("is_a"), 1)).cast("bigint").alias("n_users_b"),
        )
    )
    agg = per_user.groupBy().agg(
        F.count(F.when(F.col("is_a"), 1)).cast("bigint").alias("n_a"),
        F.count(F.when(~F.col("is_a"), 1)).cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("is_a"), F.col("v"))).alias("s_a"),
        F.sum(F.when(~F.col("is_a"), F.col("v"))).alias("s_b"),
        F.sum(F.when(F.col("is_a"), F.col("v2"))).alias("ss_a"),
        F.sum(F.when(~F.col("is_a"), F.col("v2"))).alias("ss_b"),
    )
    j = users.crossJoin(agg)
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    sa, sb = F.col("s_a").cast("double"), F.col("s_b").cast("double")
    ssa, ssb = F.col("ss_a").cast("double"), F.col("ss_b").cast("double")
    mean_a, mean_b = sa / na, sb / nb
    var_a = (ssa - sa * sa / na) / (na - F.lit(1.0))
    var_b = (ssb - sb * sb / nb) / (nb - F.lit(1.0))
    ua, ub = F.col("n_users_a").cast("double"), F.col("n_users_b").cast("double")
    srm = (ua - ub) * (ua - ub) / (ua + ub)
    welch = (mean_a - mean_b) / F.sqrt(var_a / na + var_b / nb)
    return j.select(
        "n_users_a",
        "n_users_b",
        "n_a",
        "n_b",
        F.round(srm, 6).alias("srm_chi2"),
        (srm < AB_SRM_CHI2_CRIT).alias("srm_pass"),
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.round((mean_a - mean_b) / F.nullif(mean_b, F.lit(0.0)), 6).alias("lift"),
        F.round(welch, 6).alias("welch_z"),
    )


AB_TEST_SRM_SQL = f"""
WITH tagged AS (
  SELECT substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '{AB_SPLIT_HEX}' AS is_a,
         user_id,
         CAST(value AS DECIMAL(18,2)) AS v,
         CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))
              AS DECIMAL(38,4)) AS v2
  FROM events
),
users AS (
  SELECT CAST(COUNT(CASE WHEN is_a THEN 1 END) AS BIGINT) AS n_users_a,
         CAST(COUNT(CASE WHEN NOT is_a THEN 1 END) AS BIGINT) AS n_users_b
  FROM (SELECT DISTINCT is_a, user_id FROM tagged)
),
agg AS (
  SELECT CAST(COUNT(CASE WHEN is_a THEN 1 END) AS BIGINT) AS n_a,
         CAST(COUNT(CASE WHEN NOT is_a THEN 1 END) AS BIGINT) AS n_b,
         SUM(CASE WHEN is_a THEN v END) AS s_a,
         SUM(CASE WHEN NOT is_a THEN v END) AS s_b,
         SUM(CASE WHEN is_a THEN v2 END) AS ss_a,
         SUM(CASE WHEN NOT is_a THEN v2 END) AS ss_b
  FROM tagged
)
SELECT n_users_a, n_users_b, n_a, n_b,
       ROUND((CAST(n_users_a AS DOUBLE) - CAST(n_users_b AS DOUBLE))
             * (CAST(n_users_a AS DOUBLE) - CAST(n_users_b AS DOUBLE))
             / (CAST(n_users_a AS DOUBLE) + CAST(n_users_b AS DOUBLE)), 6) AS srm_chi2,
       ((CAST(n_users_a AS DOUBLE) - CAST(n_users_b AS DOUBLE))
        * (CAST(n_users_a AS DOUBLE) - CAST(n_users_b AS DOUBLE))
        / (CAST(n_users_a AS DOUBLE) + CAST(n_users_b AS DOUBLE))
        < {AB_SRM_CHI2_CRIT}) AS srm_pass,
       ROUND(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS mean_a,
       ROUND(CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS mean_b,
       ROUND((CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
              - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
             / NULLIF(CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE), 0.0), 6) AS lift,
       ROUND((CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
              - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
             / SQRT(((CAST(ss_a AS DOUBLE)
                      - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE))
                     / (CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE)
                    + ((CAST(ss_b AS DOUBLE)
                        - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                       / (CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE)), 6) AS welch_z
FROM users CROSS JOIN agg
""".strip()


# --- monthly seasonal index over order revenue ------------------------------


def seasonal_index(orders: DataFrame) -> DataFrame:
    """Classical monthly seasonal index over order revenue: each
    calendar month's average monthly total divided by the grand average
    monthly total — the multiplicative seasonality table a demand
    forecast multiplies into its trend (events_stl_decompose is the
    additive per-day twin on the event stream; this is the planning
    calendar on the order book). All totals accumulate as DECIMAL; the
    index is one fixed-association double division, so the oracle
    hash-matches.

    Scale: one aggregation to (year, month) totals — at most a few
    hundred groups regardless of corpus size — then a 12-group
    average; everything after the first agg is constant-sized."""
    ym = orders.groupBy(
        F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("tot"))
    per_month = ym.groupBy("mo").agg(
        F.count("*").cast("bigint").alias("n_years"),
        F.sum("tot").alias("mo_sum"),
    )
    grand = F.broadcast(
        ym.agg(
            F.sum("tot").alias("g_sum"), F.count("*").cast("bigint").alias("g_n")
        )
    )
    mo_avg = F.col("mo_sum").cast("double") / F.col("n_years").cast("double")
    g_avg = F.col("g_sum").cast("double") / F.col("g_n").cast("double")
    return (
        per_month.join(grand)
        .select(
            "mo",
            "n_years",
            F.round(mo_avg, 6).alias("avg_month_revenue"),
            F.round(mo_avg / g_avg, 6).alias("seasonal_index"),
        )
        .orderBy("mo")
    )


SEASONAL_INDEX_SQL = """
WITH ym AS (
  SELECT EXTRACT(year FROM o_orderdate) AS yr, EXTRACT(month FROM o_orderdate) AS mo,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS tot
  FROM orders GROUP BY 1, 2
),
per_month AS (
  SELECT mo, CAST(COUNT(*) AS BIGINT) AS n_years, SUM(tot) AS mo_sum
  FROM ym GROUP BY mo
),
grand AS (
  SELECT SUM(tot) AS g_sum, CAST(COUNT(*) AS BIGINT) AS g_n FROM ym
)
SELECT CAST(mo AS INT) AS mo, n_years,
       ROUND(CAST(mo_sum AS DOUBLE) / CAST(n_years AS DOUBLE), 6) AS avg_month_revenue,
       ROUND((CAST(mo_sum AS DOUBLE) / CAST(n_years AS DOUBLE))
             / (CAST(g_sum AS DOUBLE) / CAST(g_n AS DOUBLE)), 6) AS seasonal_index
FROM per_month CROSS JOIN grand
ORDER BY mo
""".strip()


# --- experiment power / sample-size panel -----------------------------------

POWER_Z_ALPHA = 1.959964  # two-sided alpha 0.05
POWER_Z_BETA = 0.841621  # power 0.80
POWER_MDE_FRACS = [0.01, 0.02, 0.05, 0.10]


def power_analysis(events: DataFrame) -> DataFrame:
    """Experiment sizing panel from the observed metric distribution:
    for each minimum-detectable-effect (1/2/5/10% of the mean), the
    per-arm sample size n = 2(z_α/2+z_β)²σ²/δ² at α=0.05, power 0.80 —
    the "how long must this A/B run" table ``events_ab_test_srm``'s
    readout presumes. Moments from exact DECIMAL sums; each row is one
    fixed-association double expression.

    Scale: one conditional-aggregate scan; the 4-row MDE grid is a
    literal inline table."""
    v = F.col("value").cast("decimal(18,2)")
    v2 = (v * v).cast("decimal(38,4)")
    agg = events.groupBy().agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(v).alias("s"),
        F.sum(v2).alias("ss"),
    )
    grid = None
    for frac in POWER_MDE_FRACS:
        row = agg.select(F.lit(frac).alias("mde_frac"), "n", "s", "ss")
        grid = row if grid is None else grid.unionAll(row)
    nn = F.col("n").cast("double")
    mean = F.col("s").cast("double") / nn
    var = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / nn
    ) / (nn - F.lit(1.0))
    z2 = (POWER_Z_ALPHA + POWER_Z_BETA) ** 2
    delta = F.col("mde_frac") * mean
    n_req = F.lit(2.0) * F.lit(z2) * var / (delta * delta)
    return grid.select(
        "mde_frac",
        F.round(mean, 6).alias("metric_mean"),
        F.round(var, 6).alias("metric_var"),
        F.ceil(n_req).cast("bigint").alias("n_per_arm"),
    ).orderBy("mde_frac")


POWER_ANALYSIS_SQL = f"""
WITH agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(value AS DECIMAL(18,2))) AS s,
         SUM(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))
                  AS DECIMAL(38,4))) AS ss
  FROM events
),
grid AS (SELECT unnest([{", ".join(str(f) for f in POWER_MDE_FRACS)}]) AS mde_frac)
SELECT g.mde_frac,
       ROUND(CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE), 6) AS metric_mean,
       ROUND((CAST(a.ss AS DOUBLE)
              - CAST(a.s AS DOUBLE) * CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE))
             / (CAST(a.n AS DOUBLE) - 1.0), 6) AS metric_var,
       CAST(CEIL(2.0 * {(POWER_Z_ALPHA + POWER_Z_BETA) ** 2}
                 * ((CAST(a.ss AS DOUBLE)
                     - CAST(a.s AS DOUBLE) * CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE))
                    / (CAST(a.n AS DOUBLE) - 1.0))
                 / ((g.mde_frac * (CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)))
                    * (g.mde_frac * (CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)))))
            AS BIGINT) AS n_per_arm
FROM grid g CROSS JOIN agg a
ORDER BY g.mde_frac
""".strip()


def cuped_adjustment(events: DataFrame) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data) readout:
    the variance-reduction companion to ``events_ab_test_srm`` /
    ``events_power_analysis``. The event span is cut at its midpoint:
    each user's PRE-period spend is the covariate X, their
    experiment-period spend the metric Y; θ = cov(X,Y)/var(X) from the
    pooled user panel, and each arm's adjusted mean is
    mean(Y_arm) − θ·(mean(X_arm) − mean(X)). The panel also reports the
    variance-reduction fraction r² = cov²/(var X·var Y) — the % of
    metric variance the covariate removes, i.e. how much shorter the
    experiment can run. Deterministic md5 arm assignment (same nibble
    rule as the SRM key); all moments accumulate as exact DECIMALs, so
    θ and the adjusted means agree bit-for-bit across engines.

    Scale: one scan for the 1-row midpoint scalar (broadcast), one
    user-keyed aggregation (the only shuffle), then a single-row moment
    aggregate — no joins on the big table."""
    stats = events.agg(
        F.expr("(unix_timestamp(min(ts)) + unix_timestamp(max(ts))) DIV 2").alias(
            "mid_s"
        )
    )
    v = F.col("value").cast("decimal(18,2)")
    pre = F.unix_timestamp("ts") <= F.col("mid_s")
    pu = (
        events.crossJoin(F.broadcast(stats))
        .groupBy("user_id")
        .agg(
            F.coalesce(F.sum(F.when(pre, v)), F.lit(0))
            .cast("decimal(18,2)")
            .alias("x"),
            F.coalesce(F.sum(F.when(~pre, v)), F.lit(0))
            .cast("decimal(18,2)")
            .alias("y"),
        )
        .select(
            (
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)
                < AB_SPLIT_HEX
            ).alias("is_a"),
            "x",
            "y",
            (F.col("x") * F.col("x")).cast("decimal(38,4)").alias("xx"),
            (F.col("x") * F.col("y")).cast("decimal(38,4)").alias("xy"),
            (F.col("y") * F.col("y")).cast("decimal(38,4)").alias("yy"),
        )
    )
    m = pu.groupBy().agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("xx").alias("sxx"),
        F.sum("xy").alias("sxy"),
        F.sum("yy").alias("syy"),
        F.count(F.when(F.col("is_a"), 1)).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("is_a"), F.col("x"))).alias("sx_a"),
        F.sum(F.when(F.col("is_a"), F.col("y"))).alias("sy_a"),
        F.count(F.when(~F.col("is_a"), 1)).cast("bigint").alias("n_b"),
        F.sum(F.when(~F.col("is_a"), F.col("x"))).alias("sx_b"),
        F.sum(F.when(~F.col("is_a"), F.col("y"))).alias("sy_b"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    cov = F.col("sxy").cast("double") - sx * sy / n
    var_x = F.col("sxx").cast("double") - sx * sx / n
    var_y = F.col("syy").cast("double") - sy * sy / n
    theta = cov / F.nullif(var_x, F.lit(0.0))
    # keep the exact association order of the SQL twin (100*cov*cov/den)
    r2_pct = F.lit(100.0) * cov * cov / F.nullif(var_x * var_y, F.lit(0.0))
    mean_x = sx / n
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ya = F.col("sy_a").cast("double") / na
    yb = F.col("sy_b").cast("double") / nb
    ya_adj = ya - theta * (F.col("sx_a").cast("double") / na - mean_x)
    yb_adj = yb - theta * (F.col("sx_b").cast("double") / nb - mean_x)
    return m.select(
        "n",
        "n_a",
        "n_b",
        F.round(theta, 6).alias("theta"),
        F.round(r2_pct, 6).alias("var_reduction_pct"),
        F.round(ya, 6).alias("mean_a_raw"),
        F.round(yb, 6).alias("mean_b_raw"),
        F.round((ya - yb) / F.nullif(yb, F.lit(0.0)), 6).alias("lift_raw"),
        F.round(ya_adj, 6).alias("mean_a_adj"),
        F.round(yb_adj, 6).alias("mean_b_adj"),
        F.round((ya_adj - yb_adj) / F.nullif(yb_adj, F.lit(0.0)), 6).alias(
            "lift_adj"
        ),
    )


CUPED_SQL = f"""
WITH stats AS (
  SELECT (CAST(floor(epoch(MIN(ts))) AS BIGINT)
          + CAST(floor(epoch(MAX(ts))) AS BIGINT)) // 2 AS mid_s
  FROM events
),
pu AS (
  SELECT user_id,
         CAST(COALESCE(SUM(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) <= mid_s
                                THEN CAST(value AS DECIMAL(18,2)) END), 0)
              AS DECIMAL(18,2)) AS x,
         CAST(COALESCE(SUM(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) > mid_s
                                THEN CAST(value AS DECIMAL(18,2)) END), 0)
              AS DECIMAL(18,2)) AS y
  FROM events, stats
  GROUP BY user_id, mid_s
),
tagged AS (
  SELECT substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '{AB_SPLIT_HEX}' AS is_a,
         x, y,
         CAST(x * x AS DECIMAL(38,4)) AS xx,
         CAST(x * y AS DECIMAL(38,4)) AS xy,
         CAST(y * y AS DECIMAL(38,4)) AS yy
  FROM pu
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(xx) AS sxx, SUM(xy) AS sxy, SUM(yy) AS syy,
         CAST(COUNT(CASE WHEN is_a THEN 1 END) AS BIGINT) AS n_a,
         SUM(CASE WHEN is_a THEN x END) AS sx_a,
         SUM(CASE WHEN is_a THEN y END) AS sy_a,
         CAST(COUNT(CASE WHEN NOT is_a THEN 1 END) AS BIGINT) AS n_b,
         SUM(CASE WHEN NOT is_a THEN x END) AS sx_b,
         SUM(CASE WHEN NOT is_a THEN y END) AS sy_b
  FROM tagged
),
d AS (
  SELECT n, n_a, n_b,
         CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS cov,
         CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS var_x,
         CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS var_y,
         CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_x,
         CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ya,
         CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS yb,
         CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS xa,
         CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS xb
  FROM m
),
t AS (
  SELECT *,
         cov / NULLIF(var_x, 0.0) AS theta,
         ya - (cov / NULLIF(var_x, 0.0)) * (xa - mean_x) AS ya_adj,
         yb - (cov / NULLIF(var_x, 0.0)) * (xb - mean_x) AS yb_adj
  FROM d
)
SELECT n, n_a, n_b,
       ROUND(theta, 6) AS theta,
       ROUND(100.0 * cov * cov / NULLIF(var_x * var_y, 0.0), 6) AS var_reduction_pct,
       ROUND(ya, 6) AS mean_a_raw,
       ROUND(yb, 6) AS mean_b_raw,
       ROUND((ya - yb) / NULLIF(yb, 0.0), 6) AS lift_raw,
       ROUND(ya_adj, 6) AS mean_a_adj,
       ROUND(yb_adj, 6) AS mean_b_adj,
       ROUND((ya_adj - yb_adj) / NULLIF(yb_adj, 0.0), 6) AS lift_adj
FROM t
""".strip()


# --- quantile sketch: bottom-k-by-hash sample vs exact -----------------------

QSK_QS = [0.25, 0.5, 0.9, 0.99]
QSK_SAMPLE = 1000  # bottom-k sample size (k smallest md5(event_id))


def quantile_sketch(events: DataFrame) -> DataFrame:
    """Mergeable quantile SKETCH with its error panel: a deterministic
    bottom-k sample (the k rows with the smallest md5(event_id) — the
    same KMV bottom-k structure ``events_kmv_distinct`` uses for
    cardinality, here reused as a uniform sample because a hash of a
    unique key is a uniform rank) estimates the per-type quantile grid,
    and each estimate is reported beside the exact percentile with its
    signed error. Bottom-k is the point at scale: Spark plans the
    sample as TakeOrderedAndProject (per-partition top-k + single
    merge, state O(k) per partition, trivially mergeable across
    executors/days), where the exact leg needs every group's values on
    one reducer. At 100 TB the exact leg is dropped and this panel IS
    the accuracy certificate for the sketch that remains.

    Fully deterministic (md5 total order, no ties on a unique key), so
    the oracle hash-matches — unlike GK/t-digest whose merge order is
    runtime-dependent."""
    qs_arr = F.array(*[F.lit(q) for q in QSK_QS])
    h = F.md5(F.col("event_id").cast("string"))
    sample = (
        events.select("event_type", "value", h.alias("h"))
        .orderBy("h")
        .limit(QSK_SAMPLE)
    )
    est = (
        sample.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_sample"),
            F.percentile(F.col("value"), qs_arr).alias("vals"),
        )
        .select(
            "event_type", "n_sample", F.posexplode("vals").alias("q_idx", "est")
        )
    )
    exact = (
        events.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.percentile(F.col("value"), qs_arr).alias("vals"),
        )
        .select("event_type", "n", F.posexplode("vals").alias("q_idx", "exact"))
    )
    return (
        exact.join(est, ["event_type", "q_idx"], "left")
        .select(
            "event_type",
            F.col("q_idx").cast("bigint").alias("q_idx"),
            F.element_at(qs_arr, F.col("q_idx").cast("int") + 1).alias("q"),
            "n",
            "n_sample",
            F.round("exact", 6).alias("exact_q"),
            F.round("est", 6).alias("sketch_q"),
            F.round(F.col("est") - F.col("exact"), 6).alias("err"),
        )
        .orderBy("event_type", "q_idx")
    )


QUANTILE_SKETCH_SQL = f"""
WITH sk AS (
  SELECT event_type, value
  FROM events ORDER BY md5(CAST(event_id AS VARCHAR)) LIMIT {QSK_SAMPLE}
),
est0 AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_sample,
         quantile_cont(value, {QSK_QS!r}) AS vals
  FROM sk GROUP BY 1
),
est AS (
  SELECT event_type, n_sample,
         generate_subscripts(vals, 1) - 1 AS q_idx,
         unnest(vals) AS est
  FROM est0
),
ex0 AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         quantile_cont(value, {QSK_QS!r}) AS vals
  FROM events GROUP BY 1
),
ex AS (
  SELECT event_type, n,
         generate_subscripts(vals, 1) - 1 AS q_idx,
         unnest(vals) AS exact
  FROM ex0
)
SELECT x.event_type,
       CAST(x.q_idx AS BIGINT) AS q_idx,
       ({QSK_QS!r})[CAST(x.q_idx + 1 AS INT)] AS q,
       x.n, e.n_sample,
       ROUND(x.exact, 6) AS exact_q,
       ROUND(e.est, 6) AS sketch_q,
       ROUND(e.est - x.exact, 6) AS err
FROM ex x LEFT JOIN est e
  ON e.event_type = x.event_type AND e.q_idx = x.q_idx
ORDER BY x.event_type, x.q_idx
""".strip()


# --- deterministic Poisson bootstrap CI --------------------------------------

BOOT_B = 32  # bootstrap replicates
# Poisson(1) inverse-CDF thresholds on an 8-BIT uniform, precomputed
# once in Python and interpolated into BOTH engines as integer
# literals, so no engine libm is involved at query time. One byte per
# replicate means TWO md5s per row cover all 32 replicates (16 bytes
# each) — measured 3x cheaper than one md5 per (row, replicate); the
# 1/256 quantization shifts each Poisson mass by < 0.2%, far inside
# bootstrap noise. Counts > 5 (probability ~0.4%) collapse into 5.
import math as _math  # noqa: E402

_BOOT_CUM = []
_acc = 0.0
for _k in range(5):
    _acc += _math.exp(-1.0) / _math.factorial(_k)
    _BOOT_CUM.append(int(_acc * 256.0))
del _acc, _k


def bootstrap_ci(events: DataFrame) -> DataFrame:
    """Per-type bootstrap confidence interval for the mean value via
    the DETERMINISTIC Poisson bootstrap — the resampling scheme that
    actually distributes (Chamandy et al., "Estimating Uncertainty for
    Massive Data Streams", Google 2012): instead of drawing n rows with
    replacement (which needs global coordination), each row enters
    replicate b with weight ~ Poisson(1), here derived from
    md5(event_id:b) through an exact integer inverse-CDF, so every
    engine and every re-run produces the identical resample. One
    map-side explode (×B), one (type, b) aggregation with exact DECIMAL
    sums, then the 32 replicate means yield the percentile CI and the
    bootstrap SE. Replicate means are rounded to 6 dp and re-cast to
    DECIMAL before the cross-replicate moments, keeping every
    accumulation order-independent.

    Scale: B multiplies map output, not shuffle width — partial
    aggregation collapses to |types|×B rows before the exchange; no
    state grows with n."""
    b_arr = F.sequence(F.lit(0), F.lit(BOOT_B - 1))
    v = F.col("value").cast("decimal(18,2)")
    # one md5 per 16 replicates: salt g = b DIV 16 picks the digest,
    # byte b % 16 of it is the replicate's 8-bit uniform
    h = lambda g: F.md5(  # noqa: E731
        F.concat_ws(":", F.col("event_id").cast("string"), F.lit(str(g)))
    )
    u = F.conv(
        F.substring(
            F.when(F.col("b") < 16, F.col("h0")).otherwise(F.col("h1")),
            (F.col("b") % 16) * 2 + 1,
            2,
        ),
        16,
        10,
    ).cast("bigint")
    w = (
        F.when(u < _BOOT_CUM[0], 0)
        .when(u < _BOOT_CUM[1], 1)
        .when(u < _BOOT_CUM[2], 2)
        .when(u < _BOOT_CUM[3], 3)
        .when(u < _BOOT_CUM[4], 4)
        .otherwise(5)
    )
    reps = (
        events.select(
            "event_type", v.alias("v"), h(0).alias("h0"), h(1).alias("h1")
        )
        .withColumn("b", F.explode(b_arr))
        .select("event_type", "b", w.alias("w"), "v")
        .groupBy("event_type", "b")
        .agg(
            F.sum("w").cast("bigint").alias("nw"),
            F.sum(F.col("v") * F.col("w")).alias("sw"),
        )
        .select(
            "event_type",
            F.round(F.col("sw").cast("double") / F.col("nw").cast("double"), 6)
            .cast("decimal(18,6)")
            .alias("m"),
        )
    )
    boot = reps.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_replicates"),
        F.sum("m").alias("sm"),
        F.sum((F.col("m") * F.col("m")).cast("decimal(38,12)")).alias("smm"),
        F.percentile(F.col("m").cast("double"), F.array(F.lit(0.025), F.lit(0.975)))
        .alias("ci"),
    )
    raw = events.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(v).alias("s"),
    )
    nb = F.col("n_replicates").cast("double")
    se = F.sqrt(
        F.greatest(
            (
                F.col("smm").cast("double")
                - F.col("sm").cast("double") * F.col("sm").cast("double") / nb
            )
            / (nb - F.lit(1.0)),
            F.lit(0.0),
        )
    )
    return (
        raw.join(boot, "event_type")
        .select(
            "event_type",
            "n_events",
            "n_replicates",
            F.round(F.col("s").cast("double") / F.col("n_events").cast("double"), 6)
            .alias("mean_value"),
            F.round(se, 6).alias("boot_se"),
            F.round(F.element_at("ci", 1), 6).alias("ci_lo"),
            F.round(F.element_at("ci", 2), 6).alias("ci_hi"),
        )
        .orderBy("event_type")
    )


BOOTSTRAP_CI_SQL = f"""
WITH reps0 AS (
  SELECT event_type, g.b,
         CASE WHEN u < {_BOOT_CUM[0]} THEN 0
              WHEN u < {_BOOT_CUM[1]} THEN 1
              WHEN u < {_BOOT_CUM[2]} THEN 2
              WHEN u < {_BOOT_CUM[3]} THEN 3
              WHEN u < {_BOOT_CUM[4]} THEN 4
              ELSE 5 END AS w,
         v
  FROM (
    SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v,
           md5(CAST(event_id AS VARCHAR) || ':0') AS h0,
           md5(CAST(event_id AS VARCHAR) || ':1') AS h1
    FROM events
  ) e
  CROSS JOIN (SELECT unnest(generate_series(0, {BOOT_B - 1})) AS b) g
  CROSS JOIN LATERAL (
    SELECT CAST('0x' || substr(CASE WHEN g.b < 16 THEN e.h0 ELSE e.h1 END,
                               CAST((g.b % 16) * 2 + 1 AS INT), 2)
                AS BIGINT) AS u
  ) h
),
agg AS (
  SELECT event_type, b,
         CAST(SUM(w) AS BIGINT) AS nw,
         SUM(v * w) AS sw
  FROM reps0 GROUP BY 1, 2
),
rm AS (
  SELECT event_type,
         CAST(ROUND(CAST(sw AS DOUBLE) / CAST(nw AS DOUBLE), 6) AS DECIMAL(18,6)) AS m
  FROM agg
),
boot AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_replicates,
         SUM(m) AS sm,
         SUM(CAST(m * m AS DECIMAL(38,12))) AS smm,
         quantile_cont(CAST(m AS DOUBLE), [0.025, 0.975]) AS ci
  FROM rm GROUP BY 1
),
raw AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
         SUM(CAST(value AS DECIMAL(18,2))) AS s
  FROM events GROUP BY 1
)
SELECT r.event_type, r.n_events, b.n_replicates,
       ROUND(CAST(r.s AS DOUBLE) / CAST(r.n_events AS DOUBLE), 6) AS mean_value,
       ROUND(SQRT(GREATEST((CAST(b.smm AS DOUBLE)
                            - CAST(b.sm AS DOUBLE) * CAST(b.sm AS DOUBLE)
                              / CAST(b.n_replicates AS DOUBLE))
                           / (CAST(b.n_replicates AS DOUBLE) - 1.0), 0.0)), 6)
         AS boot_se,
       ROUND(b.ci[1], 6) AS ci_lo,
       ROUND(b.ci[2], 6) AS ci_hi
FROM raw r JOIN boot b ON r.event_type = b.event_type
ORDER BY r.event_type
""".strip()


# --- Holt linear-trend forecast (exact unrolled recursion) --------------------

HOLT_K = 16  # window: the last K daily totals
HOLT_H = 7  # forecast horizon in days


def _holt_weight_table():
    """Unroll Holt's coupled level/trend recursion (alpha = beta = 1/2,
    init l_1 = d_1, b_1 = d_2 - d_1) over a fixed K-day window into
    EXACT dyadic-rational weights: l_K = Σ wl_j·d_j, b_K = Σ wb_j·d_j.
    Returned as integer numerators over a common power-of-two
    denominator, so both engines accumulate the series as exact
    integer×decimal products — no float recursion anywhere."""
    from fractions import Fraction

    k = HOLT_K
    l = [Fraction(0)] * k
    b = [Fraction(0)] * k
    l[0] = Fraction(1)
    b[0], b[1] = Fraction(-1), Fraction(1)
    for t in range(2, k + 1):
        nl = [(l[i] + b[i]) / 2 for i in range(k)]
        nl[t - 1] += Fraction(1, 2)
        nb = [(nl[i] - l[i]) / 2 + b[i] / 2 for i in range(k)]
        l, b = nl, nb
    den = 1
    for f in l + b:
        den = max(den, f.denominator)
    assert all(den % f.denominator == 0 for f in l + b)
    wl = [int(f * den) for f in l]
    wb = [int(f * den) for f in b]
    return den, list(zip(range(1, k + 1), wl, wb))


_HOLT_DEN, _HOLT_W = _holt_weight_table()


def holt_forecast(events: DataFrame) -> DataFrame:
    """Holt's linear-trend (double exponential smoothing) forecast of
    daily total value, h = 1..7 days ahead — the trend-aware upgrade of
    the SES family (``events_ewma_control`` smooths, this also carries
    slope). The sequential recursion l_t = αd_t + (1-α)(l_{t-1}+b_{t-1}),
    b_t = β(l_t-l_{t-1}) + (1-β)b_{t-1} is unrolled at α=β=1/2 over the
    last ``HOLT_K`` days into exact integer weights (``_holt_weight_table``),
    so the 'iterative' model is ONE weighted aggregation: daily cents ×
    integer numerators, summed as DECIMAL, divided once in doubles.
    Same discipline as ``part_croston_forecast`` — smoothing constants
    chosen dyadic make the whole state space exactly representable.

    Scale: one day-keyed aggregation, a K-row bounded tail
    (TakeOrdered), a 16-row broadcast weight join, one scalar rollup —
    history length never enters a shuffle."""
    from pyspark.sql import Window

    cents = F.sum(
        (F.col("value").cast("decimal(18,2)") * 100).cast("decimal(19,0)")
    ).alias("cents")
    daily = (
        events.groupBy(F.to_date("ts").alias("d"))
        .agg(cents)
        .orderBy(F.col("d").desc())
        .limit(HOLT_K)
    )
    rn = F.row_number().over(Window.orderBy("d"))
    ranked = daily.select("cents", rn.alias("rn"))
    spark = events.sparkSession
    weights = F.broadcast(
        spark.createDataFrame(_HOLT_W, "rn int, wl string, wb string").select(
            "rn",
            F.col("wl").cast("decimal(19,0)").alias("wl"),
            F.col("wb").cast("decimal(19,0)").alias("wb"),
        )
    )
    agg = (
        ranked.join(weights, "rn")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.sum(F.col("wl") * F.col("cents")).alias("sl"),
            F.sum(F.col("wb") * F.col("cents")).alias("sb"),
        )
        .filter(F.col("n_days") == HOLT_K)
    )
    level = F.col("sl").cast("double") / F.lit(float(_HOLT_DEN)) / F.lit(100.0)
    trend = F.col("sb").cast("double") / F.lit(float(_HOLT_DEN)) / F.lit(100.0)
    return (
        agg.select(
            F.explode(F.sequence(F.lit(1), F.lit(HOLT_H))).alias("h"),
            F.round(level, 6).alias("level"),
            F.round(trend, 6).alias("trend"),
            (level + trend * F.col("h")).alias("_f"),
        )
        .select(
            F.col("h").cast("bigint").alias("h"),
            "level",
            "trend",
            F.round(F.col("_f"), 6).alias("forecast"),
        )
        .orderBy("h")
    )


_HOLT_W_SQL = ", ".join(f"({rn}, {wl}, {wb})" for rn, wl, wb in _HOLT_W)

HOLT_FORECAST_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(19,0)))
              AS DECIMAL(19,0)) AS cents
  FROM events GROUP BY 1
  ORDER BY d DESC LIMIT {HOLT_K}
),
ranked AS (
  SELECT cents, ROW_NUMBER() OVER (ORDER BY d) AS rn FROM daily
),
weights(rn, wl, wb) AS (VALUES {_HOLT_W_SQL}),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
         SUM(CAST(wl AS DECIMAL(19,0)) * cents) AS sl,
         SUM(CAST(wb AS DECIMAL(19,0)) * cents) AS sb
  FROM ranked JOIN weights USING (rn)
),
lt AS (
  SELECT CAST(sl AS DOUBLE) / {float(_HOLT_DEN)} / 100.0 AS level,
         CAST(sb AS DOUBLE) / {float(_HOLT_DEN)} / 100.0 AS trend
  FROM agg WHERE n_days = {HOLT_K}
)
SELECT CAST(g.h AS BIGINT) AS h,
       ROUND(level, 6) AS level,
       ROUND(trend, 6) AS trend,
       ROUND(level + trend * g.h, 6) AS forecast
FROM lt CROSS JOIN (SELECT unnest(generate_series(1, {HOLT_H})) AS h) g
ORDER BY h
""".strip()


# --- customer value-segment migration matrix ----------------------------------

SEG_QS = [0.25, 0.5, 0.75]  # quartile boundaries per half


def segment_migration(orders: DataFrame) -> DataFrame:
    """Customer value-segment MIGRATION matrix: split the order window
    at its midpoint, quartile each customer's spend within each half
    (boundaries re-derived per half, so the segments are relative
    standings, not absolute bands), and count every (segment-then,
    segment-now) transition — segment 0 meaning absent (the churn
    column / new-customer row). The grid is zero-completed so the
    matrix shape is fixed at 5×5−1 regardless of data — the same
    structural-zero discipline as the chi² and confusion panels.
    This is the panel next to ``orders_customer_rfm``: RFM scores a
    snapshot, migration shows the flow between snapshots.

    Scale: one scan, one customer-keyed conditional aggregate (the
    only data-sized shuffle); quartile boundaries are 1-row scalars
    (exact percentile here, approx_percentile at 100 TB); the matrix
    is a ≤24-row rollup against a literal grid."""
    mid = orders.agg(
        F.expr(
            "(unix_timestamp(min(o_orderdate)) + unix_timestamp(max(o_orderdate)))"
            " DIV 2"
        ).alias("mid_s")
    )
    price = F.col("o_totalprice").cast("decimal(18,2)")
    in_h1 = F.unix_timestamp("o_orderdate") <= F.col("mid_s")
    per_cust = (
        orders.crossJoin(F.broadcast(mid))
        .groupBy("o_custkey")
        .agg(
            F.sum(F.when(in_h1, price)).alias("s1"),
            F.sum(F.when(~in_h1, price)).alias("s2"),
        )
    )
    qarr = F.array(*[F.lit(q) for q in SEG_QS])
    bounds = per_cust.agg(
        F.percentile(F.col("s1").cast("double"), qarr).alias("q1"),
        F.percentile(F.col("s2").cast("double"), qarr).alias("q2"),
    )

    def seg(col, q):
        v = F.col(col).cast("double")
        return (
            F.when(F.col(col).isNull(), 0)
            .when(v <= F.element_at(q, 1), 1)
            .when(v <= F.element_at(q, 2), 2)
            .when(v <= F.element_at(q, 3), 3)
            .otherwise(4)
        )

    tagged = per_cust.crossJoin(F.broadcast(bounds)).select(
        seg("s1", F.col("q1")).alias("seg_then"),
        seg("s2", F.col("q2")).alias("seg_now"),
    )
    from ..session import track_persist

    tagged = track_persist(tagged)  # two consumers: counts + total
    counts = tagged.groupBy("seg_then", "seg_now").agg(
        F.count("*").cast("bigint").alias("n_customers")
    )
    total = tagged.agg(F.count("*").cast("bigint").alias("t"))
    spark = orders.sparkSession
    grid = (
        spark.range(5)
        .select(F.col("id").cast("int").alias("seg_then"))
        .crossJoin(spark.range(5).select(F.col("id").cast("int").alias("seg_now")))
        .filter(~((F.col("seg_then") == 0) & (F.col("seg_now") == 0)))
    )
    return (
        grid.join(counts, ["seg_then", "seg_now"], "left")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("seg_then").cast("bigint").alias("seg_then"),
            F.col("seg_now").cast("bigint").alias("seg_now"),
            F.coalesce("n_customers", F.lit(0)).cast("bigint").alias("n_customers"),
            F.round(
                F.coalesce("n_customers", F.lit(0)).cast("double")
                / F.col("t").cast("double"),
                6,
            ).alias("share"),
        )
        .orderBy("seg_then", "seg_now")
    )


SEGMENT_MIGRATION_SQL = f"""
WITH mid AS (
  SELECT (CAST(floor(epoch(MIN(o_orderdate))) AS BIGINT)
          + CAST(floor(epoch(MAX(o_orderdate))) AS BIGINT)) // 2 AS mid_s
  FROM orders
),
per_cust AS (
  SELECT o_custkey,
         SUM(CASE WHEN CAST(floor(epoch(o_orderdate)) AS BIGINT) <= mid_s
                  THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS s1,
         SUM(CASE WHEN CAST(floor(epoch(o_orderdate)) AS BIGINT) > mid_s
                  THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS s2
  FROM orders, mid
  GROUP BY o_custkey, mid_s
),
bounds AS (
  SELECT quantile_cont(CAST(s1 AS DOUBLE), {SEG_QS!r}) AS q1,
         quantile_cont(CAST(s2 AS DOUBLE), {SEG_QS!r}) AS q2
  FROM per_cust
),
tagged AS (
  SELECT CASE WHEN s1 IS NULL THEN 0
              WHEN CAST(s1 AS DOUBLE) <= q1[1] THEN 1
              WHEN CAST(s1 AS DOUBLE) <= q1[2] THEN 2
              WHEN CAST(s1 AS DOUBLE) <= q1[3] THEN 3
              ELSE 4 END AS seg_then,
         CASE WHEN s2 IS NULL THEN 0
              WHEN CAST(s2 AS DOUBLE) <= q2[1] THEN 1
              WHEN CAST(s2 AS DOUBLE) <= q2[2] THEN 2
              WHEN CAST(s2 AS DOUBLE) <= q2[3] THEN 3
              ELSE 4 END AS seg_now
  FROM per_cust CROSS JOIN bounds
),
counts AS (
  SELECT seg_then, seg_now, CAST(COUNT(*) AS BIGINT) AS n_customers
  FROM tagged GROUP BY 1, 2
),
total AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM tagged),
grid AS (
  SELECT a.i AS seg_then, b.i AS seg_now
  FROM (SELECT unnest(generate_series(0, 4)) AS i) a
  CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS i) b
  WHERE NOT (a.i = 0 AND b.i = 0)
)
SELECT CAST(g.seg_then AS BIGINT) AS seg_then,
       CAST(g.seg_now AS BIGINT) AS seg_now,
       COALESCE(c.n_customers, 0) AS n_customers,
       ROUND(CAST(COALESCE(c.n_customers, 0) AS DOUBLE) / CAST(t.t AS DOUBLE), 6)
         AS share
FROM grid g
LEFT JOIN counts c ON c.seg_then = g.seg_then AND c.seg_now = g.seg_now
CROSS JOIN total t
ORDER BY seg_then, seg_now
""".strip()


# --- rolling-origin forecast backtest -----------------------------------------

BACKTEST_ORIGINS = 5  # evaluate 1-step-ahead forecasts from the last 5 origins


def holt_backtest(events: DataFrame) -> DataFrame:
    """Rolling-origin backtest of ``events_holt_forecast``: for each of
    the last ``BACKTEST_ORIGINS`` forecast origins, fit the exact
    unrolled Holt recursion on the 16 days ENDING at the origin and
    score its 1-step-ahead forecast against the realized next-day
    total — the out-of-sample evidence a forecasting panel needs
    before anyone trusts the forward run (the forecasting twin of
    ``docs_holdout_perplexity``'s train/eval discipline). One pass:
    the ranked daily series is exploded across origins, the SAME
    integer weight table joins on the within-window index, so five
    model fits cost one aggregation.

    Exactness: identical weight numerators as the forward key; actuals
    are exact decimal cents; only the final forecast/error divisions
    run in doubles."""
    from pyspark.sql import Window

    k, n_or = HOLT_K, BACKTEST_ORIGINS
    cents = F.sum(
        (F.col("value").cast("decimal(18,2)") * 100).cast("decimal(19,0)")
    ).alias("cents")
    daily = (
        events.groupBy(F.to_date("ts").alias("d"))
        .agg(cents)
        .orderBy(F.col("d").desc())
        .limit(k + n_or)
    )
    # rn = 1 for the OLDEST of the tail; origin o uses days rn in
    # [o+1 .. o+k] (window index idx = rn - o), forecasting day rn=o+k+1
    rn = F.row_number().over(Window.orderBy("d"))
    ranked = daily.select("d", "cents", rn.alias("rn"))
    spark = events.sparkSession
    weights = F.broadcast(
        spark.createDataFrame(_HOLT_W, "idx int, wl string, wb string").select(
            "idx",
            F.col("wl").cast("decimal(19,0)").alias("wl"),
            F.col("wb").cast("decimal(19,0)").alias("wb"),
        )
    )
    grid = ranked.withColumn(
        "o", F.explode(F.sequence(F.lit(0), F.lit(n_or - 1)))
    ).withColumn("idx", F.col("rn") - F.col("o"))
    fits = (
        grid.filter((F.col("idx") >= 1) & (F.col("idx") <= k))
        .join(weights, "idx")
        .groupBy("o")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.sum(F.col("wl") * F.col("cents")).alias("sl"),
            F.sum(F.col("wb") * F.col("cents")).alias("sb"),
        )
        .filter(F.col("n_days") == k)
    )
    actuals = ranked.select(
        (F.col("rn") - (k + 1)).alias("o"),
        F.col("d").alias("target_day"),
        F.col("cents").alias("actual_cents"),
    ).filter((F.col("o") >= 0) & (F.col("o") < n_or))
    level = F.col("sl").cast("double") / F.lit(float(_HOLT_DEN)) / F.lit(100.0)
    trend = F.col("sb").cast("double") / F.lit(float(_HOLT_DEN)) / F.lit(100.0)
    fc = level + trend
    actual = F.col("actual_cents").cast("double") / F.lit(100.0)
    return (
        fits.join(actuals, "o")
        .select(
            F.col("o").cast("bigint").alias("origin"),
            "target_day",
            F.round(fc, 6).alias("forecast"),
            F.round(actual, 6).alias("actual"),
            F.round(
                F.lit(100.0) * F.abs(fc - actual) / F.abs(actual), 6
            ).alias("abs_pct_err"),
        )
        .orderBy("origin")
    )


_HOLT_W_BT_SQL = ", ".join(f"({rn}, {wl}, {wb})" for rn, wl, wb in _HOLT_W)

HOLT_BACKTEST_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(19,0)))
              AS DECIMAL(19,0)) AS cents
  FROM events GROUP BY 1
  ORDER BY d DESC LIMIT {HOLT_K + BACKTEST_ORIGINS}
),
ranked AS (
  SELECT d, cents, ROW_NUMBER() OVER (ORDER BY d) AS rn FROM daily
),
weights(idx, wl, wb) AS (VALUES {_HOLT_W_BT_SQL}),
grid AS (
  SELECT r.d, r.cents, r.rn, g.o, r.rn - g.o AS idx
  FROM ranked r
  CROSS JOIN (SELECT unnest(generate_series(0, {BACKTEST_ORIGINS - 1})) AS o) g
),
fits AS (
  SELECT o,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         SUM(CAST(wl AS DECIMAL(19,0)) * cents) AS sl,
         SUM(CAST(wb AS DECIMAL(19,0)) * cents) AS sb
  FROM grid JOIN weights USING (idx)
  WHERE idx BETWEEN 1 AND {HOLT_K}
  GROUP BY 1
),
actuals AS (
  SELECT rn - {HOLT_K + 1} AS o, d AS target_day, cents AS actual_cents
  FROM ranked
  WHERE rn - {HOLT_K + 1} >= 0 AND rn - {HOLT_K + 1} < {BACKTEST_ORIGINS}
)
SELECT CAST(f.o AS BIGINT) AS origin,
       a.target_day,
       ROUND(CAST(sl AS DOUBLE) / {float(_HOLT_DEN)} / 100.0
             + CAST(sb AS DOUBLE) / {float(_HOLT_DEN)} / 100.0, 6) AS forecast,
       ROUND(CAST(actual_cents AS DOUBLE) / 100.0, 6) AS actual,
       ROUND(100.0 * ABS(CAST(sl AS DOUBLE) / {float(_HOLT_DEN)} / 100.0
                         + CAST(sb AS DOUBLE) / {float(_HOLT_DEN)} / 100.0
                         - CAST(actual_cents AS DOUBLE) / 100.0)
             / ABS(CAST(actual_cents AS DOUBLE) / 100.0), 6) AS abs_pct_err
FROM fits f JOIN actuals a ON f.o = a.o
WHERE f.n_days = {HOLT_K}
ORDER BY origin
""".strip()


# --- Epanechnikov kernel density estimate -------------------------------------

KDE_GRID = 64  # evaluation points
KDE_BW_DIV = 16  # bandwidth = range / 16


def kde_density(events: DataFrame) -> DataFrame:
    """Kernel density estimate of the value distribution on a fixed
    64-point grid — the smooth upgrade of ``events_value_histogram``
    (bins answer "how many here", the KDE answers "what does the
    distribution look like" without bin-edge artifacts). The kernel is
    EPANECHNIKOV, 0.75·(1−u²) on |u|<1 — deliberately polynomial: a
    Gaussian kernel would route every term through each engine's libm
    exp, while this evaluates in exact double +*− with per-term
    6-dp-rounded DECIMAL accumulation, so the sum is order-independent
    and the oracle hash-matches. Bandwidth = range/{KDE_BW_DIV}
    (fixed-fraction rule; Silverman just changes the constant).

    Scale: one 1-row min/max/count scalar, one ×{KDE_GRID} map-side
    explode with the |u|<1 filter applied before the aggregation, one
    {KDE_GRID}-group rollup — partial aggregation collapses everything
    before the exchange."""
    stats = events.agg(
        F.min(F.col("value").cast("double")).alias("lo"),
        F.max(F.col("value").cast("double")).alias("hi"),
        F.count("*").cast("bigint").alias("n"),
    )
    g = F.col("g").cast("double")
    x_g = F.col("lo") + (F.col("hi") - F.col("lo")) * g / F.lit(
        float(KDE_GRID - 1)
    )
    # NULLIF guards the degenerate all-equal-values range (h = 0):
    # NULL density in both engines instead of NaN-vs-error divergence
    h = F.nullif(
        (F.col("hi") - F.col("lo")) / F.lit(float(KDE_BW_DIV)), F.lit(0.0)
    )
    u = (F.col("value").cast("double") - x_g) / h
    kern = F.lit(0.75) * (F.lit(1.0) - u * u)
    terms = (
        events.crossJoin(F.broadcast(stats))
        .withColumn("g", F.explode(F.sequence(F.lit(0), F.lit(KDE_GRID - 1))))
        .filter((u > F.lit(-1.0)) & (u < F.lit(1.0)))
        .select(
            "g",
            "n",
            "lo",
            "hi",
            F.round(kern, 6).cast("decimal(28,6)").alias("k"),
        )
    )
    dens = terms.groupBy("g", "n", "lo", "hi").agg(
        F.count("*").cast("bigint").alias("n_in_window"),
        F.sum("k").alias("ksum"),
    )
    grid = (
        events.sparkSession.range(KDE_GRID)
        .select(F.col("id").cast("int").alias("g"))
        .crossJoin(F.broadcast(stats))
    )
    return (
        grid.join(dens.drop("n", "lo", "hi"), "g", "left")
        .select(
            F.col("g").cast("bigint").alias("g"),
            F.round(x_g, 6).alias("x"),
            F.coalesce("n_in_window", F.lit(0)).cast("bigint").alias("n_in_window"),
            F.round(
                F.coalesce(F.col("ksum").cast("double"), F.lit(0.0))
                / (F.col("n").cast("double") * h),
                9,
            ).alias("density"),  # h's NULLIF propagates: degenerate -> NULL
        )
        .orderBy("g")
    )


KDE_DENSITY_SQL = f"""
WITH stats AS (
  SELECT MIN(CAST(value AS DOUBLE)) AS lo,
         MAX(CAST(value AS DOUBLE)) AS hi,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events
),
terms AS (
  SELECT gg.g,
         CAST(ROUND(0.75 * (1.0 - ((CAST(value AS DOUBLE)
                                    - (lo + (hi - lo) * gg.g / {float(KDE_GRID - 1)}))
                                   / NULLIF((hi - lo) / {float(KDE_BW_DIV)}, 0.0))
                                  * ((CAST(value AS DOUBLE)
                                      - (lo + (hi - lo) * gg.g / {float(KDE_GRID - 1)}))
                                     / NULLIF((hi - lo) / {float(KDE_BW_DIV)}, 0.0))), 6)
              AS DECIMAL(28,6)) AS k
  FROM events
  CROSS JOIN stats
  CROSS JOIN (SELECT unnest(generate_series(0, {KDE_GRID - 1})) AS g) gg
  WHERE ((CAST(value AS DOUBLE) - (lo + (hi - lo) * gg.g / {float(KDE_GRID - 1)}))
         / NULLIF((hi - lo) / {float(KDE_BW_DIV)}, 0.0)) > -1.0
    AND ((CAST(value AS DOUBLE) - (lo + (hi - lo) * gg.g / {float(KDE_GRID - 1)}))
         / NULLIF((hi - lo) / {float(KDE_BW_DIV)}, 0.0)) < 1.0
),
dens AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_in_window, SUM(k) AS ksum
  FROM terms GROUP BY 1
)
SELECT CAST(gg.g AS BIGINT) AS g,
       ROUND(s.lo + (s.hi - s.lo) * gg.g / {float(KDE_GRID - 1)}, 6) AS x,
       COALESCE(d.n_in_window, 0) AS n_in_window,
       ROUND(COALESCE(CAST(d.ksum AS DOUBLE), 0.0)
             / (CAST(s.n AS DOUBLE)
                * NULLIF((s.hi - s.lo) / {float(KDE_BW_DIV)}, 0.0)), 9)
         AS density
FROM (SELECT unnest(generate_series(0, {KDE_GRID - 1})) AS g) gg
CROSS JOIN stats s
LEFT JOIN dens d ON d.g = gg.g
ORDER BY g
""".strip()


# --- winsorized / trimmed robust moments --------------------------------------

WINSOR_LO, WINSOR_HI = 0.05, 0.95


def winsorized_stats(events: DataFrame) -> DataFrame:
    """Per-type winsorized and trimmed moments: the robust companions
    to ``events_value_anomalies_mad`` — MAD flags outliers, these show
    what the summary statistics look like once the 5% tails are
    clamped (winsorized) or dropped (trimmed), i.e. how much of the
    mean is tail artifact. Clamped values are rounded to 6 dp and
    accumulated as DECIMAL so the moment sums stay order-independent;
    the clamp bounds are exact interpolated percentiles (broadcast
    back onto the scan as a |types|-row join).

    Scale: one percentile aggregation (|types| rows, broadcast), one
    conditional re-aggregation — two scans, no data-sized join."""
    bounds = events.groupBy("event_type").agg(
        F.expr(f"percentile(value, {WINSOR_LO})").alias("p_lo"),
        F.expr(f"percentile(value, {WINSOR_HI})").alias("p_hi"),
    )
    v = F.col("value").cast("double")
    clamped = F.round(F.least(F.greatest(v, F.col("p_lo")), F.col("p_hi")), 6)
    cdec = clamped.cast("decimal(18,6)")
    inside = (v >= F.col("p_lo")) & (v <= F.col("p_hi"))
    agg = (
        events.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.max("p_lo").alias("p_lo"),
            F.max("p_hi").alias("p_hi"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("s_raw"),
            F.sum(cdec).alias("s_w"),
            F.sum((cdec * cdec).cast("decimal(38,12)")).alias("ss_w"),
            F.sum(F.when(inside, F.col("value").cast("decimal(18,2)"))).alias(
                "s_t"
            ),
            F.count(F.when(inside, 1)).cast("bigint").alias("n_t"),
        )
    )
    n = F.col("n").cast("double")
    sw = F.col("s_w").cast("double")
    var_w = (F.col("ss_w").cast("double") - sw * sw / n) / (n - F.lit(1.0))
    return agg.select(
        "event_type",
        "n",
        F.round(F.col("p_lo"), 6).alias("p_lo"),
        F.round(F.col("p_hi"), 6).alias("p_hi"),
        F.round(F.col("s_raw").cast("double") / n, 6).alias("mean_raw"),
        F.round(sw / n, 6).alias("mean_winsor"),
        F.round(F.sqrt(F.greatest(var_w, F.lit(0.0))), 6).alias("sd_winsor"),
        F.round(
            F.col("s_t").cast("double") / F.col("n_t").cast("double"), 6
        ).alias("mean_trimmed"),
        F.col("n_t").alias("n_trimmed"),
    ).orderBy("event_type")


WINSORIZED_STATS_SQL = f"""
WITH bounds AS (
  SELECT event_type,
         quantile_cont(value, {WINSOR_LO}) AS p_lo,
         quantile_cont(value, {WINSOR_HI}) AS p_hi
  FROM events GROUP BY 1
),
agg AS (
  SELECT e.event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         MAX(b.p_lo) AS p_lo,
         MAX(b.p_hi) AS p_hi,
         SUM(CAST(e.value AS DECIMAL(18,2))) AS s_raw,
         SUM(CAST(ROUND(LEAST(GREATEST(CAST(e.value AS DOUBLE), b.p_lo), b.p_hi), 6)
                  AS DECIMAL(18,6))) AS s_w,
         SUM(CAST(CAST(ROUND(LEAST(GREATEST(CAST(e.value AS DOUBLE), b.p_lo), b.p_hi), 6)
                       AS DECIMAL(18,6))
                  * CAST(ROUND(LEAST(GREATEST(CAST(e.value AS DOUBLE), b.p_lo), b.p_hi), 6)
                         AS DECIMAL(18,6)) AS DECIMAL(38,12))) AS ss_w,
         SUM(CASE WHEN CAST(e.value AS DOUBLE) >= b.p_lo
                   AND CAST(e.value AS DOUBLE) <= b.p_hi
                  THEN CAST(e.value AS DECIMAL(18,2)) END) AS s_t,
         CAST(COUNT(CASE WHEN CAST(e.value AS DOUBLE) >= b.p_lo
                          AND CAST(e.value AS DOUBLE) <= b.p_hi
                         THEN 1 END) AS BIGINT) AS n_t
  FROM events e JOIN bounds b ON e.event_type = b.event_type
  GROUP BY 1
)
SELECT event_type, n,
       ROUND(p_lo, 6) AS p_lo,
       ROUND(p_hi, 6) AS p_hi,
       ROUND(CAST(s_raw AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_raw,
       ROUND(CAST(s_w AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_winsor,
       ROUND(SQRT(GREATEST((CAST(ss_w AS DOUBLE)
                            - CAST(s_w AS DOUBLE) * CAST(s_w AS DOUBLE)
                              / CAST(n AS DOUBLE))
                           / (CAST(n AS DOUBLE) - 1.0), 0.0)), 6) AS sd_winsor,
       ROUND(CAST(s_t AS DOUBLE) / CAST(n_t AS DOUBLE), 6) AS mean_trimmed,
       n_t AS n_trimmed
FROM agg
ORDER BY event_type
""".strip()


# --- daily-series autocorrelation function ------------------------------------

ACF_MAX_LAG = 14


def daily_acf(events: DataFrame) -> DataFrame:
    """Autocorrelation function of the daily total-value series at lags
    1..{ACF_MAX_LAG} — the canonical periodicity DIAGNOSTIC that sits
    before ``orders_seasonal_index`` / ``events_stl_decompose`` decide
    a season length: a weekly cycle shows as the ACF peaking at lag 7.
    Daily totals accumulate as exact integer cents; the mean enters as
    one broadcast scalar; each lag's centered cross-products are 6-dp
    rounded then DECIMAL-summed (the calendar-sized frame makes even
    this belt-and-braces — it is the same order-independence discipline
    as every other panel). Peak lag reported per row.

    Scale: the corpus collapses to |days| rows in one aggregation;
    every lag join and window after that is calendar-sized."""
    cents = F.sum(
        (F.col("value").cast("decimal(18,2)") * 100).cast("decimal(19,0)")
    ).alias("cents")
    daily = events.groupBy(F.to_date("ts").alias("d")).agg(cents)
    mean = daily.agg(
        (F.sum("cents").cast("double") / F.count("*").cast("double")).alias("mu"),
        F.count("*").cast("bigint").alias("n_days"),
    )
    centered = daily.crossJoin(F.broadcast(mean)).select(
        "d",
        "n_days",
        (F.col("cents").cast("double") - F.col("mu")).alias("x"),
    )
    denom = centered.agg(
        F.sum(
            F.round(F.col("x") * F.col("x"), 6).cast("decimal(38,6)")
        ).alias("ss"),
        F.max("n_days").alias("n_days"),
    )
    lags = events.sparkSession.range(1, ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    pairs = (
        centered.alias("a")
        .crossJoin(F.broadcast(lags))
        .join(
            centered.select(F.col("d").alias("d2"), F.col("x").alias("y")).alias(
                "b"
            ),
            F.expr("date_add(d, lag) = d2"),
        )
        .groupBy("lag")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(F.round(F.col("x") * F.col("y"), 6).cast("decimal(38,6)")).alias(
                "sxy"
            ),
        )
    )
    acf = F.col("sxy").cast("double") / F.col("ss").cast("double")
    from pyspark.sql import Window

    out = pairs.crossJoin(F.broadcast(denom)).select(
        F.col("lag").cast("bigint").alias("lag"),
        "n_pairs",
        F.round(acf, 6).alias("acf"),
    )
    best = Window.orderBy(F.desc("acf"), F.asc("lag"))
    return out.select(
        "lag",
        "n_pairs",
        "acf",
        (F.row_number().over(best) == 1).alias("is_peak"),
    ).orderBy("lag")


DAILY_ACF_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(19,0)))
              AS DECIMAL(19,0)) AS cents
  FROM events GROUP BY 1
),
mean AS (
  SELECT CAST(SUM(cents) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mu,
         CAST(COUNT(*) AS BIGINT) AS n_days
  FROM daily
),
centered AS (
  SELECT d, CAST(cents AS DOUBLE) - mu AS x FROM daily CROSS JOIN mean
),
denom AS (
  SELECT SUM(CAST(ROUND(x * x, 6) AS DECIMAL(38,6))) AS ss FROM centered
),
pairs AS (
  SELECT g.lag,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         SUM(CAST(ROUND(a.x * b.x, 6) AS DECIMAL(38,6))) AS sxy
  FROM centered a
  CROSS JOIN (SELECT unnest(generate_series(1, {ACF_MAX_LAG})) AS lag) g
  JOIN centered b ON b.d = a.d + CAST(g.lag AS INT)
  GROUP BY 1
),
scored AS (
  SELECT CAST(p.lag AS BIGINT) AS lag, p.n_pairs,
         ROUND(CAST(p.sxy AS DOUBLE) / CAST(d.ss AS DOUBLE), 6) AS acf
  FROM pairs p CROSS JOIN denom d
)
SELECT lag, n_pairs, acf,
       (ROW_NUMBER() OVER (ORDER BY acf DESC, lag ASC) = 1) AS is_peak
FROM scored
ORDER BY lag
""".strip()


# --- split-conformal forecast interval ----------------------------------------

CONF_CALIB = 10  # calibration origins
CONF_Q = 0.9  # nominal coverage


def conformal_forecast(events: DataFrame) -> DataFrame:
    """Split-conformal prediction interval for tomorrow's total: the
    Holt point forecast (exact unrolled weights) wrapped in a
    DISTRIBUTION-FREE interval calibrated from {CONF_CALIB}
    rolling-origin 1-step absolute residuals — conformal's guarantee
    needs only exchangeability of the residuals, no normality, which is
    exactly what ``part_safety_stock``'s z-margin assumes away. The
    interval is point ± q_{CONF_Q}(|residuals|) (interpolated quantile;
    the finite-sample ceil((n+1)q)/n order statistic just shifts the
    constant — documented, and with n=10 the difference is one rank).

    One aggregation computes ALL fits: origins 0..{CONF_CALIB} share
    the exploded ranked tail and the same integer weight table; origin
    {CONF_CALIB} is the forward fit (no actual) that the calibrated
    band wraps.

    Scale: identical to ``events_holt_backtest`` — calendar-sized tail,
    constant-sized everything after."""
    from pyspark.sql import Window

    k, n_cal = HOLT_K, CONF_CALIB
    cents = F.sum(
        (F.col("value").cast("decimal(18,2)") * 100).cast("decimal(19,0)")
    ).alias("cents")
    daily = (
        events.groupBy(F.to_date("ts").alias("d"))
        .agg(cents)
        .orderBy(F.col("d").desc())
        .limit(k + n_cal)
    )
    rn = F.row_number().over(Window.orderBy("d"))
    ranked = daily.select("d", "cents", rn.alias("rn"))
    spark = events.sparkSession
    weights = F.broadcast(
        spark.createDataFrame(_HOLT_W, "idx int, wl string, wb string").select(
            "idx",
            F.col("wl").cast("decimal(19,0)").alias("wl"),
            F.col("wb").cast("decimal(19,0)").alias("wb"),
        )
    )
    grid = ranked.withColumn(
        "o", F.explode(F.sequence(F.lit(0), F.lit(n_cal)))
    ).withColumn("idx", F.col("rn") - F.col("o"))
    fits = (
        grid.filter((F.col("idx") >= 1) & (F.col("idx") <= k))
        .join(weights, "idx")
        .groupBy("o")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.sum(F.col("wl") * F.col("cents")).alias("sl"),
            F.sum(F.col("wb") * F.col("cents")).alias("sb"),
        )
        .filter(F.col("n_days") == k)
    )
    fc = (
        F.col("sl").cast("double") / F.lit(float(_HOLT_DEN)) / F.lit(100.0)
        + F.col("sb").cast("double") / F.lit(float(_HOLT_DEN)) / F.lit(100.0)
    )
    actuals = ranked.select(
        (F.col("rn") - (k + 1)).alias("o"),
        (F.col("cents").cast("double") / F.lit(100.0)).alias("actual"),
    ).filter((F.col("o") >= 0) & (F.col("o") < n_cal))
    resid = (
        fits.join(actuals, "o")
        .select(F.abs(F.round(fc, 6) - F.round(F.col("actual"), 6)).alias("ar"))
        .agg(
            F.count("*").cast("bigint").alias("n_calib"),
            F.expr(f"percentile(ar, {CONF_Q!r})").alias("qhat"),
            # ar is an exact 1e-6 multiple: decimal sum -> order-free mean
            (
                F.sum(F.col("ar").cast("decimal(18,6)")).cast("double")
                / F.count("*").cast("double")
            ).alias("mean_abs_resid"),
        )
    )
    fwd = fits.filter(F.col("o") == n_cal).select(F.round(fc, 6).alias("forecast"))
    return fwd.crossJoin(F.broadcast(resid)).select(
        "n_calib",
        "forecast",
        F.round(F.col("qhat"), 6).alias("q_resid"),
        F.round(F.col("forecast") - F.col("qhat"), 6).alias("lo"),
        F.round(F.col("forecast") + F.col("qhat"), 6).alias("hi"),
        F.round(F.col("mean_abs_resid"), 6).alias("mean_abs_resid"),
    )


CONFORMAL_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(19,0)))
              AS DECIMAL(19,0)) AS cents
  FROM events GROUP BY 1
  ORDER BY d DESC LIMIT {HOLT_K + CONF_CALIB}
),
ranked AS (
  SELECT d, cents, ROW_NUMBER() OVER (ORDER BY d) AS rn FROM daily
),
weights(idx, wl, wb) AS (VALUES {_HOLT_W_BT_SQL}),
grid AS (
  SELECT r.cents, r.rn, g.o, r.rn - g.o AS idx
  FROM ranked r
  CROSS JOIN (SELECT unnest(generate_series(0, {CONF_CALIB})) AS o) g
),
fits AS (
  SELECT o,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(CAST(wl AS DECIMAL(19,0)) * cents) AS DOUBLE)
           / {float(_HOLT_DEN)} / 100.0
         + CAST(SUM(CAST(wb AS DECIMAL(19,0)) * cents) AS DOUBLE)
           / {float(_HOLT_DEN)} / 100.0 AS fc
  FROM grid JOIN weights USING (idx)
  WHERE idx BETWEEN 1 AND {HOLT_K}
  GROUP BY 1
),
actuals AS (
  SELECT rn - {HOLT_K + 1} AS o, CAST(cents AS DOUBLE) / 100.0 AS actual
  FROM ranked
  WHERE rn - {HOLT_K + 1} >= 0 AND rn - {HOLT_K + 1} < {CONF_CALIB}
),
resid AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_calib,
         quantile_cont(ar, {CONF_Q!r}) AS qhat,
         CAST(SUM(CAST(ar AS DECIMAL(18,6))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS mean_abs_resid
  FROM (
    SELECT ABS(ROUND(f.fc, 6) - ROUND(a.actual, 6)) AS ar
    FROM fits f JOIN actuals a ON f.o = a.o
    WHERE f.n_days = {HOLT_K}
  )
),
fwd AS (
  SELECT ROUND(fc, 6) AS forecast FROM fits
  WHERE o = {CONF_CALIB} AND n_days = {HOLT_K}
)
SELECT r.n_calib, f.forecast,
       ROUND(r.qhat, 6) AS q_resid,
       ROUND(f.forecast - r.qhat, 6) AS lo,
       ROUND(f.forecast + r.qhat, 6) AS hi,
       ROUND(r.mean_abs_resid, 6) AS mean_abs_resid
FROM fwd f CROSS JOIN resid r
""".strip()


# --- Mann-Whitney U (nonparametric A/B test) ------------------------------------

MWU_Z_CRIT = 1.96


def mann_whitney_u(events: DataFrame) -> DataFrame:
    """Mann-Whitney U rank-sum test between the md5 experiment arms —
    the NONPARAMETRIC companion to ``events_ab_test_srm``'s Welch z:
    rank-based, so heavy tails and outliers (which the winsorized
    panel shows this metric has) cannot fake or hide a shift. Ranks
    come from the distributed two-phase ``exact_row_number`` (no
    corpus-sized single-partition window); tie groups get the exact
    average rank, which is always a multiple of 0.5, so the per-arm
    rank sums accumulate as DECIMAL(28,1) — order-independent and
    bit-equal to the oracle's window formulation. The normal
    approximation uses the standard tie-corrected variance.

    Scale: one range-exchange rank (the exact_ntile machinery), one
    value-group aggregation, one scalar panel."""
    arm_a = F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < AB_SPLIT_HEX
    tagged = events.select(
        F.col("value").cast("double").alias("v"),
        "event_id",
        arm_a.cast("int").alias("is_a"),
    )
    ranked, total = exact_row_number(tagged, ["v", "event_id"], "_rank")
    grouped = ranked.groupBy("v").agg(
        F.sum("_rank").cast("bigint").alias("sr"),
        F.count("*").cast("bigint").alias("t"),
        F.sum("is_a").cast("bigint").alias("na_v"),
    )
    # avg rank of a tie group = sr/t; consecutive integers make it an
    # exact multiple of 0.5 -> (2*sr/t) is an exact integer
    term = (
        (F.col("na_v") * 2 * F.col("sr") / F.col("t")).cast("decimal(28,1)")
    )
    m = grouped.agg(
        F.sum("na_v").cast("bigint").alias("n1"),
        F.sum(F.col("t") - F.col("na_v")).cast("bigint").alias("n2"),
        (F.sum(term) / 2).alias("r1"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("tie3"),
    )
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    n = n1 + n2
    u1 = F.col("r1").cast("double") - n1 * (n1 + F.lit(1.0)) / F.lit(2.0)
    mu = n1 * n2 / F.lit(2.0)
    var = (
        n1
        * n2
        / F.lit(12.0)
        * ((n + F.lit(1.0)) - F.col("tie3").cast("double") / (n * (n - F.lit(1.0))))
    )
    z = (u1 - mu) / F.sqrt(var)
    return m.select(
        "n1",
        "n2",
        F.round(F.col("r1").cast("double"), 1).alias("rank_sum_a"),
        F.round(u1, 6).alias("u_stat"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > MWU_Z_CRIT).alias("significant"),
    )


MANN_WHITNEY_SQL = f"""
WITH tagged AS (
  SELECT CAST(value AS DOUBLE) AS v, event_id,
         CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '{AB_SPLIT_HEX}'
              THEN 1 ELSE 0 END AS is_a
  FROM events
),
ranked AS (
  SELECT v, is_a,
         ROW_NUMBER() OVER (ORDER BY v, event_id) AS rn
  FROM tagged
),
grouped AS (
  SELECT v,
         CAST(SUM(rn) AS BIGINT) AS sr,
         CAST(COUNT(*) AS BIGINT) AS t,
         CAST(SUM(is_a) AS BIGINT) AS na_v
  FROM ranked GROUP BY 1
),
m AS (
  SELECT CAST(SUM(na_v) AS BIGINT) AS n1,
         CAST(SUM(t - na_v) AS BIGINT) AS n2,
         SUM(CAST(na_v * 2 * sr / t AS DECIMAL(28,1))) / 2 AS r1,
         CAST(SUM(t * t * t - t) AS BIGINT) AS tie3
  FROM grouped
)
SELECT n1, n2,
       ROUND(CAST(r1 AS DOUBLE), 1) AS rank_sum_a,
       ROUND(CAST(r1 AS DOUBLE)
             - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0) / 2.0, 6) AS u_stat,
       ROUND((CAST(r1 AS DOUBLE)
              - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0) / 2.0
              - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
             / SQRT(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
                    * ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) + 1.0)
                       - CAST(tie3 AS DOUBLE)
                         / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                            * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0)))),
             6) AS z,
       (ABS((CAST(r1 AS DOUBLE)
             - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0) / 2.0
             - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
            / SQRT(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
                   * ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) + 1.0)
                      - CAST(tie3 AS DOUBLE)
                        / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                           * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0)))))
        > {MWU_Z_CRIT}) AS significant
FROM m
""".strip()


# --- Kolmogorov-Smirnov two-sample test -----------------------------------------

KS_CRIT = 1.358  # alpha = 0.05 critical value of the scaled statistic


def ks_test(events: DataFrame) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test between the md5 experiment
    arms: D = max |ECDF_A − ECDF_B|, the DISTRIBUTION-shape companion
    to the mean-shift tests (Welch z, Mann-Whitney U) — a variance or
    tail change moves D while leaving the means alone. ECDFs step only
    at distinct metric values, so the corpus collapses to one
    (value → per-arm count) aggregation and the running fronts are a
    window over the DISTINCT-VALUE table — bounded by the metric's
    2-dp value domain (≤ ~100·range rows), not by corpus size, the
    same bounded-input argument as the ABC catalog window. Counts are
    integers; D and the scaled statistic are the only doubles.

    Output: one row with D, the scaled statistic
    D·sqrt(n1·n2/(n1+n2)), and the α=0.05 verdict."""
    from pyspark.sql import Window

    arm_a = F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < AB_SPLIT_HEX
    grouped = (
        events.select(
            F.col("value").cast("double").alias("v"), arm_a.cast("int").alias("a")
        )
        .groupBy("v")
        .agg(
            F.sum("a").cast("bigint").alias("na"),
            F.sum(F.lit(1) - F.col("a")).cast("bigint").alias("nb"),
        )
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    tot = grouped.agg(
        F.sum("na").cast("bigint").alias("n1"), F.sum("nb").cast("bigint").alias("n2")
    )
    fronts = grouped.crossJoin(F.broadcast(tot)).select(
        "v",
        (
            F.sum("na").over(w).cast("double") / F.col("n1").cast("double")
            - F.sum("nb").over(w).cast("double") / F.col("n2").cast("double")
        ).alias("gap"),
        "n1",
        "n2",
    )
    m = fronts.groupBy("n1", "n2").agg(
        F.round(F.max(F.abs(F.col("gap"))), 9).alias("d_stat")
    )
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    scaled = F.col("d_stat") * F.sqrt(n1 * n2 / (n1 + n2))
    return m.select(
        "n1",
        "n2",
        "d_stat",
        F.round(scaled, 6).alias("ks_scaled"),
        (scaled > KS_CRIT).alias("significant"),
    )


KS_TEST_SQL = f"""
WITH grouped AS (
  SELECT CAST(value AS DOUBLE) AS v,
         CAST(SUM(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                            < '{AB_SPLIT_HEX}' THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                            < '{AB_SPLIT_HEX}' THEN 0 ELSE 1 END) AS BIGINT) AS nb
  FROM events GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(na) AS BIGINT) AS n1, CAST(SUM(nb) AS BIGINT) AS n2 FROM grouped
),
fronts AS (
  SELECT g.v,
         CAST(SUM(g.na) OVER (ORDER BY g.v ROWS UNBOUNDED PRECEDING) AS DOUBLE)
           / CAST(t.n1 AS DOUBLE)
         - CAST(SUM(g.nb) OVER (ORDER BY g.v ROWS UNBOUNDED PRECEDING) AS DOUBLE)
           / CAST(t.n2 AS DOUBLE) AS gap,
         t.n1, t.n2
  FROM grouped g CROSS JOIN tot t
),
m AS (
  SELECT n1, n2, ROUND(MAX(ABS(gap)), 9) AS d_stat
  FROM fronts GROUP BY 1, 2
)
SELECT n1, n2, d_stat,
       ROUND(d_stat * SQRT(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                           / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))), 6)
         AS ks_scaled,
       (d_stat * SQRT(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                      / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))) > {KS_CRIT})
         AS significant
FROM m
""".strip()


# --- James-Stein shrinkage of per-type means -------------------------------------


def james_stein_means(events: DataFrame) -> DataFrame:
    """Empirical-Bayes (James-Stein) shrinkage of the per-type mean
    values toward the grand mean: each group's estimate moves by a
    factor B_g = (sigma²/n_g) / (sigma²/n_g + tau²) — small noisy
    groups borrow strength, big groups keep their own mean. tau² is
    the method-of-moments between-group variance (clipped at 0),
    sigma² the pooled within-group variance; all moments are exact
    DECIMAL sums, so both engines shrink identically. The panel every
    per-segment dashboard should apply before ranking segments on
    small samples.

    Scale: one conditional-moment aggregation (|types| rows), one
    1-row grand panel broadcast back — corpus read once."""
    v = F.col("value").cast("decimal(18,2)")
    v2 = (v * v).cast("decimal(38,4)")
    g = events.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(v).alias("s"),
        F.sum(v2).alias("ss"),
    )
    ng = F.col("n").cast("double")
    mean_g = F.col("s").cast("double") / ng
    ssw_g = F.col("ss").cast("double") - F.col("s").cast("double") * F.col(
        "s"
    ).cast("double") / ng
    grand = g.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("n_tot"),
        F.sum("s").alias("s_tot"),
        F.sum(F.round(ssw_g, 6).cast("decimal(38,6)")).alias("ssw"),
        F.sum(
            F.round(mean_g * mean_g * ng, 6).cast("decimal(38,6)")
        ).alias("wmm"),
    )
    nt = F.col("n_tot").cast("double")
    mu = F.col("s_tot").cast("double") / nt
    sigma2 = F.col("ssw").cast("double") / (nt - F.col("k").cast("double"))
    # between-group variance (method of moments, clipped at 0):
    # (sum n_g (m_g - mu)^2 / (k-1) - sigma2 * ~1) simplified to the
    # weighted-moment form wmm - n_tot*mu^2
    tau2 = F.greatest(
        (F.col("wmm").cast("double") - nt * mu * mu)
        / (F.col("k").cast("double") - F.lit(1.0))
        / (nt / F.col("k").cast("double"))
        - sigma2 / (nt / F.col("k").cast("double")),
        F.lit(0.0),
    )
    j = g.crossJoin(F.broadcast(grand))
    b = (sigma2 / ng) / F.nullif(sigma2 / ng + tau2, F.lit(0.0))
    shrunk = mu + (F.lit(1.0) - b) * (mean_g - mu)
    return j.select(
        "event_type",
        "n",
        F.round(mean_g, 6).alias("mean_raw"),
        F.round(mu, 6).alias("grand_mean"),
        F.round(b, 6).alias("shrink_factor"),
        F.round(shrunk, 6).alias("mean_shrunk"),
    ).orderBy("event_type")


JAMES_STEIN_SQL = """
WITH g AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(value AS DECIMAL(18,2))) AS s,
         SUM(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))
                  AS DECIMAL(38,4))) AS ss
  FROM events GROUP BY 1
),
grand AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS n_tot,
         SUM(s) AS s_tot,
         SUM(CAST(ROUND(CAST(ss AS DOUBLE)
                        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                          / CAST(n AS DOUBLE), 6) AS DECIMAL(38,6))) AS ssw,
         SUM(CAST(ROUND((CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                        * CAST(n AS DOUBLE), 6) AS DECIMAL(38,6))) AS wmm
  FROM g
)
SELECT g.event_type, g.n,
       ROUND(CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE), 6) AS mean_raw,
       ROUND(CAST(gr.s_tot AS DOUBLE) / CAST(gr.n_tot AS DOUBLE), 6) AS grand_mean,
       ROUND((CAST(gr.ssw AS DOUBLE)
              / (CAST(gr.n_tot AS DOUBLE) - CAST(gr.k AS DOUBLE))
              / CAST(g.n AS DOUBLE))
             / NULLIF(CAST(gr.ssw AS DOUBLE)
                      / (CAST(gr.n_tot AS DOUBLE) - CAST(gr.k AS DOUBLE))
                      / CAST(g.n AS DOUBLE)
                      + GREATEST((CAST(gr.wmm AS DOUBLE)
                                  - CAST(gr.n_tot AS DOUBLE)
                                    * (CAST(gr.s_tot AS DOUBLE)
                                       / CAST(gr.n_tot AS DOUBLE))
                                    * (CAST(gr.s_tot AS DOUBLE)
                                       / CAST(gr.n_tot AS DOUBLE)))
                                 / (CAST(gr.k AS DOUBLE) - 1.0)
                                 / (CAST(gr.n_tot AS DOUBLE) / CAST(gr.k AS DOUBLE))
                                 - (CAST(gr.ssw AS DOUBLE)
                                    / (CAST(gr.n_tot AS DOUBLE)
                                       - CAST(gr.k AS DOUBLE)))
                                   / (CAST(gr.n_tot AS DOUBLE)
                                      / CAST(gr.k AS DOUBLE)),
                                 0.0), 0.0), 6) AS shrink_factor,
       ROUND(CAST(gr.s_tot AS DOUBLE) / CAST(gr.n_tot AS DOUBLE)
             + (1.0 - (CAST(gr.ssw AS DOUBLE)
                       / (CAST(gr.n_tot AS DOUBLE) - CAST(gr.k AS DOUBLE))
                       / CAST(g.n AS DOUBLE))
                      / NULLIF(CAST(gr.ssw AS DOUBLE)
                               / (CAST(gr.n_tot AS DOUBLE) - CAST(gr.k AS DOUBLE))
                               / CAST(g.n AS DOUBLE)
                               + GREATEST((CAST(gr.wmm AS DOUBLE)
                                           - CAST(gr.n_tot AS DOUBLE)
                                             * (CAST(gr.s_tot AS DOUBLE)
                                                / CAST(gr.n_tot AS DOUBLE))
                                             * (CAST(gr.s_tot AS DOUBLE)
                                                / CAST(gr.n_tot AS DOUBLE)))
                                          / (CAST(gr.k AS DOUBLE) - 1.0)
                                          / (CAST(gr.n_tot AS DOUBLE)
                                             / CAST(gr.k AS DOUBLE))
                                          - (CAST(gr.ssw AS DOUBLE)
                                             / (CAST(gr.n_tot AS DOUBLE)
                                                - CAST(gr.k AS DOUBLE)))
                                            / (CAST(gr.n_tot AS DOUBLE)
                                               / CAST(gr.k AS DOUBLE)),
                                          0.0), 0.0))
               * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE)
                  - CAST(gr.s_tot AS DOUBLE) / CAST(gr.n_tot AS DOUBLE)), 6)
         AS mean_shrunk
FROM g CROSS JOIN grand gr
ORDER BY g.event_type
""".strip()


# --- Hill tail-index estimator ----------------------------------------------------

HILL_K = 100  # top-k order statistics


def tail_index(events: DataFrame) -> DataFrame:
    """Hill estimator of the value distribution's right tail index:
    ξ = mean over the top-(k−1) order statistics of ln(x_i / x_k) —
    extreme-value theory's standard answer to "how heavy is the tail",
    the number that says whether p99-based capacity planning is even
    meaningful (ξ ≥ 1 ⇒ infinite mean tail; ξ ≈ 0 ⇒ light tail and the
    winsorized panel is already honest). Also reports the implied
    Pareto alpha = 1/ξ. The top-k extraction is a TakeOrdered (no
    global sort); per-term logs are 9-dp rounded and DECIMAL-summed.

    Scale: per-partition top-k + single merge; everything after runs
    on k rows."""
    from pyspark.sql import Window

    top = (
        events.select(
            F.col("value").cast("double").alias("x"),
            "event_id",
        )
        .filter(F.col("x") > 0)
        .orderBy(F.col("x").desc(), F.col("event_id").asc())
        .limit(HILL_K)
    )
    xk = top.agg(F.min("x").alias("xk"), F.count("*").cast("bigint").alias("k"))
    terms = (
        top.crossJoin(F.broadcast(xk))
        .filter(F.col("x") > F.col("xk"))
        .select(
            F.round(F.log(F.col("x")) - F.log(F.col("xk")), 9)
            .cast("decimal(28,9)")
            .alias("t"),
            "k",
            "xk",
        )
    )
    m = terms.groupBy("k", "xk").agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.sum("t").alias("st"),
    )
    xi = F.col("st").cast("double") / F.col("n_terms").cast("double")
    return m.select(
        "k",
        F.round(F.col("xk"), 6).alias("threshold"),
        "n_terms",
        F.round(xi, 6).alias("hill_xi"),
        F.round(F.lit(1.0) / F.nullif(xi, F.lit(0.0)), 6).alias("pareto_alpha"),
    )


TAIL_INDEX_SQL = f"""
WITH top AS (
  SELECT CAST(value AS DOUBLE) AS x, event_id
  FROM events
  WHERE CAST(value AS DOUBLE) > 0
  ORDER BY x DESC, event_id ASC
  LIMIT {HILL_K}
),
xk AS (SELECT MIN(x) AS xk, CAST(COUNT(*) AS BIGINT) AS k FROM top),
terms AS (
  SELECT CAST(ROUND(ln(t.x) - ln(xk.xk), 9) AS DECIMAL(28,9)) AS t,
         xk.k, xk.xk
  FROM top t CROSS JOIN xk
  WHERE t.x > xk.xk
),
m AS (
  SELECT k, xk,
         CAST(COUNT(*) AS BIGINT) AS n_terms,
         SUM(t) AS st
  FROM terms GROUP BY 1, 2
)
SELECT k,
       ROUND(xk, 6) AS threshold,
       n_terms,
       ROUND(CAST(st AS DOUBLE) / CAST(n_terms AS DOUBLE), 6) AS hill_xi,
       ROUND(1.0 / NULLIF(CAST(st AS DOUBLE) / CAST(n_terms AS DOUBLE), 0.0), 6)
         AS pareto_alpha
FROM m
""".strip()


# --- CUSUM control chart (exact prefix-sum identity) ------------------------

CUSUM_ALLOW_CENTS = 2500  # slack K: drifts under $25/event don't accumulate
CUSUM_H_CENTS = 500_000  # alarm threshold h (cumulative $5k excursion)


def cusum_control(events: DataFrame) -> DataFrame:
    """Tabular CUSUM control chart per event type — the small-persistent-
    shift detector the Shewhart/EWMA charts miss (``events_ewma_control``
    reacts to the last few points; CUSUM integrates ALL history since
    the last reset, so a 0.5σ drift that never trips a 3σ band still
    accumulates to an alarm). Two one-sided statistics over the
    ts-ordered value stream: S⁺_t = max(0, S⁺_{t-1} + x_t - (μ₀ + K)),
    S⁻_t = max(0, S⁻_{t-1} + (μ₀ - K) - x_t).

    EXACT, not iterative: the clamped recursion is the textbook
    prefix-sum identity S⁺_t = P_t - min_{0≤j≤t} P_j with
    P_t = Σ_{i≤t}(x_i - μ₀ - K) — so both sides become one running SUM
    and one running MIN window over integer cents (μ₀ is the per-type
    FLOOR-mean in cents, a broadcast scalar; every quantity stays in
    BIGINT, no float drift anywhere). The DuckDB twin is the identical
    two windows.

    Output per type: n, μ₀ (cents), the peak of each CUSUM side, first
    alarm timestamps (earliest t where the side exceeds h), and alarm
    row counts.

    Scale: two window passes partitioned by event_type ordered by
    (ts, event_id) — the same per-key sequential scan any sessionizer
    does; state is O(1) per row, the per-type output is one row. Skewed
    types stream through a single task's sort, the standard
    window-function cost model."""
    # mu0 via EXACT integer floor division (ADVICE r9): FLOOR(SUM/COUNT)
    # promotes to DOUBLE in DuckDB, so past 2^53 total cents the two
    # engines could floor a different integer. s - (s mod n) is exactly
    # divisible, so truncating `div` IS floor — all int64, both engines
    # (cent totals fit BIGINT until ~9.2e16 dollars; the DECIMAL(19,0)
    # sum overflows first at no realistic scale).
    mu = (
        events.groupBy("event_type")
        .agg(
            F.sum((F.col("value").cast("decimal(18,2)") * 100).cast("decimal(19,0)"))
            .cast("bigint")
            .alias("s"),
            F.count("*").cast("bigint").alias("n"),
        )
        .select(
            "event_type",
            F.expr("CAST((s - (((s % n) + n) % n)) DIV n AS BIGINT)").alias(
                "mu0_cents"
            ),
            "n",
        )
    )
    x = events.select(
        "event_type",
        "ts",
        "event_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("cents"),
    ).join(F.broadcast(mu), "event_type")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    d_up = F.col("cents") - F.col("mu0_cents") - F.lit(CUSUM_ALLOW_CENTS)
    d_dn = F.col("mu0_cents") - F.lit(CUSUM_ALLOW_CENTS) - F.col("cents")
    p = x.select(
        "event_type",
        "ts",
        "event_id",
        "n",
        "mu0_cents",
        F.sum(d_up).over(run).alias("pu"),
        F.sum(d_dn).over(run).alias("pd"),
    ).select(
        "event_type",
        "ts",
        "n",
        "mu0_cents",
        (F.col("pu") - F.least(F.min("pu").over(run), F.lit(0))).alias("s_up"),
        (F.col("pd") - F.least(F.min("pd").over(run), F.lit(0))).alias("s_dn"),
    )
    return (
        p.groupBy("event_type", "n", "mu0_cents")
        .agg(
            F.max("s_up").cast("bigint").alias("peak_up_cents"),
            F.max("s_dn").cast("bigint").alias("peak_dn_cents"),
            F.min(F.when(F.col("s_up") > CUSUM_H_CENTS, F.col("ts"))).alias(
                "first_alarm_up"
            ),
            F.min(F.when(F.col("s_dn") > CUSUM_H_CENTS, F.col("ts"))).alias(
                "first_alarm_dn"
            ),
            F.sum((F.col("s_up") > CUSUM_H_CENTS).cast("int"))
            .cast("bigint")
            .alias("alarm_rows_up"),
            F.sum((F.col("s_dn") > CUSUM_H_CENTS).cast("int"))
            .cast("bigint")
            .alias("alarm_rows_dn"),
        )
        .orderBy("event_type")
    )


CUSUM_CONTROL_SQL = f"""
WITH mu_sums AS (
  SELECT event_type,
         CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(19,0)))
              AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY event_type
),
mu AS (
  -- exact integer floor division (matches Spark's `s DIV n` after
  -- removing the mathematical mod — no DOUBLE promotion anywhere)
  SELECT event_type,
         CAST((s - (((s % n) + n) % n)) // n AS BIGINT) AS mu0_cents,
         n
  FROM mu_sums
),
x AS (
  SELECT e.event_type, e.ts, e.event_id, m.n, m.mu0_cents,
         CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events e JOIN mu m ON m.event_type = e.event_type
),
p AS (
  SELECT event_type, ts, event_id, n, mu0_cents,
         SUM(cents - mu0_cents - {CUSUM_ALLOW_CENTS})
           OVER (PARTITION BY event_type ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS pu,
         SUM(mu0_cents - {CUSUM_ALLOW_CENTS} - cents)
           OVER (PARTITION BY event_type ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS pd
  FROM x
),
s AS (
  SELECT event_type, ts, n, mu0_cents,
         pu - LEAST(MIN(pu) OVER (PARTITION BY event_type ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING), 0) AS s_up,
         pd - LEAST(MIN(pd) OVER (PARTITION BY event_type ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING), 0) AS s_dn
  FROM p
)
SELECT event_type, n, mu0_cents,
       CAST(MAX(s_up) AS BIGINT) AS peak_up_cents,
       CAST(MAX(s_dn) AS BIGINT) AS peak_dn_cents,
       MIN(CASE WHEN s_up > {CUSUM_H_CENTS} THEN ts END) AS first_alarm_up,
       MIN(CASE WHEN s_dn > {CUSUM_H_CENTS} THEN ts END) AS first_alarm_dn,
       CAST(SUM(CASE WHEN s_up > {CUSUM_H_CENTS} THEN 1 ELSE 0 END) AS BIGINT)
         AS alarm_rows_up,
       CAST(SUM(CASE WHEN s_dn > {CUSUM_H_CENTS} THEN 1 ELSE 0 END) AS BIGINT)
         AS alarm_rows_dn
FROM s
GROUP BY event_type, n, mu0_cents
ORDER BY event_type
""".strip()


# --- l-diversity audit (companion to k-anonymity) ---------------------------

L_DIVERSITY = 3  # every QI group must carry >= 3 distinct sensitive values
_LDIV_TYPES = ("click", "error", "purchase", "signup", "view")  # fixed domain


def l_diversity(events: DataFrame, l_req: int = L_DIVERSITY) -> DataFrame:
    """l-diversity audit — the standard strengthening of k-anonymity
    (``events_k_anonymity``): a group can satisfy k yet still leak if
    every member shares one SENSITIVE value (homogeneity attack), so
    each quasi-identifier group must contain at least ``l`` distinct
    sensitive values, and entropy l-diversity additionally requires the
    sensitive distribution inside the group to be near-uniform
    (exp(H) ≥ l). QI = (event day, value decabucket); sensitive =
    event_type.

    Determinism: per-group per-type counts are exact BIGINTs via
    conditional sums over the FIXED five-value type domain (pinned in
    ``_LDIV_TYPES``; pivoting to fixed columns fixes the float
    summation ORDER of the entropy terms, so both engines evaluate the
    identical expression tree — a groupBy SUM of c·ln c doubles would
    be accumulation-order-unstable). Entropy uses the c>0 guard since
    0·ln0 := 0.

    Scale: one hash aggregation on the QI key (map-side combine), a
    width-5 fixed pivot — no distinct-count shuffle at all, unlike the
    naive COUNT(DISTINCT sensitive) formulation; output is QI-bounded
    (days × buckets), not corpus-sized."""
    qi = events.select(
        F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
        F.floor(F.col("value") / F.lit(K_ANON_VALUE_BUCKET))
        .cast("bigint")
        .alias("value_bucket"),
        "event_type",
    )
    counts = [
        F.sum((F.col("event_type") == t).cast("int")).cast("bigint").alias(f"c_{t}")
        for t in _LDIV_TYPES
    ]
    g = qi.groupBy("event_date", "value_bucket").agg(
        F.count("*").cast("bigint").alias("n_rows"), *counts
    )
    cs = [F.col(f"c_{t}") for t in _LDIV_TYPES]
    distinct_l = sum((c > 0).cast("int") for c in cs).cast("bigint")
    nd = F.col("n_rows").cast("double")
    # H = ln(n) - (sum c*ln c)/n, terms added in the fixed _LDIV_TYPES order
    sum_clnc = None
    for c in cs:
        term = F.when(c > 0, c.cast("double") * F.log(c.cast("double"))).otherwise(
            F.lit(0.0)
        )
        sum_clnc = term if sum_clnc is None else sum_clnc + term
    # flag off the 6-dp ROUNDED entropy: a perfectly uniform 3-type
    # group is ANALYTICALLY exp(ln3)=3 but lands an ulp either side of
    # 3.0 depending on the engine's libm — rounding first makes the
    # boundary decision engine-independent
    entropy_l = F.round(F.exp(F.log(nd) - sum_clnc / nd), 6)
    return (
        g.select(
            "event_date",
            "value_bucket",
            "n_rows",
            distinct_l.alias("distinct_sensitive"),
            entropy_l.alias("entropy_l"),
            (distinct_l < l_req).alias("violates_distinct_l"),
            (entropy_l < l_req).alias("violates_entropy_l"),
        )
        .orderBy("event_date", "value_bucket")
    )


def _ldiv_sql(l_req: int = L_DIVERSITY) -> str:
    cols = ",\n         ".join(
        f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS c_{t}"
        for t in _LDIV_TYPES
    )
    distinct_l = " + ".join(
        f"(CASE WHEN c_{t} > 0 THEN 1 ELSE 0 END)" for t in _LDIV_TYPES
    )
    clnc = " + ".join(
        f"(CASE WHEN c_{t} > 0 THEN CAST(c_{t} AS DOUBLE) * ln(CAST(c_{t} AS DOUBLE))"
        f" ELSE 0.0 END)"
        for t in _LDIV_TYPES
    )
    ent = (
        f"ROUND(exp(ln(CAST(n_rows AS DOUBLE))"
        f" - ({clnc}) / CAST(n_rows AS DOUBLE)), 6)"
    )
    return f"""
WITH qi AS (
  SELECT strftime(ts, '%Y-%m-%d') AS event_date,
         CAST(FLOOR(value / {K_ANON_VALUE_BUCKET}) AS BIGINT) AS value_bucket,
         event_type
  FROM events
),
g AS (
  SELECT event_date, value_bucket,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         {cols}
  FROM qi GROUP BY event_date, value_bucket
)
SELECT event_date, value_bucket, n_rows,
       CAST({distinct_l} AS BIGINT) AS distinct_sensitive,
       {ent} AS entropy_l,
       ({distinct_l}) < {l_req} AS violates_distinct_l,
       {ent} < {l_req} AS violates_entropy_l
FROM g
ORDER BY event_date, value_bucket
""".strip()


L_DIVERSITY_SQL = _ldiv_sql()


# --- theta-method forecast (dyadic SES + exact OLS trend) --------------------

THETA_K = 16  # window: the last K monthly revenue totals
THETA_H = 12  # forecast horizon (months)
# OLS constants for t = 1..K: sum t, sum t^2, D = K*sum(t^2) - (sum t)^2
_THETA_ST = THETA_K * (THETA_K + 1) // 2
_THETA_ST2 = THETA_K * (THETA_K + 1) * (2 * THETA_K + 1) // 6
_THETA_D = THETA_K * _THETA_ST2 - _THETA_ST * _THETA_ST
# SES(alpha=1/2, init l_1=z_1) unrolled: l_K = sum w_t z_t / 2^K with
# w_1 = 2 and w_t = 2^(t-1) for t >= 2 (weights sum to 2^K exactly)
_THETA_SES_DEN = 2**THETA_K
_THETA_SES_W = [(1, 2)] + [(t, 2 ** (t - 1)) for t in range(2, THETA_K + 1)]
assert sum(w for _, w in _THETA_SES_W) == _THETA_SES_DEN


def theta_forecast(orders: DataFrame) -> DataFrame:
    """Theta-method forecast (Assimakopoulos & Nikolopoulos; the M3
    winner) of monthly order revenue, h = 1..12 ahead — the
    decomposition-based member of the forecasting family (Holt carries
    a recursive trend, Croston handles intermittence, THETA averages
    two 'theta lines': θ=0 (the pure OLS linear trend, doubled
    long-run signal) and θ=2 (curvature-amplified series, SES-smoothed
    short-run signal). Forecast(h) = (trend(K+h) + SES_{θ=2})/2.

    EXACT, not iterative: the OLS slope/intercept over the fixed
    window are integer-weighted sums (Σy, Σt·y over denominator
    ``_THETA_D``), and the SES recursion at α=1/2 unrolls into the
    dyadic weight row ``_THETA_SES_W`` (numerators over 2^K) — the
    same discipline as ``events_holt_forecast``; everything stays in
    DECIMAL until three double divisions at readout, identical
    expression trees both engines, 6-dp rounds.

    Scale: one month-keyed aggregation, a K-row bounded tail, a K-row
    broadcast weight join, one scalar rollup — history length never
    enters a shuffle; the h-loop is a literal 12-row sequence."""
    cents = F.sum(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("decimal(19,0)")
    ).alias("cents")
    monthly = (
        orders.groupBy(F.trunc(F.to_date("o_orderdate"), "month").alias("m"))
        .agg(cents)
        .orderBy(F.col("m").desc())
        .limit(THETA_K)
    )
    rn = F.row_number().over(Window.orderBy("m"))
    ranked = monthly.select("cents", rn.alias("rn"))
    spark = orders.sparkSession
    weights = F.broadcast(
        spark.createDataFrame(_THETA_SES_W, "rn int, ws string").select(
            "rn", F.col("ws").cast("decimal(19,0)").alias("ws")
        )
    )
    agg = (
        ranked.join(weights, "rn")
        .agg(
            F.count("*").cast("bigint").alias("n_months"),
            F.sum("cents").alias("sy"),
            F.sum(F.col("rn").cast("decimal(19,0)") * F.col("cents")).alias("sty"),
            F.sum(F.col("ws") * F.col("cents")).alias("sw"),
        )
        .filter(F.col("n_months") == THETA_K)
    )
    sy = F.col("sy").cast("double") / F.lit(100.0)
    sty = F.col("sty").cast("double") / F.lit(100.0)
    sw = F.col("sw").cast("double") / F.lit(100.0)
    b = (F.lit(float(THETA_K)) * sty - F.lit(float(_THETA_ST)) * sy) / F.lit(
        float(_THETA_D)
    )
    a = (sy - b * F.lit(float(_THETA_ST))) / F.lit(float(THETA_K))
    # SES of z_t = 2 y_t - (a + b t): weights sum to 1 and sum w_t*t is
    # a fixed integer, so SES_z = 2*sw/2^K - a - b*W_T/2^K
    w_t_sum = sum(t * w for t, w in _THETA_SES_W)
    ses_z = (
        F.lit(2.0) * sw / F.lit(float(_THETA_SES_DEN))
        - a
        - b * F.lit(float(w_t_sum)) / F.lit(float(_THETA_SES_DEN))
    )
    return (
        agg.select(
            F.explode(F.sequence(F.lit(1), F.lit(THETA_H))).alias("h"),
            F.round(a, 6).alias("intercept"),
            F.round(b, 6).alias("slope"),
            F.round(ses_z, 6).alias("ses_theta2"),
            ((a + b * (F.lit(float(THETA_K)) + F.col("h")) + ses_z) / F.lit(2.0)).alias(
                "_f"
            ),
        )
        .select(
            F.col("h").cast("bigint").alias("h"),
            "intercept",
            "slope",
            "ses_theta2",
            F.round(F.col("_f"), 6).alias("forecast"),
        )
        .orderBy("h")
    )


_THETA_W_SQL = ", ".join(f"({t}, {w})" for t, w in _THETA_SES_W)
_THETA_WT_SUM = sum(t * w for t, w in _THETA_SES_W)

THETA_FORECAST_SQL = f"""
WITH monthly AS (
  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                       AS DECIMAL(19,0))) AS DECIMAL(19,0)) AS cents
  FROM orders GROUP BY 1
  ORDER BY m DESC LIMIT {THETA_K}
),
ranked AS (
  SELECT cents, ROW_NUMBER() OVER (ORDER BY m) AS rn FROM monthly
),
weights(rn, ws) AS (VALUES {_THETA_W_SQL}),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_months,
         SUM(cents) AS sy,
         SUM(CAST(rn AS DECIMAL(19,0)) * cents) AS sty,
         SUM(CAST(ws AS DECIMAL(19,0)) * cents) AS sw
  FROM ranked JOIN weights USING (rn)
),
lt AS (
  SELECT
    ((CAST(sy AS DOUBLE) / 100.0)
     - (({float(THETA_K)} * (CAST(sty AS DOUBLE) / 100.0)
         - {float(_THETA_ST)} * (CAST(sy AS DOUBLE) / 100.0)) / {float(_THETA_D)})
       * {float(_THETA_ST)}) / {float(THETA_K)} AS a,
    ({float(THETA_K)} * (CAST(sty AS DOUBLE) / 100.0)
     - {float(_THETA_ST)} * (CAST(sy AS DOUBLE) / 100.0)) / {float(_THETA_D)} AS b,
    CAST(sw AS DOUBLE) / 100.0 AS sw
  FROM agg WHERE n_months = {THETA_K}
),
z AS (
  SELECT a, b,
         2.0 * sw / {float(_THETA_SES_DEN)} - a
           - b * {float(_THETA_WT_SUM)} / {float(_THETA_SES_DEN)} AS ses_z
  FROM lt
)
SELECT CAST(g.h AS BIGINT) AS h,
       ROUND(a, 6) AS intercept,
       ROUND(b, 6) AS slope,
       ROUND(ses_z, 6) AS ses_theta2,
       ROUND((a + b * ({float(THETA_K)} + g.h) + ses_z) / 2.0, 6) AS forecast
FROM z CROSS JOIN (SELECT unnest(generate_series(1, {THETA_H})) AS h) g
ORDER BY h
""".strip()


# --- additive Holt-Winters (exact unrolled triple smoothing) -----------------

HW_M = 12  # seasonal period (months)
HW_K = 24  # window: the last two full seasons
HW_H = 12  # forecast horizon


def _hw_weight_table():
    """Unroll the additive Holt-Winters recursion (alpha = beta =
    gamma = 1/2) over the last ``HW_K`` monthly totals into EXACT
    rational weights. Standard initialization over the first season:
    l_m = mean(y_1..y_m), b_m = (mean(season 2) - mean(season 1))/m,
    s_i = y_i - l_m; then m coupled steps of
    l_t = alpha(y_t - s_{t-m}) + (1-alpha)(l_{t-1} + b_{t-1}),
    b_t = beta(l_t - l_{t-1}) + (1-beta) b_{t-1},
    s_t = gamma(y_t - l_t) + (1-gamma) s_{t-m}.
    Every state is LINEAR in the y's, so the whole model is 14 weight
    rows (level, trend, 12 final seasonal states) over one common
    integer denominator — the ``_holt_weight_table`` discipline
    extended to the 3-state seasonal recursion."""
    import math
    from fractions import Fraction as Fr

    m, k = HW_M, HW_K
    l = [Fr(1, m) if t <= m else Fr(0) for t in range(1, k + 1)]
    b = [Fr(-1, m * m) if t <= m else Fr(1, m * m) for t in range(1, k + 1)]
    s: dict[int, list] = {}
    for i in range(1, m + 1):
        si = [Fr(0)] * k
        si[i - 1] += Fr(1)
        for j in range(m):
            si[j] -= Fr(1, m)
        s[i] = si
    for t in range(m + 1, k + 1):
        yt = [Fr(0)] * k
        yt[t - 1] = Fr(1)
        l_new = [
            Fr(1, 2) * (yt[j] - s[t - m][j]) + Fr(1, 2) * (l[j] + b[j])
            for j in range(k)
        ]
        b_new = [Fr(1, 2) * (l_new[j] - l[j]) + Fr(1, 2) * b[j] for j in range(k)]
        s[t] = [Fr(1, 2) * (yt[j] - l_new[j]) + Fr(1, 2) * s[t - m][j] for j in range(k)]
        l, b = l_new, b_new
    den = 1
    for f in l + b + [x for t in range(k - m + 1, k + 1) for x in s[t]]:
        den = den * f.denominator // math.gcd(den, f.denominator)
    rows = []
    for rn in range(1, k + 1):
        rows.append(
            (
                rn,
                str(int(l[rn - 1] * den)),
                str(int(b[rn - 1] * den)),
                [str(int(s[k - m + i][rn - 1] * den)) for i in range(1, m + 1)],
            )
        )
    return den, rows


_HW_DEN, _HW_W = _hw_weight_table()


def holt_winters_forecast(orders: DataFrame) -> DataFrame:
    """Additive Holt-Winters forecast of monthly order revenue,
    h = 1..12 — the SEASONAL member that completes the forecasting
    family (SES/EWMA smooths, Holt adds trend, Croston handles
    intermittence, Theta decomposes, THIS carries level + trend + a
    12-month seasonal profile). The triple recursion is unrolled at
    alpha=beta=gamma=1/2 into the exact integer weight table
    ``_hw_weight_table``; the corpus work is ONE month-keyed
    aggregation, a 24-row bounded tail, a broadcast weight join, and
    14 DECIMAL weighted sums — history length never enters a shuffle.
    Forecast(h) = level + h*trend + s[(h-1) mod 12].

    Determinism: weights are integers over one denominator; cents ×
    weight products sum in DECIMAL(38,0); three double divisions at
    readout, identical trees both engines, 6-dp rounds."""
    from pyspark.sql import Window

    cents = F.sum(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("decimal(19,0)")
    ).alias("cents")
    monthly = (
        orders.groupBy(F.trunc(F.to_date("o_orderdate"), "month").alias("m"))
        .agg(cents)
        .orderBy(F.col("m").desc())
        .limit(HW_K)
    )
    rn = F.row_number().over(Window.orderBy("m"))
    ranked = monthly.select("cents", rn.alias("rn"))
    spark = orders.sparkSession
    wrows = [(r, wl, wb, *ws) for r, wl, wb, ws in _HW_W]
    scols = ", ".join(f"ws{i} string" for i in range(1, HW_M + 1))
    weights = F.broadcast(
        spark.createDataFrame(wrows, f"rn int, wl string, wb string, {scols}").select(
            "rn",
            F.col("wl").cast("decimal(19,0)").alias("wl"),
            F.col("wb").cast("decimal(19,0)").alias("wb"),
            *[
                F.col(f"ws{i}").cast("decimal(19,0)").alias(f"ws{i}")
                for i in range(1, HW_M + 1)
            ],
        )
    )
    agg = (
        ranked.join(weights, "rn")
        .agg(
            F.count("*").cast("bigint").alias("n_months"),
            F.sum(F.col("wl") * F.col("cents")).alias("sl"),
            F.sum(F.col("wb") * F.col("cents")).alias("sb"),
            *[
                F.sum(F.col(f"ws{i}") * F.col("cents")).alias(f"ss{i}")
                for i in range(1, HW_M + 1)
            ],
        )
        .filter(F.col("n_months") == HW_K)
    )
    den = F.lit(float(_HW_DEN)) * F.lit(100.0)
    level = F.col("sl").cast("double") / den
    trend = F.col("sb").cast("double") / den
    seas = F.element_at(
        F.array(*[F.col(f"ss{i}").cast("double") / den for i in range(1, HW_M + 1)]),
        ((F.col("h") - 1) % HW_M + 1).cast("int"),
    )
    return (
        agg.select(
            F.explode(F.sequence(F.lit(1), F.lit(HW_H))).alias("h"),
            "sl",
            "sb",
            *[f"ss{i}" for i in range(1, HW_M + 1)],
        )
        .select(
            F.col("h").cast("bigint").alias("h"),
            F.round(level, 6).alias("level"),
            F.round(trend, 6).alias("trend"),
            F.round(seas, 6).alias("seasonal"),
            F.round(level + trend * F.col("h") + seas, 6).alias("forecast"),
        )
        .orderBy("h")
    )


_HW_W_SQL = ", ".join(
    f"({r}, {wl}, {wb}, {', '.join(ws)})" for r, wl, wb, ws in _HW_W
)
_HW_WS_COLS = ", ".join(f"ws{i}" for i in range(1, HW_M + 1))

HOLT_WINTERS_SQL = f"""
WITH monthly AS (
  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                       AS DECIMAL(19,0))) AS DECIMAL(19,0)) AS cents
  FROM orders GROUP BY 1
  ORDER BY m DESC LIMIT {HW_K}
),
ranked AS (
  SELECT cents, ROW_NUMBER() OVER (ORDER BY m) AS rn FROM monthly
),
weights(rn, wl, wb, {_HW_WS_COLS}) AS (VALUES {_HW_W_SQL}),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_months,
         SUM(CAST(wl AS DECIMAL(19,0)) * cents) AS sl,
         SUM(CAST(wb AS DECIMAL(19,0)) * cents) AS sb,
         {", ".join(f"SUM(CAST(ws{i} AS DECIMAL(19,0)) * cents) AS ss{i}" for i in range(1, HW_M + 1))}
  FROM ranked JOIN weights USING (rn)
),
lt AS (
  SELECT CAST(sl AS DOUBLE) / ({float(_HW_DEN)} * 100.0) AS level,
         CAST(sb AS DOUBLE) / ({float(_HW_DEN)} * 100.0) AS trend,
         [{", ".join(f"CAST(ss{i} AS DOUBLE) / ({float(_HW_DEN)} * 100.0)" for i in range(1, HW_M + 1))}] AS seas
  FROM agg WHERE n_months = {HW_K}
)
SELECT CAST(g.h AS BIGINT) AS h,
       ROUND(level, 6) AS level,
       ROUND(trend, 6) AS trend,
       ROUND(seas[CAST((g.h - 1) % {HW_M} + 1 AS INT)], 6) AS seasonal,
       ROUND(level + trend * g.h + seas[CAST((g.h - 1) % {HW_M} + 1 AS INT)], 6)
         AS forecast
FROM lt CROSS JOIN (SELECT unnest(generate_series(1, {HW_H})) AS h) g
ORDER BY h
""".strip()
