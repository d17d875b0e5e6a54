"""Bucketed tables and small-file compaction — the physical-layout
levers that matter at 100 TB.

Bucketing: writing both sides of a recurring big-big join bucketed (and
sorted) on the join key makes every subsequent join shuffle-FREE — the
sort-merge join reads co-located buckets directly. On a 1000-executor
cluster this converts the nightly orders⋈lineitem backbone from a
full-network shuffle into local merges. Tested by asserting the join
plan contains no Exchange (tests/test_layout.py).

Compaction: the reference's 50-row micro-batch files (BATCH_SIZE=50,
consumer_to_minio.py:33) create the classic small-file problem —
O(files) scan tasks and namenode pressure. ``compact_parquet`` rewrites
a directory to ~target_rows-per-file with one repartition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import source_rows


def write_bucketed(
    df: DataFrame, table: str, key: str, buckets: int = 8, sort: bool = True
) -> None:
    """Materialize as a bucketed (+sorted) managed table; both sides of
    a co-located join must use the same bucket count and key."""
    writer = df.write.mode("overwrite").bucketBy(buckets, key)
    if sort:
        writer = writer.sortBy(key)
    writer.saveAsTable(table)


def bucketed_join(spark: SparkSession, left_table: str, right_table: str, key: str) -> DataFrame:
    """Join two same-bucketed tables on their bucket key — with
    bucketing metadata present, Catalyst plans a shuffle-free
    sort-merge join."""
    return spark.table(left_table).join(spark.table(right_table), key)


def compact_parquet(
    spark: SparkSession, in_dir: str, out_dir: str, target_rows_per_file: int = 500_000
) -> int:
    """Rewrite a small-file parquet directory into ~target_rows files.
    Returns the output file count. (At cluster scale prefer
    per-partition compaction so one job doesn't rewrite the world.)"""
    df = spark.read.parquet(in_dir)
    n = df.count()
    files = max(1, -(-n // target_rows_per_file))
    df.repartition(files).write.mode("overwrite").parquet(out_dir)
    return files


def _morton_interleave(a, b, bits: int = 16):
    """Interleave the low ``bits`` of two non-negative int columns into
    a Morton (Z-order) code — pure Column bit arithmetic, stays in
    codegen. 2·bits ≤ 62 keeps the code in a signed BIGINT."""
    from pyspark.sql import functions as F

    code = F.lit(0).cast("bigint")
    for i in range(bits):
        bit_a = F.shiftright(a.cast("bigint"), i).bitwiseAND(F.lit(1))
        bit_b = F.shiftright(b.cast("bigint"), i).bitwiseAND(F.lit(1))
        code = (
            code
            + (bit_a * F.lit(1 << (2 * i)).cast("bigint"))
            + (bit_b * F.lit(1 << (2 * i + 1)).cast("bigint"))
        )
    return code


ZORDER_FILES = 64
ZORDER_BITS = 16
_ZGRID = (1 << ZORDER_BITS) - 1  # 65535: top of the 16-bit grid


def _morton_sql(a: str, b: str, bits: int = ZORDER_BITS) -> str:
    """The same interleave as ``_morton_interleave`` rendered as ANSI
    SQL (``>>``/``&`` on BIGINT, multiplies instead of shifts for the
    placement) so the DuckDB oracle computes bit-identical codes."""
    terms = []
    for i in range(bits):
        terms.append(f"(({a} >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"(({b} >> {i}) & 1) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


def zorder_extents(events: DataFrame) -> DataFrame:
    """Layout diagnostic behind ``write_zordered``: bucket the events
    table into ``ZORDER_FILES`` equal "files" two ways — Morton
    (Z-order) curve over (user_id, event time) vs the natural
    time-sorted layout — and report each layout's per-file min/max
    extents on BOTH dimensions (in 16-bit grid units). This is the
    number a table optimizer looks at before choosing OPTIMIZE ZORDER:
    the time-sorted layout has near-zero time extents but every file
    spans ~the full user range (so a user-predicate scan reads all
    files), while the Z-order layout shrinks the per-file bounding box
    on both axes at once, enabling min/max data skipping for
    predicates on either column.

    All arithmetic is integer (grid scaling uses BIGINT floor
    division, the curve is bit interleave), so the DuckDB twin is
    exact. NTILE's global sort stands in for the range-exchange a real
    layout write uses (``write_zordered``'s repartitionByRange): at
    bench SF it is one single-partition sort; at 100 TB the write path
    IS the range exchange, and this diagnostic would run per
    partition. Global min/max enter via a broadcast 1-row cross join
    (reviewed scalar pattern)."""
    from pyspark.sql import Window

    base = events.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("user_id").cast("bigint").alias("uid"),
        F.unix_timestamp("ts").alias("ts_s"),
    )
    stats = base.agg(
        F.min("uid").alias("u_min"),
        F.max("uid").alias("u_max"),
        F.min("ts_s").alias("t_min"),
        F.max("ts_s").alias("t_max"),
    )
    g = (
        base.crossJoin(F.broadcast(stats))
        .withColumn(
            "gu", F.expr(f"(uid - u_min) * {_ZGRID} DIV GREATEST(u_max - u_min, 1)")
        )
        .withColumn(
            "gt", F.expr(f"(ts_s - t_min) * {_ZGRID} DIV GREATEST(t_max - t_min, 1)")
        )
    )
    g = g.withColumn("z", _morton_interleave(F.col("gu"), F.col("gt"), ZORDER_BITS))
    # ntile_governed keeps the (cheaper) window below the bound and
    # switches to exact_ntile's distributed two-phase rank beyond it;
    # both are bit-identical on the tie-free (key, event_id) orders the
    # oracle mirrors. g is a 1:1 map of the event projection, so the
    # projection's row count sizes it.
    from ..operators.analytics import ntile_governed

    n_ev = source_rows(base)
    bucketed = ntile_governed(
        ntile_governed(g, ZORDER_FILES, [F.col("z"), F.col("event_id")], "bz", n_ev),
        ZORDER_FILES,
        [F.col("ts_s"), F.col("event_id")],
        "bt",
        n_ev,
    ).select("gu", "gt", "bz", "bt")
    per = bucketed.select(
        F.lit("zorder").alias("layout"), F.col("bz").alias("bucket"), "gu", "gt"
    ).unionByName(
        bucketed.select(
            F.lit("linear").alias("layout"), F.col("bt").alias("bucket"), "gu", "gt"
        )
    )
    bext = per.groupBy("layout", "bucket").agg(
        (F.max("gu") - F.min("gu")).alias("ue"),
        (F.max("gt") - F.min("gt")).alias("te"),
    )
    return (
        bext.groupBy("layout")
        .agg(
            F.count("*").alias("n_buckets"),
            F.sum("ue").alias("sum_user_extent"),
            F.max("ue").alias("max_user_extent"),
            F.sum("te").alias("sum_ts_extent"),
            F.max("te").alias("max_ts_extent"),
        )
        .orderBy("layout")
    )


ZORDER_EXTENTS_SQL = f"""
WITH base AS (
  SELECT CAST(event_id AS BIGINT) AS event_id,
         CAST(user_id AS BIGINT) AS uid,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
  FROM events
), stats AS (
  SELECT MIN(uid) AS u_min, MAX(uid) AS u_max,
         MIN(ts_s) AS t_min, MAX(ts_s) AS t_max
  FROM base
), grid AS (
  SELECT event_id, ts_s,
         (uid - u_min) * {_ZGRID} // GREATEST(u_max - u_min, 1) AS gu,
         (ts_s - t_min) * {_ZGRID} // GREATEST(t_max - t_min, 1) AS gt
  FROM base, stats
), coded AS (
  SELECT event_id, ts_s, gu, gt, {_morton_sql("gu", "gt")} AS z FROM grid
), bucketed AS (
  SELECT gu, gt,
         NTILE({ZORDER_FILES}) OVER (ORDER BY z, event_id) AS bz,
         NTILE({ZORDER_FILES}) OVER (ORDER BY ts_s, event_id) AS bt
  FROM coded
), per AS (
  SELECT 'zorder' AS layout, bz AS bucket, gu, gt FROM bucketed
  UNION ALL
  SELECT 'linear' AS layout, bt AS bucket, gu, gt FROM bucketed
), bext AS (
  SELECT layout, bucket, MAX(gu) - MIN(gu) AS ue, MAX(gt) - MIN(gt) AS te
  FROM per GROUP BY 1, 2
)
SELECT layout,
       COUNT(*) AS n_buckets,
       CAST(SUM(ue) AS BIGINT) AS sum_user_extent,
       CAST(MAX(ue) AS BIGINT) AS max_user_extent,
       CAST(SUM(te) AS BIGINT) AS sum_ts_extent,
       CAST(MAX(te) AS BIGINT) AS max_ts_extent
FROM bext GROUP BY 1 ORDER BY 1
""".strip()


def write_zordered(
    df: DataFrame,
    out_dir: str,
    col_a: str,
    col_b: str,
    files: int = 8,
    bits: int = 16,
) -> None:
    """Z-order-lite: range-repartition + sort by the Morton interleave
    of two filter columns before writing, so parquet row-group min/max
    stats become narrow on BOTH columns simultaneously — the multi-
    dimensional data-skipping layout (Delta OPTIMIZE ZORDER BY, in
    miniature). A plain sort by one column gives perfect skipping on
    it and none on the other; the Morton curve splits the difference,
    shrinking every row group's bounding box so predicate-on-either-
    column scans skip most groups at the reader level.

    Scale: one range exchange on the code (the same shape any global
    sort-write uses) and a within-partition sort; the interleave is
    map-side bit arithmetic."""
    from pyspark.sql import functions as F

    code = _morton_interleave(F.col(col_a), F.col(col_b), bits)
    (
        df.withColumn("_z", code)
        .repartitionByRange(files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(out_dir)
    )
