"""DQ gate severity semantics (A13, §5) + pipeline composition +
incremental ingest (S9)."""

from __future__ import annotations

from datetime import datetime

from conftest import make_bronze

from logistics_data_pipeline_spark.operators import star
from logistics_data_pipeline_spark.operators.quality import run_quality_gate
from logistics_data_pipeline_spark.pipeline import build_warehouse
from logistics_data_pipeline_spark.sources.bronze import incremental_insert

CLEAN = {
    "event_id": "e1",
    "order_id": "o1",
    "timestamp": "2024-01-05T08:00:00",
    "status": "In Transit",
    "origin": "A, C1",
    "destination": "B, C2",
    "carrier_name": "DHL",
    "latitude": 10.0,
    "longitude": 20.0,
    "weight_kg": 5.0,
    "estimated_delivery": "2024-01-07",
    "ingestion_timestamp": datetime(2026, 1, 1),
}


def row(**over):
    return {**CLEAN, **over}


AS_OF = "2024-01-01"


def test_quality_gate_counts_checks_not_rows(spark):
    """Two rows fail check 2 -> errors == 1 (checks counted, not rows)."""
    bronze = make_bronze(
        spark,
        [row(), row(event_id="e2", weight_kg=-1.0), row(event_id="e3", weight_kg=0.0)],
    )
    report = run_quality_gate(bronze, AS_OF)
    assert report.errors == 1
    assert report.counts["invalid_weights"] == 2
    assert not report.passed


def test_warnings_do_not_fail_gate(spark):
    """Duplicates (6) and past deliveries (7) are warnings -> gate passes."""
    bronze = make_bronze(
        spark,
        [row(), row(), row(event_id="e2", estimated_delivery="2020-01-01")],
    )
    report = run_quality_gate(bronze, AS_OF)
    assert report.errors == 0
    assert report.warnings == 2
    assert report.counts["duplicate_event_ids"] == 1
    assert report.passed


def test_status_not_in_is_null_rejecting(spark):
    """NULL status must NOT count toward invalid_status_values (NOT IN
    null semantics, reference data_quality_check.py:122-128)."""
    bronze = make_bronze(spark, [row(status=None), row(event_id="e2", status="Bogus")])
    report = run_quality_gate(bronze, AS_OF)
    assert report.counts["invalid_status_values"] == 1


def test_weight_over_5000_fails_dq_but_passes_validity(spark):
    """DQ checks >5000 kg; the validity split does not — a reference
    inconsistency that must be preserved."""
    bronze = make_bronze(spark, [row(weight_kg=9999.0)])
    report = run_quality_gate(bronze, AS_OF)
    assert report.counts["invalid_weights"] == 1
    wh = build_warehouse(bronze, persist=False)
    assert wh["int_valid_logistics_events"].count() == 1


def test_build_warehouse_end_to_end(spark):
    bronze = make_bronze(
        spark,
        [row(), row(event_id="e2", weight_kg=-1.0), row(event_id="", order_id="o3")],
    )
    wh = build_warehouse(bronze, persist=False)
    assert wh["stg_logistics_events"].count() == 2  # '' id dropped
    assert wh["int_valid_logistics_events"].count() == 1
    assert wh["int_invalid_logistics_events"].count() == 1
    assert wh["fact_event"].count() == 1
    assert wh["dq_invalid_delivery_summary"].collect()[0].invalid_reason == "INVALID_WEIGHT"


def test_write_gold_partitions_fact_by_date(spark, tmp_path):
    from logistics_data_pipeline_spark.pipeline import write_gold

    bronze = make_bronze(
        spark,
        [row(), row(event_id="e2", ingestion_timestamp=datetime(2026, 1, 2))],
    )
    wh = build_warehouse(bronze, persist=False)
    write_gold(wh, str(tmp_path / "gold"))
    fact = spark.read.parquet(str(tmp_path / "gold/fact_event"))
    assert fact.count() == 2
    assert "ingest_date" in fact.columns
    # partition pruning works: directory layout is ingest_date=...
    dirs = {p.name for p in (tmp_path / "gold/fact_event").iterdir() if p.is_dir()}
    assert "ingest_date=2026-01-01" in dirs and "ingest_date=2026-01-02" in dirs


def test_fact_fast_equals_join_build(spark):
    bronze = make_bronze(
        spark,
        [
            row(),
            row(event_id="e2", order_id="o2", timestamp="2024-01-06T09:00:00",
                estimated_delivery="2024-01-08"),
            row(event_id="e3", order_id="o2", timestamp="2024-01-09T09:00:00",
                estimated_delivery="2024-01-10"),
        ],
    )
    wh = build_warehouse(bronze, persist=False)
    a = wh["fact_event"]
    b = star.fact_event(
        wh["int_valid_logistics_events"],
        wh["dim_order"],
        wh["dim_time"],
        wh["dim_status"],
        wh["dim_location"],
        wh["dim_carrier"],
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_incremental_insert_idempotent(spark, sf_dir):
    from logistics_data_pipeline_spark.adapters.testdata import load_table

    events = load_table(spark, sf_dir, "events")
    existing = events.filter("event_id % 10 < 3")
    incoming = events.filter("event_id % 10 < 5")
    inserted = incremental_insert(incoming, existing)
    assert inserted.filter("event_id % 10 < 3").count() == 0
    # re-inserting the union is a no-op
    again = incremental_insert(incoming, existing.unionByName(inserted))
    assert again.count() == 0


def test_merge_upsert_updates_and_inserts(spark):
    from logistics_data_pipeline_spark.sources.bronze import merge_upsert

    target = spark.createDataFrame(
        [("e1", "old"), ("e2", "old")], ["event_id", "status"]
    )
    updates = spark.createDataFrame(
        [("e2", "new"), ("e3", "new")], ["event_id", "status"]
    )
    got = {r.event_id: r.status for r in merge_upsert(target, updates).collect()}
    assert got == {"e1": "old", "e2": "new", "e3": "new"}


def test_schema_tests_match_oracle_on_poisoned_warehouse(spark, sf_dir):
    """A clean warehouse only ever yields all-zero schema tests, which a
    suite that always returned 0 would also pass. Inject violations of
    all four kinds into the sf0.001 warehouse (duplicate and NULL keys,
    an off-list invalid_reason, orphan FKs from dropped dim_order rows
    and overwritten fact time_sk values) and require the DuckDB oracle's
    counts over the same frames."""
    import duckdb
    from check_correctness import compare
    from pyspark.sql import functions as F

    from logistics_data_pipeline_spark import oracles
    from logistics_data_pipeline_spark.adapters.testdata import bronze_events
    from logistics_data_pipeline_spark.operators.schema_tests import star_schema_tests

    wh = build_warehouse(bronze_events(spark, sf_dir), persist=False)

    def dup_and_null(df, key, *cols):
        """``df`` plus a copy of its first row and a copy with a NULL key."""
        df = df.select(key, *cols)
        first = df.orderBy(key).limit(1)
        null_key = F.lit(None).cast(df.schema[key].dataType)
        return df.unionByName(first).unionByName(first.withColumn(key, null_key))

    fks = ["order_sk", "time_sk", "status_sk", "origin_location_sk",
           "destination_location_sk", "carrier_sk"]
    orphan_time = F.when(F.col("event_sk").startswith("f"), F.lit("orphan"))
    poisoned = {
        "stg_logistics_events": dup_and_null(wh["stg_logistics_events"], "event_id"),
        "int_valid_logistics_events": dup_and_null(
            wh["int_valid_logistics_events"], "event_id"
        ),
        "int_invalid_logistics_events": wh["int_invalid_logistics_events"]
        .select("invalid_reason")
        .unionByName(spark.createDataFrame(
            [("NOT_A_REASON",), ("NOT_A_REASON",), (None,)], "invalid_reason string"
        )),
        "fact_event": wh["fact_event"]
        .withColumn("time_sk", orphan_time.otherwise(F.col("time_sk")))
        .select("is_late_delivery", *fks),
        "dim_time": dup_and_null(wh["dim_time"], "time_sk", "full_timestamp"),
        "dim_location": dup_and_null(wh["dim_location"], "location_sk", "location_name"),
        "dim_status": dup_and_null(wh["dim_status"], "status_sk", "status_name"),
        "dim_carrier": dup_and_null(wh["dim_carrier"], "carrier_sk", "carrier_name"),
        "dim_order": dup_and_null(
            wh["dim_order"].filter(~F.col("order_sk").startswith("0")),
            "order_sk", "order_id",
        ),
    }
    # pin each frame's rows so Spark and DuckDB read the same ones
    poisoned = {k: df.localCheckpoint() for k, df in poisoned.items()}
    got = star_schema_tests(poisoned).toPandas()

    oracle_names = {
        "stg_logistics_events": "stg",
        "int_valid_logistics_events": "valid",
        "int_invalid_logistics_events": "invalid",
    }
    con = duckdb.connect()
    for key, df in poisoned.items():
        con.register(oracle_names.get(key, key), df.toPandas())
    assert oracles.SCHEMA_TESTS_SQL.startswith(oracles.PRELUDE)
    want = con.execute(oracles.SCHEMA_TESTS_SQL.removeprefix(oracles.PRELUDE)).df()
    con.close()

    assert compare("dbt_schema_tests", got, want) == []
    failing = set(got.loc[got.violations > 0, "test_name"])
    for kind in ("_not_null", "_unique", "_accepted_values", "_relationship"):
        assert any(n.endswith(kind) for n in failing), (kind, sorted(failing))
    assert {"fact_order_sk_relationship", "fact_time_sk_relationship"} <= failing


def test_write_gold_jobs_stay_in_callers_job_group(spark, sf_dir, tmp_path):
    """write_gold submits its writes from driver threads. Every job they
    run must land in the caller's job group, or per-phase attribution
    loses them (a plain thread starts with no job group)."""
    import time

    from logistics_data_pipeline_spark.adapters.testdata import bronze_events
    from logistics_data_pipeline_spark.pipeline import write_gold

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker_job(group: str) -> int:
        """Run one job in ``group`` and return its id once the status
        store has recorded it (and so every job submitted before it)."""
        sc.setJobGroup(group, group)
        spark.range(1).collect()
        sc.setJobGroup(None, None)
        deadline = time.monotonic() + 30
        while not tracker.getJobIdsForGroup(group) and time.monotonic() < deadline:
            time.sleep(0.05)
        return max(tracker.getJobIdsForGroup(group))

    wh = build_warehouse(bronze_events(spark, sf_dir), persist=False)
    before = marker_job("gold-before")
    sc.setJobGroup("gold-write", "write_gold")
    try:
        write_gold(wh, str(tmp_path / "gold"))
    finally:
        sc.setJobGroup(None, None)
    after = marker_job("gold-after")
    submitted = set(range(before + 1, after))
    assert submitted
    assert set(tracker.getJobIdsForGroup("gold-write")) == submitted
