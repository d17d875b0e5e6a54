"""End-to-end composition: the Airflow DAG re-expressed as one Spark job.

Reference: ``airflow/dags/logistics_dag.py`` runs consumer → loader → DQ
gate → dbt transform → dbt test as five OS processes (SURVEY.md §3.2).
Here the whole chain is one lazy DataFrame lineage; Catalyst sees every
stage and optimizes across them.

Scale notes:
* ``valid_events`` feeds six consumers (5 dims + fact); it is persisted
  once instead of recomputed per branch (the reference's all-views
  materialization recomputes staging+star on every dashboard query —
  SURVEY.md §4).
* ``write_gold`` materializes the star as parquet partitioned sensibly
  for 100 TB (fact partitioned by ingest date; dims unpartitioned), the
  scalable alternative to view-only materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from .operators.dq_summary import dq_invalid_delivery_summary
from .operators.quality import QualityReport
from .operators.staging import stage_events
from .operators.star import (
    dim_carrier,
    dim_location,
    dim_order,
    dim_status,
    dim_time,
    fact_event_fast,
)
from .operators.validity import invalid_events, valid_events


class QualityGateFailed(RuntimeError):
    """Reference: DQ errors exit 1 and halt the DAG
    (data_quality_check.py:197-200)."""

    def __init__(self, report: QualityReport):
        super().__init__(f"data quality gate failed: {report.counts}")
        self.report = report


def build_warehouse(bronze: DataFrame, persist: bool = True) -> dict[str, DataFrame]:
    """Bronze → staging → valid/invalid → star, as lazy DataFrames.

    The fact uses the join-free formulation (star.fact_event_fast: one
    shuffle, output-identical to the six-join reference shape that
    star.fact_event keeps as the test reference)."""
    stg = stage_events(bronze)
    valid = valid_events(stg)
    if persist:
        valid = valid.persist(StorageLevel.MEMORY_AND_DISK)
    invalid = invalid_events(stg)
    return {
        "stg_logistics_events": stg,
        "int_valid_logistics_events": valid,
        "int_invalid_logistics_events": invalid,
        "dim_time": dim_time(valid),
        "dim_location": dim_location(valid),
        "dim_status": dim_status(valid),
        "dim_carrier": dim_carrier(valid),
        "dim_order": dim_order(valid),
        "fact_event": fact_event_fast(valid),
        "dq_invalid_delivery_summary": dq_invalid_delivery_summary(stg, invalid),
    }


def register_views(warehouse: dict[str, DataFrame]) -> None:
    """The reference's everything-is-a-view materialization
    (dbt_project.yml:32-43) ≡ temp views: lazy, re-evaluated per query."""
    for name, df in warehouse.items():
        df.createOrReplaceTempView(name)


def write_gold(warehouse: dict[str, DataFrame], path: str) -> None:
    """Materialize the star as parquet — the 100 TB-scale alternative to
    views. Fact partitioned by ingestion date (partition pruning for
    time-ranged analytics); dims are small and unpartitioned. The seven
    writes target distinct paths, so they run concurrently on driver
    threads that inherit the caller's job group; the first failure is
    re-raised once every write has finished."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target
    from pyspark.sql import functions as F

    fact = warehouse["fact_event"]
    stg = warehouse["stg_logistics_events"]
    # fact carries no date column; derive ingest date from staging lineage
    fact_with_date = fact.join(
        stg.select(
            "event_id", F.col("ingestion_timestamp").cast("date").alias("ingest_date")
        ),
        "event_id",
        "left",
    )
    writers = {"fact_event": fact_with_date.write.partitionBy("ingest_date")} | {
        name: warehouse[name].write
        for name in [
            "dim_time",
            "dim_location",
            "dim_status",
            "dim_carrier",
            "dim_order",
            "dq_invalid_delivery_summary",
        ]
    }
    inherit = inheritable_thread_target(fact.sparkSession)
    with ThreadPoolExecutor(max_workers=len(writers)) as pool:
        futures = [
            pool.submit(inherit(w.mode("overwrite").parquet), f"{path}/{name}")
            for name, w in writers.items()
        ]
    for f in futures:  # the pool has joined every write by now
        f.result()


def write_gold_bucketed(
    warehouse: dict[str, DataFrame], buckets: int = 8, prefix: str = "gold_b"
) -> None:
    """Bucketed-gold mode (VERDICT r6 #7): materialize the fact and its
    two HIGH-CARDINALITY dimensions as bucketed+sorted managed tables —
    fact and dim_order co-bucketed on ``order_sk`` so the recurring
    fact⋈dim_order backbone join is shuffle-FREE sort-merge (star.py's
    module notes flag exactly this join as the at-scale shuffle);
    dim_time bucketed on ``time_sk`` for the same reason. The enum-sized
    dims (status/carrier/location) stay broadcast joins — bucketing them
    would buy nothing.

    At 1000-executor scale this converts every nightly fact⋈dim_order
    pass from a full-network shuffle of the fact into local bucket
    merges; the write pays the shuffle ONCE. Plan-asserted in
    tests/test_layout.py::test_bucketed_gold_fact_dim_order_join."""
    from .sources.bucketed import write_bucketed

    write_bucketed(warehouse["fact_event"], f"{prefix}_fact_event", "order_sk", buckets)
    write_bucketed(warehouse["dim_order"], f"{prefix}_dim_order", "order_sk", buckets)
    write_bucketed(warehouse["dim_time"], f"{prefix}_dim_time", "time_sk", buckets)


def bucketed_fact_dim_order(spark: SparkSession, prefix: str = "gold_b") -> DataFrame:
    """The backbone join over the bucketed gold layout — with bucketing
    metadata present Catalyst plans sort-merge with NO Exchange on
    either side."""
    fact = spark.table(f"{prefix}_fact_event")
    dim = spark.table(f"{prefix}_dim_order").withColumnRenamed(
        "latest_event_timestamp", "order_latest_event_timestamp"
    )
    return fact.join(dim.drop("order_id"), "order_sk")
