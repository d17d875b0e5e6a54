"""dbt-schema-test equivalents over the star layer.

Reference: ``logistics_pipeline/models/layer/schema.yml`` run by the
DAG's dbt_test task (SURVEY.md §5 item 2): not_null + unique on staging
and valid event_ids, dim surrogate/natural keys; accepted_values on
invalid_reason and is_late_delivery; relationships (FK integrity) from
fact_event's six FKs to their dims. (The reference's YAML has a typo'd
``versio:`` header and a mis-indented fact block — the declared *intent*
is implemented here.)

Each test yields one (test_name, violations) row; a green run is all
zeros. Invariant: the whole suite, FK tests included, is ONE stacked
aggregation — each table is scanned once, no dim is broadcast (dim_order
and dim_time are high-cardinality, star.py), and the only join is the
fill-in of zero-violation rows from the literal list of test names.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .validity import INVALID_REASONS


def star_schema_tests(wh: dict[str, DataFrame]) -> DataFrame:
    """The full schema.yml suite over a built warehouse dict
    (pipeline.build_warehouse output), as one stacked aggregation.

    Each table is scanned once, stacking its checked columns into
    (test_name, value, is_parent) rows (values cast to string —
    injective within a check, so null/dup/accepted semantics survive).
    A relationship test stacks the fact's FK values as children
    (is_parent = 0) and its dim's keys as parents (is_parent = 1). One
    groupBy(test_name, value) counts the children (``cnt``) and flags a
    parent; one groupBy(test_name) sums the violations: ``cnt`` of the
    NULL value (not_null), of off-list values (accepted_values) or of
    parentless values (relationships), and one per value with
    ``cnt > 1`` (unique). FK values shuffle with map-side partial
    aggregation and no side is broadcast; a left join from the literal
    test list restores zero-violation rows for empty tables."""
    dims = [
        ("dim_time", "time_sk", "full_timestamp"),
        ("dim_location", "location_sk", "location_name"),
        ("dim_status", "status_sk", "status_name"),
        ("dim_carrier", "carrier_sk", "carrier_name"),
        ("dim_order", "order_sk", "order_id"),
    ]
    # (test_name, fact FK column, parent dim, parent key)
    rels = [
        (f"fact_{fk}_relationship", fk, dim, pk)
        for fk, dim, pk in [
            ("order_sk", "dim_order", "order_sk"),
            ("time_sk", "dim_time", "time_sk"),
            ("status_sk", "dim_status", "status_sk"),
            ("origin_location_sk", "dim_location", "location_sk"),
            ("destination_location_sk", "dim_location", "location_sk"),
            ("carrier_sk", "dim_carrier", "carrier_sk"),
        ]
    ]
    # (table_key, [(check_name, column), ...]) — one stack per table
    per_table: list[tuple[str, list[tuple[str, str]]]] = [
        ("stg_logistics_events",
         [("stg_event_id_not_null", "event_id"), ("stg_event_id_unique", "event_id")]),
        ("int_valid_logistics_events",
         [("valid_event_id_not_null", "event_id"), ("valid_event_id_unique", "event_id")]),
        ("int_invalid_logistics_events",
         [("invalid_reason_accepted_values", "invalid_reason")]),
        ("fact_event",
         [("is_late_delivery_accepted_values", "is_late_delivery")]
         + [(n, fk) for n, fk, _, _ in rels]),
    ] + [
        (dim, [(f"{dim}_{sk}_not_null", sk), (f"{dim}_{sk}_unique", sk),
               (f"{dim}_{nk}_unique", nk)])
        for dim, sk, nk in dims
    ]

    stacked = None
    for table_key, checks in per_table:
        rows = [(n, col, 0) for n, col in checks] + [
            (n, pk, 1) for n, _, dim, pk in rels if dim == table_key
        ]
        exprs = ", ".join(f"'{n}', CAST({col} AS STRING), {p}" for n, col, p in rows)
        part = wh[table_key].selectExpr(
            f"stack({len(rows)}, {exprs}) AS (test_name, value, is_parent)"
        )
        stacked = part if stacked is None else stacked.unionByName(part)

    accepted: dict[str, list[str]] = {
        "invalid_reason_accepted_values": list(INVALID_REASONS),
        "is_late_delivery_accepted_values": ["true", "false"],  # CAST(bool AS STRING)
    }
    cnt, val, name = F.col("cnt"), F.col("value"), F.col("test_name")
    viol = (
        F.when(name.endswith("_not_null"), F.when(val.isNull(), cnt).otherwise(0))
        .when(name.endswith("_unique"),
              F.when(val.isNotNull() & (cnt > 1), 1).otherwise(0))
        .when(name.endswith("_relationship"),
              F.when(val.isNotNull() & (F.col("parent") == 0), cnt).otherwise(0))
    )
    for acc_name, acc_vals in accepted.items():
        viol = viol.when(
            name == acc_name,
            F.when(val.isNotNull() & ~val.isin(acc_vals), cnt).otherwise(0),
        )
    per_check = (
        stacked.groupBy("test_name", "value")
        .agg(F.sum(1 - F.col("is_parent")).alias("cnt"),
             F.max("is_parent").alias("parent"))
        .groupBy("test_name")
        .agg(F.sum(viol).cast("bigint").alias("violations"))
    )
    expected = wh["fact_event"].sparkSession.createDataFrame(
        [(n,) for _, cs in per_table for n, _ in cs], "test_name string"
    )
    return expected.join(per_check, "test_name", "left").select(
        "test_name",
        F.coalesce("violations", F.lit(0)).cast("bigint").alias("violations"),
    )
