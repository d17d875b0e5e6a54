"""Scheduler/retry policy parity (VERDICT r8 delta #2): the reference
DAG's retries=2 / 5-min delay / @hourly catchup=False semantics
(`airflow/dags/logistics_dag.py:7-16,27`) re-expressed engine-side with
an injected clock so every branch is unit-testable."""

from __future__ import annotations

from datetime import datetime

from logistics_data_pipeline_spark import orchestration as orch
from logistics_data_pipeline_spark.adapters.testdata import bronze_events
from logistics_data_pipeline_spark.pipeline import QualityGateFailed


class FakeSleep:
    def __init__(self):
        self.calls: list[float] = []

    def __call__(self, s: float) -> None:
        self.calls.append(s)


def flaky(fail_times: int):
    state = {"n": 0}

    def fn():
        state["n"] += 1
        if state["n"] <= fail_times:
            raise RuntimeError(f"boom {state['n']}")

    return fn


def test_task_succeeds_within_retry_budget():
    sleep = FakeSleep()
    tr = orch.run_task_with_retries("t", flaky(2), sleep=sleep)
    assert tr.state == "success" and tr.attempts == 3
    # 5 minutes between attempts, none after success
    assert sleep.calls == [300.0, 300.0]


def test_task_exhausts_retries_then_fails():
    sleep = FakeSleep()
    tr = orch.run_task_with_retries("t", flaky(99), sleep=sleep)
    # 1 try + 2 retries, delay only BETWEEN attempts
    assert tr.state == "failed" and tr.attempts == 3
    assert sleep.calls == [300.0, 300.0]
    assert isinstance(tr.error, RuntimeError)


def test_dag_skips_downstream_after_terminal_failure():
    sleep = FakeSleep()
    ran: list[str] = []

    def ok(name):
        return lambda: ran.append(name)

    run = orch.run_dag(
        [
            ("a", ok("a")),
            ("b", flaky(99)),
            ("c", ok("c")),
            ("d", ok("d")),
        ],
        sleep=sleep,
    )
    assert not run.succeeded
    assert run.state_of("a") == "success"
    assert run.state_of("b") == "failed"
    assert run.state_of("c") == "upstream_failed"
    assert run.state_of("d") == "upstream_failed"
    assert ran == ["a"]  # c and d never executed


def test_dag_green_chain_runs_everything_once():
    ran: list[str] = []
    run = orch.run_dag(
        [(t, (lambda t=t: ran.append(t))) for t in orch.TASK_CHAIN],
        sleep=FakeSleep(),
    )
    assert run.succeeded
    assert ran == list(orch.TASK_CHAIN)
    assert all(t.attempts == 1 for t in run.tasks)


def test_hourly_schedule_no_catchup():
    # normal tick: next hour boundary
    now = datetime(2026, 1, 1, 10, 17, 3)
    assert orch.next_hourly_fire(now) == datetime(2026, 1, 1, 11, 0, 0)
    # scheduler down for a day: ONE next fire, no backfill of the 24
    # missed intervals (catchup=False)
    last = datetime(2026, 1, 1, 10, 0, 0)
    later = datetime(2026, 1, 2, 10, 30, 0)
    assert orch.next_hourly_fire(later, last) == datetime(2026, 1, 2, 11, 0, 0)
    # double-fire guard inside one interval
    fired = datetime(2026, 1, 1, 11, 0, 0)
    assert orch.next_hourly_fire(
        datetime(2026, 1, 1, 11, 0, 1), fired
    ) == datetime(2026, 1, 1, 12, 0, 0)


def test_full_pipeline_chain_end_to_end(spark, sf_dir, tmp_path):
    """The wired five-task chain runs green on real testdata and the
    DQ-gate task retries-then-fails the run on a poisoned batch,
    skipping dbt_transform/dbt_test — the reference's exact failure
    mode (data_quality_check exits nonzero → downstream never runs)."""
    # a clean batch: drop the rows the DQ error checks (1-5) would flag
    # — the testdata deliberately carries dirty rows; the failure path
    # below exercises the gate on a poisoned batch
    from logistics_data_pipeline_spark.operators.quality import _predicates

    src = bronze_events(spark, sf_dir).drop("ingestion_timestamp")
    for _cid, _name, sev, pred in _predicates("2026-01-01"):
        if sev == "error":
            src = src.filter(~pred | pred.isNull())
    src = src.dropDuplicates(["event_id"])
    src.write.mode("overwrite").parquet(str(tmp_path / "in" / "b1.parquet"))
    as_of = "2026-01-01"
    clock = datetime(2026, 1, 1, 0, 0, 0)
    spark.sql("DROP TABLE IF EXISTS t_orch_bronze")
    try:
        tasks = orch.build_pipeline_tasks(
            spark,
            f"{tmp_path}/in/*.parquet",
            as_of,
            clock,
            table_name="t_orch_bronze",
        )
        assert [t for t, _ in tasks] == list(orch.TASK_CHAIN)
        run = orch.run_dag(tasks, sleep=FakeSleep())
        assert run.succeeded, [
            (t.task_id, t.state, t.error) for t in run.tasks
        ]
        # views registered by dbt_transform are queryable
        assert spark.table("fact_event").count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orch_bronze")

    # poisoned batch: NULL order_ids trip DQ error check 1
    spark.sql("DROP TABLE IF EXISTS t_orch_poison")
    poison = src.selectExpr(
        *[
            "CAST(NULL AS STRING) AS order_id" if c == "order_id" else c
            for c in src.columns
        ]
    )
    poison.write.mode("overwrite").parquet(str(tmp_path / "bad" / "b1.parquet"))
    try:
        tasks = orch.build_pipeline_tasks(
            spark,
            f"{tmp_path}/bad/*.parquet",
            as_of,
            clock,
            table_name="t_orch_poison",
        )
        sleep = FakeSleep()
        run = orch.run_dag(tasks, sleep=sleep)
        assert not run.succeeded
        assert run.state_of("data_quality_check") == "failed"
        gate = next(t for t in run.tasks if t.task_id == "data_quality_check")
        assert isinstance(gate.error, QualityGateFailed)
        assert run.state_of("dbt_transform") == "upstream_failed"
        assert run.state_of("dbt_test") == "upstream_failed"
        # the failing task was retried per policy before failing the run
        assert sleep.calls == [300.0, 300.0]
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orch_poison")
