"""Scheduler/retry semantics of the reference's Airflow DAG, engine-side.

The reference orchestrates five tasks hourly with per-task retries
(`airflow/dags/logistics_dag.py:7-16,27`: ``retries=2``,
``retry_delay=timedelta(minutes=5)``, ``schedule_interval='@hourly'``,
``catchup=False``, linear chain ``stream_to_minio >> load_to_duckdb >>
data_quality_check >> dbt_transform >> dbt_test``). The task BODIES were
already ported (the DQ gate, `pipeline.build_warehouse`, the schema tests);
this module ports the POLICY so a user of the reference keeps the same
failure behavior: a task that fails is retried up to ``retries`` times
with ``retry_delay`` between attempts, a task that exhausts its retries
fails the run and SKIPS everything downstream, and the hourly schedule
fires on wall-clock hour boundaries without back-filling missed
intervals.

Clock and sleep are injected so the semantics are unit-testable without
wall time; in production the defaults are the real ones. At 100 TB this
layer is driver-only control flow — no data moves through it."""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from typing import Callable

# airflow/dags/logistics_dag.py:11-12
DEFAULT_RETRIES = 2
DEFAULT_RETRY_DELAY_S = 300.0
# airflow/dags/logistics_dag.py:27 (@hourly)
SCHEDULE_INTERVAL = timedelta(hours=1)

# airflow/dags/logistics_dag.py:33-82 — the linear chain's task ids
TASK_CHAIN = (
    "stream_to_minio",
    "load_to_duckdb",
    "data_quality_check",
    "dbt_transform",
    "dbt_test",
)


@dataclass
class TaskRun:
    """Outcome of one task: Airflow's success / failed / upstream_failed."""

    task_id: str
    state: str  # "success" | "failed" | "upstream_failed"
    attempts: int
    error: BaseException | None = None


@dataclass
class DagRun:
    """Outcome of one scheduled run of the chain."""

    tasks: list[TaskRun] = field(default_factory=list)

    @property
    def succeeded(self) -> bool:
        return all(t.state == "success" for t in self.tasks)

    def state_of(self, task_id: str) -> str:
        for t in self.tasks:
            if t.task_id == task_id:
                return t.state
        raise KeyError(task_id)


def run_task_with_retries(
    task_id: str,
    fn: Callable[[], object],
    retries: int = DEFAULT_RETRIES,
    retry_delay_s: float = DEFAULT_RETRY_DELAY_S,
    sleep: Callable[[float], None] = time.sleep,
) -> TaskRun:
    """Airflow's per-task retry loop: 1 try + ``retries`` retries, with
    ``retry_delay`` of sleep BETWEEN attempts (none after the last)."""
    attempts = 0
    while True:
        attempts += 1
        try:
            fn()
            return TaskRun(task_id, "success", attempts)
        except Exception as exc:  # noqa: BLE001 — task bodies are arbitrary
            if attempts > retries:
                return TaskRun(task_id, "failed", attempts, exc)
            sleep(retry_delay_s)


def run_dag(
    tasks: list[tuple[str, Callable[[], object]]],
    retries: int = DEFAULT_RETRIES,
    retry_delay_s: float = DEFAULT_RETRY_DELAY_S,
    sleep: Callable[[float], None] = time.sleep,
) -> DagRun:
    """Execute a linear chain with the reference DAG's semantics: each
    task retried independently; the first task to exhaust its retries
    fails the run and every downstream task is marked
    ``upstream_failed`` without executing (Airflow's default
    ``all_success`` trigger rule on a linear chain)."""
    run = DagRun()
    failed = False
    for task_id, fn in tasks:
        if failed:
            run.tasks.append(TaskRun(task_id, "upstream_failed", 0))
            continue
        tr = run_task_with_retries(task_id, fn, retries, retry_delay_s, sleep)
        run.tasks.append(tr)
        failed = tr.state == "failed"
    return run


def next_hourly_fire(now: datetime, last_fire: datetime | None = None) -> datetime:
    """Next fire time for ``@hourly`` with ``catchup=False``: the next
    hour boundary strictly after ``now``; missed intervals are NOT
    back-filled (the reference sets catchup=False, so a scheduler that
    was down for a day runs once, not 24 times). ``last_fire`` only
    guards against double-firing inside the same interval."""
    boundary = now.replace(minute=0, second=0, microsecond=0)
    nxt = boundary + SCHEDULE_INTERVAL
    if last_fire is not None and last_fire >= nxt:
        nxt = last_fire.replace(minute=0, second=0, microsecond=0) + SCHEDULE_INTERVAL
    return nxt


def build_pipeline_tasks(
    spark,
    bronze_glob: str,
    as_of_date: str,
    clock: datetime,
    table_name: str = "raw_logistics",
) -> list[tuple[str, Callable[[], object]]]:
    """The five reference tasks wired to this engine's ported bodies.
    ``stream_to_minio`` is a no-op placeholder here (ingest is the
    streaming module's job and tests inject their own); the other four
    map 1:1 — bronze incremental load, DQ gate (errors raise → retry →
    fail), warehouse build + view registration, dbt schema tests (any
    failed test raises, exactly dbt test's nonzero exit)."""
    from .operators.quality import run_quality_gate
    from .operators.schema_tests import star_schema_tests
    from .pipeline import QualityGateFailed, build_warehouse, register_views
    from .sources.bronze import first_or_incremental_load

    state: dict[str, object] = {}

    def load_to_duckdb() -> None:
        first_or_incremental_load(spark, bronze_glob, table_name, clock)
        state["bronze"] = spark.table(table_name)

    def data_quality_check() -> None:
        report = run_quality_gate(state["bronze"], as_of_date)
        if not report.passed:
            raise QualityGateFailed(report)

    def dbt_transform() -> None:
        wh = build_warehouse(state["bronze"])
        register_views(wh)
        state["warehouse"] = wh

    def dbt_test() -> None:
        failed = (
            star_schema_tests(state["warehouse"])
            .filter("violations > 0")
            .collect()
        )
        if failed:
            raise RuntimeError(
                "dbt test failures: "
                + ", ".join(sorted(r.test_name for r in failed))
            )

    return [
        ("stream_to_minio", lambda: None),
        ("load_to_duckdb", load_to_duckdb),
        ("data_quality_check", data_quality_check),
        ("dbt_transform", dbt_transform),
        ("dbt_test", dbt_test),
    ]
