"""The workloads, each a closed loop with one client: every call waits
for its result before the next is made.

A workload has a set-up step (``prepare``), which the benchmark repeats
and times, and a pass, a fixed list of operations in an order the seed
picks. Every operation is timed on its own; its outputs are checked
after the timing stops, and a failed check counts the operation as
failed.

* ``hourly_dag``: hourly batches of wire events land in the stream's
  source directory; each goes through streaming ingest, the four task
  bodies of ``orchestration.build_pipeline_tasks`` via ``run_dag``, and
  ``pipeline.write_gold``. Bronze is re-read in full every hour. Set-up
  runs the first hour, so the pass is warm and takes the incremental
  path.
* ``analyst_queries``: a warm session whose silver layer is built in
  set-up refreshes both dashboards and runs ad-hoc registry queries,
  collecting each result with ``toPandas()``.
* ``llm_curation``: from cold caches, builds the shared dedup indexes
  through ``registry._dedup_shared`` and writes each curation output as
  Parquet.
* ``registry_queries``: ``analyst_queries`` then ``llm_curation`` in
  one session.
"""

from __future__ import annotations

import functools
import glob
import os
import shutil
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logistics_data_pipeline_spark import dashboards, registry
from logistics_data_pipeline_spark.adapters.testdata import bronze_events
from logistics_data_pipeline_spark.operators import dq_summary, star
from logistics_data_pipeline_spark.orchestration import build_pipeline_tasks, run_dag
from logistics_data_pipeline_spark.pipeline import write_gold
from logistics_data_pipeline_spark.sources.generator import synthetic_events, to_wire
from logistics_data_pipeline_spark.streaming.ingest import bronze_sink, text_replay_source

from datagen import Profile
from oracle import Oracle
from spans import Tracer


@dataclass
class Run:
    """State one benchmark run shares with its workload."""

    spark: object
    data_dir: str
    work: str
    tracer: Tracer
    rng: object  # random.Random seeded from --seed
    profile: Profile
    oracle: Oracle
    latencies: list[float] = field(default_factory=list)
    items: int = 0
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    counts: dict = field(default_factory=dict)
    cpu: object = None  # () -> CPU seconds used so far by the driver and JVM
    check_s: float = 0.0  # wall time spent checking outputs
    check_cpu_s: float = 0.0  # CPU time spent checking outputs

    def count(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + value

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)

    def check(self, what: str, problems: list[str]) -> bool:
        """Record a failed output check; returns True when it passed."""
        if problems:
            self.fail(f"{what}: " + "; ".join(problems))
        return not problems


def _timed_check(run: Run, fn) -> None:
    """Run an output check; its time is left out of the pass."""
    t, c = time.perf_counter(), run.cpu()
    try:
        with run.tracer.span("bench.check"):
            fn()
    finally:
        run.check_s += time.perf_counter() - t
        run.check_cpu_s += run.cpu() - c


# --- hourly_dag ------------------------------------------------------------

BRONZE_TABLE = "raw_logistics"
AS_OF_DATE = "2026-01-01"
FIRST_HOUR = datetime(2026, 1, 1, 1)
# The views dbt_transform registers, which write_gold reads.
WAREHOUSE_VIEWS = (
    "stg_logistics_events",
    "int_valid_logistics_events",
    "int_invalid_logistics_events",
    "dim_time",
    "dim_location",
    "dim_status",
    "dim_carrier",
    "dim_order",
    "fact_event",
    "dq_invalid_delivery_summary",
)
# Task id -> the layer whose public function its body calls.
TASK_LAYERS = {
    "load_to_duckdb": "sources.bronze.load",
    "data_quality_check": "operators.quality.gate",
    "dbt_transform": "pipeline.build_warehouse",
    "dbt_test": "operators.schema_tests.run",
}


def _dir_files(path: str, pattern: str = "*.parquet") -> list[str]:
    return glob.glob(os.path.join(path, "**", pattern), recursive=True)


class Workload:
    """A workload's three steps. ``prepare`` sets up fresh state and is
    repeated and timed; ``warm_up`` runs once after it and counts as
    set-up too; ``run_pass`` is one timed pass."""

    name = ""

    def prepare(self, run: Run) -> None:
        pass

    def warm_up(self, run: Run) -> None:
        pass

    def run_pass(self, run: Run) -> None:
        raise NotImplementedError


class HourlyDag(Workload):
    name = "hourly_dag"

    def __init__(self, run: Run):
        """Pick the batches' id ranges and duplicate share from the seed."""
        self.dirs = {k: os.path.join(run.work, "dag", k)
                     for k in ("staging", "wire", "bronze", "checkpoint", "gold")}
        n = run.profile.batch_events
        base = run.rng.randrange(0, 10**7) * 10
        dups = max(round(n * run.rng.uniform(0.04, 0.06)), 1)
        # batch b: fresh ids [base + b*n, base + (b+1)*n) plus `dups`
        # redeliveries of ids already delivered or in the same batch
        self.batches = [
            (base + b * n, n, run.rng.randrange(base, base + (b + 1) * n - dups + 1), dups)
            for b in range(run.profile.batches)
        ]
        self.bronze_rows = 0

    def _reset(self, run: Run) -> None:
        run.spark.sql(f"DROP TABLE IF EXISTS {BRONZE_TABLE}")
        for k, d in self.dirs.items():
            if k != "staging":
                shutil.rmtree(d, ignore_errors=True)
                os.makedirs(d)

    def stage_inputs(self, run: Run) -> None:
        """Write the K batches as wire text files, ready to land, one
        directory ``batch=<b>`` per batch, in one Spark job."""
        wire = [
            to_wire(synthetic_events(run.spark, n, start=lo).unionByName(
                synthetic_events(run.spark, dups, start=dup_lo)
            )).select("value", F.lit(b).alias("batch"))
            for b, (lo, n, dup_lo, dups) in enumerate(self.batches)
        ]
        functools.reduce(DataFrame.unionByName, wire).coalesce(1).write.partitionBy(
            "batch"
        ).text(self.dirs["staging"])

    def prepare(self, run: Run) -> None:
        """Fresh state: no bronze table, and empty staging, wire, bronze,
        checkpoint and gold directories."""
        self._reset(run)
        shutil.rmtree(self.dirs["staging"], ignore_errors=True)

    def warm_up(self, run: Run) -> None:
        """The K batches staged by the producer (``synthetic_events`` +
        ``to_wire``), then the first hour through the whole DAG: a warm
        pass, after which the bronze table holds batch 0 and the next
        hour's load takes the anti-join path."""
        self.stage_inputs(run)
        dag, _, _ = self._hour(run, 0)
        if not dag.succeeded:
            raise RuntimeError(f"first hour failed: {[(t.task_id, t.state) for t in dag.tasks]}")
        self.bronze_rows = run.profile.batch_events

    def _land(self, b: int) -> None:
        staged = glob.glob(os.path.join(self.dirs["staging"], f"batch={b}", "part-*"))
        for i, f in enumerate(staged):
            shutil.copy(f, os.path.join(self.dirs["wire"], f"b{b}-{i}.json"))

    def _hour(self, run: Run, b: int):
        """Land batch ``b``, ingest it, run the DAG on it and write gold.
        Returns the DAG run, the warehouse views when it succeeded, and
        the rows the stream read."""
        spark, tr = run.spark, run.tracer
        self._land(b)
        with tr.span("streaming.ingest", group=f"{self.name}/b{b}/ingest"):
            q = bronze_sink(
                text_replay_source(spark, self.dirs["wire"]),
                self.dirs["bronze"], self.dirs["checkpoint"],
            )
            q.awaitTermination()
        rows_in = sum(p.get("numInputRows", 0) for p in q.recentProgress)
        tasks = [
            (tid, self._traced(tr, tid, b, fn))
            for tid, fn in build_pipeline_tasks(
                spark, os.path.join(self.dirs["bronze"], "*.parquet"),
                AS_OF_DATE, FIRST_HOUR + timedelta(hours=b), BRONZE_TABLE,
            )
        ]
        with tr.span("orchestration.run_dag"):
            dag = run_dag(tasks, retry_delay_s=1.0)
        if not dag.succeeded:
            return dag, None, rows_in
        wh = {v: spark.table(v) for v in WAREHOUSE_VIEWS}
        with tr.span("pipeline.write_gold", group=f"{self.name}/b{b}/gold"):
            write_gold(wh, self.dirs["gold"])
        return dag, wh, rows_in

    def run_pass(self, run: Run) -> None:
        """Every hour after the first. Freshness runs from the batch
        landing to its gold written and tests passed."""
        bronze_files = len(_dir_files(self.dirs["bronze"]))
        for b in range(1, len(self.batches)):
            run.attempted += 1
            t_land = time.perf_counter()
            try:
                dag, wh, rows_in = self._hour(run, b)
            except Exception as exc:  # noqa: BLE001 — one failed batch is one failed op
                run.fail(f"batch {b}: {type(exc).__name__}: {exc}")
                continue
            run.latencies.append(time.perf_counter() - t_land)
            run.count("streaming.rows_in", rows_in)
            run.items += self.batches[b][1] + self.batches[b][3]
            run.count("orchestration.task_attempts", sum(t.attempts for t in dag.tasks))
            files_now = len(_dir_files(self.dirs["bronze"]))
            run.count("streaming.files_out", files_now - bronze_files)
            bronze_files = files_now
            _timed_check(run, lambda: self._check(run, b, dag, wh))

    @staticmethod
    def _traced(tr: Tracer, tid: str, b: int, fn):
        layer = TASK_LAYERS.get(tid)
        if layer is None:
            return fn

        def body():
            with tr.span(layer, group=f"hourly_dag/b{b}/{tid}"):
                return fn()

        return body

    def _check(self, run: Run, b: int, dag, wh) -> None:
        what = f"hourly_dag batch {b}"
        if not dag.succeeded:
            failed = [(t.task_id, t.state, repr(t.error)) for t in dag.tasks if t.state != "success"]
            run.fail(f"{what}: DAG run failed: {failed}")
            return
        retried = [t.task_id for t in dag.tasks if t.attempts > 1]
        if retried:
            run.fail(f"{what}: tasks retried: {retried}")
            return
        spark = run.spark
        bronze_rows = spark.table(BRONZE_TABLE).count()
        # ids are contiguous from base, and every redelivery repeats one
        expected = (b + 1) * run.profile.batch_events
        run.count("sources.bronze.rows_inserted", bronze_rows - self.bronze_rows)
        self.bronze_rows = bronze_rows
        gold = spark.read.parquet(os.path.join(self.dirs["gold"], "fact_event")).count()
        valid = wh["int_valid_logistics_events"].count()
        gold_files = _dir_files(self.dirs["gold"])
        run.count("pipeline.gold_files", len(gold_files))
        run.count("pipeline.gold_bytes", sum(os.path.getsize(f) for f in gold_files))
        problems = []
        if bronze_rows != expected:
            problems.append(f"bronze rows {bronze_rows} != distinct delivered event_ids {expected}")
        if gold != valid or valid == 0:
            problems.append(f"gold fact rows {gold} != valid rows {valid}")
        run.check(what, problems)


# --- analyst_queries -------------------------------------------------------

# Ad-hoc queries, each with the operator group it reports under.
ADHOC = {
    "tpch_q3_shipping_priority": "operators.tpch",
    "events_rollup": "operators.analytics",
    "events_retention_cohorts": "operators.temporal",
}
# Dashboard chart -> the registry key whose operator it renders, and
# whose DuckDB oracle checks it.
CHART_KEYS = {
    "carrier_performance": "kpi_carrier_performance",
    "active_shipment_map": "kpi_active_shipments",
    "weight_distribution": "kpi_weight_distribution",
    "events_by_status": "kpi_status_distribution",
    "headline_metrics": "monitor_scalar_metrics",
    "ingestion_trend": "monitor_ingest_trend",
    "dq_issues": "monitor_dq_rollup",
    "recent_raw": "monitor_recent_events",
}
DASHBOARDS = {
    "dashboards.business_kpi": "operators.kpi",
    "dashboards.monitoring": "operators.monitoring",
}


def _business_kpi(spark, d):
    valid = registry._valid(spark, d)
    return dashboards.business_kpi_dashboard(
        registry._fact(spark, d), star.dim_carrier(valid),
        star.dim_location(valid), star.dim_status(valid),
    )


def _monitoring(spark, d):
    return dashboards.monitoring_dashboard(
        bronze_events(spark, d),
        dq_summary.dq_invalid_delivery_summary(registry._stg(spark, d), registry._invalid(spark, d)),
    )


_DASHBOARD_BUILDERS = {
    "dashboards.business_kpi": _business_kpi,
    "dashboards.monitoring": _monitoring,
}


def _release(run: Run) -> None:
    """Between curation calls, release operator-scoped persists as a
    long-lived session should (``registry.clear_session_caches``)."""
    with run.tracer.span("registry.release"):
        registry.clear_session_caches(run.spark)


def _query(run: Run, group: str, layer: str, key: str, build, action):
    """One timed query: build the DataFrame, then run its action. Returns
    (True, the action's result), or (False, None) when either raised."""
    tr = run.tracer
    run.attempted += 1
    t = time.perf_counter()
    try:
        with tr.span(layer):
            with tr.span("registry.build", group=f"{group}/{key}/build"):
                df = build()
            with tr.span("registry.action", group=f"{group}/{key}/action"):
                out = action(df)
    except Exception as exc:  # noqa: BLE001 — one failed query is one failed op
        run.fail(f"{key}: {type(exc).__name__}: {exc}")
        return False, None
    run.latencies.append(time.perf_counter() - t)
    run.items += 1
    return True, out


class AnalystQueries(Workload):
    name = "analyst_queries"

    def __init__(self, run: Run):
        self.queries = registry.queries()

    def prepare(self, run: Run) -> None:
        """Drop every cached layer, then build the silver layer the
        dashboards and queries read."""
        registry.clear_session_caches(run.spark, keep_layers=False)
        with run.tracer.span("registry.silver_build", group=f"{self.name}/silver"):
            registry._valid(run.spark, run.data_dir).count()

    def run_pass(self, run: Run) -> None:
        spark, d, tr = run.spark, run.data_dir, run.tracer
        ops = list(DASHBOARDS) + list(ADHOC)
        run.rng.shuffle(ops)
        for op in ops:
            if op in DASHBOARDS:
                with tr.span(op, group=f"{self.name}/{op}/build"):
                    try:
                        charts = _DASHBOARD_BUILDERS[op](spark, d)
                    except Exception as exc:  # noqa: BLE001
                        run.attempted += 1
                        run.fail(f"{op}: {type(exc).__name__}: {exc}")
                        continue
                    for chart in charts:
                        key = CHART_KEYS[chart.chart_id]
                        ok, pdf = _query(run, self.name, DASHBOARDS[op], key,
                                         lambda c=chart: c.df, lambda df: df.toPandas())
                        if ok:
                            self._check(run, key, pdf)
            else:
                ok, pdf = _query(run, self.name, ADHOC[op], op,
                                 lambda k=op: self.queries[k](spark, d), lambda df: df.toPandas())
                if ok:
                    self._check(run, op, pdf)

    @staticmethod
    def _check(run: Run, key: str, pdf) -> None:
        _timed_check(run, lambda: run.check(key, run.oracle.compare(key, pdf)))


# --- llm_curation ----------------------------------------------------------

INDEXES = ("sh3",)
# Curation outputs, each with the llm layer that implements it.
CURATION = {
    "docs_exact_dedup": "llm.dedup",
    "docs_text_stats": "llm.text",
    "docs_quality_filter": "llm.curation",
    "emb_knn_bruteforce": "llm.similarity",
    "multimodal_frame_sample": "llm.multimodal",
}


class LlmCuration(Workload):
    name = "llm_curation"

    def __init__(self, run: Run):
        self.queries = registry.queries()
        self.out = os.path.join(run.work, "curation")

    def prepare(self, run: Run) -> None:
        """Cold caches and an empty output directory."""
        registry.clear_session_caches(run.spark, keep_layers=False)
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out)

    def run_pass(self, run: Run) -> None:
        spark, d, tr = run.spark, run.data_dir, run.tracer
        self.prepare(run)
        for asset in INDEXES:
            _query(run, self.name, f"registry.index.{asset}", asset,
                   lambda a=asset: registry._dedup_shared(spark, d, a),
                   lambda df: df.write.mode("overwrite").format("noop").save())
        keys = list(CURATION)
        run.rng.shuffle(keys)
        written = []
        for key in keys:
            path = os.path.join(self.out, key)
            ok, _ = _query(run, self.name, CURATION[key], key,
                           lambda k=key: self.queries[k](spark, d),
                           lambda df, p=path: df.write.mode("overwrite").parquet(p))
            if ok:
                written.append(key)
            _release(run)
        _timed_check(run, lambda: self._check(run, written))

    def _check(self, run: Run, written: list[str]) -> None:
        for key in written:
            pdf = run.spark.read.parquet(os.path.join(self.out, key)).toPandas()
            run.check(key, run.oracle.compare(key, pdf))


# --- registry_queries ------------------------------------------------------


class RegistryQueries(Workload):
    """``analyst_queries`` then ``llm_curation`` in one session: the two
    workloads that reach the program through the query registry, run
    in one process so they share one session start."""

    name = "registry_queries"

    def __init__(self, run: Run):
        self.parts = (AnalystQueries(run), LlmCuration(run))

    def prepare(self, run: Run) -> None:
        # curation's cold-cache reset first, so the silver layer survives
        for part in reversed(self.parts):
            part.prepare(run)

    def run_pass(self, run: Run) -> None:
        for part in self.parts:
            check_before, t = run.check_s, time.perf_counter()
            with run.tracer.span(f"workload.{part.name}"):
                part.run_pass(run)
            run.count(f"{part.name}.wall_s", time.perf_counter() - t - (run.check_s - check_before))


WORKLOADS = {w.name: w for w in (HourlyDag, RegistryQueries, AnalystQueries, LlmCuration)}
