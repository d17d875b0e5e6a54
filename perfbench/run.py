"""Benchmark of the logistics pipeline on ``local[$(nproc)]``.

    python3 perfbench/run.py --workload {hourly_dag,registry_queries,...}
        --seed N --seconds S --trace {0,1} [--profile {bench,smoke}]

Run from the root of a checkout: the package measured is the one beside
this directory. The seed generates the input tables and the DAG's event
batches and picks the order of operations; the program sees only the
generated inputs. One run starts the Spark session, repeats the
workload's set-up step three times and warms it up once, then runs
whole passes of the workload until ``--seconds`` have passed (at least
one), and checks every output against the DuckDB oracle or the DAG's row
invariants.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the Spark event log is on, spans are
recorded around every call into a layer, and the metrics are per layer.
Lines before it report the environment, the metrics under the names the
workload's users know them by, and, when traced, a table per layer.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import glob  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

import datagen  # noqa: E402
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "logistics_data_pipeline_spark"
SETUP_REPEATS = 3
DRIVER_MEMORY = "4g"

# name -> unit; every workload reports each of these.
REPORTED = {
    "setup_s": "s",
    "pass_s": "s",
    "pass_cpu_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}
# The ones in the result line, with a bound in BENCHMARK.json. The rest
# are reported only: a run holds too few calls for a tail percentile to
# repeat; the median call moved by a third between runs on a shared
# 4-core host, where whole minutes run slow; throughput is the pass time
# again; and the JVM's peak RSS follows its heap sizing more than the
# program.
END_TO_END = ("setup_s", "pass_s", "pass_cpu_s")
# What each end-to-end metric is called by the workload's users.
ALIASES = {
    "hourly_dag": {
        "pass_s": "dag_wall_s (the hours after the first)",
        "op_p50_s": "dag_freshness_p50_s",
        "op_tail_s": "dag_freshness_max_s",
        "throughput_per_s": "dag_events_per_s",
    },
    "analyst_queries": {
        "pass_s": "analyst_wall_s",
        "op_p50_s": "query_p50_s",
        "op_tail_s": "query_tail_s",
        "throughput_per_s": "queries_per_s",
    },
    "registry_queries": {
        "pass_s": "registry_wall_s (analyst_queries then llm_curation)",
        "op_p50_s": "call_p50_s (queries and curation calls)",
        "op_tail_s": "call_tail_s",
        "throughput_per_s": "calls_per_s",
    },
    "llm_curation": {
        "pass_s": "curation_wall_s",
        "op_p50_s": "curation_op_p50_s",
        "op_tail_s": "curation_op_tail_s",
        "throughput_per_s": "curation_ops_per_s",
    },
}

INDEX_ASSETS = ("sh3",)
# Layers timed by spans: each reports <layer>_s (total) and <layer>.self_s,
# over the measured passes, or over set-up for these:
SETUP_LAYERS = ("session.start", "session.reset", "session.warm", "registry.silver_build")
SPAN_LAYERS = (
    "session.start",
    "session.reset",
    "session.warm",
    "streaming.ingest",
    "sources.bronze.load",
    "operators.quality.gate",
    "pipeline.build_warehouse",
    "pipeline.write_gold",
    "operators.schema_tests.run",
    "orchestration.run_dag",
    "dashboards.business_kpi",
    "dashboards.monitoring",
    "registry.silver_build",
    "registry.build",
    "registry.action",
    "registry.release",
    "operators.kpi",
    "operators.monitoring",
    "operators.tpch",
    "operators.temporal",
    "operators.analytics",
    *(f"registry.index.{a}" for a in INDEX_ASSETS),
    "llm.dedup",
    "llm.similarity",
    "llm.text",
    "llm.multimodal",
    "llm.curation",
    "workload.analyst_queries",
    "workload.llm_curation",
    "bench.check",
)
EXEC_UNITS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_read_bytes": "B",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
    "input_bytes": "B",
    "output_bytes": "B",
    "driver_local_s": "s",
}
# Per-layer metrics that are not span times, with their units.
LAYER_COUNTS = {
    "streaming.rows_in": "count",
    "streaming.rows_out": "count",
    "streaming.files_out": "count",
    "sources.bronze.rows_read": "count",
    "sources.bronze.rows_inserted": "count",
    "sources.bronze.useful_ratio": "ratio",
    "pipeline.gold_bytes": "B",
    "pipeline.gold_files": "count",
    "orchestration.task_attempts": "count",
    "orchestration.overhead_s": "s",
    "registry.index_build_s": "s",
    "registry.build_jobs": "count",
    "registry.action_jobs": "count",
    "registry.tasks": "count",
    **{f"exec.{k}": u for k, u in EXEC_UNITS.items()},
    "trace.wall_s": "s",
    "trace.unattributed_s": "s",
    "trace.overhead_s": "s",
}


def per_layer_units() -> dict[str, str]:
    units = {}
    for layer in SPAN_LAYERS:
        units[f"{layer}_s"] = "s"
        units[f"{layer}.self_s"] = "s"
    units.update(LAYER_COUNTS)
    return units


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(ALIASES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--profile", choices=("bench", "smoke"), default="bench")
    return ap.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def launch_environment(work: str, trace: bool) -> dict[str, str]:
    """Environment the JVM and the Python workers start with. Everything
    Spark writes goes under ``work``; the event log only when traced."""
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        # one plain JSON-lines file
        confs["spark.eventLog.rolling.enabled"] = "false"
        confs["spark.eventLog.compress"] = "false"
        os.makedirs(os.path.join(work, "eventlog"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
        ) + " pyspark-shell",
    }
    os.environ.update(env)
    return env


def git_commit() -> str:
    """The checkout's commit when it is a git work tree, else "unknown"."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def process_tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by this process and by ``root`` with its
    descendants (the JVM and its Python workers), reaped children
    included. Time the host steals from the CPUs is not in it."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    line = f.read()
            except OSError:  # the process has exited
                continue
            fields = line[line.rfind(")") + 2:].split()
            # ppid; utime + stime + cutime + cstime, in clock ticks
            procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            ticks += procs[pid][1]
            todo.extend(children.get(pid, []))
    own = os.times()
    return ticks / os.sysconf("SC_CLK_TCK") + own.user + own.system


def load_compare():
    """``compare`` from the checkout's tools/check_correctness.py."""
    path = os.path.join(ROOT, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that will not stop is killed
            proc.kill()
            proc.wait()


def end_to_end(run, setup_s: float, pass_walls: list[float], pass_cpu: list[float], rss_mb: float):
    lat = run.latencies
    tail = stats.tail(lat) if lat else None
    values = {
        "setup_s": setup_s,
        "pass_s": stats.median(pass_walls),
        "pass_cpu_s": stats.median(pass_cpu),
        "op_p50_s": stats.median(lat) if lat else 0.0,
        "op_tail_s": tail["value"] if tail else (max(lat) if lat else 0.0),
        "throughput_per_s": run.items / sum(pass_walls),
        "peak_rss_mb": rss_mb,
    }
    tail_label = f"p{tail['percentile']:g}" if tail else "max"
    return values, tail_label


def layer_metrics(tracer, log, window: tuple[float, float], run) -> tuple[dict, list]:
    """Per-layer metrics from the spans and the event log, and the rows of
    the per-layer table."""
    from spans import covered, driver_local, job_totals, jobs_in, self_times

    lo, hi = window
    selfs = self_times(tracer.spans)
    ours = {s.group for s in tracer.spans if s.group}
    # the measured window, and the layers whose work is set-up
    spans = [s for s in tracer.spans if lo <= s.start <= hi or s.name in SETUP_LAYERS]
    out: dict[str, float] = {}
    rows = []
    for layer in SPAN_LAYERS:
        mine = [s for s in spans if s.name == layer]
        total = sum(s.seconds for s in mine)
        own = sum(selfs[s.id] for s in mine)
        jobs = {j.id: j for s in mine for j in jobs_in(log, s, ours)}
        tot = job_totals(log, list(jobs.values()))
        out[f"{layer}_s"] = total
        out[f"{layer}.self_s"] = own
        if mine:
            rows.append((layer, len(mine), total, own, tot["jobs"], tot["tasks"]))

    def jobs_of(name_prefix):
        return list({j.id: j for s in spans if s.name.startswith(name_prefix)
                     for j in jobs_in(log, s, ours)}.values())

    for name, value in run.counts.items():
        out[name] = value
    out["streaming.rows_out"] = job_totals(log, jobs_of("streaming.ingest"))["output_records"]
    out["sources.bronze.rows_read"] = job_totals(log, jobs_of("sources.bronze.load"))["input_records"]
    read = out["sources.bronze.rows_read"]
    out["sources.bronze.useful_ratio"] = out.get("sources.bronze.rows_inserted", 0) / read if read else 0.0
    out["orchestration.overhead_s"] = out["orchestration.run_dag.self_s"]
    out["registry.index_build_s"] = sum(out[f"registry.index.{a}_s"] for a in INDEX_ASSETS)
    build, action = jobs_of("registry.build"), jobs_of("registry.action")
    out["registry.build_jobs"] = len(build)
    out["registry.action_jobs"] = len(action)
    out["registry.tasks"] = job_totals(log, build + action)["tasks"]

    # exec.* covers the program's jobs in the measured window, not the
    # benchmark's output checks
    top = [s for s in spans if s.parent is None and lo <= s.start <= hi]
    checks = [s for s in spans if s.name == "bench.check"]
    in_window = [j for j in log.jobs.values() if lo <= j.submit <= hi
                 and not any(c.start <= j.submit <= c.end for c in checks)]
    totals = job_totals(log, in_window)
    for k in EXEC_UNITS:
        if k != "driver_local_s":
            out[f"exec.{k}"] = totals[k]
    check_ivs = [(c.start, c.end) for c in checks]
    out["exec.driver_local_s"] = sum(
        driver_local(s, [j for j in in_window if s.start <= j.submit <= s.end], check_ivs)
        for s in top if s.name != "bench.check"
    )
    out["trace.wall_s"] = hi - lo
    out["trace.unattributed_s"] = (hi - lo) - covered([(s.start, s.end) for s in top], lo, hi)
    out["trace.overhead_s"] = tracer.overhead_s
    units = per_layer_units()
    return {k: out.get(k, 0) for k in units}, rows


def read_event_log(work: str):
    from spans import EventLog, parse_event_log

    files = glob.glob(os.path.join(work, "eventlog", "*"))
    if not files:
        return EventLog()
    with open(files[0]) as f:
        return parse_event_log(f)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")) or not os.path.isfile(
        os.path.join(ROOT, "tools", "check_correctness.py")
    ):
        print(f"perfbench: {ROOT} holds no {PACKAGE} package and tools/ to measure",
              file=sys.stderr)
        return 2
    trace = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = launch_environment(work, trace)
    load_before = os.getloadavg()[0]

    profile = datagen.PROFILES[args.profile]
    rng = random.Random(args.seed)
    t = time.time()
    data_dir = datagen.write(os.path.join(work, "data"), profile.sf, rng.randrange(2**31))
    datagen_s = time.time() - t

    sys.path.insert(0, ROOT)
    import pyspark
    from logistics_data_pipeline_spark import registry
    from logistics_data_pipeline_spark.session import get_spark

    from oracle import Oracle
    from spans import Tracer
    from workloads import WORKLOADS, Run

    tracer = Tracer(f"{args.workload}-{args.seed}", trace)
    with tracer.span("session.start"):
        spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    tracer.sc = spark.sparkContext
    # process start to a ready session, input generation left out
    session_start_s = time.time() - T_PROCESS - datagen_s
    try:
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        run = Run(spark, data_dir, work, tracer, rng, profile,
                  Oracle(data_dir, registry.oracle_sql(), load_compare()),
                  cpu=lambda: process_tree_cpu_s(jvm_pid))
        workload = WORKLOADS[args.workload](run)
        prepare = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            with tracer.span("session.reset"):
                workload.prepare(run)
            prepare.append(time.perf_counter() - t)
        t = time.perf_counter()
        with tracer.span("session.warm"):
            workload.warm_up(run)
        setup_s = session_start_s + stats.median(prepare) + time.perf_counter() - t

        pass_walls, pass_cpu = [], []
        w0 = time.time()
        t_start = time.perf_counter()
        while True:
            if pass_walls:  # set up again, untimed, before a further pass
                workload.prepare(run)
                workload.warm_up(run)
            checked, checked_cpu = run.check_s, run.check_cpu_s
            t, c = time.perf_counter(), run.cpu()
            workload.run_pass(run)
            pass_walls.append(time.perf_counter() - t - (run.check_s - checked))
            pass_cpu.append(run.cpu() - c - (run.check_cpu_s - checked_cpu))
            if time.perf_counter() - t_start >= args.seconds:
                break
        window = (w0, time.time())
        rss_mb = (vm_hwm_kb("self") + vm_hwm_kb(jvm_pid)) / 1024.0
        run.oracle.close()
    finally:
        stop_spark(spark)
    load_after = os.getloadavg()[0]

    environment = {
        "workload": args.workload, "seed": args.seed, "profile": args.profile,
        "sf": profile.sf, "nproc": nproc(), "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
        "SPARK_DRIVER_MEMORY": env["SPARK_DRIVER_MEMORY"], "spark": pyspark.__version__,
        "python": platform.python_version(), "commit": git_commit(),
        "loadavg_1m_before": load_before, "loadavg_1m_after": load_after,
        "passes": len(pass_walls), "ops": len(run.latencies), "trace": trace,
        "process_to_result_s": time.time() - T_PROCESS,
    }
    print("perfbench env " + json.dumps(environment))
    for p in run.problems:
        print(f"perfbench FAILED {p}")

    values, tail_label = end_to_end(run, setup_s, pass_walls, pass_cpu, rss_mb)
    aliases = ALIASES[args.workload]
    for name, unit in REPORTED.items():
        alias = aliases.get(name)
        label = f"{alias} = {name}" if alias else name
        if name == "op_tail_s":
            label += f" ({tail_label} of {len(run.latencies)} samples)"
        print(f"perfbench {args.workload}: {label} = {values[name]:.4f} {unit}")
    for part in ("analyst_queries", "llm_curation"):
        walls = run.counts.get(f"{part}.wall_s")
        if walls is not None:
            print(f"perfbench {args.workload}: {ALIASES[part]['pass_s']} = "
                  f"{walls / len(pass_walls):.4f} s (mean over passes)")
    print(f"perfbench {args.workload}: error_rate = {run.failed}/{run.attempted}")

    if trace:
        log = read_event_log(work)
        layer, rows = layer_metrics(tracer, log, window, run)
        tracer.dump(os.path.join(work, "spans.jsonl"))
        print(f"perfbench {args.workload} layers (traced; spans kept in {work}/spans.jsonl)")
        print(f"  {'layer':34} {'calls':>5} {'total_s':>9} {'self_s':>9} {'jobs':>6} {'tasks':>7}")
        for name, calls, total, own, jobs, tasks in rows:
            print(f"  {name:34} {calls:5d} {total:9.3f} {own:9.3f} {jobs:6d} {tasks:7d}")
        print(f"  measured wall {layer['trace.wall_s']:.3f} s, unattributed "
              f"{layer['trace.unattributed_s']:.3f} s, span bookkeeping "
              f"{layer['trace.overhead_s']:.3f} s; tracing overhead in full = this "
              f"run's pass_s {values['pass_s']:.3f} s minus an untraced run's")
        metrics = {k: {"value": layer[k], "unit": u} for k, u in per_layer_units().items()}
    else:
        metrics = {k: {"value": values[k], "unit": REPORTED[k]} for k in END_TO_END}

    for d in ("data", "dag", "curation", "warehouse", "local", "tmp", "eventlog"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    result = {
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
