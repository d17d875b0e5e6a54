"""Smoke runs of the benchmark on sf0.001 inputs and tiny DAG batches.

Each run starts its own Spark session in a subprocess, exactly as the
benchmark is run, and takes about a minute on four cores.
"""

import json
import os
import subprocess
import sys

import pytest

import run as bench

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _run(workload: str, trace: int) -> tuple[dict, str]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "0", "--trace", str(trace), "--profile", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), p.stdout


@pytest.mark.parametrize(
    "workload,trace", [("hourly_dag", 0), ("registry_queries", 1)]
)
def test_smoke_run_is_correct_and_complete(workload, trace):
    result, stdout = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, stdout
    assert result["failed"] == 0 and result["attempted"] > 0
    expected = bench.per_layer_units() if trace else {k: bench.REPORTED[k] for k in bench.END_TO_END}
    assert {k: m["unit"] for k, m in result["metrics"].items()} == expected
    if trace:
        m = {k: v["value"] for k, v in result["metrics"].items()}
        for layer in ("registry.silver_build_s", "dashboards.business_kpi_s", "operators.tpch_s",
                      "registry.index.sh3_s", "llm.dedup_s", "llm.multimodal_s"):
            assert m[layer] > 0, layer
        assert m["exec.jobs"] > 0 and m["registry.action_jobs"] > 0
        assert 0 <= m["trace.unattributed_s"] < 0.1 * m["trace.wall_s"]
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_benchmark_json_matches_the_metrics_printed():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(bench.END_TO_END)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == ["hourly_dag", "registry_queries"]


def test_refuses_a_directory_without_the_package(tmp_path):
    """Copied alone, the benchmark exits non-zero without a result."""
    import shutil

    here = os.path.join(ROOT, "perfbench")
    shutil.copytree(here, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "hourly_dag", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert not p.stdout.strip()
