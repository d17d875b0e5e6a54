"""Attribute stream_sessionize_closed's per-decade cost (VERDICT r10 #4).

The key's f100 sat at 10.74 after the entry cap landed; before touching
any governor, this probe splits the replay wall-clock into its phases
and pulls the state-store numbers Spark already reports per micro-batch
(StreamingQueryProgress.stateOperators), so the decade factor can be
attributed between:

  * JSON dump volume (the harness transport — genuinely linear),
  * micro-batch COUNT (files / maxFilesPerTrigger; every batch pays
    planning + Python worker spin-up + one state commit PER SHARD),
  * state-store commit time (sum of commitTimeMs over batches),
  * the fold itself (allUpdatesTimeMs) = genuine row growth.

Usage:
    python tools/sessionize_profile.py [sf_dir ...]
Defaults to sf0.1 / .scratch/sf1 / .scratch/sf10. Prints one JSON line
per decade with the phase split and per-batch state metrics.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from logistics_data_pipeline_spark.adapters.testdata import load_table  # noqa: E402
from logistics_data_pipeline_spark.session import get_spark, source_rows  # noqa: E402
from logistics_data_pipeline_spark.streaming import windowed as w  # noqa: E402

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_DIRS = [
    "/root/testdata/sf0.1",
    os.path.join(_REPO, ".scratch", "sf1"),
    os.path.join(_REPO, ".scratch", "sf10"),
]


def profile(spark, sf_dir: str) -> dict:
    events = load_table(spark, sf_dir, "events")
    n_rows = source_rows(events)  # same sizing the wrapper does
    name = f"prof_{uuid.uuid4().hex[:8]}"
    work = tempfile.mkdtemp(prefix="sessprof_")
    out: dict = {"sf_dir": sf_dir, "n_rows": n_rows}
    try:
        src = f"{work}/src"
        t0 = time.time()
        events.select("event_id", "ts", "user_id", "event_type", "value").write.mode(
            "overwrite"
        ).option("timestampFormat", w.JSON_TS_FMT).json(src)
        out["dump_s"] = round(time.time() - t0, 2)
        n_files = len([f for f in os.listdir(src) if f.endswith(".json")])
        out["n_files"] = n_files
        max_files = max(10, -(-n_files // w.REPLAY_MAX_BATCHES))

        t0 = time.time()
        with w._replay_shuffle_parts(spark, n_rows=n_rows):
            q = w.run_to_memory(
                w.sessionize_stream(
                    w.events_file_stream(spark, src, max_files=max_files)
                ),
                name,
                "append",
                f"{work}/ckpt",
            )
        out["drain_s"] = round(time.time() - t0, 2)

        progs = [json.loads(p.json) for p in q.recentProgress]
        out["n_batches"] = len(progs)
        batch_ms = [p.get("batchDuration", 0) for p in progs]
        out["batch_dur_s"] = round(sum(batch_ms) / 1000.0, 2)
        agg = {
            "commit_s": 0.0,
            "update_s": 0.0,
            "removal_s": 0.0,
            "rows_updated": 0,
            "rows_total_last": 0,
            "shards": 0,
        }
        for p in progs:
            for so in p.get("stateOperators", []):
                agg["commit_s"] += so.get("commitTimeMs", 0) / 1000.0
                agg["update_s"] += so.get("allUpdatesTimeMs", 0) / 1000.0
                agg["removal_s"] += so.get("allRemovalsTimeMs", 0) / 1000.0
                agg["rows_updated"] += so.get("numRowsUpdated", 0)
                agg["rows_total_last"] = so.get("numRowsTotal", 0)
                agg["shards"] = so.get("numShufflePartitions", agg["shards"])
        for k in ("commit_s", "update_s", "removal_s"):
            agg[k] = round(agg[k], 2)
        out["state"] = agg
        # addBatch covers the whole micro-batch execution (scan + fold +
        # sink); the gap between batch_dur and addBatch is planning /
        # offset-log overhead per batch.
        dur = [p.get("durationMs", {}) for p in progs]
        out["add_batch_s"] = round(sum(d.get("addBatch", 0) for d in dur) / 1000.0, 2)
        out["plan_overhead_s"] = round(
            sum(
                d.get("triggerExecution", 0) - d.get("addBatch", 0) for d in dur
            )
            / 1000.0,
            2,
        )
        out["out_rows"] = spark.table(name).count()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


def main() -> None:
    dirs = sys.argv[1:] or DEFAULT_DIRS
    spark = get_spark("sessionize-profile")
    rows = []
    for d in dirs:
        if not os.path.isdir(d):
            print(json.dumps({"sf_dir": d, "skipped": "missing"}))
            continue
        r = profile(spark, d)
        rows.append(r)
        print(json.dumps(r), flush=True)


if __name__ == "__main__":
    main()
