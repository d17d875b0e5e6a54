"""Micro-bench: time a handful of registry keys exactly the way bench.py
does (noop sink, interleaved rounds, caches cleared between queries,
shared assets warmed outside the timed region) without paying the
full-registry run. For within-session A/B comparisons during
optimization work; the cross-round record stays bench.py.

Usage:
    python tools/key_bench.py [--sf DIR] [--runs N] [--warm a,b,...] key...
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from logistics_data_pipeline_spark import registry  # noqa: E402
from logistics_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument(
        "--warm",
        default="",
        help="comma-separated registry._ASSETS names to warm "
        "(default: the whole table, as bench.py does)",
    )
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    warm = args.warm.split(",") if args.warm else list(registry._ASSETS)
    unknown = [a for a in warm if a not in registry._ASSETS]
    if unknown:
        ap.error(f"unknown --warm assets: {unknown}; known: {list(registry._ASSETS)}")

    spark = get_spark("key-bench")
    qs = registry.queries()
    bad = [n for n in args.names if n not in qs]
    assert not bad, f"unknown keys: {bad}"

    # bench.py's warm-up: the session assets, outside the timed region.
    for asset in warm:
        registry._dedup_shared(spark, args.sf, asset).write.mode(
            "overwrite"
        ).format("noop").save()

    samples: dict[str, list[float]] = {n: [] for n in args.names}
    loads = []
    for _ in range(args.runs):
        loads.append(round(os.getloadavg()[0], 1))
        for name in args.names:
            t0 = time.time()
            qs[name](spark, args.sf).write.mode("overwrite").format("noop").save()
            samples[name].append(round(time.time() - t0, 3))
            registry.clear_session_caches(spark)
    out = {
        "sf": args.sf,
        "loads": loads,
        "median": {
            n: round(statistics.median(s), 3) for n, s in samples.items()
        },
        "min": {n: min(s) for n, s in samples.items()},
        "samples": samples,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
