#!/usr/bin/env python3
"""Pin the result hash of every timed query that has no DuckDB oracle.

Usage (from the repository root): python3 perfbench/pin.py

Runs each such query once on ``local[N]`` (``N`` = ``SPARK_GRAFT_CPUS``,
default: the CPUs this process may run on) over the sf0.1 fixtures and
stores its ``value_hash`` in ``pinned_hashes.json`` under ``N``. Re-run it
only when a change is meant to alter one of these results.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from stupidb_spark.operators import clear_ann_caches
    from stupidb_spark.queryset import ORACLES, QUERIES
    from stupidb_spark.session import DEFAULT_SF_DIR, get_session

    from check import PINNED, result_hash
    from workloads import TIMED

    cores = os.environ.setdefault(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
    )
    spark = get_session("perfbench-pin")
    spark.sparkContext.setLogLevel("ERROR")
    hashes = {}
    for queries in TIMED.values():
        for name in queries:
            if name in ORACLES:
                continue
            clear_ann_caches()
            hashes[name], rows = result_hash(QUERIES[name](spark, DEFAULT_SF_DIR))
            print(f"{name:28s} {rows:8d} {hashes[name]}", flush=True)
    spark.stop()
    try:
        with open(PINNED) as f:
            pinned = json.load(f)
    except OSError:
        pinned = {}
    pinned[cores] = dict(sorted(hashes.items()))
    with open(PINNED, "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
