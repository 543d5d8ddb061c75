"""End-to-end metrics of one run, from the timings the client recorded."""

from __future__ import annotations

import statistics

# The end-to-end metrics, in the order the result line lists them.
E2E = ("setup_s", "pass_s", "query_p50_s", "query_tail_s", "ops_ok_frac")

# A tail percentile is reported only where at least this many samples lie
# beyond it; below that the sample cannot support a tail estimate.
TAIL_BEYOND = 10


def tail(samples: dict[str, list[float]]) -> dict:
    """The highest percentile of the run's latencies with ``TAIL_BEYOND``
    samples beyond it, as ``{"value", "percentile", "samples", "beyond"}``.

    A run of ``2 * TAIL_BEYOND`` executions or fewer has no such percentile
    above the median. It reports the slowest query's median latency
    instead, with ``percentile`` 100 and ``beyond`` 0; the median of each
    query's executions is steadier than the single slowest execution."""
    ordered = sorted(t for ts in samples.values() for t in ts)
    n = len(ordered)
    if n > 2 * TAIL_BEYOND:
        rank = n - TAIL_BEYOND
        return {
            "value": ordered[rank - 1],
            "percentile": round(100.0 * rank / n, 2),
            "samples": n,
            "beyond": TAIL_BEYOND,
        }
    slowest = max(statistics.median(ts) for ts in samples.values() if ts)
    return {"value": slowest, "percentile": 100.0, "samples": n, "beyond": 0}


def summarize(
    setup_s: float,
    samples: dict[str, list[float]],
    attempted: int,
    failed: int,
) -> tuple[dict[str, dict], dict]:
    """``(metrics, detail)`` for the result line.

    ``samples`` maps each query of the timed set to the build+plan+execute
    time of each of its executions that succeeded. ``pass_s`` is the time
    one pass over the set takes, from each query's median. ``metrics`` maps
    each end-to-end metric to ``{"value", "unit"}``; ``detail`` carries what
    the result line has no room for: the tail's percentile and sample count
    and the failure share."""
    if attempted < 1:
        raise ValueError("a run must attempt at least one query")
    latencies = [t for ts in samples.values() for t in ts]
    if not latencies:
        raise ValueError("a run must time at least one query")
    t = tail(samples)
    ok_frac = (attempted - failed) / attempted
    pass_s = sum(statistics.median(ts) for ts in samples.values() if ts)
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "pass_s": {"value": pass_s, "unit": "s"},
        "query_p50_s": {"value": statistics.median(latencies), "unit": "s"},
        "query_tail_s": {"value": t["value"], "unit": "s"},
        "ops_ok_frac": {"value": ok_frac, "unit": "ratio"},
    }
    detail = {"query_tail": t, "ops_failed_frac": 1.0 - ok_frac}
    return metrics, detail
