"""Per-layer metrics from a Spark event log and the client's own spans.

Jobs are attributed to the client's phase spans (build, plan, execute) by
submission time, not by job group: streaming micro-batch jobs carry the
stream's runId instead of the caller's group, and AQE's async jobs carry
none. Time windows are safe because the benchmark has one client, so its
spans never overlap; jobs outside every span (warm-ups, output checks)
count toward no layer.

Every count and time is a total per pass: the run's totals divided by the
number of passes it completed.
"""

from __future__ import annotations

import bisect
import collections
import datetime
import glob
import json
import os
import re

PHASES = ("build", "plan", "execute")

# Driver-side actions issued by the library itself (its eager collects and
# probes), as named in a job's ``callSite.short``.
_ACTION = re.compile(r"^(collect|toPandas|take|first|head)\b.*\bstupidb_spark/")

# Spark's SQL metrics of the Python-worker operators (ArrowEvalPython,
# MapInPandas, ...), as task accumulables: milliseconds and bytes.
_PYTHON = {
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_start_ms",
    "data sent to Python workers": "py_sent",
    "data returned from Python workers": "py_received",
}

_MB = 1e6


def read_events(path: str) -> list[dict]:
    """Events of one application log: a file, or a rolling-log directory
    whose ``events_<n>_<app>`` parts are read in ``n`` order."""
    if os.path.isdir(path):
        parts = sorted(
            glob.glob(os.path.join(path, "events_*")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
    else:
        parts = [path]
    events = []
    for part in parts:
        with open(part) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _epoch_ms(iso: str) -> float:
    return (
        datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()
        * 1000.0
    )


class _Phases:
    """Phase spans sorted by start, for point lookups by time (epoch ms)."""

    def __init__(self, executions: list[dict]):
        rows = []
        for idx, ex in enumerate(executions):
            for phase in PHASES:
                s, e, span_id = ex["phases"][phase]
                rows.append((s, e, span_id, phase, idx))
        rows.sort(key=lambda r: r[0])
        self.rows = rows
        self.starts = [r[0] for r in rows]

    def find(self, t: float):
        i = bisect.bisect_right(self.starts, t) - 1
        if i >= 0 and self.rows[i][0] <= t <= self.rows[i][1]:
            return self.rows[i]
        return None


def layer_metrics(
    events: list[dict], executions: list[dict], cores: int, passes: float
) -> tuple[dict[str, float], list[dict]]:
    """``(metrics, spans)`` for one run.

    ``executions`` holds one dict per query execution: ``start``/``end``
    (epoch ms), ``phases`` mapping each of ``PHASES`` to ``[start, end,
    span_id]``, ``rows_out`` (rows in the checked output, or None) and
    ``exchanges`` (shuffle exchanges in its plan, or None). ``spans`` are
    the job and stage spans, each parented to a phase or job span."""
    phases = _Phases(executions)
    jobs: dict[int, dict] = {}
    stage_runs: list[dict] = []
    tasks: list[dict] = []
    progress: list[dict] = []
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            hit = phases.find(ev["Submission Time"])
            if hit is not None:
                jobs[ev["Job ID"]] = {
                    "start": ev["Submission Time"],
                    "end": ev["Submission Time"],
                    "stages": ev["Stage IDs"],
                    "site": (ev.get("Properties") or {}).get("callSite.short", ""),
                    "phase": hit,
                }
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            stage_runs.append(ev["Stage Info"])
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)
        elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
            progress.append(ev["progress"])

    # A stage id may be listed by several jobs (a reused shuffle is skipped
    # by the later ones); it belongs to the job running when it was
    # submitted.
    stage_job: dict[tuple[int, int], int] = {}
    for info in stage_runs:
        owners = [
            j for j, job in jobs.items() if info["Stage ID"] in job["stages"]
        ]
        sub = info.get("Submission Time", 0)
        timely = [j for j in owners if jobs[j]["start"] <= sub <= jobs[j]["end"]]
        pick = (timely or owners or [None])[0]
        if pick is not None:
            stage_job[(info["Stage ID"], info["Stage Attempt ID"])] = pick

    tot: dict[str, float] = collections.defaultdict(float)
    action_jobs = {j for j, job in jobs.items() if _ACTION.match(job["site"])}
    for ev in tasks:
        key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
        if key not in stage_job:
            continue
        info = ev["Task Info"]
        m = ev.get("Task Metrics") or {}
        tot["tasks"] += 1
        if ev["Task End Reason"]["Reason"] != "Success":
            tot["failed"] += 1
        run_ms = m.get("Executor Run Time", 0)
        tot["run_ms"] += run_ms
        tot["cpu_ns"] += m.get("Executor CPU Time", 0)
        tot["gc_ms"] += m.get("JVM GC Time", 0)
        duration = info["Finish Time"] - info["Launch Time"]
        tot["overhead_ms"] += max(0, duration - run_ms)
        tot["spill"] += m.get("Disk Bytes Spilled", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        tot["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        tot["shuffle_read"] += sr.get("Remote Bytes Read", 0)
        tot["shuffle_read"] += sr.get("Local Bytes Read", 0)
        tot["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
        inp = m.get("Input Metrics") or {}
        tot["input_bytes"] += inp.get("Bytes Read", 0)
        tot["input_rows"] += inp.get("Records Read", 0)
        if stage_job[key] in action_jobs:
            tot["result_bytes"] += m.get("Result Size", 0)
        for acc in info.get("Accumulables", []):
            key = _PYTHON.get(acc.get("Name"))
            if key is not None:
                tot[key] += int(acc["Update"])

    # Per-execution job timing: build-time gaps with no job running, and
    # gaps between consecutive jobs.
    by_exec: dict[int, list[dict]] = {}
    for job in jobs.values():
        by_exec.setdefault(job["phase"][4], []).append(job)
    driver_gap_ms = job_gap_ms = 0.0
    eager_jobs = 0
    for idx, ex in enumerate(executions):
        ex_jobs = sorted(by_exec.get(idx, []), key=lambda j: j["start"])
        b_s, b_e, _ = ex["phases"]["build"]
        in_build = [
            (max(b_s, j["start"]), min(b_e, j["end"]))
            for j in ex_jobs
            if j["phase"][3] == "build"
        ]
        eager_jobs += len(in_build)
        driver_gap_ms += (b_e - b_s) - _union(in_build)
        if ex_jobs:
            busy_until = ex_jobs[0]["end"]
            for j in ex_jobs[1:]:
                job_gap_ms += max(0.0, j["start"] - busy_until)
                busy_until = max(busy_until, j["end"])

    # Streaming progress: one event per micro-batch; state size is the last
    # batch's of each stream run.
    batches = 0
    trigger_ms = add_batch_ms = commit_ms = 0.0
    last_state: dict[str, tuple[int, int, int]] = {}
    for p in progress:
        if phases.find(_epoch_ms(p["timestamp"])) is None:
            continue
        d = p.get("durationMs", {})
        batches += 1
        trigger_ms += d.get("triggerExecution", 0)
        add_batch_ms += d.get("addBatch", 0)
        commit_ms += d.get("walCommit", 0) + d.get("commitOffsets", 0)
        ops = p.get("stateOperators") or []
        state = (
            p["batchId"],
            sum(o.get("numRowsTotal", 0) for o in ops),
            sum(o.get("memoryUsedBytes", 0) for o in ops),
        )
        if p["runId"] not in last_state or state[0] >= last_state[p["runId"]][0]:
            last_state[p["runId"]] = state

    wall_ms = sum(ex["end"] - ex["start"] for ex in executions)
    rows_out = sum(ex["rows_out"] or 0 for ex in executions)

    def phase_s(name: str) -> float:
        bounds = (ex["phases"][name] for ex in executions)
        return sum(end - start for start, end, _ in bounds) / 1000.0

    per_pass = {
        "queryset.build_s": phase_s("build"),
        "queryset.eager_jobs": eager_jobs,
        "queryset.driver_gap_s": driver_gap_ms / 1000.0,
        "queryset.plan_s": phase_s("plan"),
        "plans.exchanges": sum(ex["exchanges"] or 0 for ex in executions),
        "driver.actions": len(action_jobs),
        "driver.result_mb": tot["result_bytes"] / _MB,
        "spark.jobs": len(jobs),
        "spark.stages": len(stage_job),
        "spark.tasks": tot["tasks"],
        "spark.task_run_s": tot["run_ms"] / 1000.0,
        "spark.task_cpu_s": tot["cpu_ns"] / 1e9,
        "spark.gc_s": tot["gc_ms"] / 1000.0,
        "spark.task_overhead_s": tot["overhead_ms"] / 1000.0,
        "spark.job_gap_s": job_gap_ms / 1000.0,
        "spark.shuffle_write_mb": tot["shuffle_write"] / _MB,
        "spark.shuffle_read_mb": tot["shuffle_read"] / _MB,
        "spark.fetch_wait_s": tot["fetch_wait_ms"] / 1000.0,
        "spark.spill_mb": tot["spill"] / _MB,
        "spark.failed_tasks": tot["failed"],
        "sources.input_mb": tot["input_bytes"] / _MB,
        "sources.input_rows": tot["input_rows"],
        "python.run_s": tot["py_run_ms"] / 1000.0,
        "python.start_s": tot["py_start_ms"] / 1000.0,
        "python.sent_mb": tot["py_sent"] / _MB,
        "python.received_mb": tot["py_received"] / _MB,
        "streaming.batches": batches,
        "streaming.trigger_s": trigger_ms / 1000.0,
        "streaming.add_batch_s": add_batch_ms / 1000.0,
        "streaming.commit_s": commit_ms / 1000.0,
        "streaming.state_rows": sum(s[1] for s in last_state.values()),
        "streaming.state_mb": sum(s[2] for s in last_state.values()) / _MB,
    }
    metrics = {k: v / passes for k, v in per_pass.items()}
    # Ratios are the same per run and per pass.
    metrics["spark.core_busy_frac"] = (
        tot["run_ms"] / (wall_ms * cores) if wall_ms > 0 else 0.0
    )
    metrics["sources.rows_read_per_row_out"] = tot["input_rows"] / max(1, rows_out)

    spans = []
    for j, job in sorted(jobs.items()):
        spans.append(
            {
                "id": f"job{j}",
                "parent": job["phase"][2],
                "name": "job",
                "start": job["start"],
                "end": job["end"],
                "site": job["site"],
            }
        )
    for info in stage_runs:
        key = (info["Stage ID"], info["Stage Attempt ID"])
        if key in stage_job:
            spans.append(
                {
                    "id": f"stage{key[0]}.{key[1]}",
                    "parent": f"job{stage_job[key]}",
                    "name": "stage",
                    "start": info.get("Submission Time"),
                    "end": info.get("Completion Time"),
                    "tasks": info.get("Number of Tasks"),
                }
            )
    return metrics, spans
