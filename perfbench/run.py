#!/usr/bin/env python3
"""Closed-loop benchmark of the headline queries, one workload per run.

Usage (from the repository root):

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 10 --trace 0

One client runs the workload's timed set on ``local[N]`` (``N`` =
``SPARK_GRAFT_CPUS``, default: the CPUs this process may run on) over the
sf0.1 fixtures. After set-up, an untimed warm-up pass builds and collects
each query once and checks its output (``check.py``). Then the timed loop
runs ``MIN_PASSES`` passes in seed-permuted order, and more while fewer than
``--seconds`` of query time have been measured; it completes each pass it
starts. Each query is timed from outside the library in three phases: the
``QUERIES[name](spark, dir)`` call (build), the physical plan (plan) and the
``noop`` write (execute).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` switches Spark's
event log on from outside (``PYSPARK_SUBMIT_ARGS``), splits the timed loop
across the library's layers (``eventlog.py``), writes the spans to
``.perfbench/spans/`` and prints the per-layer metrics. The last stdout line
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``; the
line before it carries per-query latencies, host state, the tail's
percentile and sample count, and, for a traced run, its overhead against the
untraced runs recorded in ``.perfbench/results.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

# Per-layer metrics the client measures itself; the rest come from the
# event log (eventlog.py).
RUN_LAYERS = (
    "session.start_s",
    "session.warmup_s",
    "driver.peak_rss_mb",
    "trace.pass_s",
)

# Timed passes per run. A query's latency keeps falling over its first few
# executions in a JVM, so a pass count that followed the host's speed would
# move every latency metric with it; a fixed count does not.
MIN_PASSES = 2


def unit(name: str) -> str:
    """Unit of a metric, from its name's suffix."""
    suffix = name.rsplit("_", 1)[-1]
    return {"s": "s", "mb": "MB", "frac": "ratio", "out": "ratio"}.get(suffix, "count")


def _process_start_epoch() -> float:
    """Wall-clock time this process started, from ``/proc`` (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def _tree_rss_bytes(root_pid: int) -> int:
    """Resident memory of ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            continue
    return total


class _RssSampler(threading.Thread):
    """Peak resident memory of this process tree, sampled every 0.2 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            self._done.wait(0.2)

    def stop(self) -> int:
        self._done.set()
        self.join()
        return self.peak


def _configure_spark_env(trace: bool) -> str | None:
    """Point every Spark and Python scratch path into ``.perfbench`` and,
    when tracing, switch the event log on. Returns the event-log dir."""
    for sub in ("local", "tmp", "spans"):
        os.makedirs(os.path.join(STATE, sub), exist_ok=True)
    tmp = os.path.join(STATE, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(STATE, "local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    args = [
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp}",
        "--conf",
        f"spark.sql.warehouse.dir={os.path.join(STATE, 'warehouse')}",
    ]
    evdir = None
    if trace:
        evdir = tempfile.mkdtemp(prefix="eventlog-", dir=STATE)
        args += [
            "--conf",
            "spark.eventLog.enabled=true",
            "--conf",
            f"spark.eventLog.dir=file://{evdir}",
            "--conf",
            "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        shlex.quote(a) for a in args + ["pyspark-shell"]
    )
    return evdir


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _untraced_pass_s(workload: str) -> list[float]:
    try:
        with open(os.path.join(STATE, "results.jsonl")) as f:
            rows = [json.loads(line) for line in f if line.strip()]
    except OSError:
        return []
    return [
        r["pass_s"] for r in rows if r["workload"] == workload and not r["trace"]
    ]


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    proc_start = _process_start_epoch()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import bench
    from stupidb_spark.operators import clear_ann_caches
    from stupidb_spark.plans import exchange_count
    from stupidb_spark.queryset import ORACLES, QUERIES
    from stupidb_spark.session import DEFAULT_SF_DIR, get_session

    from check import Checker
    from eventlog import PHASES
    from metrics import summarize
    from workloads import TIMED, passes

    if workload not in TIMED:
        raise SystemExit(f"unknown workload {workload!r}; choose from {sorted(TIMED)}")
    cores = int(
        os.environ.setdefault(
            "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
        )
    )
    evdir = _configure_spark_env(trace)
    sampler = _RssSampler() if trace else None
    steal0, ticks0 = bench._cpu_ticks()

    def now_ms() -> float:
        return time.time() * 1000.0

    # Set-up, as in bench.py: a session, then the tpch_q1 and pandas-UDF
    # warm-ups.
    t0 = time.perf_counter()
    spark = get_session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    if sampler is not None:
        sampler.start()
    t0 = time.perf_counter()
    QUERIES["tpch_q1"](spark, DEFAULT_SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()
    from pyspark.sql import functions as F

    warm = F.pandas_udf(lambda s: s, "long")
    spark.range(1000).select(warm("id")).write.format("noop").mode(
        "overwrite"
    ).save()
    warmup_s = time.perf_counter() - t0
    setup_s = time.time() - proc_start

    failures: list[str] = []
    rows_out: dict[str, int] = {}
    exchanges: dict[str, int | None] = {}
    attempted = 0

    # Warm-up pass, not timed, in the timed set's listed order: each query is
    # built and collected once and the collected output is checked. It pays
    # every first-use cost (codegen, class loading, Python-worker imports,
    # the first stream) in the same order on every run, so the seed's
    # permutation of the timed loop cannot move those costs between queries.
    checker = Checker(
        DEFAULT_SF_DIR, cores, os.path.join(STATE, "oracle_hashes.json"), ORACLES
    )
    t0 = time.perf_counter()
    for name in TIMED[workload]:
        attempted += 1
        clear_ann_caches()
        try:
            df = QUERIES[name](spark, DEFAULT_SF_DIR)
            ok, rows_out[name], reason = checker.check(name, df)
            exchanges[name] = exchange_count(df) if trace else None
        except Exception:
            ok, reason = False, traceback.format_exc(limit=3)
        if not ok:
            failures.append(f"{name}: {reason}")
    checker.close()
    warmup_pass_s = time.perf_counter() - t0

    # Timed closed loop: whole passes, at least MIN_PASSES of them, and
    # another while fewer than --seconds of query time have been measured.
    # Whole passes keep every query's share of the samples equal.
    spans: list[dict] = [
        {"id": "run", "parent": None, "name": "run", "start": now_ms()}
    ]
    executions: list[dict] = []
    samples: dict[str, list[float]] = {name: [] for name in TIMED[workload]}
    measured = 0.0
    for p, order in enumerate(passes(workload, seed)):
        if p >= MIN_PASSES and measured >= seconds:
            break
        pass_span = {
            "id": f"pass{p}", "parent": "run", "name": "pass", "start": now_ms()
        }
        spans.append(pass_span)
        for name in order:
            attempted += 1
            qid = f"{pass_span['id']}.{name}"
            clear_ann_caches()
            marks = [now_ms()]
            c0 = time.perf_counter()
            try:
                df = QUERIES[name](spark, DEFAULT_SF_DIR)
                marks.append(now_ms())
                df._jdf.queryExecution().executedPlan()
                marks.append(now_ms())
                df.write.format("noop").mode("overwrite").save()
                marks.append(now_ms())
            except Exception:
                measured += time.perf_counter() - c0
                failures.append(f"{name}: {traceback.format_exc(limit=3)}")
                continue
            latency = time.perf_counter() - c0
            measured += latency
            samples[name].append(latency)
            spans.append(
                {"id": qid, "parent": pass_span["id"], "name": name,
                 "start": marks[0], "end": marks[3]}
            )
            phases = {}
            for i, phase in enumerate(PHASES):
                sid = f"{qid}.{phase}"
                phases[phase] = [marks[i], marks[i + 1], sid]
                spans.append(
                    {"id": sid, "parent": qid, "name": phase,
                     "start": marks[i], "end": marks[i + 1]}
                )
            executions.append(
                {
                    "query": name,
                    "start": marks[0],
                    "end": marks[3],
                    "phases": phases,
                    "rows_out": rows_out.get(name),
                    "exchanges": exchanges.get(name),
                }
            )
        pass_span["end"] = now_ms()
    spans[0]["end"] = now_ms()
    app_id = spark.sparkContext.applicationId
    _stop_spark(spark)
    steal1, ticks1 = bench._cpu_ticks()
    peak_rss = sampler.stop() if sampler is not None else None

    metrics, detail = summarize(setup_s, samples, attempted, len(failures))
    detail.update(
        workload=workload,
        seed=seed,
        trace=trace,
        host={
            "cpus": len(os.sched_getaffinity(0)),
            "steal_pct": 100.0 * (steal1 - steal0) / max(1, ticks1 - ticks0),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        },
        warmup_pass_s=warmup_pass_s,
        queries={k: [round(v, 4) for v in vs] for k, vs in samples.items()},
        failures=failures,
    )
    pass_s = metrics["pass_s"]["value"]
    if trace:
        from eventlog import layer_metrics, read_events

        logs = [d for d in os.listdir(evdir) if app_id in d]
        events = read_events(os.path.join(evdir, logs[0]))
        layers, job_spans = layer_metrics(
            events, executions, cores, len(executions) / len(TIMED[workload])
        )
        layers["session.start_s"] = start_s
        layers["session.warmup_s"] = warmup_s
        layers["driver.peak_rss_mb"] = peak_rss / 1e6
        layers["trace.pass_s"] = pass_s
        untraced = _untraced_pass_s(workload)
        if untraced:
            base = statistics.median(untraced)
            detail["trace_overhead"] = {
                "pass_s": pass_s,
                "untraced_median_pass_s": base,
                "untraced_runs": len(untraced),
                "overhead_s": pass_s - base,
                "overhead_frac": pass_s / base - 1.0,
            }
        spans.extend(job_spans)
        spans_path = os.path.join(STATE, "spans", f"{workload}-seed{seed}.json")
        with open(spans_path, "w") as f:
            json.dump(spans, f)
        detail["spans"] = os.path.relpath(spans_path, ROOT)
        for name in sorted(layers):
            metrics[name] = {"value": layers[name], "unit": unit(name)}
        shutil.rmtree(evdir, ignore_errors=True)
    with open(os.path.join(STATE, "results.jsonl"), "a") as f:
        f.write(
            json.dumps(
                {"workload": workload, "seed": seed, "trace": trace, "pass_s": pass_s}
            )
            + "\n"
        )
    return {"metrics": metrics, "detail": detail, "attempted": attempted}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    from metrics import E2E

    detail = result["detail"]
    metrics = result["metrics"]
    if args.trace:
        metrics = {k: v for k, v in metrics.items() if k not in E2E}
    else:
        metrics = {k: metrics[k] for k in E2E}
    failed = len(detail["failures"])
    print(json.dumps(detail), flush=True)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": result["attempted"],
                "failed": failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
