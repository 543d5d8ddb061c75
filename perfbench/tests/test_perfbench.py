"""Tests of the benchmark itself: workload lists, summary, event-log parser.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
for path in (ROOT, os.path.join(ROOT, "scripts"), BENCH_DIR):
    if path not in sys.path:
        sys.path.insert(0, path)

import bench  # noqa: E402
from eventlog import layer_metrics, read_events  # noqa: E402
from metrics import E2E, summarize, tail  # noqa: E402
from workloads import TIMED, WORKLOADS, passes  # noqa: E402

DATA = os.path.join(HERE, "data")


def test_workloads_partition_headline():
    listed = [q for queries in WORKLOADS.values() for q in queries]
    assert len(listed) == len(set(listed))
    assert sorted(listed) == sorted(bench.HEADLINE)
    assert {w: len(q) for w, q in WORKLOADS.items()} == {
        "sql_analytics": 39,
        "data_pipeline": 56,
    }


def test_timed_sets_are_distinct_members_of_their_workload():
    assert set(TIMED) == set(WORKLOADS)
    for workload, queries in TIMED.items():
        assert len(queries) == len(set(queries))
        assert set(queries) <= set(WORKLOADS[workload])


def test_seed_permutes_order_only():
    for workload, queries in TIMED.items():
        first = passes(workload, 7)
        again = passes(workload, 7)
        for _ in range(3):
            order = next(first)
            assert sorted(order) == sorted(queries)
            assert order == next(again)
    orders = {tuple(next(passes("sql_analytics", s))) for s in range(10)}
    assert len(orders) > 1


def test_every_unoracled_timed_query_is_pinned():
    from check import PINNED
    from stupidb_spark.queryset import ORACLES

    with open(PINNED) as f:
        pinned = json.load(f)
    unoracled = {q for qs in TIMED.values() for q in qs if q not in ORACLES}
    for cores, hashes in pinned.items():
        assert set(hashes) == unoracled, cores


def test_tail_reports_slowest_median_when_sample_is_small():
    assert tail({"a": [3.0, 1.0, 2.0], "b": [2.5]}) == {
        "value": 2.5,
        "percentile": 100.0,
        "samples": 4,
        "beyond": 0,
    }


def test_tail_keeps_ten_samples_beyond():
    t = tail({"a": [float(i) for i in range(1, 26)]})
    assert t == {"value": 15.0, "percentile": 60.0, "samples": 25, "beyond": 10}


def test_summarize_synthetic_run():
    metrics, detail = summarize(
        setup_s=12.5,
        samples={"a": [0.5, 0.25], "b": [2.0], "c": [1.0, 0.75, 3.0]},
        attempted=8,
        failed=2,
    )
    assert list(metrics) == list(E2E)
    assert metrics == {
        "setup_s": {"value": 12.5, "unit": "s"},
        "pass_s": {"value": 0.375 + 2.0 + 1.0, "unit": "s"},
        "query_p50_s": {"value": 0.875, "unit": "s"},
        "query_tail_s": {"value": 2.0, "unit": "s"},
        "ops_ok_frac": {"value": 0.75, "unit": "ratio"},
    }
    assert detail["ops_failed_frac"] == 0.25
    assert detail["query_tail"] == {
        "value": 2.0,
        "percentile": 100.0,
        "samples": 6,
        "beyond": 0,
    }


def test_summarize_skips_queries_that_never_succeeded():
    metrics, _ = summarize(1.0, {"a": [2.0], "b": []}, attempted=2, failed=1)
    assert metrics["pass_s"]["value"] == 2.0
    assert metrics["ops_ok_frac"]["value"] == 0.5


def test_summarize_rejects_empty_runs():
    with pytest.raises(ValueError):
        summarize(1.0, {}, 0, 0)
    with pytest.raises(ValueError):
        summarize(1.0, {"a": []}, 1, 1)


def _fragment():
    """Events of one traced sf0.001 run on 4 cores, around three timed
    executions (``multimodal_audio``: Python workers; ``emb_coreset_kcenter``:
    eager driver-sequenced jobs and collects; ``stream_events_tumbling``:
    micro-batches and state), trimmed to the fields the parser reads. It
    keeps jobs of a neighbouring execution that is not in the list; they
    must count toward no layer. ``expected.json`` holds the parser's output for it."""
    with open(os.path.join(DATA, "executions.json")) as f:
        executions = json.load(f)
    return read_events(os.path.join(DATA, "eventlog_fragment.jsonl")), executions


def test_parser_on_committed_fragment():
    events, executions = _fragment()
    metrics, spans = layer_metrics(events, executions, cores=4, passes=1)
    with open(os.path.join(DATA, "expected.json")) as f:
        expected = json.load(f)
    assert metrics == pytest.approx(expected)
    jobs = [s for s in spans if s["name"] == "job"]
    assert len(jobs) == expected["spark.jobs"]
    phase_ids = {ph[2] for ex in executions for ph in ex["phases"].values()}
    assert {j["parent"] for j in jobs} <= phase_ids
    job_ids = {j["id"] for j in jobs}
    assert {s["parent"] for s in spans if s["name"] == "stage"} <= job_ids


def test_parser_halves_totals_over_two_passes():
    events, executions = _fragment()
    one, _ = layer_metrics(events, executions, cores=4, passes=1)
    two, _ = layer_metrics(events, executions, cores=4, passes=2)
    assert two["spark.tasks"] == one["spark.tasks"] / 2
    assert two["spark.core_busy_frac"] == one["spark.core_busy_frac"]


def test_metric_names_match_benchmark_json():
    events, executions = _fragment()
    layers, _ = layer_metrics(events, executions, cores=4, passes=1)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(E2E)
    from run import RUN_LAYERS, unit

    names = set(layers) | set(RUN_LAYERS)
    assert {m["name"] for m in spec["per_layer"]} == names
    for m in spec["end_to_end"] + spec["per_layer"]:
        if m["name"] in names:
            assert m["unit"] == unit(m["name"]), m["name"]
