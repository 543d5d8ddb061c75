"""The benchmark's two workloads and the order a run executes them in.

The workload lists partition ``bench.HEADLINE``, so a query added to or
dropped from the headline moves into exactly one workload
(``tests/test_perfbench.py`` pins the partition).

A run cannot time a whole workload. A run is budgeted at about a minute, so
that comparing two commits at ten runs per workload and side fits in under
an hour, and a fresh process spends ~16 s on set-up and ~1.5-3 s per query
on the untimed warm-up pass that checks outputs. Each workload therefore
names a fixed *timed set*, chosen so that every layer the workload exists to
stress is on the blocking path (README.md gives the reason per query). The
set is the same for every seed, so run-to-run spread is timing noise, not a
different sample of queries.
"""

from __future__ import annotations

import random
from collections.abc import Iterator

from bench import HEADLINE

SQL_PREFIXES = (
    "tpch_",
    "agg_",
    "join_",
    "win_",
    "sort_",
    "setop_",
    "events_",
    "asof_",
    "range_",
)

WORKLOADS: dict[str, list[str]] = {
    "sql_analytics": [q for q in HEADLINE if q.startswith(SQL_PREFIXES)],
    "data_pipeline": [q for q in HEADLINE if not q.startswith(SQL_PREFIXES)],
}

TIMED: dict[str, tuple[str, ...]] = {
    # Joins, aggregates, windows, sort, set ops, event-time and range
    # joins: JVM codegen, Catalyst planning, scans and shuffles; no Python
    # workers, no eager jobs, no streams.
    "sql_analytics": (
        "tpch_q3",
        "tpch_q6",
        "tpch_q8",
        "tpch_q18",
        "agg_grouping_sets",
        "join_fact_fact",
        "win_rank",
        "win_running_sum",
        "sort_topk",
        "setop_six",
        "events_attribution",
        "range_join_buckets",
    ),
    # Python workers, eager driver jobs (ANN codebook training), the
    # exchange-heavy near-dup plan, and the write path: availableNow
    # micro-batches, state store, checkpoint/WAL commits, the idempotent
    # sink and the twin-session stateful route.
    "data_pipeline": (
        "dedup_minhash_lsh",
        "dedup_embedding_cosine",
        "text_lang_id",
        "ann_topk_pq",
        "multimodal_audio",
        "pii_redact",
        "stream_events_tumbling",
    ),
}


def passes(workload: str, seed: int) -> Iterator[list[str]]:
    """Endless passes over the workload's timed set, each in an order
    drawn from ``seed``. The seed only permutes; it never changes which
    queries run or their inputs."""
    rng = random.Random(seed)
    queries = list(TIMED[workload])
    while True:
        rng.shuffle(queries)
        yield list(queries)
