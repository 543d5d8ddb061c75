"""Partition sizing: how wide to spread a small input.

One rule, ``width = clamp(ceil(volume / unit), floor, cap)``, with one
named unit per class of work. ``cap`` is the session's
``defaultParallelism``: at scale every width saturates there (or the
input is already wide and nothing is re-spread), so the units only
decide how much fixed per-task cost a SMALL input pays — at interactive
scale that cost dominates (every near-empty task and every state-store
instance costs the same open/schedule/commit overhead however little it
holds).

The units are measured, not derived; re-tuning one is one edit here.
"""

from __future__ import annotations

import math
import os
import urllib.parse

from pyspark.sql import DataFrame

#: Light vectorized pass (a numpy matmul over an embedding scan): 256 KiB
#: of input per task, at least 2 tasks. Measured on a 32-core host: a
#: trivial 32-task stage is 0.6-0.8 s of pure scheduling overhead while
#: the probe's numpy is ~40 ms (dedup_semantic 3.47 -> 2.25 s,
#: dedup_embedding_cosine 1.32 -> 0.84 s). Caveat: the volume is
#: ``inputFiles()`` bytes — compressed on-disk parquet, de-duplicated by
#: file — so a self-union scanned twice counts once, and highly
#: compressed vector data under-counts the decoded array work; the width
#: can undershoot there.
LIGHT_BYTES_PER_TASK = 256 * 1024
LIGHT_FLOOR = 2

#: Stateful stream: 128 KiB of ingest per micro-batch per state-store
#: partition, at least 1. Measured on the sf0.1 gates (~0.7 MB/batch):
#: 32 core-count partitions vs 8 sized ones is 6.7 vs 3.5 s on the append
#: session gate and 4.2 vs 2.5 s on the tumbling gate, bit-identical
#: read-backs; at sf1 (~7 MB/batch) the width saturates at the cap.
STATE_BYTES_PER_PARTITION = 128 * 1024

#: Stream micro-batch spread before per-row scoring: 40 rows per task, at
#: least 2, and no spread at all below 512 rows per batch. Measured on
#: the kNN-label gate: 133-row batches ran 1.47x SLOWER with a 32-way
#: spread than with none; 1,333-row batches at sf1 spread 32-way took the
#: gate 35.8 -> 14.3 s (~40 rows = ~300 ms of scoring per task).
STREAM_ROWS_PER_TASK = 40
STREAM_FLOOR = 2
STREAM_MIN_ROWS = 512


def width(volume: float, unit: int, cap: int, floor: int = 1) -> int:
    """``clamp(ceil(volume / unit), floor, cap)`` — the floor wins over a
    cap below it."""
    return max(floor, min(cap, math.ceil(volume / unit)))


def state_partitions(batch_bytes: float, cap: int) -> int:
    """State-store partitions for a stateful stream whose micro-batches
    carry ``batch_bytes`` of input each."""
    return width(batch_bytes, STATE_BYTES_PER_PARTITION, cap)


def stream_spread(rows: float, cap: int) -> int | None:
    """Tasks to spread a stream micro-batch of ``rows`` rows across before
    per-row scoring, or ``None`` (no spread) below ``STREAM_MIN_ROWS``."""
    if rows < STREAM_MIN_ROWS:
        return None
    return width(rows, STREAM_ROWS_PER_TASK, cap, STREAM_FLOOR)


def spread_small_scan(df: DataFrame, *, light: bool = False) -> DataFrame:
    """Re-spread a small scan across the cluster before compute-heavy
    per-row work.

    A small parquet file arrives as one partition, which would serialize
    the expensive per-row expressions onto a single core. The repartition
    only fires when the source files total less than
    ``cores × maxPartitionBytes``; above that the scan is ASSUMED wide.
    That holds for files with many row groups (at 100 TB the scan yields
    thousands of partitions), not for one big row group: a split reads a
    row group whole, so sf0.1 lineitem (10.8 MB, one row group) passes as
    "wide" yet puts all its rows in 1 of its 11 scan tasks. Smallness is
    decided from source file sizes (driver-side metadata, no job).
    Non-file sources (in-memory frames) count as small.

    The spread is ``defaultParallelism`` wide. ``light=True`` sizes it by
    volume instead (``LIGHT_BYTES_PER_TASK``, capped at the cores) — for
    passes whose per-byte compute is light. Leave it off for regex/shingle
    passes whose per-byte CPU is heavy: bytes are the wrong cost proxy
    there, and their core-wide stages do ~300 ms of real work per task at
    sf0.1. A non-file source keeps the full width (size unknown).
    """
    spark = df.sparkSession
    cap = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    total = 0
    for f in files:
        if not f.startswith("file:"):
            return df  # remote storage: the scan is already wide at scale
        try:
            total += os.path.getsize(urllib.parse.unquote(urllib.parse.urlparse(f).path))
        except OSError:
            return df  # listed file not stat-able: assume big, leave as-is
    split = _parse_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    if total >= cap * split:
        return df
    if light and files:
        return df.repartition(width(total, LIGHT_BYTES_PER_TASK, cap, LIGHT_FLOOR))
    return df.repartition(cap)


def dir_bytes(path: str) -> int:
    """Driver-side total size of the parquet files under ``path`` — the
    staged stream input volume, free to compute (no Spark job)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def _parse_bytes(conf_value: str) -> int:
    """Parse a Spark byte-size conf ("1048576", "128m", "1g", ...)."""
    v = conf_value.strip().lower().removesuffix("b")
    for suffix, mult in (("k", 1024), ("m", 1024**2), ("g", 1024**3)):
        if v.endswith(suffix):
            return int(float(v[:-1]) * mult)
    return int(v)
