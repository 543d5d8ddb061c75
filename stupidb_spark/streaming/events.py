"""Streaming event-time pipelines over the ``events`` table.

Each transformation here uses the *same* window expression as its batch twin
in ``stupidb_spark/queryset/events.py`` — ``F.window`` / ``F.session_window``
are batch/stream-polymorphic, so a result verified against the DuckDB oracle
in batch is the semantics the stream computes incrementally.

Scale design (what changes on a real cluster, none of which changes the
code): the file source becomes Kafka; ``availableNow`` becomes a continuous
trigger; the memory sink becomes a parquet/Delta sink with checkpointing.
Watermarks bound state: a ``1 hour`` watermark means a window's state is
dropped once the event-time high-water-mark passes its end — state size is
O(active windows × keys), independent of stream length. The stateful
operator keys state by ``user_id``; state store shards follow the shuffle
partitioning, so hot users are the same skew problem (and AQE/salting
answer) as a hot groupBy key in batch.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from stupidb_spark.functions import exact as X
from stupidb_spark.sources.catalog import FIXTURE_SCHEMAS

# ---------------------------------------------------------------------------
# source
# ---------------------------------------------------------------------------


def stream_events(
    spark: SparkSession,
    source_dir: str,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of events parquet files dropped into ``source_dir``.

    Mirrors ``sources.catalog.load_table('events')``: the current fixture
    stores ``ts`` as timestamp[us], read natively as TimestampType. A
    footer-sniffed fallback handles a TIMESTAMP(NANOS) regeneration (raw
    nanos + ns→µs truncation), keeping both ingestion paths in lockstep.
    ``max_files_per_trigger=1`` makes each staged file its own micro-batch
    (used by tests to prove state carries across batches).
    """
    import glob

    from pyspark.sql.types import LongType as _Long, StructField as _SF, StructType as _ST

    from stupidb_spark.sources.catalog import parquet_ts_is_nanos

    first = sorted(glob.glob(f"{source_dir}/*.parquet")) or sorted(
        glob.glob(f"{source_dir}/**/*.parquet", recursive=True)
    )
    if not first:
        # The sniff decides the whole stream's schema; guessing on an empty
        # directory would silently misread TIMESTAMP(NANOS) files staged
        # later. Stage at least one file before defining the stream.
        raise FileNotFoundError(
            f"stream_events: no parquet files in {source_dir} to sniff the "
            "timestamp physical type from — stage at least one file before "
            "defining the stream (the schema is fixed at definition time)"
        )
    is_nanos = parquet_ts_is_nanos(first[0])
    if is_nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        ns_schema = _ST(
            [
                _SF(f.name, _Long() if f.name == "ts" else f.dataType, True)
                for f in FIXTURE_SCHEMAS["events"].fields
            ]
        )
        reader = spark.readStream.schema(ns_schema)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        df = reader.parquet(source_dir)
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    reader = spark.readStream.schema(FIXTURE_SCHEMAS["events"])
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


# ---------------------------------------------------------------------------
# windowed aggregations — identical expressions to the batch twins
# ---------------------------------------------------------------------------


def tumbling_stream(
    events: DataFrame, *, width: str = "1 hour", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming twin of ``events_tumbling``: 1h tumbling event-time windows.

    The watermark lets Spark finalize and drop window state ``watermark``
    past each window's end — without it, state grows without bound.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            X.dsum("value", 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_stream(
    events: DataFrame,
    *,
    width: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of ``events_sliding``: overlapping windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            X.dsum("value", 4).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


def sessionized_stream(
    events: DataFrame, *, gap: str = "30 minutes", watermark: str | None = "1 hour"
) -> DataFrame:
    """Streaming twin of ``events_session``: gap-based session windows.

    Session windows REQUIRE a watermark in streaming append/update modes
    (sessions can otherwise merge forever); ``F.session_window`` merges
    partial sessions across micro-batches until the watermark closes them.
    ``watermark=None`` is for COMPLETE-mode runs only (the epoch-sink
    gate): unlike plain window aggregations, the session operator still
    applies the late-row filter in complete mode, so out-of-time-order
    micro-batches would silently lose sessions (measured: 651 of 946 on
    the randomly-staged gate fixture); with no watermark, complete mode
    retains and merges all state, which is that route's contract anyway.
    """
    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    return (
        events
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            X.dsum("value", 4).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def deduped_stream(
    events: DataFrame,
    *,
    keys: tuple[str, ...] = ("event_id",),
    watermark: str = "1 hour",
) -> DataFrame:
    """Exactly-once view of an at-least-once event stream: drop rows whose
    ``keys`` were already seen within the watermark horizon.

    The canonical training-pipeline ingest guard — upstream collectors retry,
    so the same event arrives more than once. ``dropDuplicatesWithinWatermark``
    keeps one row per key and, unlike plain ``dropDuplicates``, bounds the
    dedup state: a key's entry is evicted once the event-time high-water-mark
    passes its timestamp + ``watermark``, so state is O(keys per horizon),
    independent of stream length. Duplicates arriving later than the horizon
    are ingested again — pair with a downstream batch ``exact_dedup``
    (operators/dedup.py) for the long tail.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def attribution_stream(
    events: DataFrame,
    *,
    horizon: str = "4 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: each click attributed to the same user's
    views in the preceding ``horizon``. Streaming twin of
    ``events_attribution``.

    Both sides carry a watermark and the join condition bounds ``click_ts``
    relative to ``view_ts`` — together these let Spark evict buffered rows
    once the event-time high-water-mark passes ``view_ts + horizon +
    watermark``, so join state is O(events per horizon window), independent
    of stream length. Without the time-range condition a stream-stream inner
    join must buffer BOTH streams forever.
    """
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    return views.join(
        clicks,
        (F.col("user_id") == F.col("click_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") < F.col("view_ts") + F.expr(f"INTERVAL {horizon}")),
    ).select("view_id", "click_id", "user_id", "view_ts", "click_ts")


# ---------------------------------------------------------------------------
# custom stateful operator — the reference's step/combine/finalize shape,
# re-expressed as Arrow-batched grouped-map-with-state
# ---------------------------------------------------------------------------

_RUNNING_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("last_event_type", StringType()),
    ]
)

# state = the aggregate's accumulator tuple, exactly a reference
# ``UnaryAssociativeAggregate``'s fields (count, total) plus a navigation
# value — what ``step`` updates and ``finalize`` reads
# (stupidb/functions/associative/core.py:13-81).
_RUNNING_STATE = StructType(
    [
        StructField("n", LongType()),
        StructField("total_cents", LongType()),
        StructField("last_type", StringType()),
    ]
)


def _running_totals_fn(
    key: Tuple[int],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """step(): fold this micro-batch into the accumulator; emit finalize().

    Totals accumulate in integer cents (the exact.py discipline) so the
    running sum is exact regardless of batch boundaries.
    """
    if state.exists:
        n, total_cents, last_type = state.get
    else:
        n, total_cents, last_type = 0, 0, None
    for pdf in pdfs:
        if len(pdf):
            n += len(pdf)
            total_cents += int(pdf["value"].mul(10000).round().astype("int64").sum())
            ordered = pdf.sort_values(["ts", "event_id"])
            last_type = str(ordered["event_type"].iloc[-1])
    state.update((n, total_cents, last_type))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [total_cents / 10000.0],
            "last_event_type": [last_type],
        }
    )


def user_running_totals(events: DataFrame) -> DataFrame:
    """Per-user running (count, exact total, last event type) across batches.

    ``applyInPandasWithState`` is the Spark-native custom stateful operator:
    state lives in the state store keyed by ``user_id``, the function sees
    Arrow-batched pandas frames (never row-at-a-time Python), and output mode
    ``update`` emits one row per user per micro-batch that touched it.

    Spark 4's successor API (``transformWithStateInPandas`` — typed state
    handles on a RocksDB store) expresses the same operator, but its
    Python↔JVM state protocol needs ``google.protobuf``, which this
    environment does not provide (verified: the pre-init driver worker
    crashes on the protobuf import) — so this proven API is the shipped
    one. The migration is mechanical: ``init`` takes
    ``handle.getValueState("totals", _RUNNING_STATE)`` and
    ``handleInputRows`` is this function's body.
    """
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _running_totals_fn,
            outputStructType=_RUNNING_OUTPUT,
            stateStructType=_RUNNING_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# sinks
# ---------------------------------------------------------------------------


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    *,
    output_mode: str = "complete",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Run a streaming query to completion on the currently-staged files
    (``availableNow`` trigger) into an in-memory table; return the result.

    Test/demo sink — a production pipeline would use a durable sink +
    checkpoint and a continuous trigger instead; the query shape is the same.
    """
    writer = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    query = writer.start()
    query.awaitTermination()
    return stream_df.sparkSession.table(name)


def run_to_parquet_idempotent(
    stream_df: DataFrame,
    path: str,
    *,
    checkpoint_dir: str,
    state_partitions: int | None = None,
) -> None:
    """Run the currently-staged files into a parquet tree, exactly-once
    under retries: each micro-batch OVERWRITES its own ``batch_id=<n>``
    directory via ``foreachBatch``.

    Structured Streaming guarantees at-least-once delivery to a sink — a
    crash after writing but before committing the checkpoint replays the
    batch. Keying the write by ``batchId`` with dynamic partition overwrite
    makes the replay rewrite the same directory instead of appending
    duplicates: idempotent writes + replayed source = effective
    exactly-once, the same recipe a production job uses against any
    non-transactional store. Readers see the union of batch directories
    (``spark.read.parquet(path)``).

    ``state_partitions``: pins ``spark.sql.shuffle.partitions`` for the
    run (restored after), exactly like
    :func:`run_complete_to_parquet_epochs` — REQUIRED for STATEFUL
    append-mode queries (watermarked session/window aggregations): one
    state-store instance per shuffle partition per micro-batch, AQE
    never coalesces stateful stream shuffles, and state partitioning is
    locked into the checkpoint, so an inherited batch-tuned 2000
    multiplies pure commit overhead (measured on the round-13 fan-out
    proxy: the append session gate ran 18.1× slower at 2000 than at 32
    before this pin). Size it to open-state cardinality per watermark
    horizon, then keep it forever. Stateless map-only streams (no
    shuffle) can leave it None.

    SCOPE CAVEAT: the pin sets ``spark.sql.shuffle.partitions`` on the
    SHARED SparkSession for the duration of the run (restored in
    ``finally``) — Spark exposes no per-query knob for the state-store
    partition count, it is fixed at first checkpoint from the session
    conf. Anything else executing on the same session while this stream
    runs (a parallel sweep, another notebook cell) silently inherits the
    pinned width, and an exception between set and restore is covered by
    the ``finally`` but the window during the run is not. Run stateful
    streams on a dedicated session (``spark.newSession()`` shares the
    JVM but isolates the conf) when anything runs concurrently — the
    stream gates (``queryset/streamgate.py``) build their stateful
    streams on exactly such a twin session, so their pins can never leak.
    """
    spark = stream_df.sparkSession

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(path)
        )

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        if state_partitions is not None:
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(state_partitions)
            )
        (
            stream_df.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def run_complete_to_parquet_epochs(
    stream_df: DataFrame,
    path: str,
    *,
    checkpoint_dir: str,
    state_partitions: int | None = None,
    max_sink_files: int = 32,
) -> None:
    """COMPLETE-mode variant of :func:`run_to_parquet_idempotent` for
    streaming AGGREGATIONS: each micro-batch writes the FULL current
    result table as its own ``batch_id=<n>`` epoch (same
    dynamic-partition-overwrite idempotency under replays). Readers take
    the max-epoch partition — after ``availableNow`` drains the staged
    files, the final epoch is by definition the aggregation over
    everything ingested, so it must equal the batch twin exactly,
    including the trailing windows an append-mode watermark can never
    finalize (a window containing the max event time always ends after
    the final watermark).

    The bounded-state contract is the caller's: complete mode retains
    every group in the state store, so this route is for
    bounded-cardinality rollups (window × type dashboards). Unbounded-key
    streams use the watermarked append route (:func:`tumbling_stream`
    through :func:`run_to_parquet_idempotent`), whose eviction semantics
    are pinned in tests/test_streaming.py.

    **Partitioning is a deliberate choice here, not an inherited one.**
    A streaming aggregation creates one state-store instance per shuffle
    partition per micro-batch, and AQE never coalesces stateful stream
    shuffles — so letting a batch-tuned ``spark.sql.shuffle.partitions``
    (say 2000, the wide-cluster proxy) leak into a dashboard-sized
    rollup's state multiplies fixed state/commit overhead by partition
    count with zero data to amortize it (measured on the sf1 gate:
    140.2 s at an inherited 2000 vs 6.3 s at 32 — 2000 state stores ×
    4 batches plus 1,660 sink files per epoch). ``state_partitions``
    pins the aggregation's state partitioning for the duration of the
    run (the value a production job sizes to its GROUP CARDINALITY and
    then keeps forever — state partitioning is locked into the
    checkpoint); the epoch writer additionally coalesces each complete
    snapshot to ≤ ``max_sink_files`` files, since a bounded-cardinality
    result never needs thousands of tiny parquet files.
    """
    spark = stream_df.sparkSession

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.coalesce(max_sink_files)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(path)
        )

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        if state_partitions is not None:
            # Read at query START (this runner owns the checkpoint for the
            # whole run, so the pinned value is self-consistent); restored
            # before returning so batch plans in the session are untouched.
            spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
        (
            stream_df.writeStream.outputMode("complete")
            .foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
