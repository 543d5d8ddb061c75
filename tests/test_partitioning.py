"""Partition sizing: the light scan spread end to end. The ``width`` rule's
stream and state-store volume tables are in ``tests/test_streaming.py``."""

from __future__ import annotations

from stupidb_spark.partitioning import LIGHT_FLOOR, spread_small_scan
from stupidb_spark.sources import load_table
from tests.conftest import SF_DIR


def _spread_width(df) -> int:
    return df._jdf.queryExecution().logical().numPartitions()


def test_light_spread_width(spark):
    cap = spark.sparkContext.defaultParallelism
    emb = load_table(spark, SF_DIR, "embeddings")
    # ~190 KB of embeddings is under one light unit: the floor decides
    assert _spread_width(spread_small_scan(emb, light=True)) == LIGHT_FLOOR == 2
    assert _spread_width(spread_small_scan(emb)) == cap
    # an in-memory frame has no files to size it by: the full core width
    mem = spark.createDataFrame([(1,), (2,)], "x int")
    assert _spread_width(spread_small_scan(mem, light=True)) == cap
