"""Skew mitigation: salted aggregation and salted broadcast-free joins.

At 100 TB a handful of hot keys (one customer with 10% of all orders, one
document template duplicated a billion times) concentrate a shuffle
partition on one executor. AQE's skew-join splitting
(``spark.sql.adaptive.skewJoin``) handles the join case at runtime; these
operators are the *declarative* counterpart for when the skew is known or
measured, and the aggregation case (which AQE does not salt).

Both are pure DataFrame compositions — no custom partitioner, no RDD:

- :func:`salted_aggregate`: two-level aggregation. Phase 1 groups by
  (key, salt) — hot keys split across ``n_salts`` reducers; phase 2 merges
  the per-salt partials. Only works for algebraic aggregates (the caller
  supplies partial and merge expressions; sums/counts/min/max compose
  losslessly, exactly like Spark's own partial aggregation one level up).
- :func:`replicate_join`: skewed-side rows keep their salt; the other side
  is replicated to every salt value (explode over a literal range). The
  join key becomes (key, salt) — each hot key's matches spread over
  ``n_salts`` tasks. Use when the small side is too big to broadcast but
  the key histogram is lopsided.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(
    df: DataFrame,
    n_salts: int,
    col_name: str = "__salt",
    *,
    method: str = "content",
) -> DataFrame:
    """Uniform salt in [0, n_salts). Salting never changes results, only
    placement, so the method is a placement policy:

    - ``content`` (default): hash of all columns — reruns place rows
      identically (reproducible stage timings). CAVEAT: byte-identical
      duplicate rows (this module's motivating case — one template
      duplicated a billion times) all hash to ONE salt and still pile onto
      a single reducer.
    - ``rowid``: position-derived (``monotonically_increasing_id`` mod
      n_salts) — spreads even identical duplicates; placement is stable for
      a fixed partitioning but not across re-partitioned reruns.

    >>> s = with_salt(ticks, 4)
    >>> s.select((F.min("__salt") >= 0).alias("lo"),
    ...          (F.max("__salt") <= 3).alias("hi")).collect()
    [Row(lo=True, hi=True)]
    """
    if method == "content":
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    elif method == "rowid":
        salt = F.pmod(F.monotonically_increasing_id(), F.lit(n_salts))
    else:
        raise ValueError(f"unknown salt method {method!r}")
    return df.withColumn(col_name, salt)


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    partial_aggs: dict[str, Column],
    merge_aggs: dict[str, Column],
    *,
    n_salts: int = 16,
    salt_method: str = "content",
) -> DataFrame:
    """Two-level (salted) aggregation for skewed group keys.

    ``partial_aggs`` aggregate within (keys + salt); ``merge_aggs`` combine
    the partial columns per key. Example::

        salted_aggregate(
            orders, ["o_custkey"],
            partial_aggs={"n": F.count(F.lit(1)), "s": X.usum("o_totalprice", 2)},
            merge_aggs={"n": F.sum("n"), "s": F.sum("s")},
        )

    Use ``salt_method="rowid"`` when the hot key's rows are byte-identical
    duplicates (content hashing would give them all one salt).
    """
    salted = with_salt(df, n_salts, method=salt_method)
    phase1 = salted.groupBy(*keys, "__salt").agg(
        *[c.alias(name) for name, c in partial_aggs.items()]
    )
    return phase1.groupBy(*keys).agg(
        *[c.alias(name) for name, c in merge_aggs.items()]
    )


def replicate_join(
    skewed: DataFrame,
    other: DataFrame,
    on: list[str],
    *,
    n_salts: int = 8,
    how: str = "inner",
    salt_method: str = "content",
) -> DataFrame:
    """Equi-join where ``skewed`` has hot keys and ``other`` is too large to
    broadcast: salt the skewed side, replicate the other side ×``n_salts``,
    join on (keys + salt). Each hot key's rows land on ``n_salts`` tasks
    instead of one.

    Cost model: ``other`` is shuffled ``n_salts`` times — worth it when the
    hot key's partition would otherwise dominate the stage (straggler wall
    time > n_salts × other-side shuffle time).
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        # right/full would surface the replicated side's unmatched rows once
        # per salt — n_salts phantom rows per miss
        raise ValueError(f"replicate_join supports inner/left joins, got {how!r}")
    salted = with_salt(skewed, n_salts, method=salt_method)
    replicated = other.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<long>")),
    )
    out = salted.join(replicated, on + ["__salt"], how=how)
    return out.drop("__salt")


def levenshtein_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    block_col: str,
    max_dist: int = 2,
) -> DataFrame:
    """Blocked fuzzy-match pairs: ``(id_a, id_b, block, dist)`` for every
    within-block pair with ``levenshtein ≤ max_dist`` (``id_a < id_b``).

    Two scale fixes over the naive block self-join (which, at sf1's 25
    brands × 8k parts, planned 1.6e9 comparisons across only 25 join keys
    — a near-single-task straggler measured grinding one core):

    - **Length banding as part of the equi-key.** ``lev(a,b) ≤ d`` forces
      ``|len(a) − len(b)| ≤ d``, so the probe side replicates each row to
      the 2d+1 length bands it can match and the join key becomes
      (block, band) — block_cardinality × distinct_lengths keys instead
      of block_cardinality, spreading the quadratic work across the
      cluster, with the size-incompatible pairs pruned before the edit
      distance ever evaluates. Each qualifying pair meets exactly once
      (at band = len(b)).
    - **Thresholded Levenshtein.** ``levenshtein(a, b, d)`` computes the
      banded O(len·d) DP and early-exits past ``d`` (returns -1), instead
      of the full O(len²) matrix.

    Remaining envelope (documented, not hidden): work is inherently
    Ω(Σ_block-band b²) — at pathological length concentration inside one
    giant block, compose the block key with a salt
    (:func:`~stupidb_spark.operators.similarity.salted_block_tasks`
    pattern) or tighten the blocking key upstream.

    NULL blocks never match (plain SQL ``=`` join semantics, matching the
    DuckDB oracles and the naive self-join this replaced): a row whose
    ``block_col`` is NULL participates in no pair. Callers who want NULLs
    compared must coalesce the block key to a sentinel first.
    """
    from stupidb_spark.partitioning import spread_small_scan

    base = df.select(
        F.col(block_col).alias("block"),
        F.col(id_col).alias("id"),
        F.col(text_col).alias("s"),
    ).withColumn("__len", F.length("s"))
    # The pair work is quadratic in block-band size while the INPUT is
    # tiny — a one-file scan arrives as one partition, and a broadcast
    # build side means no shuffle ever spreads it (measured at sf1: the
    # whole 1.4e9-comparison join ran as a single task). Re-spread the
    # probe side so every core gets a probe slice.
    probe = spread_small_scan(base).withColumn(
        "__band",
        F.explode(
            F.sequence(
                F.col("__len") - F.lit(max_dist),
                F.col("__len") + F.lit(max_dist),
            )
        ),
    )
    build = base.withColumn("__band", F.col("__len"))
    a, b = probe.alias("a"), build.alias("b")
    dist = F.levenshtein(F.col("a.s"), F.col("b.s"), max_dist)
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .withColumn("dist", dist)
        .filter(F.col("dist") >= 0)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.block").alias("block"),
            F.col("dist").cast("long").alias("dist"),
        )
    )
