"""Distributed global ordering / ranking without single-partition windows.

The reference shuffles the whole corpus on the driver
(``run.py:42`` ``random.shuffle``; ``bucket_manager.py:57-59`` per-bucket) —
fine for an in-memory dict, fatal at 100 TB. The seeded-hash redesign
(q29) makes shuffle position a pure function of ``(seed, key)``, but a
naive ``row_number().over(Window.orderBy(...))`` still funnels every row
through ONE task (Spark warns ``WindowExec: No Partition Defined``).

``bucketed_global_rank`` removes that bottleneck for the common case
where the leading sort key is a bounded non-negative integer (e.g. a
polynomial hash in ``[0, P)``): bucket rows by an order-preserving,
*deterministic* range split of the key domain — no sampling, no
``persist()`` needed to freeze nondeterministic range bounds — then

1. per-bucket counts  → a tiny ``n_buckets``-row table,
2. cumulative offsets → window over that tiny table (bounded input),
3. broadcast-join offsets back, and
4. ``offset + row_number() over (partitionBy bucket orderBy keys)``.

Every corpus-sized exchange hashes on ``bucket`` (distributed); the only
unpartitioned window runs over ≤ ``n_buckets`` rows. Output is
bit-identical to the single-partition global ``row_number``: the bucket
id is monotone in the key, so (bucket, key, tiebreakers) ordering equals
global (key, tiebreakers) ordering, and equal keys always share a bucket.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

_BUCKET = "_grk_bucket"
_OFFSET = "_grk_offset"
_OFFSET_BUCKET = "_grk_obucket"

DEFAULT_BUCKETS = 4096


def bucketed_global_rank(
    df: DataFrame,
    key_col: str,
    key_max: int,
    tiebreakers: Sequence[str],
    out_col: str = "rank",
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Add ``out_col`` = global 1-based ``row_number`` by
    ``(key_col, *tiebreakers)`` ascending, computed distributedly.

    ``key_col`` must be a non-negative integer column < ``key_max``
    (e.g. ``polyhash`` output with ``key_max = P``). The bucket id
    ``floor(key * n_buckets / key_max)`` is a pure deterministic
    function of the key — the two passes (counts, rank) always agree on
    the partitioning, unlike ``repartitionByRange`` whose sampled range
    bounds differ between jobs unless the input is persisted. Null
    keys rank first, as in the global window: their null bucket sorts
    first too, and the offsets join is null-safe.
    """
    if not tiebreakers:
        raise ValueError("tiebreakers required for a total order")
    # key < key_max <= ~2^31 and n_buckets <= 2^20 keep the product in long range.
    bucket: Column = F.floor(
        F.col(key_col).cast("long") * F.lit(int(n_buckets)) / F.lit(int(key_max))
    )
    keyed = df.withColumn(_BUCKET, bucket)

    # The counts table has ≤ n_buckets + 1 rows by construction (bucket
    # ∈ [0, n_buckets) or null); the limit is a provable no-op that
    # makes the bound STRUCTURAL, so the plan-shape sweep can verify
    # that the only unpartitioned window sits above a GlobalLimit,
    # never the corpus.
    counts = (
        keyed.groupBy(_BUCKET)
        .agg(F.count(F.lit(1)).alias("_grk_n"))
        .limit(int(n_buckets) + 1)
    )
    w_off = W.orderBy(_BUCKET).rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        F.col(_BUCKET).alias(_OFFSET_BUCKET),
        F.coalesce(F.sum("_grk_n").over(w_off), F.lit(0)).alias(_OFFSET),
    )

    w_local = W.partitionBy(_BUCKET).orderBy(
        F.asc(key_col), *[F.asc(c) for c in tiebreakers]
    )
    return (
        keyed.join(F.broadcast(offsets), F.col(_BUCKET).eqNullSafe(F.col(_OFFSET_BUCKET)))
        .withColumn(
            out_col,
            (F.col(_OFFSET) + F.row_number().over(w_local)).cast("long"),
        )
        .drop(_BUCKET, _OFFSET_BUCKET, _OFFSET)
    )
