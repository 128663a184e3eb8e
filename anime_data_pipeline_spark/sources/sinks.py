"""Table sinks (SURVEY S9 + BASELINE "Parquet/Delta writes").

Parquet is the native interchange between stages and the one write
format here. The J5 metadata upsert is a plan, not a sink: its batch
spelling is plans/legacy.upsert_sidecars (full-outer merge,
``coalesce(new, old)``) and its streaming spelling is
streaming/pipeline.foreach_batch_upsert_latest. A Delta ``MERGE``
sink waits until the delta-spark package is installed. The JSON
compatibility exporter lives in sources/json_compat.

Scale rules encoded here:
- partition by a LOW-cardinality column (dt, source, bucket_reso — not
  image_key) so the file count stays sane;
- target ~128 MB files via a pre-write repartition on the partition
  columns (one file per partition-dir per shuffle task otherwise);
- writer-side sort within partitions gives parquet min/max stats that
  downstream range filters prune on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    sort_by: list[str] | None = None,
) -> None:
    """Partitioned parquet overwrite with stats-friendly layout."""
    if partition_by:
        df = df.repartition(*[F.col(c) for c in partition_by])
    if sort_by:
        df = df.sortWithinPartitions(*sort_by)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: rows hash-clustered (and optionally
    sorted) by the join key at WRITE time, so every later equi-join or
    aggregation on that key runs shuffle-free — the pre-paid exchange.
    Both sides of a co-located join must use the same n_buckets.

    At 100 TB this is the difference between shuffling the fact table
    per query and shuffling it once at ingest."""
    writer = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.saveAsTable(table)
