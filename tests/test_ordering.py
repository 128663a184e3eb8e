"""bucketed_global_rank correctness: bit-identical to a single-
partition global row_number under ties, skew, and degenerate bucket
counts (the q29/q116 oracles cover the integrated paths; this pins the
operator in isolation)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from anime_data_pipeline_spark.operators.ordering import bucketed_global_rank


def _truth(df, key, tiebreakers):
    w = Window.orderBy(F.asc(key), *[F.asc(c) for c in tiebreakers])
    return {
        r["id"]: r["rn"]
        for r in df.withColumn("rn", F.row_number().over(w).cast("long")).collect()
    }


def test_matches_global_row_number_with_ties(spark):
    # keys collide heavily (mod 7) — ties must break by id identically
    df = spark.range(500).select(
        F.col("id"), (F.col("id") * 37 % 7).alias("k")
    )
    got = {
        r["id"]: r["rank"]
        for r in bucketed_global_rank(
            df, key_col="k", key_max=7, tiebreakers=["id"], out_col="rank", n_buckets=16
        ).collect()
    }
    assert got == _truth(df, "k", ["id"])


def test_matches_under_skew_and_large_domain(spark):
    # 90% of keys in one value (hot bucket), the rest spread wide
    df = spark.range(1000).select(
        F.col("id"),
        F.when(F.col("id") % 10 != 0, F.lit(12345))
        .otherwise(F.col("id") * 997 % 1_000_000)
        .alias("k"),
    )
    got = {
        r["id"]: r["rank"]
        for r in bucketed_global_rank(
            df, key_col="k", key_max=1_000_000, tiebreakers=["id"], out_col="rank"
        ).collect()
    }
    assert got == _truth(df, "k", ["id"])


def test_single_bucket_degenerate(spark):
    df = spark.range(50).select(F.col("id"), (F.col("id") % 3).alias("k"))
    got = {
        r["id"]: r["rank"]
        for r in bucketed_global_rank(
            df, key_col="k", key_max=3, tiebreakers=["id"], out_col="rank", n_buckets=1
        ).collect()
    }
    assert got == _truth(df, "k", ["id"])


def test_null_keys_rank_first(spark):
    # null keys sort first, as in the global window; with n_buckets=1
    # the null bucket is a second counts row the limit must keep
    df = spark.range(60).select(
        F.col("id"),
        F.when(F.col("id") % 9 == 4, F.lit(None)).otherwise(F.col("id") % 5).alias("k"),
    )
    for n_buckets in (1, 16):
        got = {
            r["id"]: r["rank"]
            for r in bucketed_global_rank(
                df, key_col="k", key_max=5, tiebreakers=["id"], n_buckets=n_buckets
            ).collect()
        }
        assert got == _truth(df, "k", ["id"]), n_buckets


def test_requires_tiebreakers(spark):
    df = spark.range(5).select(F.col("id"), F.col("id").alias("k"))
    import pytest

    with pytest.raises(ValueError):
        bucketed_global_rank(df, key_col="k", key_max=5, tiebreakers=[])
