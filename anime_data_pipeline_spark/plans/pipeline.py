"""EP1 — the reference's primary entry point (dataruu/run.py:31-118)
as one lazy DataFrame DAG.

Reference stage order (SURVEY §3 EP1): scan → bucketing → sidecar join
→ aesthetic filter → tag ordering (or ML tagging) → JSON sink. Each
stage here is a ``DataFrame → DataFrame`` transform; nothing executes
until the sink, so Catalyst sees the WHOLE pipeline and can push the
aesthetic filter below the expensive tag work, prune unused columns at
the scan, and pick broadcast joins for the dimension-sized inputs.

Scale shape: one wide scan (images), two broadcast-ish joins (sidecars
may be large → shuffle hash join on image_stem; aesthetic scores and
vocab are dimensions → broadcast), all map-only in between. No
collect; the driver only sees counters (run.py:79-90's error counts
become one small agg).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from anime_data_pipeline_spark.operators.bucketing import (
    BucketConfig,
    assign_bucket_columns,
    bucketable,
)
from anime_data_pipeline_spark.operators.tags import novelai_order_df


@dataclass(frozen=True)
class PipelineConfig:
    """EP1 knobs (defaults = reference CLI defaults, run.py:13-28)."""

    bucket: BucketConfig = field(default_factory=BucketConfig)
    aesthetic_threshold: float = 0.5
    use_aesthetic: bool = True


def bucketing_stage(images: DataFrame, cfg: BucketConfig) -> DataFrame:
    """Corrupt-row filter (P6, bucket_manager.py:219-221) + bucket
    assignment (B2/B3) + train resolution (P4).

    Rows without a positive width and height, or whose resized size
    does not fit an int, are dropped like corrupt ones: a zero side
    divides by zero and an oversized one overflows the int cast, either
    of which fails the whole run under ANSI, and a null side would be
    written as bucket (-1, -1)."""
    ok = images.filter(bucketable(cfg))
    if "is_corrupt" in images.columns:
        ok = ok.filter(~F.coalesce(F.col("is_corrupt"), F.lit(False)))
    assigned = assign_bucket_columns(ok, cfg=cfg)
    # train_resolution derives from the SELECTED BUCKET reso, not the
    # original image size (bucket_manager.py:196: reso[0] - reso[0] % 8).
    # assign_bucket_columns already computes train_w/train_h from
    # bucket_w/bucket_h; reuse those columns verbatim.
    return assigned.withColumn(
        "train_resolution",
        F.struct(F.col("train_w").alias("w"), F.col("train_h").alias("h")),
    )


def sidecar_join_stage(images: DataFrame, sidecars: DataFrame) -> DataFrame:
    """J1: metadata ⋈ sidecar tags/ratings — left join on image_id, the
    stem before the first '_' (run.py:51-52 resolves
    '{image_dir}/{image_name}.txt' after stripping the _p0 page suffix,
    so one sidecar serves every page of a multi-page post). Sidecar-less
    rows are kept with null tags for the P9 audit."""
    side = sidecars
    if "image_id" not in side.columns:
        side = side.withColumn(
            "image_id", F.split(F.col("image_stem"), "_").getItem(0)
        )
    return images.join(side.drop("image_stem"), "image_id", "left")


def aesthetic_stage(
    df: DataFrame, scores: DataFrame, threshold: float
) -> tuple[DataFrame, DataFrame]:
    """J2/P5/P8: inner join on image_id + threshold filter.

    Returns (kept, audit): audit is one small DataFrame with the
    reference's counters (total_error = images missing a score,
    run.py:83-85; below_threshold = scored but filtered)."""
    joined = df.join(F.broadcast(scores), "image_id", "left")
    kept = joined.filter(F.col("score") >= threshold).drop("score")
    audit = joined.agg(
        F.sum(F.when(F.col("score").isNull(), 1).otherwise(0)).alias("total_error"),
        F.sum(
            F.when(F.col("score") < threshold, 1).otherwise(0)
        ).alias("below_threshold"),
        F.count(F.lit(1)).alias("total_seen"),
    )
    return kept, audit


def ordering_stage(df: DataFrame, vocab_names: list[str] | Column) -> DataFrame:
    """M2: NovelAI ordering over the tag array + rating prefix merge
    (run.py:106-108: ordered_tags prepended with rating at the sink)."""
    return novelai_order_df(df, F.col("tags"), vocab_names)


def run_ep1(
    images: DataFrame,
    sidecars: DataFrame,
    scores: DataFrame | None,
    vocab_names: list[str],
    cfg: PipelineConfig | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """Compose the full EP1 DAG; returns (metadata, audit | None).

    ``images``: (image_key, image_stem, image_id, width, height[,
    is_corrupt]) — from sources.images.scan_image_dirs + derive_keys +
    a decode stage, or a fixture table.
    ``sidecars``: (image_stem, rating, tags) from sources.sidecar.
    ``scores``: (image_id, score) from sources.aesthetic, or None.
    """
    cfg = cfg or PipelineConfig()
    df = bucketing_stage(images, cfg.bucket)
    df = sidecar_join_stage(df, sidecars)
    audit = None
    if cfg.use_aesthetic and scores is not None:
        df, audit = aesthetic_stage(df, scores, cfg.aesthetic_threshold)
    df = ordering_stage(df, vocab_names)
    meta = df.select(
        "image_key",
        "rating",
        "tags",
        "ordered_tags",
        "train_resolution",
        F.struct(F.col("bucket_w").alias("w"), F.col("bucket_h").alias("h")).alias(
            "bucket_reso"
        ),
        F.struct(F.col("resized_w").alias("w"), F.col("resized_h").alias("h")).alias(
            "resized_size"
        ),
        "ar_error",
    )
    return meta, audit


def bucket_report(meta: DataFrame) -> DataFrame:
    """A1/A2: the reference's per-bucket count + mean |ar_error| report
    (bucket_manager.py:213-226) — partial/final agg, one small result."""
    return meta.groupBy("bucket_reso").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.avg(F.abs(F.col("ar_error"))).alias("mean_abs_ar_error"),
    )
