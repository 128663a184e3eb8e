"""EP2/EP3 — the reference's legacy pipeline chains (SURVEY §3) as
lazy DataFrame compositions.

EP2 (diagram top): sidecar upsert-merge into existing metadata
(merge_all_to_metadata.py:131-173, J5 + M3/M4 cleaning) → bucketing
over the merged metadata (bucketing_to_metadata.py:27-137).

EP3 (diagram bottom): aesthetic scores ⋈ sidecar tags
(prepare_aesthetic_tags_metadata.py:35-50, J6) → NovelAI ordering
(build_tags.py, M2) → final merge + threshold + limit-N
(merge_final_train_metadata.py:13-22, J4/P5/O6).

The reference's limit-N is a `break` at 300k in Python-dict order —
irreproducible; here the cut is ordered by image key so the same N
rows come out of every run (documented divergence: determinism).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from anime_data_pipeline_spark.operators.bucketing import (
    BucketConfig,
    assign_bucket_columns,
)
from anime_data_pipeline_spark.operators.tags import (
    clean_caption_bounded,
    clean_tags_df,
    novelai_order_df,
)


def upsert_sidecars(
    existing: DataFrame, tags: DataFrame, captions: DataFrame
) -> DataFrame:
    """J5: full-outer merge on image_stem; fresh sidecar fields
    overwrite, absent rows insert (merge_all_to_metadata.py:142-151)."""
    incoming = tags.join(captions, "image_stem", "full_outer")
    e, i = existing.alias("e"), incoming.alias("i")
    joined = e.join(i, F.col("e.image_stem") == F.col("i.image_stem"), "full_outer")
    pick = lambda c: F.coalesce(F.col(f"i.{c}"), F.col(f"e.{c}"))  # noqa: E731
    return joined.select(
        F.coalesce(F.col("i.image_stem"), F.col("e.image_stem")).alias("image_stem"),
        pick("rating").alias("rating"),
        pick("tags").alias("tags"),
        pick("caption").alias("caption"),
    )


def run_ep2(
    existing: DataFrame,
    sidecar_tags: DataFrame,
    sidecar_captions: DataFrame,
    images: DataFrame,
    cfg: BucketConfig | None = None,
) -> DataFrame:
    """merge → clean → bucket. ``existing``: (image_stem, rating, tags,
    caption); ``images``: (image_stem, width, height)."""
    merged = upsert_sidecars(existing, sidecar_tags, sidecar_captions)
    cleaned = clean_tags_df(
        merged, F.coalesce(F.col("tags"), F.array()), out="tags_clean"
    ).withColumn("caption_clean", clean_caption_bounded(F.col("caption")))
    with_dims = cleaned.join(images, "image_stem", "inner")
    return assign_bucket_columns(with_dims, cfg=cfg or BucketConfig())


def run_ep3(
    scores: DataFrame,
    sidecar_tags: DataFrame,
    vocab_names: list[str] | Column,
    threshold: float = 0.8,
    limit_n: int = 300_000,
) -> DataFrame:
    """scores ⋈ sidecars → order tags → threshold + deterministic
    limit-N. ``scores``: (image_id, score); ``sidecar_tags``:
    (image_stem, rating, tags) with image_id derivable from stem."""
    tagged = sidecar_tags.withColumn(
        "image_id", F.split(F.col("image_stem"), "_").getItem(0)
    )
    joined = tagged.join(scores, "image_id", "inner")
    ordered = novelai_order_df(joined, F.col("tags"), vocab_names)
    final = ordered.filter(F.col("score") >= threshold)
    # deterministic limit-N: order by key, then cut
    return final.orderBy("image_stem").limit(limit_n)
