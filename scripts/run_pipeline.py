#!/usr/bin/env python
"""EP1 pipeline CLI — the Spark equivalent of `python dataruu/run.py`
(reference EP1, SURVEY §3): scan image dirs → decode metadata →
bucketing → sidecar join → aesthetic filter → NovelAI ordering → sink.

Usage:
  python scripts/run_pipeline.py --image_dirs /data/imgs --sidecar_dir /data/imgs \\
      --aesthetic_files a.json b.json --vocab_csv selected_tags.csv \\
      --out_path out_meta --out_format parquet
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from anime_data_pipeline_spark.config import parse_args
from anime_data_pipeline_spark.plans.pipeline import bucket_report, run_ep1
from anime_data_pipeline_spark.sources.aesthetic import read_aesthetic_scores
from anime_data_pipeline_spark.sources.images import derive_keys, scan_image_dirs
from anime_data_pipeline_spark.sources.json_compat import write_keyed_json
from anime_data_pipeline_spark.sources.sidecar import read_sidecar_tags
from anime_data_pipeline_spark.sources.sinks import write_table
from anime_data_pipeline_spark.sources.vocab import (
    CATEGORY_GENERAL,
    read_tag_vocab,
    vocab_names_by_category,
)
from anime_data_pipeline_spark.operators.multimodal import decode_image_meta
from anime_data_pipeline_spark.session import get_spark
from pyspark.sql import functions as F


def main() -> None:
    cfg = parse_args()
    if not cfg.image_dirs:
        raise SystemExit("--image_dirs required")
    spark = get_spark(app_name="ep1_pipeline", cpus=cfg.cpus)

    images = scan_image_dirs(spark, cfg.image_dirs)
    images = derive_keys(images).withColumnRenamed("path", "image_key")
    images = decode_image_meta(images)
    images = (
        images.withColumn("is_corrupt", F.col("image_meta").isNull())
        .withColumn("width", F.col("image_meta.width"))
        .withColumn("height", F.col("image_meta.height"))
        .drop("content")
    )

    sidecars = (
        read_sidecar_tags(spark, cfg.sidecar_dir)
        if cfg.sidecar_dir
        else spark.createDataFrame([], "image_stem string, rating string, tags array<string>")
    )
    scores = (
        read_aesthetic_scores(spark, cfg.aesthetic_files)
        if cfg.aesthetic_files
        else None
    )
    vocab_names = []
    if cfg.vocab_csv:
        vocab = read_tag_vocab(spark, cfg.vocab_csv)
        vocab_names = [r["name"] for r in vocab_names_by_category(vocab, CATEGORY_GENERAL).collect()]

    meta, audit = run_ep1(images, sidecars, scores, vocab_names, cfg.pipeline_config())

    if cfg.out_format == "keyed_json":
        write_keyed_json(meta, "image_key", cfg.out_path)
    else:
        write_table(meta, cfg.out_path)

    if audit is not None:
        for r in audit.collect():
            print(f"audit: {r.asDict()}")
    for r in bucket_report(meta).orderBy("bucket_reso").collect():
        d = r.asDict(recursive=True)
        print(
            f"bucket {d['bucket_reso']['w']}x{d['bucket_reso']['h']}: "
            f"{d['n_images']} images, mean |ar_error| {d['mean_abs_ar_error']:.6f}"
        )


if __name__ == "__main__":
    main()
