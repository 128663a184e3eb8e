"""Sidecar text/caption sources (SURVEY S3/S4, P2/P3).

The reference opens ``{stem}.txt`` / ``{stem}.caption`` per image, one
file at a time (run.py:52-63; merge_all_to_metadata.py:133-151;
prepare_aesthetic_tags_metadata.py:40-42 — a filesystem
index-nested-loop). Spark-first: read ALL sidecars in one distributed
text scan, derive the join key from ``input_file_name``, and parse the
first line with column expressions; downstream stages equi-join on the
key (J1/J6).

At scale: millions of tiny files is the classic small-files problem —
the scan still works (file listing is distributed), but the durable
fix is compacting sidecars into parquet once via this same reader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anime_data_pipeline_spark.sources.images import path_stem


def read_sidecar_files(spark: SparkSession, dir: str, ext: str) -> DataFrame:
    """All ``{dir}/*.{ext}`` files → (image_stem, raw_line): one row per
    file holding its FIRST line (the reference reads [0], run.py:57).

    ``wholetext`` gives one row per file (no cross-file line ambiguity,
    no shuffle); the first line is a projection.
    """
    # NB: wholetext must be the text() keyword — DataFrameReader.text()
    # overrides a prior .option("wholetext", ...) with its default.
    df = spark.read.text(f"{dir}/*.{ext}", wholetext=True).withColumn(
        "_file", F.input_file_name()
    )
    stem = path_stem(F.col("_file"))
    # image_id = stem before the first '_': run.py:51-52 resolves
    # '{image_dir}/{image_name}.txt' with the page suffix stripped, so a
    # sidecar named img123.txt serves img123_p0.jpg, img123_p1.jpg, ...
    # (for reference-layout files the stem has no suffix and id == stem).
    return df.select(
        stem.alias("image_stem"),
        F.split(stem, "_").getItem(0).alias("image_id"),
        F.split(F.col("value"), "\n").getItem(0).alias("raw_line"),
    )


def parse_rating_tags(df: DataFrame, raw_col: str = "raw_line") -> DataFrame:
    """P2/P3: 'rating, tag1, tag2, ...' → (rating, tags array).

    First comma splits rating from the rest (run.py:58); remaining tags
    are trimmed and empties dropped (run.py:60-61).
    """
    raw = F.col(raw_col)
    parts = F.split(raw, ",", 2)
    rest = F.when(F.size(parts) > 1, parts.getItem(1)).otherwise(F.lit(""))
    tags = F.filter(
        F.transform(F.split(rest, ","), lambda t: F.trim(t)), lambda t: t != ""
    )
    return df.withColumn("rating", F.trim(parts.getItem(0))).withColumn("tags", tags)


def read_sidecar_tags(spark: SparkSession, dir: str) -> DataFrame:
    """S3: tags sidecars → (image_stem, rating, tags)."""
    return parse_rating_tags(read_sidecar_files(spark, dir, "txt")).drop("raw_line")
