"""Aesthetic-score JSON source (SURVEY S5/J3/U2).

Reference shape (run.py:72-76): N JSON files, each a list of
single-entry dicts ``[{"/path/img_p0.jpg": 0.87}, ...]``; files are
concatenated and rebuilt into one dict — so later files win on key
collisions, and keys are normalized to the basename stem before the
first '_'.

Spark-first: one wholetext scan of every file, each file's entries
flattened in text order (list position, then key order within each
object) and numbered, and one hash aggregate that keeps, per
``image_id``, the score of the highest ``(file priority, entry number)``
— the reference's dict-overwrite order, pinned down deterministically
(SURVEY §7 "what's hard"). A file's priority is its last position in
``files``; the scan names each file by ``_metadata.file_path``, so the
driver qualifies every listed path the way Spark does (``file:`` URI,
percent-encoded) to tell the files apart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anime_data_pipeline_spark.operators.tags import sql_str
from anime_data_pipeline_spark.sources.images import path_stem


def _file_priorities(spark: SparkSession, files: list[str]) -> dict[str, tuple[int, str]]:
    """``_metadata.file_path`` of each distinct file in ``files`` →
    (its last position in ``files``, the path as listed there).

    Qualified as ``DataSource`` qualifies a read path (against the
    file system's URI and working directory), then URL-encoded through
    ``SparkPath`` as the file listing is: ``rel.json`` and
    ``/abs/dir/../rel.json`` name one file, and a space in a name
    becomes ``%20``."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    spark_path = jvm.org.apache.spark.paths.SparkPath
    conf = spark._jsc.hadoopConfiguration()
    out: dict[str, tuple[int, str]] = {}
    for idx, f in enumerate(files):
        p = hpath(f)
        fs = p.getFileSystem(conf)
        q = p.makeQualified(fs.getUri(), fs.getWorkingDirectory())
        out[spark_path.fromPathString(q.toString()).urlEncoded()] = (idx, f)
    return out


def _glob_escape(path: str) -> str:
    """``path`` as a Hadoop glob pattern that matches only itself."""
    return "".join("\\" + c if c in "\\[]{}*?" else c for c in path)


def read_aesthetic_scores(spark: SparkSession, files: list[str]) -> DataFrame:
    """(image_id, score), deduped last-write-wins by (file order, entry
    order within file). ``files`` order = the reference's CLI order; a
    file listed twice ranks at its last position."""
    prio = _file_priorities(spark, files)
    whens = " ".join(f"WHEN {sql_str(k)} THEN {i}" for k, (i, _) in prio.items())
    # Top-level JSON arrays of maps aren't directly readable with a Map
    # schema, so each file is one wholetext row, from_json-parsed. The
    # reader globs every path, so glob metacharacters are escaped to
    # read each file as itself.
    txt = spark.read.text([_glob_escape(f) for _, f in prio.values()], wholetext=True)
    entries = txt.selectExpr(
        f"CASE _metadata.file_path {whens} ELSE raise_error("
        "concat('aesthetic score file not in the list: ', _metadata.file_path)) END AS file_idx",
        "posexplode(flatten(transform(from_json(value, 'array<map<string,double>>'), "
        "m -> coalesce(map_entries(m), array())))) AS (pos, entry)",
    )
    keyed = entries.select(
        F.split(path_stem(F.col("entry.key")), "_").getItem(0).alias("image_id"),
        F.col("entry.value").alias("score"),
        # pos < 2^31 (an array index), so this orders by (file_idx, pos)
        (F.col("file_idx").cast("bigint") * (1 << 31) + F.col("pos")).alias("_order"),
    )
    # A bigint ordering keeps the aggregate hash-based; a struct would
    # make the buffer variable-width and the aggregate sort-based.
    return keyed.groupBy("image_id").agg(F.max_by("score", "_order").alias("score"))
