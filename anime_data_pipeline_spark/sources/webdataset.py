"""WebDataset-style tar-shard source/sink (LLM-pipeline extension
surface: the de-facto storage format for large multimodal training
corpora — samples grouped by key inside sequentially-readable .tar
shards).

Format (the public WebDataset convention): a shard is a plain tar
archive; members are named ``{sample_key}.{ext}``; all members sharing
a key form one sample (``000123.jpg`` + ``000123.txt`` +
``000123.json``). Shards stream sequentially — the I/O pattern object
stores and training loaders both want.

Spark-first mapping:

- **read**: ``binaryFile`` scan of ``*.tar`` (distributed listing, one
  row per shard) → ``mapInPandas`` with stdlib ``tarfile`` over the
  in-memory bytes → one row per sample with one column per requested
  extension. A shard is the parallelism unit — exactly how WebDataset
  is consumed by training loaders, so a 100 TB corpus with ~100 MB
  shards yields ~1 M well-sized input splits and no tiny-file problem.
- **write**: deterministic shard assignment (seeded hash of the sample
  key — rerun-stable, like operators/sampling) → ``applyInPandas`` per
  shard builds one tar (sorted members, zeroed mtimes → byte-stable
  output) → returns a manifest row per shard. Executors write shards
  directly (here to a local dir; at scale the same code targets a
  mounted object store), and the manifest is the small DataFrame that
  flows on — the sink never funnels sample bytes through the driver.

No external dependency: ``tarfile`` is stdlib.
"""

from __future__ import annotations

import io
import os
import tarfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from anime_data_pipeline_spark.operators.sampling import _seeded_hash


def write_webdataset(
    df: DataFrame,
    out_dir: str,
    key_col: str,
    text_members: dict[str, str] | None = None,
    binary_members: dict[str, str] | None = None,
    n_shards: int = 8,
    seed: int = 0,
) -> DataFrame:
    """Write samples into ``n_shards`` tar shards under ``out_dir``.

    ``text_members`` / ``binary_members`` map member EXTENSION →
    DataFrame column (str / bytes). Returns the shard manifest
    ``(shard, path, n_samples)`` — materializing it executes the write.

    Member bytes are laid down sorted by key with zeroed metadata, so
    shard content is a pure function of (data, seed, n_shards)."""
    text_members = text_members or {}
    binary_members = binary_members or {}
    cols = [key_col, *text_members.values(), *binary_members.values()]
    shard = (_seeded_hash(F.crc32(F.col(key_col).cast("string")), seed) % n_shards).alias(
        "_shard"
    )
    data = df.select(shard, *[F.col(c) for c in cols])

    manifest_schema = T.StructType(
        [
            T.StructField("shard", T.LongType()),
            T.StructField("path", T.StringType()),
            T.StructField("n_samples", T.LongType()),
        ]
    )
    os.makedirs(out_dir, exist_ok=True)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        sid = int(pdf["_shard"].iloc[0])
        path = os.path.join(out_dir, f"shard-{sid:05d}.tar")
        pdf = pdf.sort_values(key_col, kind="mergesort")
        with tarfile.open(path, "w") as tar:
            for _, row in pdf.iterrows():
                for ext, col in {**text_members, **binary_members}.items():
                    v = row[col]
                    if v is None:
                        continue
                    payload = v.encode("utf-8") if isinstance(v, str) else bytes(v)
                    info = tarfile.TarInfo(name=f"{row[key_col]}.{ext}")
                    info.size = len(payload)
                    info.mtime = 0
                    tar.addfile(info, io.BytesIO(payload))
        return pd.DataFrame(
            {"shard": [sid], "path": [path], "n_samples": [len(pdf)]}
        )

    return data.groupBy("_shard").applyInPandas(build, manifest_schema)


def read_webdataset(
    spark: SparkSession,
    path: str,
    text_exts: tuple[str, ...] = (),
    binary_exts: tuple[str, ...] = (),
) -> DataFrame:
    """Read tar shards back into one row per sample.

    Output schema: ``key string, shard_path string`` + one string
    column per ``text_exts`` entry + one binary column per
    ``binary_exts`` entry (missing members → null). Each shard's bytes
    arrive as ONE binaryFile row and are unpacked inside the executor —
    sequential I/O per shard, samples never individually listed."""
    fields = [
        T.StructField("key", T.StringType()),
        T.StructField("shard_path", T.StringType()),
        *[T.StructField(e, T.StringType()) for e in text_exts],
        *[T.StructField(e, T.BinaryType()) for e in binary_exts],
    ]
    out_schema = T.StructType(fields)
    wanted = set(text_exts) | set(binary_exts)

    def unpack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for spath, content in zip(pdf["path"], pdf["content"]):
                samples: dict[str, dict] = {}
                with tarfile.open(fileobj=io.BytesIO(bytes(content))) as tar:
                    for m in tar.getmembers():
                        if not m.isfile():
                            continue
                        stem, dot, ext = m.name.rpartition(".")
                        if not dot or ext not in wanted:
                            continue
                        raw = tar.extractfile(m).read()
                        samples.setdefault(stem, {})[ext] = raw
                for key in sorted(samples):
                    row: dict = {"key": key, "shard_path": spath}
                    for e in text_exts:
                        v = samples[key].get(e)
                        row[e] = v.decode("utf-8") if v is not None else None
                    for e in binary_exts:
                        row[e] = samples[key].get(e)
                    rows.append(row)
            yield pd.DataFrame(rows, columns=[f.name for f in fields])

    shards = (
        spark.read.format("binaryFile").option("pathGlobFilter", "*.tar").load(path)
    )
    return shards.select("path", "content").mapInPandas(unpack, out_schema)
