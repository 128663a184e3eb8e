"""Multimodal + ML-inference gate queries (SURVEY §2.9 M1/M5, S7).

All three are fully oracle-checked: the synthetic binary corpus derives
from `documents` (FIMG container, doc_id-derived dimensions, payload =
text[:64]), and every stub model output is a polyhash-family function
of that payload — so DuckDB recomputes the expected decode metadata
(q71), stub embeddings (q72), and stub tag inference incl. per-category
threshold + character-first confidence ordering (q73) straight from
`documents.text`, closing the loop over encode → mapInPandas decode /
inference → native postprocessing.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from anime_data_pipeline_spark.catalog import load_table
from anime_data_pipeline_spark.functions.hashing import P, hash_chain, polyhash_sql
from anime_data_pipeline_spark.operators.inference import (
    collate_by_bucket,
    tag_inference_stage,
)
from anime_data_pipeline_spark.operators.multimodal import (
    FEATURE_DIM,
    decode_image_meta,
    encode_fimg,
    extract_features,
    resize_plan,
)
from anime_data_pipeline_spark.registry import register

_LABELS = ["long hair", "blue eyes", "smile", "standing", "hatsune miku"]


def _spread(docs: DataFrame) -> DataFrame:
    """Fan the narrow id-projection out to full parallelism BEFORE the
    mapInPandas corpus-generation + decode chain. A small SF's
    documents.parquet is ONE file → one partition, and mapInPandas
    inherits it — which single-threads the heaviest (encode + decode)
    stage of every gate while 31 cores idle; at cluster scale the same
    shape appears whenever upstream file count < executor count. The
    exchange moves only the slim pre-blob rows, never image bytes —
    except for q192's driver-built foreign corpus, whose ≤256 small
    blobs already exist before the spread (the cap bounds that
    exchange).
    (Found in round 9: q151's bench tail grew with the SOF3 slice and
    the whole decode matrix turned out to be running on one thread.)

    This IS ``plans.curation.ensure_map_parallelism`` keyed on
    ``doc_id``: it repartitions only when the planned file scans give
    fewer splits than cores (``scan_input_splits``, which sees through
    shuffle-final plans), and falls back to the RDD partition count for
    q192's driver-built local relation. A production layout with
    >= parallelism splits passes through untouched, with no exchange
    of the (doc_id, text) projection in front of the decode chain."""
    from anime_data_pipeline_spark.plans.curation import ensure_map_parallelism

    return ensure_map_parallelism(docs, "doc_id")


def _binary_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, content: binary): FIMG blobs with
    deterministic dims and payload = text[:64]; every 29th row corrupt
    (P6 path). Arrow-batched mapInPandas (not a per-row UDF) — the
    synthesis is in the benched path for q71-q73."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                i = int(doc_id)
                if i % 29 == 28:
                    blobs.append(b"corrupt" + bytes([i % 256]))
                    continue
                w = 256 + (i * 97) % 1792
                h = 256 + (i * 131) % 1280
                mode = ["RGB", "RGBA", "L", "P"][i % 4]
                blobs.append(encode_fimg(w, h, mode, (text or "")[:64].encode()))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": blobs})

    return _spread(docs).mapInPandas(gen, schema=schema)


# The oracle recomputes the expected decode output directly from
# doc_id — an end-to-end check of the synthesize → encode → mapInPandas
# decode → resize-plan roundtrip (any header/byte-order/null-handling
# bug in the binary path breaks the match).
_Q71_ORACLE = """
    WITH meta AS (
      SELECT doc_id,
             CAST(256 + (doc_id * 97) % 1792 AS INTEGER) AS width,
             CAST(256 + (doc_id * 131) % 1280 AS INTEGER) AS height,
             CASE CAST(doc_id % 4 AS INTEGER)
               WHEN 0 THEN 'RGB' WHEN 1 THEN 'RGBA'
               WHEN 2 THEN 'L' ELSE 'P' END AS mode
      FROM documents WHERE doc_id % 29 <> 28
    )
    SELECT doc_id, width, height, mode,
           CAST(floor(width * scale + 0.5) AS INTEGER) AS resized_w,
           CAST(floor(height * scale + 0.5) AS INTEGER) AS resized_h
    FROM (
      SELECT *,
             CASE WHEN CAST(1024 AS DOUBLE) / 1024 > CAST(width AS DOUBLE) / height
                  THEN CAST(1024 AS DOUBLE) / height
                  ELSE CAST(1024 AS DOUBLE) / width END AS scale
      FROM meta
    )
"""


@register("q71_multimodal_decode", oracle=_Q71_ORACLE)
def q71_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: binary decode → typed metadata; corrupt rows surface as null
    meta and are dropped with a countable audit (P6)."""
    decoded = decode_image_meta(_binary_corpus(spark, sf_dir))
    ok = decoded.filter(F.col("image_meta").isNotNull())
    resized = resize_plan(ok, F.lit(1024), F.lit(1024))
    return resized.select(
        "doc_id",
        F.col("image_meta.width").alias("width"),
        F.col("image_meta.height").alias("height"),
        F.col("image_meta.mode").alias("mode"),
        "resized_w",
        "resized_h",
    )


# The stub embedding is ((r_j*H + s_j) % P) / P * 2 - 1 over the payload
# hash H with non-affine hash_chain constants, cast to
# float32 (operators/multimodal.py); the oracle replays that per
# component from text[:64] with the identical left-fold summation order
# for the norm (list_reduce mirrors F.aggregate).
def _feat_list_sql() -> str:
    """The stub feature vector as a literal 16-expression list over a
    precomputed payload hash column ``hh`` — mirrors _embed_batch."""
    rs, ss = hash_chain(1, FEATURE_DIM), hash_chain(2, FEATURE_DIM)
    items = ", ".join(
        f"CAST(CAST(({r} * hh + {sft}) % {P} AS DOUBLE) / {P} * 2 - 1 AS FLOAT)"
        for r, sft in zip(rs, ss)
    )
    return f"[{items}]"


_Q72_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, {polyhash_sql("substr(text, 1, 64)")} AS hh
      FROM documents WHERE doc_id % 29 <> 28
    ),
    feats AS (
      SELECT doc_id, {_feat_list_sql()} AS f
      FROM base
    )
    SELECT doc_id,
           sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(f, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
                (a, b) -> a + b)) AS feat_norm,
           CAST(f[1] AS DOUBLE) AS feat_0
    FROM feats
"""


@register("q72_multimodal_features", oracle=_Q72_ORACLE)
def q72_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over decodable binary content (Arrow-batched);
    output is the embedding norm + first component per doc."""
    corpus = _binary_corpus(spark, sf_dir)
    ok = decode_image_meta(corpus).filter(F.col("image_meta").isNotNull())
    feats = extract_features(ok.drop("image_meta"))
    v = F.transform(F.col("features"), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    return feats.select(
        "doc_id",
        norm.alias("feat_norm"),
        F.element_at(v, 1).alias("feat_0"),
    )


# The stub tagger's prob for label i is polyhash(payload '#' i) / P; the
# oracle replays the per-category thresholds (general 0.35 / character
# 0.8, tagger.py:43-44) and the synthesize ordering (character block
# first, each block confidence-desc, name-asc tiebreak — run.py:100-106)
# via one ordered string_agg.
_Q73_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, substr(text, 1, 64) AS pay
      FROM documents WHERE doc_id % 29 <> 28
    ),
    lab(i, name, is_char) AS (
      VALUES (0, 'long hair', false), (1, 'blue eyes', false),
             (2, 'smile', false), (3, 'standing', false),
             (4, 'hatsune miku', true)
    ),
    scored AS (
      SELECT b.doc_id, l.name, l.is_char,
             CAST({polyhash_sql("b.pay || '#' || CAST(l.i AS VARCHAR)")} AS DOUBLE)
               / {P} AS p
      FROM base b CROSS JOIN lab l
    ),
    kept AS (
      SELECT * FROM scored
      WHERE (is_char AND p > 0.8) OR ((NOT is_char) AND p > 0.35)
    )
    SELECT b.doc_id,
           coalesce(string_agg(k.name, ', '
             ORDER BY k.is_char DESC, k.p DESC, k.name ASC), '') AS synth_tags
    FROM base b LEFT JOIN kept k ON k.doc_id = b.doc_id
    GROUP BY b.doc_id
"""


@register("q73_tag_inference", oracle=_Q73_ORACLE)
def q73_tag_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1+M5: bucket-collated batched stub inference + native
    threshold/sort/escape postprocessing."""
    corpus = _binary_corpus(spark, sf_dir)
    decoded = decode_image_meta(corpus).filter(F.col("image_meta").isNotNull())
    bucketed = decoded.withColumn(
        "bucket_reso",
        F.struct(
            (F.col("image_meta.width") - F.col("image_meta.width") % 64).alias("w"),
            (F.col("image_meta.height") - F.col("image_meta.height") % 64).alias("h"),
        ),
    )
    collated = collate_by_bucket(bucketed, ["bucket_reso"])
    staged = tag_inference_stage(
        collated,
        _LABELS,
        general_names=_LABELS[:4],
        character_names=_LABELS[4:],
        general_threshold=0.35,
        character_threshold=0.8,
    )
    return staged.select("doc_id", "synth_tags")


# ---------------------------------------------------------------------------
# q80 — video frame sampling: FVID blobs (1 + doc_id % 60 frames,
# payload = text[:64], every 31st corrupt) → every-4th-frame explode
# with deterministic frame fingerprints. The oracle recomputes the
# sampled index lattice and the (polyhash(payload)*31 + idx) % P
# fingerprints straight from documents.text.
# ---------------------------------------------------------------------------
_FRAME_K = 4


def _video_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.operators.multimodal import encode_fvid

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                i = int(doc_id)
                if i % 31 == 30:
                    blobs.append(b"notavid" + bytes([i % 256]))
                    continue
                blobs.append(
                    encode_fvid(1 + i % 60, 24, text[:64].encode("utf-8"))
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": blobs})

    return _spread(docs).mapInPandas(gen, schema=schema)


@register(
    "q80_video_frame_sample",
    oracle=f"""
    WITH vids AS (SELECT doc_id, 1 + doc_id % 60 AS n_frames,
                         substr(text, 1, 64) AS payload
                  FROM documents WHERE doc_id % 31 <> 30),
    frames AS (SELECT doc_id,
                      CAST(unnest(range(0, n_frames, {_FRAME_K})) AS INTEGER) AS frame_idx,
                      payload
               FROM vids)
    SELECT doc_id, frame_idx,
           ({polyhash_sql("payload")} * 31 + frame_idx) % {P} AS frame_hash
    FROM frames
    """,
)
def q80_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.operators.multimodal import sample_video_frames

    vids = _video_corpus(spark, sf_dir)
    return sample_video_frames(vids, "content", every_k=_FRAME_K)


# ---------------------------------------------------------------------------
# q87 — audio decode + whisper-style chunk plan: synthetic FAUD blobs
# (doc_id-derived rate/samples/channels, every 29th corrupt, every
# 31st empty) → mapInPandas binary decode → fixed-duration chunk
# explode. The oracle recomputes chunks straight from doc_id, so any
# header/endianness/empty-clip bug in the binary path breaks the match.
# ---------------------------------------------------------------------------
_CHUNK_S = 30

_Q87_ORACLE = f"""
    WITH meta AS (
      SELECT doc_id,
             CAST([8000, 16000, 22050, 44100][CAST(doc_id % 4 AS INTEGER) + 1]
                  AS INTEGER) AS sample_rate,
             CAST(doc_id % 2 + 1 AS INTEGER) AS channels
      FROM documents WHERE doc_id % 29 <> 28
    ),
    sized AS (
      SELECT doc_id, sample_rate, channels,
             CASE WHEN doc_id % 31 = 30 THEN 0
                  ELSE sample_rate * (5 + (doc_id * 13) % 120) END AS n_samples
      FROM meta
    ),
    chunked AS (
      SELECT s.doc_id, s.sample_rate, s.n_samples, s.channels,
             unnest(range(0, greatest(
               CAST(ceil(CAST(n_samples AS DOUBLE)
                         / (sample_rate * {_CHUNK_S})) AS BIGINT), 1))) AS chunk_no
      FROM sized s
    )
    SELECT doc_id, sample_rate, n_samples, channels,
           CAST(chunk_no AS INTEGER) AS chunk_no,
           chunk_no * sample_rate * {_CHUNK_S} AS start_sample,
           least(n_samples, (chunk_no + 1) * sample_rate * {_CHUNK_S}) AS end_sample
    FROM chunked
"""


@register("q87_audio_chunk_plan", oracle=_Q87_ORACLE)
def q87_audio_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.operators.multimodal import (
        audio_chunk_plan,
        decode_audio_meta,
        encode_faud,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                if i % 29 == 28:
                    blobs.append(b"RIFF-corrupt" + bytes([i % 256]))
                    continue
                rate = [8000, 16000, 22050, 44100][i % 4]
                n = 0 if i % 31 == 30 else rate * (5 + (i * 13) % 120)
                blobs.append(encode_faud(rate, n, 1 + i % 2, b"pcm"))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": blobs})

    decoded = decode_audio_meta(_spread(docs).mapInPandas(gen, schema=schema))
    ok = decoded.filter(F.col("audio_meta").isNotNull())
    chunked = audio_chunk_plan(ok, chunk_s=float(_CHUNK_S))
    return chunked.select(
        "doc_id",
        F.col("audio_meta.sample_rate").alias("sample_rate"),
        F.col("audio_meta.n_samples").alias("n_samples"),
        F.col("audio_meta.channels").alias("channels"),
        "chunk_no",
        "start_sample",
        "end_sample",
    )


# ---------------------------------------------------------------------------
# q106 — image dedup: decode → feature-embed → EXACT collapse of
# identical embeddings → SRP-blocked near-dup among the distinct
# representatives only. The order matters at scale: shared payloads
# form large identical-feature groups, and emitting all pairs would be
# quadratic in group size (the v1 of this query produced 678k pairs at
# sf0.1); hash-collapsing first bounds the ANN stage to distinct
# representatives — the same reason production pipelines run exact
# dedup before embedding dedup. Scaled copies (salted at doc_id % 13,
# ×2 in double space) survive the exact collapse and are caught by the
# near-dup stage as merged_into assignments.
# ---------------------------------------------------------------------------
_Q106_THRESH, _Q106_PPT, _Q106_TABLES = 0.99, 16, 4

_Q106_CORPUS_SQL = f"""
    SELECT vec_id,
           CASE WHEN scale2 THEN list_transform(fv, x -> x * 2.0) ELSE fv END AS v
    FROM (
      SELECT vec_id, scale2, CAST({_feat_list_sql()} AS DOUBLE[]) AS fv
      FROM (
        SELECT doc_id AS vec_id, {polyhash_sql("substr(text, 1, 64)")} AS hh,
               false AS scale2
        FROM documents WHERE doc_id % 29 <> 28
        UNION ALL
        SELECT doc_id + 600000 AS vec_id, {polyhash_sql("substr(text, 1, 64)")} AS hh,
               true AS scale2
        FROM documents WHERE doc_id % 29 <> 28 AND doc_id % 13 = 0
      )
    )
"""


def _q106_oracle() -> str:
    from anime_data_pipeline_spark.operators.similarity import (
        cosine_sql,
        srp_bucket_sql,
    )

    keyed = "\n    UNION ALL\n".join(
        f"""    SELECT keeper AS vec_id, v, {t} AS t,
           {srp_bucket_sql("v", _Q106_PPT, first_plane=t * _Q106_PPT)} AS b
    FROM grp"""
        for t in range(_Q106_TABLES)
    )
    return f"""
    WITH corpus AS ({_Q106_CORPUS_SQL}),
    grp AS (SELECT min(vec_id) AS keeper, count(*) AS n_copies, v
            FROM corpus GROUP BY v),
    keyed AS (
{keyed}
    ),
    pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              FROM keyed a JOIN keyed b
                ON a.t = b.t AND a.b = b.b AND a.vec_id < b.vec_id),
    scored AS (SELECT id_a, id_b, {cosine_sql("ga.v", "gb.v")} AS cosine
               FROM pairs
               JOIN grp ga ON ga.keeper = pairs.id_a
               JOIN grp gb ON gb.keeper = pairs.id_b),
    near AS (SELECT id_b AS keeper, min(id_a) AS merged_into
             FROM scored WHERE cosine >= {_Q106_THRESH} GROUP BY id_b)
    SELECT g.keeper AS vec_id, CAST(g.n_copies AS BIGINT) AS n_copies,
           n.merged_into
    FROM grp g LEFT JOIN near n USING (keeper)
    """


@register("q106_image_neardup", oracle=_q106_oracle())
def q106_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.operators.similarity import (
        embedding_neardup_pairs,
        to_double_array,
    )

    ok = (
        decode_image_meta(_binary_corpus(spark, sf_dir))
        .filter(F.col("image_meta").isNotNull())
        .select("doc_id", "content")
    )
    feats = extract_features(ok).select(
        F.col("doc_id").alias("vec_id"),
        to_double_array(F.col("features")).alias("v"),
    )
    scaled = feats.filter(F.col("vec_id") % 13 == 0).select(
        (F.col("vec_id") + 600000).alias("vec_id"),
        F.transform(F.col("v"), lambda x: x * F.lit(2.0)).alias("v"),
    )
    corpus = feats.unionByName(scaled)
    groups = corpus.groupBy("v").agg(
        F.min("vec_id").alias("keeper"), F.count(F.lit(1)).alias("n_copies")
    )
    reps = groups.select(F.col("keeper").alias("vec_id"), "v")
    pairs = embedding_neardup_pairs(
        reps,
        "vec_id",
        "v",
        threshold=_Q106_THRESH,
        planes_per_table=_Q106_PPT,
        n_tables=_Q106_TABLES,
    )
    near = pairs.groupBy(F.col("id_b").alias("keeper")).agg(
        F.min("id_a").alias("merged_into")
    )
    return groups.join(near, "keeper", "left").select(
        F.col("keeper").alias("vec_id"),
        F.col("n_copies").cast("long").alias("n_copies"),
        "merged_into",
    )


# ---------------------------------------------------------------------------
# q115 — REAL PNG decode e2e over the FULL spec matrix (SURVEY S7; the
# 16-bit / Adam7 / sub-8-bit tails closed round 6): a synthetic corpus
# of genuine spec-valid PNG files (stdlib encoder) cycling doc_id % 6
# through 8-bit RGB, 16-bit gray, Adam7-interlaced RGBA, 16-bit RGB,
# 4-bit-palette interlaced, and 2-bit grayscale; every 28th row
# corrupt-after-magic. Decoded twice by the DEFAULT (zlib, no
# injection) codec: header meta → aspect-ratio bucket assignment on
# the DECODED dimensions (reference bucket_manager.py:180-189 flow),
# and FULL pixels via decode_image_pixel_stats — every image is a
# doc_id-derived uniform fill, and pixel_ok asserts the inflated
# min/max/mean/channels hit the closed form, so an unfilter,
# deinterlace, bit-unpack, byte-order, or palette bug that leaves the
# header intact still breaks the hash match. The oracle recomputes
# dims/mode/buckets straight from doc_id and pins pixel_ok TRUE.
# ---------------------------------------------------------------------------
_Q115_IMGS = """
  SELECT doc_id AS image_key,
         CAST(16 + (doc_id * 73) % 225 AS INTEGER) AS width,
         CAST(16 + (doc_id * 131) % 209 AS INTEGER) AS height
  FROM documents WHERE doc_id % 7 = 0 AND doc_id % 28 <> 0
"""


def _q115_oracle() -> str:
    from anime_data_pipeline_spark.operators.bucketing import (
        BucketConfig,
        bucket_oracle_sql,
    )

    return f"""
    WITH assigned AS ({bucket_oracle_sql(_Q115_IMGS, BucketConfig())})
    SELECT image_key AS doc_id,
           CAST(16 + (image_key * 73) % 225 AS INTEGER) AS width,
           CAST(16 + (image_key * 131) % 209 AS INTEGER) AS height,
           CASE CAST(image_key % 6 AS INTEGER)
             WHEN 0 THEN 'RGB' WHEN 1 THEN 'L' WHEN 2 THEN 'RGBA'
             WHEN 3 THEN 'RGB' WHEN 4 THEN 'P' ELSE 'L' END AS mode,
           bucket_w, bucket_h,
           TRUE AS pixel_ok
    FROM assigned
    """


# 16-entry palette for the 4-bit variant — closed form per index so
# both engines can recompute the expanded-RGB stats from doc_id.
def _q115_palette():
    import numpy as np

    j = np.arange(16)
    return np.stack([j * 17, 255 - j * 17, (j * 37) % 256], axis=1).astype(np.uint8)


def _png_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents (doc_id % 7 = 0) → (doc_id, content: binary) of real
    PNG bytes spanning the full decode matrix, each a uniform
    doc_id-derived fill (f = 40 + id % 160; 16-bit fills at f*257):

    - id%6=0: RGB 8-bit            - id%6=3: RGB 16-bit
    - id%6=1: gray 16-bit          - id%6=4: 4-bit palette, Adam7
    - id%6=2: RGBA 8-bit, Adam7    - id%6=5: 2-bit grayscale

    Every 28th row is corrupt-after-magic — the P6 null path through
    the REAL codec."""
    import numpy as np

    from anime_data_pipeline_spark.operators.png_codec import PNG_MAGIC, encode_png

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 7 == 0)
        .select("doc_id")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    plte = _q115_palette()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                if i % 28 == 0:
                    blobs.append(PNG_MAGIC + b"truncated-after-magic")
                    continue
                w = 16 + (i * 73) % 225
                h = 16 + (i * 131) % 209
                f = 40 + i % 160
                v = i % 6
                if v == 0:
                    blob = encode_png(np.full((h, w, 3), f, dtype=np.uint8))
                elif v == 1:
                    blob = encode_png(np.full((h, w), f * 257, dtype=np.uint16))
                elif v == 2:
                    blob = encode_png(
                        np.full((h, w, 4), f, dtype=np.uint8), interlace=1
                    )
                elif v == 3:
                    blob = encode_png(np.full((h, w, 3), f * 257, dtype=np.uint16))
                elif v == 4:
                    blob = encode_png(
                        np.full((h, w), i % 16, dtype=np.uint8),
                        palette=plte,
                        bit_depth=4,
                        interlace=1,
                    )
                else:
                    blob = encode_png(
                        np.full((h, w), i % 4, dtype=np.uint8), bit_depth=2
                    )
                blobs.append(blob)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": blobs})

    return _spread(docs).mapInPandas(gen, schema=schema)


@register("q115_png_decode_bucket", oracle=_q115_oracle())
def q115_png_decode_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.operators.bucketing import (
        BucketConfig,
        assign_bucket_columns,
    )
    from anime_data_pipeline_spark.operators.multimodal import (
        decode_image_pixel_stats,
    )

    decoded = decode_image_pixel_stats(decode_image_meta(_png_corpus(spark, sf_dir)))
    # pixel_ok: the FULL inflate must reproduce the doc_id-derived
    # uniform fill through whichever unfilter/deinterlace/bit-unpack
    # path the variant exercises. Palette rows expand to RGB triples
    # (j*17, 255-j*17, (j*37)%256); 2-bit gray rescales levels by 85;
    # 16-bit keeps true uint16 samples (f*257).
    i = F.col("doc_id")
    f = (F.lit(40) + (i % 160)).cast("int")
    v = (i % 6).cast("int")
    st = F.col("pixel_stats")
    j = (i % 16).cast("int")
    pr, pg, pb = j * 17, 255 - j * 17, (j * 37) % 256
    pal_min = F.least(pr, pg, pb)
    pal_max = F.greatest(pr, pg, pb)
    pal_mean = (pr + pg + pb).cast("double") / F.lit(3.0)
    uniform = st["px_min"] == st["px_max"]
    expected = (
        F.when(v == 0, uniform & (st["px_min"] == f) & (st["channels"] == 3))
        .when(v == 1, uniform & (st["px_min"] == f * 257) & (st["channels"] == 1))
        .when(v == 2, uniform & (st["px_min"] == f) & (st["channels"] == 4))
        .when(v == 3, uniform & (st["px_min"] == f * 257) & (st["channels"] == 3))
        .when(
            v == 4,
            (st["px_min"] == pal_min)
            & (st["px_max"] == pal_max)
            & (st["px_mean"] == pal_mean)
            & (st["channels"] == 3),
        )
        .otherwise(
            uniform & (st["px_min"] == (i % 4) * 85) & (st["channels"] == 1)
        )
    )
    decoded = decoded.withColumn(
        "pixel_ok",
        st.isNotNull()
        & (st["width"] == F.col("image_meta.width"))
        & (st["height"] == F.col("image_meta.height"))
        & expected,
    )
    ok = decoded.filter(F.col("image_meta").isNotNull()).select(
        F.col("doc_id").alias("image_key"),
        F.col("image_meta.width").alias("width"),
        F.col("image_meta.height").alias("height"),
        F.col("image_meta.mode").alias("mode"),
        "pixel_ok",
    )
    assigned = assign_bucket_columns(ok, cfg=BucketConfig())
    return assigned.select(
        F.col("image_key").alias("doc_id"),
        "width",
        "height",
        "mode",
        "bucket_w",
        "bucket_h",
        "pixel_ok",
    )


# ---------------------------------------------------------------------------
# q151 — REAL GIF + JPEG decode e2e (SURVEY S7 closed for GIF/JPEG,
# round 5; progressive JPEG + full-pixel gate added round 6;
# ARITHMETIC-coded SOF9 slice added round 8): a
# synthetic corpus of genuine spec-valid GIF89a files (stdlib LZW
# encoder) and JFIF JPEGs — baseline, progressive SOF2 with
# successive approximation (stdlib Huffman encoders), AND QM
# arithmetic-coded SOF9 (jpeg_arith, libjpeg-cross-validated) — dims/
# format/mode derived from doc_id, every 30th row corrupt-after-magic.
# Decoded twice: header meta via decode_image_meta's DEFAULT decoder
# (magic-byte dispatch, no injection) feeding aspect-ratio bucket
# assignment on the DECODED dimensions (reference
# bucket_manager.py:180-189 flow), and FULL pixels via
# decode_image_pixel_stats — pixel_ok asserts every decoded image is
# uniform at the doc_id-derived fill/palette color, so a Huffman,
# IDCT, EOB-run, refinement-bit, or palette bug that leaves headers
# intact still breaks the hash match. The oracle recomputes
# dims/mode/buckets straight from doc_id and pins pixel_ok TRUE.
# ---------------------------------------------------------------------------
_Q151_IMGS = """
  SELECT doc_id AS image_key,
         CAST(16 + (doc_id * 37) % 97 AS INTEGER) AS width,
         CAST(16 + (doc_id * 61) % 89 AS INTEGER) AS height
  FROM documents WHERE doc_id % 5 = 0 AND doc_id % 30 <> 0
"""


def _q151_oracle() -> str:
    from anime_data_pipeline_spark.operators.bucketing import (
        BucketConfig,
        bucket_oracle_sql,
    )

    return f"""
    WITH assigned AS ({bucket_oracle_sql(_Q151_IMGS, BucketConfig())})
    SELECT image_key AS doc_id,
           CAST(16 + (image_key * 37) % 97 AS INTEGER) AS width,
           CAST(16 + (image_key * 61) % 89 AS INTEGER) AS height,
           CASE CAST(image_key % 4 AS INTEGER)
             WHEN 0 THEN 'P' WHEN 2 THEN 'P'
             WHEN 1 THEN 'L' ELSE 'RGB' END AS mode,
           bucket_w, bucket_h,
           TRUE AS pixel_ok
    FROM assigned
    """


def _gif_jpeg_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents (doc_id % 5 = 0) → (doc_id, content: binary) of real
    GIF (even doc_id: constant-index frame, 4-entry palette) and real
    JPEG (odd doc_id: constant-fill gray or RGB; doc_id % 16 in (1, 3)
    → PROGRESSIVE SOF2 with successive approximation, doc_id % 16 == 5
    → PROGRESSIVE-ARITHMETIC SOF10 (all four F.2.4.3 scan shapes),
    doc_id % 16 == 7 → sequential-ARITHMETIC SOF9 with restart
    intervals and 4:2:0 (the QM entropy path, jpeg_arith, round 8),
    doc_id % 16 in (9, 15) → LOSSLESS SOF3 gradients cycling all
    seven Annex-H predictors, RGB slice with mid-row restarts
    (jpeg_lossless, round 9 — the last pixel seam closed),
    doc_id % 16 in (11, 13) → baseline SOF0) bytes; dims from
    doc_id int math. Every 30th row is corrupt-after-magic,
    alternating GIF/JPEG bodies by doc_id//30 — the P6 null path
    through the REAL codecs (GIF structural check and JPEG marker
    walk each reject their variant)."""
    import numpy as np

    from anime_data_pipeline_spark.operators.gif_codec import encode_gif
    from anime_data_pipeline_spark.operators.jpeg_arith import (
        encode_jpeg_arith,
        encode_jpeg_arith_progressive,
    )
    from anime_data_pipeline_spark.operators.jpeg_codec import (
        encode_jpeg,
        encode_jpeg_progressive,
    )
    from anime_data_pipeline_spark.operators.jpeg_lossless import (
        encode_jpeg_lossless,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select("doc_id")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    palette = np.array(
        [[0, 0, 0], [255, 255, 255], [255, 0, 0], [0, 0, 255]], dtype=np.uint8
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                if i % 30 == 0:
                    # valid magics, structurally-broken bodies; these
                    # rows are all even (i % 30 == 0 forces it), so
                    # alternate the codec by i//30 — an i%2 test here
                    # left the JPEG marker-walk rejection path with
                    # zero corpus coverage (r8 review finding)
                    blobs.append(
                        b"GIF89a\xff\xff\xff\xff\xff\xff\xff"
                        if (i // 30) % 2 == 0
                        else b"\xff\xd8\xff\xfe\x00\x04zz"
                    )
                    continue
                w = 16 + (i * 37) % 97
                h = 16 + (i * 61) % 89
                if i % 2 == 0:
                    idx = np.full((h, w), i % 4, dtype=np.uint8)
                    blobs.append(encode_gif(idx, palette))
                else:
                    fill = 40 + i % 160
                    shape = (h, w) if i % 4 == 1 else (h, w, 3)
                    img = np.full(shape, fill, dtype=np.uint8)
                    # odd multiples of 5 cycle through all eight odd
                    # i%16 residues, so each slice keeps coverage —
                    # an i%8 split had made the baseline branch DEAD
                    # (odd i%8 is always 1/3/5/7; r8 review finding)
                    if i % 16 in (1, 3):  # progressive, 4:2:0 on 3
                        blobs.append(
                            encode_jpeg_progressive(
                                img, 85, subsample=(i % 4 == 3), successive=True
                            )
                        )
                    elif i % 16 == 5:  # PROGRESSIVE arithmetic (SOF10)
                        blobs.append(
                            encode_jpeg_arith_progressive(
                                img, 85, successive=True
                            )
                        )
                    elif i % 16 == 7:  # sequential arithmetic (SOF9)
                        blobs.append(
                            encode_jpeg_arith(
                                img, 85, subsample=True,
                                restart_interval=4,
                            )
                        )
                    elif i % 16 in (9, 15):  # LOSSLESS SOF3 (round 9)
                        # gradient rows, not uniform fill — every
                        # sample carries a nonzero diff so the whole
                        # predictor chain is live; predictor cycles
                        # through all seven selections across the
                        # corpus, and the RGB slice adds mid-row
                        # restart markers
                        x = np.arange(w)
                        row = (60 + (x * 120) // w).astype(np.uint8)
                        grad = np.broadcast_to(
                            row[None, :], (h, w)
                        ).copy() if i % 4 == 1 else np.broadcast_to(
                            row[None, :, None], (h, w, 3)
                        ).copy()
                        blobs.append(
                            encode_jpeg_lossless(
                                grad,
                                predictor=1 + (i // 16) % 7,
                                restart_interval=7 if i % 16 == 15 else 0,
                            )
                        )
                    else:  # i % 16 in (11, 13): baseline SOF0
                        blobs.append(encode_jpeg(img, 85))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": blobs})

    return _spread(docs).mapInPandas(gen, schema=schema)


@register("q151_gif_jpeg_decode_bucket", oracle=_q151_oracle())
def q151_gif_jpeg_decode_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.operators.bucketing import (
        BucketConfig,
        assign_bucket_columns,
    )
    from anime_data_pipeline_spark.operators.multimodal import (
        decode_image_pixel_stats,
    )

    corpus = _gif_jpeg_corpus(spark, sf_dir)
    decoded = decode_image_pixel_stats(decode_image_meta(corpus))
    # pixel_ok: FULL decode must produce exactly the doc_id-derived
    # uniform image. GIF rows (even ids): palette[id % 4] → known
    # per-image (min, max, mean): black (0,0,0) / white (255,255,255)
    # / red|blue (0,255, mean 85). JPEG rows (odd ids): constant fill
    # round-trips to a uniform value within ±2 of fill (DC-only
    # quantization error ≤ q00/16 at quality 85).
    i = F.col("doc_id")
    fill = (F.lit(40) + (i % 160)).cast("int")
    st = F.col("pixel_stats")
    gif_expect = {
        0: (0, 0, 0.0),
        1: (255, 255, 255.0),
        2: (0, 255, 85.0),
        3: (0, 255, 85.0),
    }
    gif_ok = F.lit(False)
    for p, (mn, mx, mean) in gif_expect.items():
        gif_ok = F.when(
            (i % 4) == p,
            (st["px_min"] == mn) & (st["px_max"] == mx) & (st["px_mean"] == mean),
        ).otherwise(gif_ok)
    chan_ok = st["channels"] == F.when(i % 4 == 1, 1).otherwise(3)
    # lossless rows (i%16 in 9/15) are gradients decoded EXACTLY:
    # min 60, max = last gradient step — equality, no lossy tolerance
    sw = st["width"].cast("long")
    grad_hi = (60 + ((sw - 1) * 120 / sw).cast("int")).cast("int")
    jpeg_ok = F.when(
        (i % 16).isin(9, 15),
        (st["px_min"] == 60) & (st["px_max"] == grad_hi) & chan_ok,
    ).otherwise(
        (st["px_min"] == st["px_max"])
        & (F.abs(st["px_min"] - fill) <= 2)
        & chan_ok
    )
    decoded = decoded.withColumn(
        "pixel_ok",
        st.isNotNull()
        & (st["width"] == F.col("image_meta.width"))
        & (st["height"] == F.col("image_meta.height"))
        & F.when(i % 2 == 0, gif_ok).otherwise(jpeg_ok),
    )
    ok = decoded.filter(F.col("image_meta").isNotNull()).select(
        F.col("doc_id").alias("image_key"),
        F.col("image_meta.width").alias("width"),
        F.col("image_meta.height").alias("height"),
        F.col("image_meta.mode").alias("mode"),
        "pixel_ok",
    )
    assigned = assign_bucket_columns(ok, cfg=BucketConfig())
    return assigned.select(
        F.col("image_key").alias("doc_id"),
        "width",
        "height",
        "mode",
        "bucket_w",
        "bucket_h",
        "pixel_ok",
    )


# ---------------------------------------------------------------------------
# q177 — REAL raster decode e2e (SURVEY S7 extended to Windows bitmaps
# AND baseline TIFF, round 6): a synthetic corpus of genuine spec-valid
# files (stdlib encoders, operators/bmp_codec.py + tiff_codec.py)
# cycling doc_id % 10 through 24-bit BMP, 32-bit BMP, 8-bit-palette
# BMP, RLE4 BMP, LZW+predictor TIFF (RGB), big-endian PackBits TIFF
# (RGBA), uncompressed gray TIFF, LZW palette TIFF, 16-bit big-endian
# gray TIFF (true uint16 samples), and TILE-organized LZW RGB TIFF;
# every 27th row corrupt-after-magic. Decoded twice by the DEFAULT
# (no injection) codec: header meta → aspect-ratio bucket assignment
# (reference bucket_manager.py:180-189 flow), and FULL pixels via
# decode_image_pixel_stats — uniform doc_id-derived fills give
# closed-form min/max/mean, so a stride-padding, BGR-order, bottom-up,
# byte-order, LZW early-change, predictor, RLE-escape, tile-placement,
# 16-bit-endianness, or palette-expansion bug that leaves the header
# intact still breaks the hash match. Oracle recomputes everything
# from doc_id and pins pixel_ok TRUE.
# ---------------------------------------------------------------------------
_Q177_IMGS = """
  SELECT doc_id AS image_key,
         CAST(16 + (doc_id * 53) % 113 AS INTEGER) AS width,
         CAST(16 + (doc_id * 101) % 103 AS INTEGER) AS height
  FROM documents WHERE doc_id % 9 = 0 AND doc_id % 27 <> 0
"""


def _q177_oracle() -> str:
    from anime_data_pipeline_spark.operators.bucketing import (
        BucketConfig,
        bucket_oracle_sql,
    )

    return f"""
    WITH assigned AS ({bucket_oracle_sql(_Q177_IMGS, BucketConfig())})
    SELECT image_key AS doc_id,
           CAST(16 + (image_key * 53) % 113 AS INTEGER) AS width,
           CAST(16 + (image_key * 101) % 103 AS INTEGER) AS height,
           CASE CAST(image_key % 10 AS INTEGER)
             WHEN 0 THEN 'RGB' WHEN 4 THEN 'RGB' WHEN 9 THEN 'RGB'
             WHEN 1 THEN 'RGBA' WHEN 5 THEN 'RGBA'
             WHEN 6 THEN 'L' WHEN 8 THEN 'L' ELSE 'P' END AS mode,
           bucket_w, bucket_h,
           TRUE AS pixel_ok
    FROM assigned
    """


def _raster_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents (doc_id % 9 = 0) → (doc_id, content: binary) of real
    BMP/TIFF bytes, each a uniform doc_id-derived fill (f = 40 +
    id % 160; palette rows a constant index j = id % 16 into the q115
    closed-form palette). id%10: 0 → 24-bit BMP, 1 → 32-bit BMP,
    2 → 8-bit palette BMP, 3 → RLE4 BMP, 4 → TIFF RGB (LZW,
    predictor 2), 5 → TIFF RGBA (big-endian, PackBits), 6 → TIFF gray
    (uncompressed, strips), 7 → TIFF palette (LZW), 8 → TIFF gray
    16-bit (big-endian, fill f*257 like PIL's 8→16 scale), 9 → TIFF
    RGB tiled (LZW, 16×16 tiles). Every 27th row
    corrupt-after-magic."""
    import numpy as np

    from anime_data_pipeline_spark.operators.bmp_codec import BMP_MAGIC, encode_bmp
    from anime_data_pipeline_spark.operators.tiff_codec import encode_tiff

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 9 == 0)
        .select("doc_id")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    plte = _q115_palette()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                if i % 27 == 0:
                    blobs.append(BMP_MAGIC + b"\x00" * 20)
                    continue
                w = 16 + (i * 53) % 113
                h = 16 + (i * 101) % 103
                f = 40 + i % 160
                j = i % 16
                v = i % 10
                if v == 0:
                    blob = encode_bmp(np.full((h, w, 3), f, dtype=np.uint8))
                elif v == 1:
                    blob = encode_bmp(np.full((h, w, 4), f, dtype=np.uint8))
                elif v == 2:
                    blob = encode_bmp(np.full((h, w), j, dtype=np.uint8), palette=plte)
                elif v == 3:
                    blob = encode_bmp(
                        np.full((h, w), j, dtype=np.uint8),
                        palette=plte,
                        bit_depth=4,
                        rle=True,
                    )
                elif v == 4:
                    blob = encode_tiff(
                        np.full((h, w, 3), f, dtype=np.uint8),
                        compression=5,
                        predictor=2,
                        rows_per_strip=16,
                    )
                elif v == 5:
                    blob = encode_tiff(
                        np.full((h, w, 4), f, dtype=np.uint8),
                        byte_order=">",
                        compression=32773,
                    )
                elif v == 6:
                    blob = encode_tiff(
                        np.full((h, w), f, dtype=np.uint8), rows_per_strip=8
                    )
                elif v == 7:
                    blob = encode_tiff(
                        np.full((h, w), j, dtype=np.uint8),
                        palette=plte,
                        compression=5,
                    )
                elif v == 8:
                    blob = encode_tiff(
                        np.full((h, w), f * 257, dtype=np.uint16), byte_order=">"
                    )
                else:
                    blob = encode_tiff(
                        np.full((h, w, 3), f, dtype=np.uint8),
                        compression=5,
                        tile_size=(16, 16),
                    )
                blobs.append(blob)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": blobs})

    return _spread(docs).mapInPandas(gen, schema=schema)


@register("q177_raster_decode_bucket", oracle=_q177_oracle())
def q177_raster_decode_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.operators.bucketing import (
        BucketConfig,
        assign_bucket_columns,
    )
    from anime_data_pipeline_spark.operators.multimodal import (
        decode_image_pixel_stats,
    )

    decoded = decode_image_pixel_stats(
        decode_image_meta(_raster_corpus(spark, sf_dir))
    )
    i = F.col("doc_id")
    f = (F.lit(40) + (i % 160)).cast("int")
    v = (i % 10).cast("int")
    st = F.col("pixel_stats")
    j = (i % 16).cast("int")
    pr, pg, pb = j * 17, 255 - j * 17, (j * 37) % 256
    pal_ok = (
        (st["px_min"] == F.least(pr, pg, pb))
        & (st["px_max"] == F.greatest(pr, pg, pb))
        & (st["px_mean"] == (pr + pg + pb).cast("double") / F.lit(3.0))
        & (st["channels"] == 3)
    )
    uniform = (st["px_min"] == st["px_max"]) & (st["px_min"] == f)
    uniform16 = (st["px_min"] == st["px_max"]) & (st["px_min"] == f * 257)
    expected = (
        F.when(v.isin(0, 4, 9), uniform & (st["channels"] == 3))
        .when(v.isin(1, 5), uniform & (st["channels"] == 4))
        .when(v == 6, uniform & (st["channels"] == 1))
        .when(v == 8, uniform16 & (st["channels"] == 1))
        .otherwise(pal_ok)
    )
    decoded = decoded.withColumn(
        "pixel_ok",
        st.isNotNull()
        & (st["width"] == F.col("image_meta.width"))
        & (st["height"] == F.col("image_meta.height"))
        & expected,
    )
    ok = decoded.filter(F.col("image_meta").isNotNull()).select(
        F.col("doc_id").alias("image_key"),
        F.col("image_meta.width").alias("width"),
        F.col("image_meta.height").alias("height"),
        F.col("image_meta.mode").alias("mode"),
        "pixel_ok",
    )
    assigned = assign_bucket_columns(ok, cfg=BucketConfig())
    return assigned.select(
        F.col("image_key").alias("doc_id"),
        "width",
        "height",
        "mode",
        "bucket_w",
        "bucket_h",
        "pixel_ok",
    )


# ---------------------------------------------------------------------------
# q178 — REAL WAV decode e2e (round 6: the audio twin of q177's
# raster closure): a synthetic corpus of genuine RIFF/WAVE files
# (stdlib encoder, operators/wav_codec.py) cycling j = doc_id/16
# through EIGHT formats — 8/16/32-bit PCM, 32-bit IEEE float, G.711
# µ-law, G.711 A-law, IMA ADPCM, and packed 24-bit PCM — 1-2
# channels, and four sample
# rates, each a uniform doc_id-derived fill chosen to survive the
# format's quantizer EXACTLY (µ/A-law fills are codebook values;
# a constant signal is an IMA fixpoint at step index 0; float fills
# are small integers); every 4th selected row corrupt (RIFF magic,
# broken body). Decoded twice by the DEFAULT dispatch: header meta
# (no data-chunk read; ADPCM sample count from the fact chunk) →
# whisper-style 0.5 s chunk plan (audio_chunk_plan — the q87 flow on
# REAL bytes), and FULL samples via decode_audio_sample_stats —
# sample_ok pins min/max/mean/channels to the closed form, so an
# endianness, bit-depth, interleave, companding-table, or
# nibble-state-machine bug that leaves the header intact still breaks
# the hash match. The oracle recomputes everything from doc_id and
# pins sample_ok TRUE. chunk_s = 0.5 keeps rate*chunk_s exact in FP
# for every rate (0.5 is a power of two; all rates even), so both
# engines agree on chunk_len.
# ---------------------------------------------------------------------------
_Q178_RATES = [8000, 16000, 22050, 44100]


def _q178_oracle() -> str:
    rates = ", ".join(str(r) for r in _Q178_RATES)
    return f"""
    WITH meta AS (
      SELECT doc_id, doc_id // 16 AS j
      FROM documents WHERE doc_id % 16 = 0 AND doc_id % 64 <> 0
    ),
    sized AS (
      SELECT doc_id,
             CAST([{rates}][CAST(j % 4 AS INTEGER) + 1] AS INTEGER) AS sample_rate,
             CAST(j % 2 + 1 AS INTEGER) AS channels,
             [{rates}][CAST(j % 4 AS INTEGER) + 1] // 2 * (1 + j % 4)
               + (j * 13) % 997 AS n_samples
      FROM meta
    ),
    chunked AS (
      SELECT s.*, s.sample_rate // 2 AS chunk_len,
             unnest(range(0, greatest(
               CAST(ceil(CAST(n_samples AS DOUBLE)
                         / (s.sample_rate // 2)) AS BIGINT), 1))) AS chunk_no
      FROM sized s
    )
    SELECT doc_id, sample_rate, n_samples, channels,
           CAST(chunk_no AS INTEGER) AS chunk_no,
           chunk_no * chunk_len AS start_sample,
           least(n_samples, (chunk_no + 1) * chunk_len) AS end_sample,
           TRUE AS sample_ok
    FROM chunked
    """


def _wav_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents (doc_id % 16 = 0) → (doc_id, content: binary) of real
    RIFF/WAVE bytes, j = doc_id/16: rate = RATES[j%4], channels =
    j%2+1, format = [pcm8, pcm16, pcm32, float32, µ-law, A-law,
    IMA-ADPCM, pcm24][j%8], uniform fill = closed form per format (exact
    through each quantizer — see the q178 comment). Every 4th selected
    row (doc_id % 64 = 0) is corrupt-after-magic."""
    import numpy as np

    from anime_data_pipeline_spark.operators.wav_codec import encode_wav

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 16 == 0)
        .select("doc_id")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                if i % 64 == 0:
                    blobs.append(b"RIFF\x10\x00\x00\x00WAVEjunk")
                    continue
                j = i // 16
                rate = _Q178_RATES[j % 4]
                ch = j % 2 + 1
                n = rate // 2 * (1 + j % 4) + (j * 13) % 997
                v = j % 8
                fmt = "pcm"
                if v == 0:
                    fill, dt = 100 + j % 100, np.uint8
                elif v == 1:
                    fill, dt = (j % 2000 - 1000) * 16, np.int16
                elif v == 2:
                    fill, dt = (j % 2000 - 1000) * 65536, np.int32
                elif v == 3:
                    fill, dt, fmt = (j % 2000 - 1000) * 16, np.float32, "float32"
                elif v == 4:  # µ-law codebook value: ((m*8+132)<<e)-132
                    m, e = j % 16, j % 8
                    fill, dt, fmt = ((m * 8 + 132) << e) - 132, np.int16, "ulaw"
                elif v == 5:  # A-law codebook value
                    q, s = j % 16, j % 8
                    fill = q * 16 + 8 if s == 0 else (q * 16 + 264) << (s - 1)
                    dt, fmt = np.int16, "alaw"
                elif v == 6:  # constant signal is an IMA-ADPCM fixpoint
                    fill, dt, fmt = (j % 2000 - 1000) * 16, np.int16, "ima_adpcm"
                else:  # packed 3-byte samples, int32 carrier
                    fill, dt, fmt = (j % 2000 - 1000) * 4096, np.int32, "pcm24"
                blobs.append(encode_wav(np.full((n, ch), fill, dtype=dt), rate, fmt=fmt))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": blobs})

    return _spread(docs).mapInPandas(gen, schema=schema)


@register("q178_wav_decode_chunk", oracle=_q178_oracle())
def q178_wav_decode_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.operators.multimodal import (
        audio_chunk_plan,
        decode_audio_meta,
        decode_audio_sample_stats,
    )

    decoded = decode_audio_sample_stats(decode_audio_meta(_wav_corpus(spark, sf_dir)))
    i = F.col("doc_id")
    j = (i / 16).cast("long")
    v = (j % 8).cast("int")
    m = j % 16
    e = j % 8
    # exact in doubles: (m*8+132) <= 252 and 2^e <= 128
    ulaw_fill = ((m * 8 + 132) * F.pow(F.lit(2.0), e) - 132).cast("long")
    alaw_fill = (
        F.when(e == 0, (m * 16 + 8).cast("double"))
        .otherwise((m * 16 + 264) * F.pow(F.lit(2.0), e - 1))
        .cast("long")
    )
    fill = (
        F.when(v == 0, (100 + (j % 100)).cast("double"))
        .when(v == 2, (((j % 2000) - 1000) * 65536).cast("double"))
        .when(v == 4, ulaw_fill.cast("double"))
        .when(v == 5, alaw_fill.cast("double"))
        .when(v == 7, (((j % 2000) - 1000) * 4096).cast("double"))
        .otherwise((((j % 2000) - 1000) * 16).cast("double"))
        .cast("long")
    )
    st = F.col("sample_stats")
    decoded = decoded.withColumn(
        "sample_ok",
        st.isNotNull()
        & (st["n_samples"] == F.col("audio_meta.n_samples"))
        & (st["channels"] == F.col("audio_meta.channels"))
        & (st["s_min"] == fill)
        & (st["s_max"] == fill)
        & (st["s_mean"] == fill.cast("double")),
    )
    ok = decoded.filter(F.col("audio_meta").isNotNull())
    chunked = audio_chunk_plan(ok, chunk_s=0.5)
    return chunked.select(
        "doc_id",
        F.col("audio_meta.sample_rate").alias("sample_rate"),
        F.col("audio_meta.n_samples").alias("n_samples"),
        F.col("audio_meta.channels").alias("channels"),
        F.col("chunk_no").cast("int").alias("chunk_no"),
        "start_sample",
        "end_sample",
        "sample_ok",
    )


# ---------------------------------------------------------------------------
# q179 — REAL video decode e2e (round 6: MJPEG-AVI through
# operators/avi_codec.py + the stdlib JPEG codec, AND animated GIF
# through gif_codec's GIF89a compositor): a synthetic corpus where
# j = doc_id/13 derives dims, frame count, a per-frame uniform fill,
# and the CONTAINER — even j → RIFF/AVI Motion-JPEG (fps from a
# 4-entry table), odd j → animated GIF (fps 0: GIFs store per-frame
# delays, not a rate); every 4th selected row corrupt-after-magic.
# Both container walks read chunk headers only to lay the every-4th
# lattice (q80's sampling on real bytes); AVI then decodes exactly
# the sampled byte ranges, GIF composites 0..max-sampled once for the
# whole lattice (frames are deltas). frame_ok pins each sampled
# frame's min==max within ±2 of the closed-form fill (exact for GIF;
# DC quantization at quality 85 for MJPEG) and decoded dims == header
# dims. The oracle recomputes the lattice + metadata from doc_id and
# pins frame_ok.
# ---------------------------------------------------------------------------
_Q179_FPS = [12, 24, 25, 30]


def _q179_oracle() -> str:
    fps = ", ".join(str(f) for f in _Q179_FPS)
    return f"""
    WITH vids AS (
      SELECT doc_id, doc_id // 13 AS j
      FROM documents WHERE doc_id % 13 = 0 AND doc_id % 52 <> 0
    ),
    meta AS (
      SELECT doc_id, j,
             CAST(16 + (j * 11) % 48 AS INTEGER) AS width,
             CAST(16 + (j * 5) % 40 AS INTEGER) AS height,
             CAST(1 + j % 12 AS INTEGER) AS n_frames,
             CAST(CASE WHEN j % 2 = 0
                  THEN [{fps}][CAST(j % 4 AS INTEGER) + 1]
                  ELSE 0 END AS INTEGER) AS fps
      FROM vids
    )
    SELECT doc_id, width, height, n_frames, fps,
           CAST(unnest(range(0, n_frames, 4)) AS INTEGER) AS frame_idx,
           TRUE AS frame_ok
    FROM meta
    """


def _real_video_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents (doc_id % 13 = 0) → (doc_id, content: binary):
    j = doc_id/13, frame fi filled with 40 + (j*7 + fi*5) % 180;
    even j → real MJPEG AVI, odd j → real animated GIF (grayscale
    identity palette, so the fill survives losslessly). Every 4th
    selected row (doc_id % 52 = 0) is corrupt-after-magic, the magic
    alternating AVI/GIF so BOTH containers' drop paths run e2e."""
    import numpy as np

    from anime_data_pipeline_spark.operators.avi_codec import encode_avi_mjpeg
    from anime_data_pipeline_spark.operators.gif_codec import encode_gif_animation

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 13 == 0)
        .select("doc_id")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gray = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)
        for pdf in batches:
            blobs = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                if i % 52 == 0:
                    if (i // 52) % 2:  # valid GIF LSD, truncated descriptor
                        blobs.append(b"GIF89a\x04\x00\x04\x00\x00\x00\x00\x2cJU")
                    else:
                        blobs.append(b"RIFF\x0c\x00\x00\x00AVI LISTjunk")
                    continue
                j = i // 13
                w = 16 + (j * 11) % 48
                h = 16 + (j * 5) % 40
                n = 1 + j % 12
                fills = [40 + (j * 7 + fi * 5) % 180 for fi in range(n)]
                if j % 2 == 0:
                    frames = [
                        np.full((h, w, 3), f, dtype=np.uint8) for f in fills
                    ]
                    blobs.append(encode_avi_mjpeg(frames, fps=_Q179_FPS[j % 4]))
                else:
                    idx_frames = [
                        np.full((h, w), f, dtype=np.uint8) for f in fills
                    ]
                    blobs.append(encode_gif_animation(idx_frames, gray))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": blobs})

    return _spread(docs).mapInPandas(gen, schema=schema)


@register("q179_video_frame_sample", oracle=_q179_oracle())
def q179_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.operators.multimodal import (
        sample_video_frame_stats,
    )

    sampled = sample_video_frame_stats(_real_video_corpus(spark, sf_dir), every_k=4)
    j = (F.col("doc_id") / 13).cast("long")
    fill = (40 + (j * 7 + F.col("frame_idx") * 5) % 180).cast("int")
    frame_ok = (
        (F.col("f_min") == F.col("f_max"))
        & (F.abs(F.col("f_min") - fill) <= 2)
        & (F.col("f_w") == F.col("width"))
        & (F.col("f_h") == F.col("height"))
    )
    return sampled.select(
        "doc_id",
        "width",
        "height",
        "n_frames",
        "fps",
        "frame_idx",
        frame_ok.alias("frame_ok"),
    )


# ---------------------------------------------------------------------------
# q181 — perceptual image dedup e2e (round 6: dHash over REAL decoded
# pixels, operators/imagehash.py — the pixel-level near-dup family the
# text/embedding dedup suite lacked). The corpus builds 8×9-block
# images whose block values are a closed-form integer function of
# (group, row, col): m = doc_id/11, each group of three docs carries a
# BASE pattern, a NEAR variant (two designated blocks inverted — 0 to
# 4 gradient bits flip, data-dependently), and a FAR variant (an
# independent pattern — the block hash reduces mod 1000003, far above
# any group count, so patterns never alias across groups and pair
# output grows with groups, not quadratically); containers cycle PNG-gray / BMP-RGB /
# TIFF-gray-LZW so identical pixels hash identically across codecs,
# and every 4th selected row is corrupt-after-magic. Spark hashes the
# DECODED pixels and runs the 4×16-bit band join + popcount verify;
# the oracle recomputes every gradient bit closed-form from doc_id
# (never touching pixels), replays the same band join and Hamming
# filter in SQL, and must produce the identical pair set — a bug
# anywhere in decode → gray → integer pooling → bit packing → banding
# → popcount changes the pairs.
# ---------------------------------------------------------------------------
def _q181_block_sql(g: str, by: int, bx: int) -> str:
    """Closed-form block value 40/200 as SQL over a group expression.
    The parity comes from a QUADRATIC mix of the reduced hash: the raw
    hash is linear in (g, by, bx) with odd coefficients, so its direct
    parity degenerates to a checkerboard shared by every group (mod-2
    of a linear form — caught when 341 corpus images produced only 87
    distinct fingerprints); squaring the mod-1000003 residue first
    breaks the linearity and patterns stop aliasing across groups."""
    y = f"(({g} * 73856093 + {by} * 19349663 + {bx} * 83492791) % 1000003)"
    return f"(40 + 160 * ((({y} * {y}) % 1000003) % 2))"


def _q181_oracle() -> str:
    # per-doc effective group expr and the two NEAR-inverted blocks
    flips = {(2, 3), (5, 6)}

    def v_sql(by: int, bx: int) -> str:
        base = _q181_block_sql("geff", by, bx)
        if (by, bx) in flips:
            return f"(CASE WHEN r = 1 THEN 240 - {base} ELSE {base} END)"
        return base

    band_terms: dict[int, list[str]] = {0: [], 1: [], 2: [], 3: []}
    for i in range(64):
        by, bx = i // 8, i % 8
        shift_total = 63 - i
        b, within = shift_total // 16, shift_total % 16
        bit = f"(CASE WHEN {v_sql(by, bx + 1)} > {v_sql(by, bx)} THEN 1 ELSE 0 END)"
        band_terms[b].append(f"{bit} * {1 << within}")
    band_cols = ",\n             ".join(
        f"CAST({' + '.join(band_terms[b])} AS BIGINT) AS b{b}" for b in range(4)
    )
    return f"""
    WITH sel AS (
      SELECT doc_id, doc_id // 11 AS m FROM documents
      WHERE doc_id % 11 = 0 AND (doc_id // 11) % 4 <> 0
    ),
    roles AS (
      SELECT doc_id, m // 3 AS g, CAST(m % 3 AS INTEGER) AS r,
             m // 3 + CASE WHEN m % 3 = 2 THEN 500009 ELSE 0 END AS geff
      FROM sel
    ),
    hashed AS (
      SELECT doc_id, r,
             {band_cols}
      FROM roles
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
              AS INTEGER) AS hamming
    FROM hashed a JOIN hashed b
      ON a.doc_id < b.doc_id
     AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
    WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
        + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 4
    """


def _perceptual_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents (doc_id % 11 = 0) → (doc_id, content: binary) of
    block-pattern images (see the q181 comment); m % 4 == 0 rows are
    corrupt-after-magic."""
    import numpy as np

    from anime_data_pipeline_spark.operators.bmp_codec import encode_bmp
    from anime_data_pipeline_spark.operators.png_codec import encode_png
    from anime_data_pipeline_spark.operators.tiff_codec import encode_tiff

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 11 == 0)
        .select("doc_id")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    flips = {(2, 3), (5, 6)}

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                m = i // 11
                if m % 4 == 0:
                    blobs.append(b"\x89PNG\r\n\x1a\n" + b"\x00" * 16)
                    continue
                g, r = m // 3, m % 3
                geff = g + (500009 if r == 2 else 0)
                blocks = np.empty((8, 9), dtype=np.uint8)
                for by in range(8):
                    for bx in range(9):
                        y = (geff * 73856093 + by * 19349663 + bx * 83492791) % 1000003
                        u = (y * y % 1000003) % 2
                        v = 40 + 160 * u
                        if r == 1 and (by, bx) in flips:
                            v = 240 - v
                        blocks[by, bx] = v
                sy, sx = 2 + m % 5, 2 + m % 7
                img = np.repeat(np.repeat(blocks, sy, axis=0), sx, axis=1)
                if r == 0:
                    blob = encode_png(img[:, :, None])
                elif r == 1:
                    blob = encode_bmp(np.repeat(img[:, :, None], 3, axis=2))
                else:
                    blob = encode_tiff(img, compression=5)
                blobs.append(blob)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": blobs})

    return _spread(docs).mapInPandas(gen, schema=schema)


@register("q181_image_dedup", oracle=_q181_oracle())
def q181_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.operators.imagehash import (
        dhash_near_dup_pairs,
        image_dhash,
    )

    hashed = image_dhash(_perceptual_corpus(spark, sf_dir))
    # the oracle's SQL band join is uncapped, so the gate skips the
    # hot-band frequency pass (the corpus keeps band multiplicity tiny:
    # patterns are unique per group, so only a group's base/near share
    # bands); the cap's drop behavior is pinned by
    # tests/test_imagehash.py::test_hot_band_cap_drops_degenerate_buckets
    pairs = dhash_near_dup_pairs(
        hashed, id_col="doc_id", max_hamming=4, max_band_freq=None
    )
    return pairs.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "hamming",
    )


# ---------------------------------------------------------------------------
# q184 — audio-hygiene quality filter (round 7): REAL WAV bytes →
# decode_audio_quality → silence / clipping gate, the filter a speech
# pipeline runs before transcription. The corpus (doc_id % 8 = 4,
# j = doc_id/8, every 4th j corrupt-after-magic) is mono 16 kHz pcm16
# SQUARE WAVES — half-period 2*(1+j%5) samples, amplitude a: 0 every
# 9th clip (silence), 32767 every 6th (hard-clipped), else
# 500*(1+j%60) — so every feature is an integer-exact closed form:
# rms = peak = a (the mean of squares is exactly a² and sqrt of a
# perfect square is exact in IEEE), zero crossings = (n-1)//half
# (adjacent-sample products are -a² exactly at each flip), clip_rate
# ∈ {0, 1}. A sign, interleave, accumulator-dtype, or threshold bug
# anywhere in the decode→feature chain breaks the hash; the oracle
# recomputes everything from doc_id and never touches bytes.
# ---------------------------------------------------------------------------
def _q184_oracle() -> str:
    return """
    WITH meta AS (
      SELECT doc_id, doc_id // 8 AS j
      FROM documents WHERE doc_id % 8 = 4 AND (doc_id // 8) % 4 <> 3
    ),
    feat AS (
      SELECT doc_id,
             640 + (j * 37) % 1600 AS n,
             2 * (1 + j % 5) AS half,
             CASE WHEN j % 9 = 0 THEN 0
                  WHEN j % 6 = 0 THEN 32767
                  ELSE 500 * (1 + j % 60) END AS a
      FROM meta
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_samples,
           CAST(a AS DOUBLE) AS peak,
           CAST(a AS DOUBLE) AS rms,
           CAST(CASE WHEN a = 0 THEN 0 ELSE (n - 1) // half END AS BIGINT)
             AS n_zero_cross,
           CASE WHEN a >= 32767 THEN 1.0 ELSE 0.0 END AS clip_rate,
           (a = 0) AS is_silence,
           (a <> 0 AND a < 32767) AS kept
    FROM feat
    """


def _square_wave_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents (doc_id % 8 = 4) → real mono pcm16 RIFF bytes of the
    square-wave lattice described on q184; every 4th j corrupt."""
    import numpy as np

    from anime_data_pipeline_spark.operators.wav_codec import encode_wav

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 8 == 4)
        .select("doc_id")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = []
            for doc_id in pdf["doc_id"]:
                j = int(doc_id) // 8
                if j % 4 == 3:
                    blobs.append(b"RIFF\x08\x00\x00\x00WAVExx")
                    continue
                n = 640 + (j * 37) % 1600
                half = 2 * (1 + j % 5)
                if j % 9 == 0:
                    a = 0
                elif j % 6 == 0:
                    a = 32767
                else:
                    a = 500 * (1 + j % 60)
                t = np.arange(n, dtype=np.int64)
                s = (a * (1 - 2 * ((t // half) % 2))).astype(np.int16)
                blobs.append(encode_wav(s[:, None], 16000, fmt="pcm"))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": blobs})

    return _spread(docs).mapInPandas(gen, schema=schema)


@register("q184_audio_quality_filter", oracle=_q184_oracle())
def q184_audio_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.operators.multimodal import decode_audio_quality

    decoded = decode_audio_quality(_square_wave_corpus(spark, sf_dir))
    qc = F.col("audio_quality")
    return (
        decoded.filter(qc.isNotNull())
        .select(
            "doc_id",
            qc["n_samples"].alias("n_samples"),
            qc["peak"].alias("peak"),
            qc["rms"].alias("rms"),
            qc["n_zero_cross"].alias("n_zero_cross"),
            qc["clip_rate"].alias("clip_rate"),
            qc["is_silence"].alias("is_silence"),
            (~qc["is_silence"] & (qc["clip_rate"] < 0.1)).alias("kept"),
        )
    )


# ---------------------------------------------------------------------------
# q187 — REAL WebP (VP8L lossless) decode e2e (round 7: SURVEY S7
# extended to the most common crawl format that previously sat on the
# PIL seam): a synthetic corpus of genuine RIFF/WEBP files (stdlib
# encoder, operators/webp_codec.py) cycling doc_id % 10 through literal
# RGB, literal RGBA (alpha < 255 → the header alpha hint), BUNDLED
# 16-color palette (2 px/byte), unbundled 17-color palette,
# subtract-green, single-mode predictor, LZ77 runs + color cache,
# replicated-gray input, CROSS-COLOR transform, and two meta
# prefix-code groups; every 33rd row corrupt-after-magic. Decoded
# by the DEFAULT dispatch twice: header meta → aspect-ratio bucket
# assignment, and FULL pixels via decode_image_pixel_stats — uniform
# fills / the q115 closed-form palette give closed-form min/max/mean,
# so a bit-order, canonical-code, transform-inverse, bundling, or
# cache bug that leaves the header intact still breaks the hash. The
# oracle recomputes everything from doc_id and pins pixel_ok TRUE
# (palette is an internal VP8L transform — the container reports
# RGB/RGBA, never 'P').
# ---------------------------------------------------------------------------
_Q187_IMGS = """
  SELECT doc_id AS image_key,
         CAST(16 + (doc_id * 67) % 97 AS INTEGER) AS width,
         CAST(16 + (doc_id * 97) % 89 AS INTEGER) AS height
  FROM documents WHERE doc_id % 11 = 0 AND doc_id % 33 <> 0
"""


def _q187_oracle() -> str:
    from anime_data_pipeline_spark.operators.bucketing import (
        BucketConfig,
        bucket_oracle_sql,
    )

    return f"""
    WITH assigned AS ({bucket_oracle_sql(_Q187_IMGS, BucketConfig())})
    SELECT image_key AS doc_id,
           CAST(16 + (image_key * 67) % 97 AS INTEGER) AS width,
           CAST(16 + (image_key * 97) % 89 AS INTEGER) AS height,
           CASE WHEN CAST(image_key % 10 AS INTEGER) = 1 THEN 'RGBA'
                ELSE 'RGB' END AS mode,
           bucket_w, bucket_h,
           TRUE AS pixel_ok
    FROM assigned
    """


def _webp_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents (doc_id % 11 = 0) → (doc_id, content: binary) of real
    VP8L bytes per the q187 variant lattice."""
    import numpy as np

    from anime_data_pipeline_spark.operators.webp_codec import encode_webp

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 11 == 0)
        .select("doc_id")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    plte = _q115_palette()
    plte17 = np.vstack([plte, np.array([[1, 2, 3]], dtype=np.uint8)])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                if i % 33 == 0:
                    blobs.append(b"RIFF\x0c\x00\x00\x00WEBPVP8Lxxxx")
                    continue
                w = 16 + (i * 67) % 97
                h = 16 + (i * 97) % 89
                f = 40 + i % 160
                j = i % 16
                v = i % 10
                if v == 0:
                    blob = encode_webp(np.full((h, w, 3), f, dtype=np.uint8))
                elif v == 1:  # f < 255 always → alpha hint set
                    blob = encode_webp(np.full((h, w, 4), f, dtype=np.uint8))
                elif v == 2:  # 16 colors → bundled, 2 px/byte
                    blob = encode_webp(
                        np.full((h, w, 1), j, dtype=np.uint8), palette=plte
                    )
                elif v == 3:  # 17 colors → unbundled indices
                    blob = encode_webp(
                        np.full((h, w, 1), j, dtype=np.uint8), palette=plte17
                    )
                elif v == 4:
                    blob = encode_webp(
                        np.full((h, w, 3), f, dtype=np.uint8), subtract_green=True
                    )
                elif v == 5:
                    blob = encode_webp(
                        np.full((h, w, 3), f, dtype=np.uint8), predictor_mode=1
                    )
                elif v == 6:
                    blob = encode_webp(
                        np.full((h, w, 3), f, dtype=np.uint8),
                        use_lz77=True,
                        cache_bits=4,
                    )
                elif v == 7:  # gray input → replicated channels
                    blob = encode_webp(np.full((h, w), f, dtype=np.uint8))
                elif v == 8:  # cross-color transform (negative + positive int8)
                    blob = encode_webp(
                        np.full((h, w, 3), f, dtype=np.uint8),
                        color_transform=(38, 250, 7),
                    )
                else:  # two meta prefix-code groups (left/right split)
                    blob = encode_webp(
                        np.full((h, w, 3), f, dtype=np.uint8), meta_groups=2
                    )
                blobs.append(blob)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": blobs})

    return _spread(docs).mapInPandas(gen, schema=schema)


@register("q187_webp_decode_bucket", oracle=_q187_oracle())
def q187_webp_decode_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.operators.bucketing import (
        BucketConfig,
        assign_bucket_columns,
    )
    from anime_data_pipeline_spark.operators.multimodal import (
        decode_image_pixel_stats,
    )

    decoded = decode_image_pixel_stats(decode_image_meta(_webp_corpus(spark, sf_dir)))
    i = F.col("doc_id")
    f = (F.lit(40) + (i % 160)).cast("int")
    v = (i % 10).cast("int")
    j = (i % 16).cast("int")
    st = F.col("pixel_stats")
    pr, pg, pb = j * 17, 255 - j * 17, (j * 37) % 256
    pal_ok = (
        (st["px_min"] == F.least(pr, pg, pb))
        & (st["px_max"] == F.greatest(pr, pg, pb))
        & (st["px_mean"] == (pr + pg + pb).cast("double") / F.lit(3.0))
        & (st["channels"] == 3)
    )
    uniform = (st["px_min"] == st["px_max"]) & (st["px_min"] == f)
    expected = (
        F.when(v == 1, uniform & (st["channels"] == 4))
        .when(v.isin(2, 3), pal_ok)
        .otherwise(uniform & (st["channels"] == 3))
    )
    decoded = decoded.withColumn(
        "pixel_ok",
        st.isNotNull()
        & (st["width"] == F.col("image_meta.width"))
        & (st["height"] == F.col("image_meta.height"))
        & expected,
    )
    ok = decoded.filter(F.col("image_meta").isNotNull()).select(
        F.col("doc_id").alias("image_key"),
        F.col("image_meta.width").alias("width"),
        F.col("image_meta.height").alias("height"),
        F.col("image_meta.mode").alias("mode"),
        "pixel_ok",
    )
    assigned = assign_bucket_columns(ok, cfg=BucketConfig())
    return assigned.select(
        F.col("image_key").alias("doc_id"),
        "width",
        "height",
        "mode",
        "bucket_w",
        "bucket_h",
        "pixel_ok",
    )


# ---------------------------------------------------------------------------
# q188 — animated-WebP frame sampling e2e (round 7: the THIRD video
# container, after q179's MJPEG-AVI and animated GIF): a synthetic
# corpus of real VP8X/ANIM/ANMF files with VP8L-coded frames,
# j = doc_id/17 deriving canvas dims, frame count, and a per-frame
# uniform fill 40 + (j*7 + fi*5) % 180 (q179's fill law — exact
# through VP8L, which is lossless); odd j places every frame as a
# SUB-RECT over a background-colored canvas with dispose-to-background
# (the compositor path), even j uses full-canvas frames; every 4th
# selected row corrupt-after-magic. The every-3rd sampling lattice
# decodes through ONE compositor pass; frame_ok pins the sampled
# canvas stats against the closed form: the background (250) sits
# ABOVE the fill range [40, 219] and the RGBA alpha plane is 255
# everywhere, so f_min == fill for both frame shapes and f_max == 255.
# The oracle recomputes lattice + metadata from doc_id and pins
# frame_ok.
# ---------------------------------------------------------------------------
_Q188_ORACLE = """
    WITH vids AS (
      SELECT doc_id, doc_id // 17 AS j
      FROM documents WHERE doc_id % 17 = 0 AND doc_id % 68 <> 0
    ),
    meta AS (
      SELECT doc_id, j,
             CAST(18 + (j * 13) % 46 AS INTEGER) AS width,
             CAST(18 + (j * 7) % 38 AS INTEGER) AS height,
             CAST(1 + j % 9 AS INTEGER) AS n_frames
      FROM vids
    )
    SELECT doc_id, width, height, n_frames,
           CAST(0 AS INTEGER) AS fps,
           CAST(unnest(range(0, n_frames, 3)) AS INTEGER) AS frame_idx,
           TRUE AS frame_ok
    FROM meta
"""


def _webp_anim_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents (doc_id % 17 = 0) → real animated-WebP bytes per the
    q188 lattice; every 4th j corrupt-after-magic."""
    import numpy as np

    from anime_data_pipeline_spark.operators.webp_codec import encode_webp_anim

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 17 == 0)
        .select("doc_id")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                if i % 68 == 0:
                    blobs.append(b"RIFF\x0c\x00\x00\x00WEBPVP8Xjunk")
                    continue
                j = i // 17
                w = 18 + (j * 13) % 46
                h = 18 + (j * 7) % 38
                n = 1 + j % 9
                frames = []
                for fi in range(n):
                    fill = 40 + (j * 7 + fi * 5) % 180
                    if j % 2 == 1 and n > 1:
                        # sub-rect placement over a bg-colored canvas
                        fw, fh = w - 8, h - 8
                        frames.append(
                            (np.full((fh, fw, 3), fill, np.uint8), 4, 4, 40)
                        )
                    else:
                        frames.append((np.full((h, w, 3), fill, np.uint8), 0, 0, 40))
                blobs.append(
                    encode_webp_anim(
                        frames,
                        (w, h),
                        bg=(250, 250, 250, 255),
                        dispose_bg=bool(j % 2),
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": blobs})

    return _spread(docs).mapInPandas(gen, schema=schema)


@register("q188_webp_anim_sample", oracle=_Q188_ORACLE)
def q188_webp_anim_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.operators.multimodal import (
        sample_video_frame_stats,
    )

    sampled = sample_video_frame_stats(_webp_anim_corpus(spark, sf_dir), every_k=3)
    j = (F.col("doc_id") / 17).cast("long")
    fill = (40 + (j * 7 + F.col("frame_idx") * 5) % 180).cast("int")
    frame_ok = (
        (F.col("f_w") == F.col("width"))
        & (F.col("f_h") == F.col("height"))
        & (F.col("f_min") == fill)  # fill < bg(250) < alpha(255)
        & (F.col("f_max") == 255)  # the opaque alpha plane
    )
    return sampled.select(
        "doc_id",
        "width",
        "height",
        "n_frames",
        "fps",
        "frame_idx",
        frame_ok.alias("frame_ok"),
    )


# ---------------------------------------------------------------------------
# q190 — REAL lossy-VP8 WebP decode e2e (round 8: the last common
# format whose PIXELS sat on an environment seam — the reference
# decodes it via PIL → libwebp, dbimutils.py:6-13; this environment
# has libwebp.so itself, bound through operators/webp_system.py with
# ctypes, so the seam is closed with the SAME C library PIL wraps).
# The corpus encodes doc_id-derived frames through the real libwebp
# encoder at query time (deterministic for a fixed lib version) and
# decodes through the DEFAULT dispatch: v0 uniform gray q100,
# v1 uniform gray q75, v2 horizontal gradient q90, v3 solid color
# q100 (YUV 4:2:0 round-trip stress); every 39th row is truncated
# after a valid VP8 header (corrupt → null → dropped-with-count).
# Lossy reconstruction is inexact BY DESIGN, so pixel_ok pins the
# decoded stats inside measured-worst-case ±2 margins (observed max
# err per variant 1/1/4/2 across the whole lattice at these sizes):
# a stride bug, channel swap, or YUV upsample break lands far outside
# them, while codec-version jitter inside the margins cannot flake
# the hash. The oracle recomputes membership and dims from doc_id and
# pins pixel_ok TRUE.
# ---------------------------------------------------------------------------
_Q190_ORACLE = """
    SELECT doc_id,
           CAST(16 + (doc_id * 53) % 81 AS INTEGER) AS width,
           CAST(16 + (doc_id * 71) % 73 AS INTEGER) AS height,
           'RGB' AS mode,
           CAST(doc_id % 4 AS INTEGER) AS variant,
           TRUE AS pixel_ok
    FROM documents
    WHERE doc_id % 13 = 0 AND doc_id % 39 <> 0
"""


def _webp_lossy_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents (doc_id % 13 = 0) → (doc_id, content: binary) of real
    lossy-VP8 bytes encoded by the system libwebp at query time."""
    import numpy as np

    from anime_data_pipeline_spark.operators.webp_system import encode_lossy

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 13 == 0)
        .select("doc_id")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w = 16 + (i * 53) % 81
                h = 16 + (i * 71) % 73
                g = 40 + i % 160
                v = i % 4
                if v == 0:
                    arr, q = np.full((h, w, 3), g, dtype=np.uint8), 100.0
                elif v == 1:
                    arr, q = np.full((h, w, 3), g, dtype=np.uint8), 75.0
                elif v == 2:
                    x = np.arange(w)
                    row = (60 + (x * 120) // w).astype(np.uint8)
                    arr = np.broadcast_to(row[None, :, None], (h, w, 3)).copy()
                    q = 90.0
                else:
                    arr = np.zeros((h, w, 3), dtype=np.uint8)
                    arr[:, :, 0] = g
                    arr[:, :, 1] = (g * 2) % 256
                    arr[:, :, 2] = 255 - g
                    q = 100.0
                blob = encode_lossy(arr, q)
                if blob is None:  # lib absent: surfaces as 0 decoded rows
                    blobs.append(None)
                elif i % 39 == 0:
                    blobs.append(blob[: 24 + (i % 7)])  # truncated → corrupt
                else:
                    blobs.append(blob)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": blobs})

    return _spread(docs).mapInPandas(gen, schema=schema)


@register("q190_webp_lossy_decode", oracle=_Q190_ORACLE)
def q190_webp_lossy_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 closing tail: lossy-VP8 pixels through the system-libwebp
    binding inside the default Arrow-batched dispatch; stats pinned
    within measured tolerance (see the section comment), corrupt rows
    dropped (P6). Cites /root/reference/dataruu/tagger/dbimutils.py:6-13
    (PIL decode of arbitrary formats) for behavior parity."""
    from anime_data_pipeline_spark.operators.multimodal import (
        decode_image_pixel_stats,
    )

    decoded = decode_image_pixel_stats(decode_image_meta(_webp_lossy_corpus(spark, sf_dir)))
    i = F.col("doc_id")
    g = (40 + i % 160).cast("int")
    v = (i % 4).cast("int")
    st = F.col("pixel_stats")
    tol = F.when(v == 2, F.lit(8)).when(v == 1, F.lit(3)).otherwise(F.lit(4))
    lo = F.when(v == 2, F.lit(60)).when(v == 3, F.least(g, (g * 2) % 256, 255 - g)).otherwise(g)
    hi = (
        F.when(v == 2, F.lit(60 + ((F.col("pw") - 1) * 120 / F.col("pw")).cast("int")))
        .when(v == 3, F.greatest(g, (g * 2) % 256, 255 - g))
        .otherwise(g)
    )
    decoded = decoded.withColumn("pw", st["width"].cast("long"))
    pixel_ok = (
        (st["channels"] == 3)
        & (st["px_min"] >= lo - tol)
        & (st["px_min"] <= lo + tol)
        & (st["px_max"] >= hi - tol)
        & (st["px_max"] <= hi + tol)
        & (st["px_mean"] >= lo.cast("double") - tol)
        & (st["px_mean"] <= hi.cast("double") + tol)
    )
    ok = decoded.filter(
        F.col("image_meta").isNotNull() & st.isNotNull()
    ).select(
        "doc_id",
        F.col("image_meta.width").alias("width"),
        F.col("image_meta.height").alias("height"),
        F.col("image_meta.mode").alias("mode"),
        v.alias("variant"),
        pixel_ok.alias("pixel_ok"),
    )
    return ok


# ---------------------------------------------------------------------------
# q192 — FOREIGN-encoded stream decode e2e (round 8): every other
# decode gate's corpus is written by OUR fixture encoders, so a
# matched encoder/decoder spec misreading passes them by construction
# (the r8 TIFF-LZW early-change bug did exactly that until the
# JVM-ImageIO cross-validation caught it). This gate makes foreign
# streams first-class: the corpus is written by the JVM's own
# javax.imageio writers (PNG with ITS filter heuristics, GIF with ITS
# LZW, BMP, TIFF with ITS LZW width/reset choices, JPEG with ITS
# quant/Huffman table choices — r8 verdict #6), built DRIVER-side
# (the only place py4j can reach the JVM — a bounded fixture-build,
# ~hundreds of small images, like reading a fixture directory) and
# decoded by the default dispatch on the executors. Content is
# doc_id-closed-form (v0 PNG gradient rows, v1 GIF 6-level blocks,
# v2 BMP uniform, v3 TIFF-LZW gradient rows — the gradient rows push
# GIF/TIFF LZW through real dictionary growth; v4 JPEG per-channel
# uniform color — DC-only blocks make the lossy pin tight (±3) while
# the foreign quant/Huffman tables, DC prediction chain, chroma
# subsampling and YCbCr→RGB path all stay on the line; the AC path is
# pinned by tests/test_imageio_crossval.py's tolerance tests), so the
# oracle recomputes membership, dims, and pixel_ok from doc_id alone.
# ---------------------------------------------------------------------------
_Q192_N = 256  # foreign fixtures are built driver-side (the only py4j
# scope), so the corpus is CAPPED — a cross-validation gate needs
# coverage, not SF-proportional volume; without the cap the sequential
# generation dominated the 100× tier (exp 0.51 → ~0 with it)

_Q192_ORACLE = f"""
    SELECT doc_id,
           CAST(16 + (doc_id * 41) % 77 AS INTEGER) AS width,
           CAST(16 + (doc_id * 59) % 71 AS INTEGER) AS height,
           CASE CAST(doc_id % 5 AS INTEGER)
             WHEN 1 THEN 'P' ELSE 'RGB' END AS mode,
           CAST(doc_id % 5 AS INTEGER) AS variant,
           TRUE AS pixel_ok
    FROM (SELECT doc_id FROM documents WHERE doc_id % 23 = 0
          ORDER BY doc_id LIMIT {_Q192_N})
    WHERE doc_id % 69 <> 0
"""


_FOREIGN_CORPUS_CACHE: dict[tuple, list] = {}


def _foreign_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents (doc_id % 23 = 0) → (doc_id, content) written by the
    JVM's ImageIO encoders; every 69th row truncated-after-magic.

    The build is the gate's one driver-side sequential stage (~256
    py4j round-trips, ~80 ms each cold), so the finished row list is
    memoized per sf dir — it is a pure function of the surviving
    doc_ids, and the bench/gate re-invoke the query in one process.
    The key also carries a cheap (size, mtime) signature of
    documents.parquet (ADVICE r9): the ids COME from that table, so an
    in-process regeneration at the same path (a rebuilding test
    fixture) must miss instead of replaying a stale corpus against the
    fresh oracle."""
    import numpy as np

    from anime_data_pipeline_spark.operators.imageio_bridge import (
        jvm_image_from_array,
        jvm_write_image,
    )

    import os

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )

    # one cache-signature contract, one implementation (ADVICE r10
    # #4): reuse the streaming replay's source signature instead of a
    # local near-duplicate that could drift (it covers .json too —
    # harmless extra sensitivity for a parquet table path).
    from anime_data_pipeline_spark.streaming.pipeline import _source_signature

    cache_key = (
        os.path.abspath(sf_dir),
        _source_signature(os.path.join(sf_dir, "documents.parquet")),
    )
    cached = _FOREIGN_CORPUS_CACHE.get(cache_key)
    if cached is not None:
        return _spread(spark.createDataFrame(cached, schema))

    jvm = spark._jvm

    def jvm_write(arr: np.ndarray, fmt: str, compression: str | None = None) -> bytes:
        return jvm_write_image(
            jvm, jvm_image_from_array(jvm, arr), fmt, compression=compression
        )

    ids = [
        int(r[0])
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 23 == 0)
        .select("doc_id")
        .orderBy("doc_id")
        .limit(_Q192_N)
        .collect()
    ]
    rows = []
    for i in ids:
        w = 16 + (i * 41) % 77
        h = 16 + (i * 59) % 71
        g = 40 + i % 160
        v = i % 5
        x = np.arange(w)
        if v == 0:  # PNG, gradient rows (JVM filter heuristics kick in)
            row = (60 + (x * 120) // w).astype(np.uint8)
            arr = np.broadcast_to(row[None, :, None], (h, w, 3)).copy()
            blob = jvm_write(arr, "png")
        elif v == 1:  # GIF: 6-level blocks (lossless through the quantizer)
            base = ((x // 4) % 6 * 40).astype(np.uint8)
            arr = np.broadcast_to(
                np.stack([base, 255 - base, base // 2], axis=1)[None, :, :], (h, w, 3)
            ).copy()
            blob = jvm_write(arr, "gif")
        elif v == 2:  # BMP uniform
            arr = np.full((h, w, 3), g, dtype=np.uint8)
            blob = jvm_write(arr, "bmp")
        elif v == 3:  # TIFF with the JVM's LZW (its width/reset choices)
            row = (60 + (x * 120) // w).astype(np.uint8)
            arr = np.broadcast_to(row[None, :, None], (h, w, 3)).copy()
            blob = jvm_write(arr, "tiff", compression="LZW")
        else:  # JPEG with the JVM's quant/Huffman tables: per-channel
            # uniform (g−40, g, g+40) — DC-only, but chroma ≠ 128 so
            # the color transform and subsampled chroma decode are live
            arr = np.empty((h, w, 3), dtype=np.uint8)
            arr[:, :, 0] = g - 40
            arr[:, :, 1] = g
            arr[:, :, 2] = g + 40  # g ≤ 199, so never clips
            blob = jvm_write(arr, "jpg")
        if i % 69 == 0:
            blob = blob[: 20 + (i % 5)]  # corrupt: truncated after magic
        rows.append((i, bytearray(blob)))
    _FOREIGN_CORPUS_CACHE[cache_key] = rows
    return _spread(spark.createDataFrame(rows, schema))


@register("q192_foreign_stream_decode", oracle=_Q192_ORACLE)
def q192_foreign_stream_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 hardening: the default executor-side dispatch decoding
    streams a FOREIGN encoder wrote, with closed-form pixel pins.
    Cites /root/reference/dataruu/tagger/dbimutils.py:6-26 — the
    reference's PIL path exists precisely because real inputs come
    from arbitrary encoders."""
    from anime_data_pipeline_spark.operators.multimodal import (
        decode_image_pixel_stats,
    )

    decoded = decode_image_pixel_stats(decode_image_meta(_foreign_corpus(spark, sf_dir)))
    i = F.col("doc_id")
    g = (40 + i % 160).cast("int")
    v = (i % 5).cast("int")
    st = F.col("pixel_stats")
    w = st["width"].cast("long")
    grad_hi = (60 + ((w - 1) * 120 / w).cast("int")).cast("int")
    # v1 GIF blocks: base levels {0,40,..,200} → min over channels:
    # ch0 min 0, ch1 min 255-200=55, ch2 min 0 → global min 0; max:
    # ch0 200, ch1 255, ch2 100 → 255 (width ≥ 16 spans ≥ 4 blocks →
    # levels 0..3 always present; level 5 needs x≥20 — avoid assuming)
    # v4 JPEG per-channel uniform (g−40, g, g+40): every block is
    # DC-only, so quantization error is the rounded DC step spread
    # over the block — ±3 levels bounds it across any conformant
    # quant-table choice at ImageIO's default quality; the mean over
    # all three channels recovers g within ±2.
    pixel_ok = (
        F.when(v == 0, (st["px_min"] == 60) & (st["px_max"] == grad_hi))
        .when(v == 1, (st["px_min"] == 0) & (st["px_max"] == 255))
        .when(v == 2, (st["px_min"] == g) & (st["px_max"] == g))
        .when(
            v == 4,
            (F.abs(st["px_min"] - (g - 40)) <= 3)
            & (F.abs(st["px_max"] - (g + 40)) <= 3)
            & (F.abs(st["px_mean"] - g.cast("double")) <= 2.0),
        )
        .otherwise((st["px_min"] == 60) & (st["px_max"] == grad_hi))
    ) & (st["channels"] == 3)
    return decoded.filter(
        F.col("image_meta").isNotNull() & st.isNotNull()
    ).select(
        "doc_id",
        F.col("image_meta.width").alias("width"),
        F.col("image_meta.height").alias("height"),
        F.col("image_meta.mode").alias("mode"),
        v.alias("variant"),
        pixel_ok.alias("pixel_ok"),
    )
