"""Perceptual image hashing + pixel-level near-duplicate detection
(dHash) — the image twin of the text dedup family (SURVEY dedup
extension; the LAION-style "same picture re-encoded/resized" dedup
every multimodal training corpus needs before contrastive training).

Design (the public dHash algorithm): decoded pixels → integer
grayscale (channel mean) → 9×8 integer area-mean pooling → 64
horizontal-gradient bits (is the right pooled cell brighter than the
left?) → one 64-bit fingerprint. Re-encoding, resizing, and small
noise leave most gradient signs intact, so near-dups sit at small
Hamming distance; the detector is the SimHash recipe over pixels:

  band the 64-bit hash into 4×16-bit keys → equi-join on
  (band_idx, band_val) — any pair within Hamming ≤ 4 of each other
  shares at least one intact band (pigeonhole: 4 flips cannot hit
  all 4 bands… they can hit at most 4, so pairs at distance ≤ 3 are
  guaranteed; distance-4 pairs are caught unless every flip lands in
  a distinct band) → popcount verify on the XOR.

Scale: hashing is map-only inside the same Arrow-batched mapInPandas
workers as the decode stages; the join shuffles (band_idx, 2-byte
band) keys + 8-byte hashes — never pixels. Same sub-quadratic profile
as the q33 SimHash text path; hot bands (e.g. all-black thumbnails
hashing to 0) are bounded with a band-frequency cap like max_df.

Everything is integer math end-to-end (channel mean = sum // ch,
pooled cell = block sum // block area, strict > comparison), so the
DuckDB oracle replays the exact bits from a closed-form pixel
construction — no float resize in the fingerprint path.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

GRID_W = 9  # pooled columns (GRID_W - 1 = 8 horizontal gradients/row)
GRID_H = 8  # pooled rows


def dhash_from_pixels(arr: np.ndarray) -> int:
    """(h, w) or (h, w, ch) uint8/uint16 array → signed 64-bit dHash.

    Integer-exact: gray = channel sum // ch; pooled cell = block
    sum // block area over the floor(i*h/GRID_H) edge lattice (blocks
    of a uniformly-filled region pool to exactly that value); bit
    (y, x) = pooled[y, x+1] > pooled[y, x], packed MSB-first (bit
    y*8+x into position 63-(y*8+x)), wrapped to signed int64."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    if h == 0 or w == 0:
        return 0
    # gray over COLOR channels only — folding alpha in would make an
    # opaque RGBA re-encode hash differently from its RGB twin, the
    # exact duplicate pair this operator exists to catch; 2-channel
    # arrays are luma+alpha (PNG color type 4), so only channel 0 is color
    nc = 1 if ch == 2 else min(ch, 3)
    gray = arr[:, :, :nc].astype(np.int64).sum(axis=2) // nc
    # images smaller than the pooling grid (1x1 tracking pixels, tiny
    # thumbnails) integer-upscale first — floor edges would otherwise
    # produce empty blocks (division by zero)
    if h < GRID_H:
        gray = np.repeat(gray, -(-GRID_H // h), axis=0)
        h = gray.shape[0]
    if w < GRID_W:
        gray = np.repeat(gray, -(-GRID_W // w), axis=1)
        w = gray.shape[1]
    ye = [(i * h) // GRID_H for i in range(GRID_H + 1)]
    xe = [(j * w) // GRID_W for j in range(GRID_W + 1)]
    pooled = np.empty((GRID_H, GRID_W), dtype=np.int64)
    for y in range(GRID_H):
        for x in range(GRID_W):
            block = gray[ye[y] : ye[y + 1], xe[x] : xe[x + 1]]
            pooled[y, x] = int(block.sum()) // block.size
    bits = 0
    for y in range(GRID_H):
        for x in range(GRID_W - 1):
            if pooled[y, x + 1] > pooled[y, x]:
                bits |= 1 << (63 - (y * 8 + x))
    return bits - (1 << 64) if bits >= 1 << 63 else bits


def image_dhash(
    df: DataFrame, content_col: str = "content", out_col: str = "dhash"
) -> DataFrame:
    """mapInPandas: binary image column → signed-int64 dHash column
    (null for corrupt/undecodable bytes — the dropped-with-count
    contract). Decodes through the shared magic-byte dispatch, so any
    container (PNG/GIF/JPEG/BMP/TIFF) hashes identically for identical
    pixels."""
    out_schema = T.StructType(df.schema.fields + [T.StructField(out_col, T.LongType())])

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from anime_data_pipeline_spark.operators.multimodal import (
            image_pixel_decoder_loader,
        )

        decode = image_pixel_decoder_loader()()
        for pdf in batches:
            hashes = []
            for content in pdf[content_col]:
                arr = decode(bytes(content)) if content is not None else None
                hashes.append(None if arr is None else dhash_from_pixels(arr))
            pdf = pdf.copy()
            pdf[out_col] = pd.array(hashes, dtype="Int64")
            yield pdf

    return df.mapInPandas(hash_batch, schema=out_schema)


def dhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "dhash",
    max_hamming: int = 4,
    max_band_freq: int | None = 1024,
) -> DataFrame:
    """(id_a, id_b, hamming) near-dup pairs with id_a < id_b: 4×16-bit
    band equi-join → distinct candidates → popcount(xor) ≤
    max_hamming. ``max_band_freq`` drops degenerate hot bands (the
    max_df analogue: a band shared by more than this many images —
    all-uniform thumbnails — contributes candidate pairs
    quadratically while carrying no discriminating signal); ``None``
    skips the frequency pass entirely (callers whose corpus bounds
    band multiplicity by construction, e.g. the q181 gate whose
    oracle join is uncapped)."""
    # persist: the hash table (id + 8 bytes) is consumed by the band
    # frequency agg, the anti-join probe, and BOTH self-join sides —
    # without this the upstream decode+hash mapInPandas lineage runs
    # up to four times. (dedup.band_candidates persists nothing: its
    # signature table has one consumer, the band explode, and the
    # verify columns ride the join as the hash does here.)
    base = (
        df.select(F.col(id_col).alias("id"), F.col(hash_col).alias("h"))
        .filter(F.col("h").isNotNull())
        .persist()
    )
    h = F.col("h")
    bands = F.array(
        *[F.shiftrightunsigned(h, 16 * b).bitwiseAND(F.lit(0xFFFF)) for b in range(4)]
    )
    hashed = base.select(
        "id",
        "h",
        F.posexplode(bands).alias("band_idx", "band_val"),
    )
    if max_band_freq is not None:
        freq = hashed.groupBy("band_idx", "band_val").agg(
            F.count(F.lit(1)).alias("n_band")
        )
        hashed = hashed.join(
            F.broadcast(freq.filter(F.col("n_band") > max_band_freq)),
            ["band_idx", "band_val"],
            "left_anti",
        )
    a, b = hashed.alias("a"), hashed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.h").alias("h_a"),
            F.col("b.h").alias("h_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
