"""Training-corpus curation plan: the LLM-data pipeline composed
end-to-end (BASELINE north star) —

    quality filter → exact dedup → MinHash-LSH near-dup removal

Shuffle budget at 100 TB: the quality stage is map-only; exact dedup
shuffles 8-byte content hashes once; near-dup detection runs on the
(much smaller) unique survivor set; the final anti-join shuffles ids
only. Every stage is deterministic, so the whole chain is
oracle-checkable (queries/curation_q).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from anime_data_pipeline_spark.functions.hashing import polyhash
from anime_data_pipeline_spark.operators.dedup import minhash_lsh_pairs
from anime_data_pipeline_spark.operators.textstats import quality_columns


def _parse_bytes(v: str | int) -> int:
    """Spark size-string → bytes ("128MB", "4194304b", "1g", 42)."""
    if isinstance(v, int):
        return v
    s = str(v).strip().lower()
    mult = 1
    for suffix, m in (
        ("tb", 1 << 40), ("gb", 1 << 30), ("mb", 1 << 20), ("kb", 1 << 10),
        ("t", 1 << 40), ("g", 1 << 30), ("m", 1 << 20), ("k", 1 << 10),
        ("b", 1),
    ):
        if s.endswith(suffix):
            s, mult = s[: -len(suffix)], m
            break
    return int(s) * mult


def scan_input_splits(df: DataFrame) -> int | None:
    """The number of input splits Spark's file-scan partitioning will
    give this plan's LEAF scans — computed from the logical plan's
    input files and the FilePartition split formula, WITHOUT forcing
    physical planning (AQE-safe) and independent of whether the plan's
    final stage is a shuffle.

    Returns None when it can't know: no file-scan leaves (local
    relation, memory sink) or non-local/unstat-able paths — callers
    fall back to the partition-count heuristic there.

    Formula mirror of BOTH halves of FilePartition.getFilePartitions
    (r11 ADVICE #1: `Σ ceil(size/maxSplitBytes)` models file
    *splitting* but not the *bin-packing* of small files into shared
    partitions, so a many-tiny-files layout over-counted and the guard
    silently no-opped while the scan was under-split):

      maxSplitBytes = min(maxPartitionBytes,
                          max(openCostInBytes, totalBytes/minPart))
      chunks        = each file cut into maxSplitBytes pieces,
                      sorted descending (parquet/orc are splittable;
                      for non-splittable formats this over-cuts, which
                      can only make the guard a no-op, never add a
                      spurious exchange)
      partitions    = greedy pack: close the open bin when
                      cur + chunk > maxSplitBytes, then charge
                      chunk + openCostInBytes to the bin

    A multi-source plan (joined dims) counts every side's files, so
    the guard is for scan/union-shaped inputs."""
    import os
    from urllib.parse import unquote, urlparse

    files = df.inputFiles()
    if not files:
        return None
    sizes = []
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("file", ""):
            return None
        path = unquote(u.path)
        try:
            sizes.append(os.path.getsize(path))
        except OSError:
            return None
    spark = df.sparkSession

    def _conf(key: str, fallback: str) -> str:
        # conf.get type-validates even the DEFAULT, so an unset
        # optional conf probed with "" raises — catch instead.
        try:
            return spark.conf.get(key, fallback)
        except Exception:
            return fallback

    max_part = _parse_bytes(_conf("spark.sql.files.maxPartitionBytes", "128MB"))
    open_cost = _parse_bytes(_conf("spark.sql.files.openCostInBytes", "4MB"))
    raw_min = _conf("spark.sql.files.minPartitionNum", "")
    min_part = int(raw_min) if raw_min else spark.sparkContext.defaultParallelism
    total = sum(s + open_cost for s in sizes)
    bytes_per_core = total // max(min_part, 1)
    max_split = min(max_part, max(open_cost, bytes_per_core))
    chunks: list[int] = []
    for s in sizes:
        n_full, rem = divmod(s, max_split)
        chunks.extend([max_split] * n_full)
        if rem:
            chunks.append(rem)
    chunks.sort(reverse=True)
    bins, cur = 0, 0
    for c in chunks:
        if cur + c > max_split and cur > 0:
            bins, cur = bins + 1, 0
        cur += c + open_cost
    if cur > 0:
        bins += 1
    return max(bins, 1)


def ensure_map_parallelism(df: DataFrame, *keys: str) -> DataFrame:
    """Fan the corpus out ONLY when the scan yields fewer splits than
    cores. The quality/langid scoring stage is the chain's largest
    map-CPU block, and a single-row-group parquet layout (the test-SF
    shape; in production, any source with fewer files than executors)
    pins it to one task while the rest of the cluster idles — the
    round-9 `_spread` finding, generalized to the text chains. The
    guard keeps the policy scale-safe: a production scan already
    carries >= parallelism splits, so NO shuffle is added there; in
    the under-split regime one pass of the raw text buys full-width
    scoring, dedup hashing, and shingling.

    The under-split probe is ``scan_input_splits`` — the LEAF scans'
    split count from file sizes + the FilePartition formula — not
    ``df.rdd.getNumPartitions()`` (r10 verdict #5): the RDD probe
    forced physical planning outside AQE, and on a shuffle-final plan
    it reports spark.sql.shuffle.partitions, silently no-opping even
    when the upstream scan is one split. File-less plans (local
    relations) fall back to the RDD probe, where partition count IS
    the honest answer.

    ``keys``: optional hash-partitioning columns for the fan-out
    exchange (the decode chains spread on ``doc_id`` so a downstream
    keyed op can reuse the partitioning); empty → round-robin, the
    right default for pure map stages."""
    spark = df.sparkSession
    p = spark.sparkContext.defaultParallelism
    splits = scan_input_splits(df)
    if splits is None:
        splits = df.rdd.getNumPartitions()
    if splits < p:
        return df.repartition(p, *[F.col(k) for k in keys]) if keys else df.repartition(p)
    return df


def _dedup(
    kept: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    k: int,
    bands: int,
    jaccard_threshold: float,
) -> DataFrame:
    """The dedup steps both curation entry points share: exact dedup on
    a content-hash pair, then MinHash-LSH near-dup removal.

    Exact dedup keeps the min-id row per content-hash PAIR. Two
    independent polynomial hashes (base 31 + 37) push the per-pair
    false-collapse probability from ~1/P to ~1/P² (≈1e-18) — a single
    ~2^30 hash silently drops ~N²/2P unrelated docs at corpus scale.
    The shuffle key stays two 8-byte ints, never the text payload.

    Near-dup policy: for every verified pair (id_a < id_b) the LARGER
    id is dropped — greedy, deterministic, one anti-join.

    The exact-dedup survivor set feeds two consumers (the LSH signature
    build and the anti-join left side) and its lineage holds the
    caller's scoring expression forest plus the dedup window — it is
    persisted rather than recomputed per consumer. At 100 TB this is
    the stage boundary you'd parquet-checkpoint.
    """
    hashed = kept.withColumn("_ch", polyhash(F.col(text_col))).withColumn(
        "_ch2", polyhash(F.col(text_col), 37)
    )
    keeper = F.min(id_col).over(W.partitionBy("_ch", "_ch2"))
    uniq = (
        hashed.withColumn("_keeper", keeper)
        .filter(F.col(id_col) == F.col("_keeper"))
        .drop("_ch", "_ch2", "_keeper")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pairs = minhash_lsh_pairs(
        uniq, id_col, text_col, n=n, k=k, bands=bands, threshold=jaccard_threshold
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return uniq.join(losers, id_col, "left_anti")


def curate_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_threshold: float = 0.7,
    n: int = 3,
    k: int = 12,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Returns the curated corpus (survivor rows + quality columns):
    the quality gate, then :func:`_dedup`.

    Cache lifecycle (r11 verdict #3): the survivor set is persisted
    BEHIND the returned lazy plan (two consumers), so this function
    cannot unpersist it without forcing eager evaluation — CALLERS own
    the release, after materializing the result:
    ``spark.catalog.clearCache()`` (what perfbench's ``run_llm`` does
    after writing the chain, and ``scripts/driver_check.py`` between
    queries) or a targeted ``unpersist()``. Same convention as
    ``operators/terms.py`` tf/vocab side-tables. At 100 TB the persist
    becomes a parquet checkpoint and the question disappears.

    The persists stay because every consumer would otherwise re-run the
    scoring and hash folds: dropping all three (this survivor set,
    ``prepare_pretraining_corpus``' survivors, ``minhash_lsh_pairs``'
    signature table) raised the chain's warm noop CPU from 5.43 to
    7.52 s (+38%; perfbench ``llm_curation`` seed-1 documents,
    ``local[4]`` on 4 vCPU, process-tree CPU less JIT, median of 5).
    """
    scored = quality_columns(ensure_map_parallelism(df), text_col)
    # Project before the exchange (same discipline as
    # prepare_pretraining_corpus): the keeper window shuffles whole
    # rows by (_ch, _ch2); every consumer of the curated corpus (q35's
    # projection, the LSH signature build, the recall/editdist tests)
    # reads only (id, text, n_tokens, quality_score), so the other six
    # scored ratio columns are dead weight through the shuffle and the
    # persisted survivor set. Input columns pass through; the two
    # explicitly re-selected quality outputs are excluded from them so
    # an input already carrying n_tokens/quality_score cannot project a
    # duplicate name (any other same-named input column, e.g.
    # punct_ratio, passes through holding the computed value).
    other = [
        c for c in df.columns if c not in (id_col, text_col, "n_tokens", "quality_score")
    ]
    kept = scored.filter(F.col("quality_score") >= quality_threshold).select(
        id_col, text_col, *other, "n_tokens", "quality_score"
    )
    return _dedup(kept, id_col, text_col, n, k, bands, jaccard_threshold)


def prepare_pretraining_corpus(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    lang: str = "en",
    quality_threshold: float = 0.7,
    n: int = 3,
    k: int = 12,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    contam_n: int = 8,
    budget: int = 256,
) -> DataFrame:
    """The COMPLETE pretraining-data preparation chain as one lazy DAG:

        language-ID + quality filter     (map-only)
      → exact dedup                      (8-byte hash shuffle)
      → MinHash-LSH near-dup removal     (banded join on survivors)
      → benchmark decontamination        (bench universe broadcast)
      → greedy sequence packing          (per-source, budget tokens)

    Each stage shrinks the data before the next shuffle; the stages
    are the q51-q86 operators composed, and the whole chain is
    oracle-checked end-to-end (q88). The two dedup stages are
    :func:`_dedup`, shared with ``curate_corpus``. Returns
    (id, group, n_tokens, chunk_id) — the packed training manifest.

    Cache lifecycle: as in ``curate_corpus`` — the two persisted stage
    boundaries ride behind the returned lazy plan; callers release
    them after materialization (perfbench's ``run_llm`` and
    ``scripts/driver_check.py`` call ``clearCache``; ``curate_corpus``
    says why the persists stay)."""
    from anime_data_pipeline_spark.operators.dedup import benchmark_contamination
    from anime_data_pipeline_spark.operators.packing import pack_greedy
    from anime_data_pipeline_spark.operators.textstats import language_id

    scored = quality_columns(
        language_id(ensure_map_parallelism(docs), text_col), text_col
    )
    # Project before the exchange: the dedup window shuffles whole
    # rows by (_ch, _ch2), and everything past the quality gate needs
    # only (id, group, text) plus the token count the packing stage
    # consumes — which quality_columns already computed (``n_tokens``
    # IS ws_token_count's expression). Carrying the 8-byte count
    # instead of re-tokenizing the survivors at the packing stage, and
    # dropping the other 9 scored columns, shrinks every downstream
    # shuffle and the persisted stage boundaries.
    kept = scored.filter(
        (F.col("pred_lang") == lang)
        & (F.col("quality_score") >= quality_threshold)
    ).select(id_col, group_col, text_col, "n_tokens")

    # survivors feeds two consumers (contamination and its anti-join
    # left side): persist the shrunk set rather than recompute the
    # dedup chain per consumer.
    survivors = _dedup(kept, id_col, text_col, n, k, bands, jaccard_threshold).persist(
        StorageLevel.MEMORY_AND_DISK
    )

    contaminated = (
        benchmark_contamination(survivors, bench, id_col, text_col, n=contam_n)
        .filter(F.col("n_hits") > 0)
        .select(F.col("doc").alias(id_col))
    )
    clean = survivors.join(contaminated, id_col, "left_anti")

    weighted = clean.select(id_col, group_col, "n_tokens")
    return pack_greedy(weighted, group_col, id_col, "n_tokens", budget)
