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

from anime_data_pipeline_spark.functions.hashing import (
    token_hashes_spark_expr,
    tokens_spark_expr,
)
from anime_data_pipeline_spark.operators.dedup import minhash_lsh_pairs
from anime_data_pipeline_spark.operators.textstats import quality_columns


def scan_input_splits(df: DataFrame) -> int | None:
    """The number of tasks Spark's file scans give this plan's map
    stage: the sum of the input-RDD partition counts of the
    ``FileSourceScanExec`` leaves of the physical plan before AQE
    (under AQE the executed plan is itself one leaf), so a
    shuffle-final plan still reports its scans. The build side of a
    broadcast join runs in a job of its own, not in this stage, so
    only the stream side is counted. Planning lists and packs the
    files; nothing executes. None when a counted leaf is not a file
    scan (local relation, range, cached relation)."""
    splits = 0
    todo = [df._jdf.queryExecution().sparkPlan()]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if name in ("BroadcastHashJoinExec", "BroadcastNestedLoopJoinExec"):
            build_left = node.buildSide().toString() == "BuildLeft"
            todo.append(node.right() if build_left else node.left())
            continue
        children = node.children()
        if children.isEmpty():
            if name != "FileSourceScanExec":
                return None
            splits += node.inputRDD().getNumPartitions()
        todo.extend(children.apply(i) for i in range(children.size()))
    return splits


def ensure_map_parallelism(df: DataFrame, *keys: str) -> DataFrame:
    """Fan the input out to ``defaultParallelism`` tasks when its scans
    give fewer splits than that. The map stage after it (the curation
    chains' scoring, their largest CPU block) would otherwise run as
    one task on a source with fewer splits than cores, such as one
    file with one row group. A scan that already carries enough splits
    passes through with no added shuffle.

    The count is :func:`scan_input_splits`, not the final stage's
    partition count, which on a shuffle-final plan reports
    ``spark.sql.shuffle.partitions``. Plans with a non-file leaf fall
    back to ``df.rdd.getNumPartitions()``.

    ``keys``: optional hash-partitioning columns for the fan-out
    exchange; none gives round-robin."""
    p = df.sparkSession.sparkContext.defaultParallelism
    splits = scan_input_splits(df)
    if splits is None:
        splits = df.rdd.getNumPartitions()
    return df.repartition(p, *keys) if splits < p else df


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
    a content-hash pair, then MinHash-LSH near-dup removal. Returns the
    survivors with one extra column, ``_th``: each document's token-hash
    array, which the caller drops before returning.

    Exact dedup keeps the min-id row per content-hash PAIR: Spark's
    native ``xxhash64(text)`` and ``hash(text)`` (Murmur3), 64 + 32
    independent bits. Both are code-generated, where a per-character
    polynomial fold is an interpreted higher-order function, and two
    distinct texts share a group only if both hashes collide (~2^-96
    per pair, against ~2^-60 for two base-31/37 polynomial hashes mod
    P). The shuffle key stays two ints, never the text payload.

    Near-dup policy: for every verified pair (id_a < id_b) the LARGER
    id is dropped — greedy, deterministic, one anti-join.

    The exact-dedup survivor set ``uniq`` is the chain's one persist.
    It has two consumers, the LSH band join and the anti-join left
    side, and its lineage holds the caller's scoring expression forest
    plus the dedup window. Recomputing it for the
    second consumer costs more than the cache: dropping this persist
    raised the pretraining chain's warm non-JIT CPU from 3.19 to 4.16 s
    (+30%; perfbench ``llm_curation`` seed-1 documents, ``local[4]`` on
    4 vCPU, median of 6 alternating runs). At 100 TB this is
    the stage boundary you'd parquet-checkpoint. ``_th`` is computed
    once, after the keeper window (so neither the shuffle nor the
    duplicates carry it), and rides the persist: the n-gram folds of
    the LSH stage here and of the caller's contamination stage read it
    instead of splitting and hashing the text again.
    """
    text = F.col(text_col)
    keeper = F.min(id_col).over(W.partitionBy(F.xxhash64(text), F.hash(text)))
    uniq = (
        kept.withColumn("_keeper", keeper)
        .filter(F.col(id_col) == F.col("_keeper"))
        .drop("_keeper")
        .withColumn("_th", F.expr(token_hashes_spark_expr(tokens_spark_expr(text_col))))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pairs = minhash_lsh_pairs(
        uniq, id_col, text_col, n=n, k=k, bands=bands, threshold=jaccard_threshold,
        th_col="_th",
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

    Cache lifecycle (r11 verdict #3): one RDD is persisted BEHIND the
    returned lazy plan, :func:`_dedup`'s exact-dedup survivors
    ``uniq`` (two consumers; ``_dedup`` says why it stays). This
    function cannot unpersist it without forcing eager evaluation —
    CALLERS own the release, after materializing the result:
    ``spark.catalog.clearCache()`` (what perfbench's ``run_llm`` does
    after writing the chain, and ``scripts/driver_check.py`` between
    queries) or a targeted ``unpersist()``. Same convention as
    ``operators/terms.py`` tf/vocab side-tables. At 100 TB the persist
    becomes a parquet checkpoint and the question disappears.
    """
    scored = quality_columns(ensure_map_parallelism(df), text_col)
    # Project before the exchange (same discipline as
    # prepare_pretraining_corpus): the keeper window shuffles whole
    # rows by their content hashes; every consumer of the curated
    # corpus (q35's projection, the LSH signature build, the
    # recall/editdist tests) reads only (id, text, n_tokens,
    # quality_score), so the other six scored ratio columns are dead
    # weight through the shuffle and the persisted survivor set. Input columns pass through; the two
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
    return _dedup(kept, id_col, text_col, n, k, bands, jaccard_threshold).drop("_th")


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

    Cache lifecycle: as in ``curate_corpus`` — the one persisted stage
    boundary, :func:`_dedup`'s ``uniq``, rides behind the returned lazy
    plan; callers release it after materialization (perfbench's
    ``run_llm`` and ``scripts/driver_check.py`` call ``clearCache``;
    ``_dedup`` says why it stays). The dedup survivors need no persist
    of their own: decontamination carries the packing columns through
    its groupBy (one row per survivor) and the clean set is a filter on
    it, so they have one consumer."""
    from anime_data_pipeline_spark.operators.dedup import benchmark_contamination
    from anime_data_pipeline_spark.operators.packing import pack_greedy
    from anime_data_pipeline_spark.operators.textstats import language_id

    scored = quality_columns(
        language_id(ensure_map_parallelism(docs), text_col), text_col
    )
    # Project before the exchange: the dedup window shuffles whole
    # rows by their content hashes, and everything past the quality
    # gate needs only (id, group, text) plus the token count the
    # packing stage consumes — which quality_columns already computed
    # (``n_tokens`` IS ws_token_count's expression). Carrying the 8-byte count
    # instead of re-tokenizing the survivors at the packing stage, and
    # dropping the other 9 scored columns, shrinks every downstream
    # shuffle and the persisted stage boundary.
    kept = scored.filter(
        (F.col("pred_lang") == lang)
        & (F.col("quality_score") >= quality_threshold)
    ).select(id_col, group_col, text_col, "n_tokens")

    survivors = _dedup(kept, id_col, text_col, n, k, bands, jaccard_threshold)
    clean = (
        benchmark_contamination(
            survivors, bench, id_col, text_col, n=contam_n,
            carry=(group_col, "n_tokens"), th_col="_th",
        )
        .filter(F.col("n_hits") == 0)
        .select(F.col("doc").alias(id_col), group_col, "n_tokens")
    )
    return pack_greedy(clean, group_col, id_col, "n_tokens", budget)
