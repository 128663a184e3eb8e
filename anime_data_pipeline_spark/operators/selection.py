"""Data-selection operators for training-corpus curation.

Two selection families the reference pipeline approximates with a
single aesthetic-score threshold (run.py:87-88,
merge_final_train_metadata.py:14 — scalar filter against a fixed
cutoff), generalized to the forms a 100 TB text pipeline needs:

- **DSIR importance weighting** (Xie et al., "Data Selection for
  Language Models via Importance Resampling", NeurIPS 2023): score
  every raw document by how much more likely its hashed n-gram profile
  is under a target distribution than under the raw-corpus
  distribution.  log w(x) = Σ_b c_b(x) · (log p_target[b] − log
  q_raw[b]) over B fixed hash buckets.
- **Rank-based adaptive quality threshold**: instead of one global
  cutoff, drop the bottom q-fraction *per group* (per language) by a
  deterministic (score, id) rank — a per-group discrete quantile
  filter with no floating-point boundary semantics.

Scale story (100 TB):

- DSIR is two aggregations over (doc, bucket) pairs plus one broadcast
  join. The bucket vocabulary is FIXED (B buckets, default 1024), so
  the distribution tables are B rows regardless of corpus size —
  always broadcastable. Per-doc bucket counts shuffle (doc, bucket,
  cnt) triples whose count is ≤ tokens; map-side combine collapses
  repeated buckets within a partition first. No driver collect; the
  log-ratio table stays a DataFrame.
- The adaptive threshold is one shuffle by group + a per-group window.
  Group cardinality = languages (small); rank is by (score, id) so the
  kept set is deterministic at any parallelism — no percentile
  interpolation, hence no cross-engine IEEE boundary risk.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from anime_data_pipeline_spark.functions.hashing import (
    P,
    polyhash_spark_expr,
    shingle_hashes_spark_expr,
    token_hashes_spark_expr,
    tokens_spark_expr,
)

DEFAULT_BUCKETS = 1024


def doc_bucket_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    buckets: int = DEFAULT_BUCKETS,
    carry: tuple[str, ...] = (),
    pretokenized: bool = False,
) -> DataFrame:
    """(doc, [carry…], bucket, cnt) — per-document hashed n-gram bucket
    counts; ``carry`` columns (functionally dependent on the doc id)
    ride through the explode and the group keys.

    The explode→groupBy carries 8-byte (doc, bucket) keys, never text;
    partial aggregation collapses within-partition repeats before the
    exchange.

    The featurizer is the DSIR paper's hashed unigram+bigram n-gram
    profile with the cross-engine polynomial hash. The token-hash array
    is materialized as a column BEFORE the bigram fold — the shingle fold
    references it per element, and a nested expression would be
    re-evaluated per reference (the expression-tree discipline from
    SCALE.md; measured 8× on this operator).
    """
    toks_expr = f"`{text_col}`" if pretokenized else tokens_spark_expr(text_col)
    th_df = df.select(
        F.col(id_col).alias("doc"),
        *[F.col(c) for c in carry],
        F.expr(token_hashes_spark_expr(toks_expr)).alias("_th"),
    )
    grams = f"concat(_th, {shingle_hashes_spark_expr('_th', 2)})"
    return (
        th_df.select(
            "doc",
            *carry,
            F.explode(
                F.expr(f"transform({grams}, h -> h % {buckets})")
            ).alias("bucket"),
        )
        .groupBy("doc", *carry, "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def dsir_logweights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_pred: Column,
    buckets: int = DEFAULT_BUCKETS,
    pretokenized: bool = False,
) -> DataFrame:
    """(doc, dsir_logw) — DSIR importance log-weight per document.

    ``target_pred`` marks the in-domain target subset (the reference's
    analogue: the aesthetic-score-passing subset); the raw distribution
    is the whole input. Buckets absent from the target contribute the
    smoothed floor log(1/(total+B)), exactly as in the oracle.

    Plan shape: because target ⊆ raw, BOTH distributions come from ONE
    groupBy(bucket) with a conditional sum (map-side partial agg to ≤B
    buckets per partition — the exchange carries B-sized partials, not
    rows), totals from the B-row table itself, and the B-row log-ratio
    table broadcasts back onto the per-doc counts. The corpus is
    featurized exactly twice (distribution pass + per-doc pass), both
    map-only scans — no persisted intermediate, no driver collect.
    (An earlier 4-consumer spelling recomputed the (doc,bucket) agg per
    distribution; persisting it measured SLOWER than this two-pass
    shape — 5.0 s vs 2.6 s at sf0.1 — because the cache barrier blocks
    codegen fusion while each pass is a cheap scan.)
    """
    base = df.select(
        F.col(id_col).alias("doc"), F.col(text_col).alias("_t"), target_pred.alias("_is_t")
    )
    counts = doc_bucket_counts(
        base, "doc", "_t", buckets, carry=("_is_t",), pretokenized=pretokenized
    )
    dist = counts.groupBy("bucket").agg(
        F.sum("cnt").alias("mass_q"),
        F.coalesce(F.sum(F.when(F.col("_is_t"), F.col("cnt"))), F.lit(0).cast("long")).alias(
            "mass_p"
        ),
    )
    totals = dist.agg(
        F.sum("mass_q").alias("_tq"), F.sum("mass_p").alias("_tp")
    )
    b = F.lit(float(buckets))
    ratio = dist.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log((F.col("mass_p") + F.lit(1.0)) / (F.col("_tp") + b))
            - F.log((F.col("mass_q") + F.lit(1.0)) / (F.col("_tq") + b))
        ).alias("logratio"),
    )
    return (
        counts.join(F.broadcast(ratio), "bucket")
        .groupBy("doc")
        .agg(F.sum(F.col("cnt") * F.col("logratio")).alias("dsir_logw"))
    )


def quantile_filter_by_rank(
    df: DataFrame,
    group_col: str,
    score_col: str,
    id_col: str,
    drop_frac: float = 0.25,
) -> DataFrame:
    """Drop the bottom ``drop_frac`` of each group by (score, id) rank.

    The cutoff is *discrete*: each group of n rows loses exactly
    ``floor(drop_frac * n)`` rows — the lowest by (score asc, id asc).
    No interpolated percentile, so membership is bit-deterministic in
    any engine/parallelism. One shuffle on the group key; the window
    partitions by group (language-sized, not corpus-sized).
    """
    w = Window.partitionBy(group_col).orderBy(F.col(score_col).asc(), F.col(id_col).asc())
    wc = Window.partitionBy(group_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count("*").over(wc))
        .filter(F.col("_rn") > F.floor(F.lit(drop_frac) * F.col("_n")))
        .drop("_rn", "_n")
    )


def rank_band_filter(
    df: DataFrame,
    group_col: str,
    score_col: str,
    id_col: str,
    lo: float = 0.25,
    hi: float = 0.75,
) -> DataFrame:
    """Keep each group's (lo, hi] band by (score, id) rank — the CCNet
    move (Wenzek et al. 2020): bucket documents by LM perplexity per
    group and keep the middle band (the head is boilerplate-like, the
    tail is noise). Discrete ranks, no percentile interpolation — same
    determinism argument as :func:`quantile_filter_by_rank`; one
    shuffle on the group key.
    """
    w = Window.partitionBy(group_col).orderBy(F.col(score_col).asc(), F.col(id_col).asc())
    wc = Window.partitionBy(group_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count("*").over(wc))
        .filter(
            (F.col("_rn") > F.floor(F.lit(lo) * F.col("_n")))
            & (F.col("_rn") <= F.floor(F.lit(hi) * F.col("_n")))
        )
        .drop("_rn", "_n")
    )


def gumbel_topk(
    df: DataFrame,
    id_col: str,
    logw_col: str,
    n: int,
    a: int = 48_271,
    b: int = 11,
) -> DataFrame:
    """Deterministic Gumbel top-k sampling: draw ``n`` rows with
    probability ∝ exp(logw) — the actual RESAMPLING step of DSIR
    (importance weights alone don't change the corpus; this does).

    key = logw + Gumbel noise, with the noise derived from a seeded
    hash of the id: u = (((a·(id mod P) + b) mod P) + 1)/(P + 1) ∈
    (0, 1), g = −ln(−ln(u)). Gumbel-max gives exact softmax sampling
    without replacement on the top-k of the keys (Vieira 2014) — and
    seeded-hash uniforms make the draw reproducible at any parallelism
    and in any engine, the same determinism redesign as the corpus
    shuffles (O1/O2). Ranking uses the ROUNDED key (ties → id) so
    exp/ln last-ulp engine differences cannot flip membership.

    Selection is ``orderBy(desc(key), id).limit(n)`` so Spark plans
    ``TakeOrderedAndProject`` — per-partition top-n heaps, only n rows
    ever reach a single task; the rank window then runs over the n-row
    survivor set, never the corpus (the previous version ranked the
    FULL corpus through one unpartitioned window task).
    """
    h = (F.lit(a) * (F.col(id_col).cast("long") % F.lit(P)) + F.lit(b)) % F.lit(P)
    u = (h + F.lit(1)).cast("double") / F.lit(float(P + 1))
    gumbel = -F.log(-F.log(u))
    from anime_data_pipeline_spark.functions.compat import dround

    top = (
        df.withColumn("_gk", dround(F.col(logw_col) + gumbel, 6))
        .orderBy(F.desc("_gk"), F.asc(id_col))
        .limit(int(n))
    )
    w = Window.partitionBy().orderBy(F.desc("_gk"), F.asc(id_col))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .withColumnRenamed("_gk", "gumbel_key")
    )


def group_js_divergence(
    df: DataFrame,
    group_col: str,
    text_col: str,
    buckets: int = 256,
) -> DataFrame:
    """(group_a, group_b, js_div) — pairwise Jensen–Shannon divergence
    between the hashed-unigram token distributions of each group
    (typically ``source``): the corpus-drift probe that tells a mixing
    stage which sources are near-duplicates of each other and which
    bring genuinely new token mass (complements q105's numeric-feature
    PSI with a content-level signal).

    Distributions are add-one smoothed over B FIXED hash buckets, so
    each group's distribution is a dense B-row table regardless of
    corpus size. JS = ½·KL(p‖m) + ½·KL(q‖m) with m = (p+q)/2, natural
    log; smoothing keeps every term finite.

    Plan shape: one explode→groupBy((group, bucket)) with map-side
    combine (the exchange carries ≤ |groups|·B partial rows per
    partition, never tokens), then all downstream joins run on
    |groups|·B-row tables — broadcast-sized at any corpus scale. The
    pair join produces |groups|²·B rows; group cardinality is sources
    (small) by construction.
    """
    counts = (
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(
                F.expr(
                    f"transform({tokens_spark_expr(text_col)}, "
                    f"t -> ({polyhash_spark_expr('t')}) % {buckets})"
                )
            ).alias("bucket"),
        )
        .groupBy("grp", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = counts.groupBy("grp").agg(F.sum("cnt").alias("tot"))
    grid = totals.select(
        "grp", "tot", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1))).alias("bucket")
    )
    dense = grid.join(counts, ["grp", "bucket"], "left").select(
        "grp",
        "bucket",
        (
            (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(1.0))
            / (F.col("tot") + F.lit(float(buckets)))
        ).alias("p"),
    )
    a = dense.select(
        F.col("grp").alias("group_a"), "bucket", F.col("p").alias("pa")
    )
    b = dense.select(
        F.col("grp").alias("group_b"), "bucket", F.col("p").alias("pb")
    )
    pairs = a.join(b, "bucket").filter(F.col("group_a") < F.col("group_b"))
    m = (F.col("pa") + F.col("pb")) / F.lit(2.0)
    term = F.lit(0.5) * (
        F.col("pa") * F.log(F.col("pa") / m) + F.col("pb") * F.log(F.col("pb") / m)
    )
    return (
        pairs.select("group_a", "group_b", term.alias("_t"))
        .groupBy("group_a", "group_b")
        .agg(F.sum("_t").alias("js_div"))
    )
