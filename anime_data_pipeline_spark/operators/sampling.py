"""Deterministic sampling operators for training-mix construction.

Training-data pipelines need REPRODUCIBLE samples — a rerun (or a
resumed job) must select the same rows, so all sampling here is
hash-based (seeded permutation-family hash of the row id), never
``rand()``: no runtime randomness, no per-partition RNG state, and the
sample is stable under repartitioning, speculative re-execution, and
scale-out. Every variant is a map-only filter or a bounded window —
oracle-checkable and 100 TB-safe.

Reference parity note: the reference samples implicitly (shuffled
bucket batches); these operators generalize that to corpus-level
sampling (O8 extension).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from anime_data_pipeline_spark.functions.hashing import P, perm_constants


def _seeded_hash(id_col: Column, seed: int) -> Column:
    """(a*id + b) mod P with (a, b) drawn deterministically from the
    permutation family at index ``seed`` — an integer hash both engines
    compute with plain arithmetic."""
    a, b = perm_constants(seed + 1)[seed]
    return (F.lit(a) * id_col + F.lit(b)) % F.lit(P)


def seeded_hash_sql(expr: str, seed: int) -> str:
    a, b = perm_constants(seed + 1)[seed]
    return f"(({a} * {expr} + {b}) % {P})"


def hash_sample(
    df: DataFrame, id_col: str, rate: float, seed: int = 0
) -> DataFrame:
    """Deterministic Bernoulli sample: keep rows whose seeded hash
    falls in the bottom ``rate`` fraction of [0, P). Map-only."""
    return df.filter(_seeded_hash(F.col(id_col), seed) < int(rate * P))


def stratified_sample_n(
    df: DataFrame, group_col: str, id_col: str, n_per_group: int, seed: int = 0
) -> DataFrame:
    """Exactly min(n, |group|) rows per group: rank rows inside each
    group by seeded hash (id tiebreak) and keep the first n.

    One shuffle on the group key; per-group state in the window sort is
    the group's rows on one partition — for pathological hot groups,
    pre-filter with :func:`hash_sample` at a rate that bounds the
    expected group size before the exact top-n pass (double-sampling),
    keeping the windowed partition small at any corpus size."""
    w = Window.partitionBy(group_col).orderBy(
        _seeded_hash(F.col(id_col), seed).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("_ss_rank", F.row_number().over(w))
        .filter(F.col("_ss_rank") <= n_per_group)
        .drop("_ss_rank")
    )


def mix_rebalance(
    df: DataFrame,
    group_col: str,
    id_col: str,
    target_shares: dict[str, float],
    seed: int = 0,
) -> DataFrame:
    """Downsample groups toward TARGET corpus shares (training-mix
    reweighting by proportion rather than absolute rate): group g gets
    keep-rate ``min(1, share_g * N_total / N_g)`` — over-represented
    groups shrink toward their share, under-represented ones pass
    through whole.

    Fully distributed: group counts are one partial-aggregated groupBy
    (a |groups|-sized table), the rates join back via broadcast, and
    the keep decision is the same seeded-hash predicate as hash_sample
    — no collect, rerun-stable, one scan + one broadcast join. The
    rate threshold is floor()'d to an integer in [0, P] so engines
    agree bit-for-bit."""
    share = F.lit(None).cast("double")
    for g, s in target_shares.items():
        share = F.when(F.col(group_col) == g, F.lit(float(s))).otherwise(share)
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n_g"))
    totals = counts.agg(F.sum("_n_g").alias("_n_total"))
    rates = (
        counts.join(F.broadcast(totals))
        .withColumn(
            "_keep_below",
            F.floor(
                F.least(
                    F.lit(1.0), share * F.col("_n_total") / F.col("_n_g")
                )
                * F.lit(P)
            ),
        )
        .select(group_col, "_keep_below")
    )
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(_seeded_hash(F.col(id_col), seed) < F.col("_keep_below"))
        .drop("_keep_below")
    )


def mix_rebalance_pred_sql(
    group_expr: str, id_expr: str, target_shares: dict[str, float], seed: int = 0
) -> str:
    """DuckDB spelling of the keep predicate, given window-computed
    ``n_g`` / ``n_total`` columns in scope."""
    share = "CAST(NULL AS DOUBLE)"
    for g, s in target_shares.items():
        share = f"CASE WHEN {group_expr} = '{g}' THEN {float(s)} ELSE {share} END"
    return (
        f"{seeded_hash_sql(id_expr, seed)} < "
        f"floor(least(1.0, ({share}) * n_total / n_g) * {P})"
    )


def temperature_mix_weights(
    df: DataFrame, group_col: str, alpha: float = 0.3
) -> DataFrame:
    """Temperature-based source reweighting (the multilingual/domain
    mix rule of Lample & Conneau 2019 §3.1, used Llama-style for
    domain mixing): sampling probability p_g ∝ share_g^alpha, alpha<1
    flattening the mix toward rare sources.

    Returns per group: ``n_docs``, ``share`` (n_g/N), ``temp_weight``
    (normalized p_g), and ``effective_epochs`` = p_g·N/n_g — how many
    times the group would be replayed when drawing N samples under the
    temperature mix (>1 ⇒ the rare source repeats).

    Scale shape: one partial-aggregated groupBy to a |groups|-sized
    table, then two scalar broadcasts — the corpus is scanned once and
    nothing group-sized ever leaves the executors except the counts."""
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    totals = counts.agg(F.sum("n_docs").alias("_n_total"))
    shared = counts.join(F.broadcast(totals)).withColumn(
        "share", F.col("n_docs") / F.col("_n_total")
    )
    powed = shared.withColumn("_p", F.pow(F.col("share"), F.lit(float(alpha))))
    norm = powed.agg(F.sum("_p").alias("_z"))
    return (
        powed.join(F.broadcast(norm))
        .withColumn("temp_weight", F.col("_p") / F.col("_z"))
        .withColumn(
            "effective_epochs",
            F.col("temp_weight") * F.col("_n_total") / F.col("n_docs"),
        )
        .select(group_col, "n_docs", "share", "temp_weight", "effective_epochs")
    )


def leakage_safe_split(
    df: DataFrame,
    id_col: str,
    component_col: str,
    weights: dict[str, float],
    seed: int = 0,
) -> DataFrame:
    """Train/val/test assignment that cannot leak near-duplicates
    across splits: the split is a seeded hash of the DUPLICATE
    COMPONENT (from connected_components over any near-dup pair
    family), not of the document — every member of a duplicate
    cluster lands in the same split. Splitting on doc id instead is
    the classic eval-contamination bug (the val loss quietly scores
    memorized training near-dups).

    ``weights`` maps split name → fraction (must sum to ~1). Map-only
    given the component column; deterministic and partition-stable
    like every sampler here. Returns the input plus ``split``."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    h = _seeded_hash(F.col(component_col), seed)
    expr = None
    cum = 0.0
    # half-open [cum, cum+w) bands over [0, P); the last band absorbs
    # float residue so every hash lands somewhere
    items = list(weights.items())
    for i, (name, w) in enumerate(items):
        cum += w
        bound = P if i == len(items) - 1 else int(cum * P)
        cond = h < F.lit(bound)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return df.withColumn("split", expr)


def leakage_safe_split_sql(
    component_expr: str, weights: dict[str, float], seed: int = 0
) -> str:
    """DuckDB spelling of the split CASE over the same hash bands."""
    h = seeded_hash_sql(component_expr, seed)
    items = list(weights.items())
    cases, cum = [], 0.0
    for i, (name, w) in enumerate(items):
        cum += w
        bound = P if i == len(items) - 1 else int(cum * P)
        cases.append(f"WHEN ({h}) < {bound} THEN '{name}'")
    return "CASE " + " ".join(cases) + " END"
