"""Deduplication operators for large text corpora (LLM-pipeline
extension surface; BASELINE.json north_star).

Four strategies, each with a different scale/recall tradeoff:

- **exact**: hash-groupBy on content. One shuffle on the group key;
  at 100 TB group by a 64-bit content hash instead of raw text so the
  shuffle carries 8 bytes/row, and map-side partial aggregation
  collapses most duplicates before the exchange.
- **MinHash + LSH** (near-dup): shingle → k-permutation signature →
  band buckets → equi-join candidates → exact-Jaccard verify. The only
  shuffles are the band-bucket join (keys are (band_idx, band_hash) —
  high cardinality, well distributed) and the verify join. This is the
  standard sub-quadratic near-dup design; tune (k, bands) for the
  target similarity threshold.
- **SimHash**: 30-bit fingerprint from token hashes; near-dups differ
  in few bits. Map-only fingerprinting; candidate generation by equal
  fingerprint (or banded fingerprint pieces).
- **n-gram Jaccard** (exact pairwise within candidate set): explode
  distinct shingles → self-equi-join → count intersections → filter by
  Jaccard. Quadratic in the worst case — ALWAYS gate it behind
  blocking (LSH bands, shared-shingle, or metadata partitions) at
  scale; a max-document-frequency cap on shingles bounds hot keys.

All hashes are the cross-engine polynomial family (functions/hashing)
so every operator is oracle-checkable in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from anime_data_pipeline_spark.functions.hashing import (
    P,
    band_values_expr,
    minhash_signature_expr,
    perm_constants,
    polyhash,
    shingle_hashes_spark_expr,
    token_hashes_spark_expr,
    tokens_spark_expr,
)


def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Keep one row (min id) per distinct content; report copy counts."""
    return df.groupBy(*content_cols).agg(
        F.min(id_col).alias("keeper_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def shingle_hash_sets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    carry: tuple[str, ...] = (),
    *,
    th_col: str | None = None,
) -> DataFrame:
    """(doc, [carry...], hashes) — distinct n-token shingle hashes per
    document; ``carry`` columns ride through the projection (so callers
    that also need sibling columns don't pay a join-back).

    Tokens are hashed once per row (materialized column), then shingle
    hashes are folded from the token-hash array in O(n) each — the
    hot-path cost is linear in tokens, not shingle characters.
    ``th_col`` names a column of ``df`` that already holds that array
    (``token_hashes_spark_expr(tokens_spark_expr(text_col))``); it
    must be materialized (a persisted or projected column), and the
    text is then not split again. ``None`` hashes ``text_col`` here.

    Both projections are rendered as ONE ``F.expr`` string each: the
    Column-API spelling costs a py4j round-trip per lambda/element
    (~0.5 s of driver plan-build per consumer at n=3 — the same
    latency class as the SRP-plane fix in operators/similarity.py),
    while the parsed SQL produces the identical integer-math Catalyst
    nodes.
    """
    if th_col is None:
        th = token_hashes_spark_expr(tokens_spark_expr(text_col))
        df = df.select(F.col(id_col).alias("doc"), *carry, F.expr(th).alias("_th"))
        id_col, th_col = "doc", "_th"
    sh = f"array_distinct({shingle_hashes_spark_expr(f'`{th_col}`', n)})"
    return df.select(F.col(id_col).alias("doc"), *carry, F.expr(sh).alias("hashes"))


def band_candidates(hashed: DataFrame, bands: int, rows: int) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from the LSH band join.

    ``hashed`` must carry (doc, sig); callers persist it — it is read
    by both join sides. The equi-join key is (band_idx, band_val), so
    only bucket-colliding pairs are ever generated (sub-quadratic).
    """
    exploded = hashed.select(
        "doc", F.posexplode(band_values_expr("sig", bands, rows)).alias("band_idx", "band_val")
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )


def editdist_verify_neardups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 12,
    bands: int = 4,
    prefix: int = 512,
    min_sim: float = 0.8,
) -> DataFrame:
    """Near-dup pairs verified by normalized Levenshtein similarity.

    Shingle-Jaccard (minhash_lsh_pairs) treats documents as token
    *sets*; edit distance is the order-sensitive verifier — the final
    arbiter used when near-dup semantics must respect sequence (e.g.
    templated spam with token reordering). Candidates come from the
    same LSH band join; only colliding pairs pay the O(prefix²) DP,
    which runs map-side after the candidate join on texts capped at
    ``prefix`` chars (the standard bound that keeps worst-case cost
    independent of document length at 100 TB). The DP itself is BANDED:
    any distance above ``(1−min_sim)·prefix`` cannot reach ``min_sim``,
    so Spark's thresholded levenshtein runs O(prefix·band) instead of
    O(prefix²) and early-outs to −1 (which the similarity filter
    discards — identical result set to the unbanded oracle).

    Returns (id_a, id_b, lev, edit_sim) with
    edit_sim = 1 − lev / max(len_a, len_b) ≥ ``min_sim``.
    """
    rows = k // bands
    hashed = shingle_hash_sets(df, id_col, text_col, n).withColumn(
        "sig", minhash_signature_expr("hashes", k)
    )
    hashed = hashed.persist()
    cand = band_candidates(hashed, bands, rows)
    texts = df.select(
        F.col(id_col).alias("_tid"),
        F.substring(F.col(text_col), 1, prefix).alias("_txt"),
    )
    joined = cand.join(
        texts.select(F.col("_tid").alias("id_a"), F.col("_txt").alias("_ta")), "id_a"
    ).join(texts.select(F.col("_tid").alias("id_b"), F.col("_txt").alias("_tb")), "id_b")
    # max distance that can still reach min_sim on prefix-capped texts
    max_lev = int((1.0 - min_sim) * prefix) + 1
    lev = F.levenshtein(F.col("_ta"), F.col("_tb"), max_lev)
    longest = F.greatest(F.length("_ta"), F.length("_tb"))
    return (
        joined.withColumn("lev", lev.cast("long"))
        .filter(F.col("lev") >= 0)  # −1 = banded early-out (too distant)
        .withColumn(
            "edit_sim",
            F.lit(1.0) - F.col("lev").cast("double") / F.greatest(longest, F.lit(1)),
        )
        .filter(F.col("edit_sim") >= min_sim)
        .select("id_a", "id_b", "lev", "edit_sim")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    *,
    th_col: str | None = None,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b) with exact verified Jaccard.

    Plan shape: map (shingle+sign) → explode bands → self-equi-join on
    (band_idx, band_value) → distinct candidate pairs → join back the
    shingle-hash sets → exact Jaccard filter. Sub-quadratic: only
    bucket-colliding pairs are ever compared. ``th_col``: a
    precomputed token-hash column, as in :func:`shingle_hash_sets`.
    """
    rows = k // bands
    hashed = shingle_hash_sets(df, id_col, text_col, n, th_col=th_col).withColumn(
        "sig", minhash_signature_expr("hashes", k)
    )
    # The signature table is consumed four times (both band-join sides +
    # both verify-join sides). Persist it: it is ~100 bytes/row — tiny
    # relative to the corpus — and recomputing shingle+signature four
    # times dominates the runtime otherwise. At cluster scale this would
    # be a checkpoint to parquet between pipeline stages.
    hashed = hashed.persist()
    cand = band_candidates(hashed, bands, rows)
    sets = hashed.select("doc", "hashes")
    inter = F.size(F.array_intersect(F.col("ha"), F.col("hb")))
    union = F.size(F.col("ha")) + F.size(F.col("hb")) - inter
    return (
        cand.join(sets.select(F.col("doc").alias("id_a"), F.col("hashes").alias("ha")), "id_a")
        .join(sets.select(F.col("doc").alias("id_b"), F.col("hashes").alias("hb")), "id_b")
        .withColumn("jaccard", inter.cast("double") / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_quality_audit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 12,
    bands: int = 4,
) -> DataFrame:
    """Sketch-quality audit: for every LSH candidate pair, the
    signature-ESTIMATED Jaccard (fraction of equal minhash components
    — the unbiased estimator the banding decision is implicitly built
    on, Broder 1997) next to the EXACT shingle-set Jaccard, plus the
    absolute error. The ops-side answer to "are k and bands tuned
    right for this corpus?": a fat error tail at the threshold means
    the signature is too short for the dedup decision being made.

    Plan shape identical to minhash_lsh_pairs (persisted signature
    table, band equi-join, per-pair column math) — the estimate adds
    one k-length zip over arrays already in the row, no extra
    exchange. Returns (id_a, id_b, est_jaccard, exact_jaccard,
    abs_err), all rounded to 6dp for cross-engine rank stability.
    """
    from anime_data_pipeline_spark.functions.compat import dround

    rows = k // bands
    hashed = shingle_hash_sets(df, id_col, text_col, n).withColumn(
        "sig", minhash_signature_expr("hashes", k)
    )
    hashed = hashed.persist()
    cand = band_candidates(hashed, bands, rows)
    sides = hashed.select("doc", "hashes", "sig")
    joined = cand.join(
        sides.select(
            F.col("doc").alias("id_a"), F.col("hashes").alias("ha"), F.col("sig").alias("sa")
        ),
        "id_a",
    ).join(
        sides.select(
            F.col("doc").alias("id_b"), F.col("hashes").alias("hb"), F.col("sig").alias("sb")
        ),
        "id_b",
    )
    eq = F.size(
        F.filter(
            F.zip_with(F.col("sa"), F.col("sb"), lambda x, y: x == y), lambda b: b
        )
    )
    inter = F.size(F.array_intersect(F.col("ha"), F.col("hb")))
    union = F.size(F.col("ha")) + F.size(F.col("hb")) - inter
    return (
        joined.withColumn("est_jaccard", dround(eq.cast("double") / F.lit(float(k)), 6))
        .withColumn("exact_jaccard", dround(inter.cast("double") / union, 6))
        .withColumn(
            "abs_err",
            dround(F.abs(F.col("est_jaccard") - F.col("exact_jaccard")), 6),
        )
        .select("id_a", "id_b", "est_jaccard", "exact_jaccard", "abs_err")
    )


def simhash_from_hashes(h: Column, bits: int = 30) -> Column:
    """SimHash fingerprint from a precomputed token-hash array.

    bit b of the fingerprint is set when the signed sum of token-hash
    bit-b indicators is positive. 30 bits because the polyhash range is
    [0, P) < 2^30.

    Pass ``h`` as a MATERIALIZED column (withColumn), not a nested
    expression: all ``bits`` folds reference it, and a nested expression
    would be re-embedded (and token hashing re-executed) per bit.
    ``bits`` scalar folds beat one fold with an array state: interpreted
    higher-order evaluation allocates the state array per element, which
    costs more than the extra scans (measured 2× slower at sf0.1).
    """

    def bit_sum(b: int) -> Column:
        return F.aggregate(
            h,
            F.lit(0),
            lambda acc, x: acc
            + F.when(F.shiftright(x, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )

    terms = []
    for b in range(bits):
        terms.append(F.when(bit_sum(b) > 0, F.lit(1 << b)).otherwise(F.lit(0)))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out.cast("long")


def simhash_arrow_udf(bits: int = 30):
    """Vectorized SimHash bit-fold as an Arrow-batched pandas UDF:
    token-hash arrays cross to Python in Arrow batches, the ±1 bit
    matrix is built once for the whole batch, and per-row sums come
    from one ``np.add.reduceat`` over segment starts.

    This is the measured-fast path: the native 30-scalar-fold form
    (``simhash_from_hashes``) runs in Catalyst's INTERPRETED
    higher-order evaluator — 30 passes per row outside whole-stage
    codegen — and costs ~1.7× more at sf0.1 (1.21s vs 0.71s). Both
    produce bit-identical fingerprints; the native form stays as the
    expression-only variant (usable inside other column expressions and
    mirrored 1:1 by the DuckDB oracle SQL)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def fp(th):
        n = len(th)
        if n == 0:
            return pd.Series(np.empty(0, dtype=np.int64))
        arrs = [
            np.asarray(x, dtype=np.int64) if x is not None else np.empty(0, np.int64)
            for x in th
        ]
        lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=n)
        total = int(lens.sum())
        out = np.zeros(n, dtype=np.int64)
        if total:
            flat = np.concatenate(arrs)
            sign = ((flat[:, None] >> np.arange(bits)) & 1) * 2 - 1  # (N, bits) ±1
            starts = np.zeros(n, dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            # reduceat needs in-range indices; a zero-length segment at
            # position i reads the NEXT segment's head — clamp + mask.
            sums = np.add.reduceat(sign, np.minimum(starts, total - 1), axis=0)
            out = ((sums > 0).astype(np.int64) << np.arange(bits)).sum(axis=1)
            out[lens == 0] = 0
        return pd.Series(out)

    # this module uses `from __future__ import annotations`, which turns
    # inline hints into strings pandas_udf cannot resolve — set the real
    # objects instead.
    fp.__annotations__ = {"th": pd.Series, "return": pd.Series}
    return pandas_udf(fp, "long")


def simhash_df(
    df: DataFrame,
    text_col: str,
    out: str = "fingerprint",
    bits: int = 30,
    impl: str = "arrow",
) -> DataFrame:
    """Map-only SimHash fingerprinting: token hashes computed once per
    row (JVM-side, codegen'd), then folded per bit.

    ``impl="arrow"`` (default) folds in vectorized numpy via
    :func:`simhash_arrow_udf`; ``impl="native"`` keeps everything in
    Catalyst expressions (slower fold, but no Python boundary — and the
    form the DuckDB oracle mirrors). Fingerprints are bit-identical."""
    hashed = df.withColumn(
        "_sh_th", F.expr(token_hashes_spark_expr(tokens_spark_expr(text_col)))
    )
    if impl == "arrow":
        hashed = hashed.withColumn(out, simhash_arrow_udf(bits)(F.col("_sh_th")))
    else:
        hashed = hashed.withColumn(out, simhash_from_hashes(F.col("_sh_th"), bits))
    return hashed.drop("_sh_th")


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round: for every node u, attach each STRICTLY LARGER
    neighbor to m(u) = min(N(u) ∪ {u}). Emitted edges stay oriented
    (big, small)."""
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: orient every edge (big, small); for every node
    u attach ALL its smaller neighbors — and u itself — to
    m(u) = min(N(u))."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    nbr = (
        oriented.join(mins, "src")
        .filter(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    self_edge = mins.select("src", F.col("m").alias("dst"))
    return nbr.unionByName(self_edge).distinct()


# Edge count below which the REMAINING contraction runs as one
# single-task vectorized kernel instead of O(log n) star rounds (~6
# tiny exchanges + 2 driver jobs per round — pure scheduling overhead
# once the edge set is small). The guard is a MEASURED count (the
# per-round signature agg / one pre-loop count job), never a
# local-mode assumption: a 100 TB run starts above the threshold, does
# real distributed rounds while they pay, and finishes in one task
# once the edge set has contracted. Sizing (measured on 32-core
# local): the numpy kernel labels 500k random edges in ~1.3-2 s and a
# 2M-edge path graph in ~0.6 s — comparable to ONE distributed star
# round on the same data, so the switch is safe even if it fires a
# round early; memory is ~16 bytes/edge plus the node-id arrays
# (~8 MB per 500k edges in one task).
CC_SMALL_EDGE_THRESHOLD = 500_000


def min_label_components(u, v):
    """``(ids, roots)`` for the undirected edge list ``(u[i], v[i])``
    (int64 arrays): the sorted distinct node ids and, per id, the min
    node id of its component. Vectorized min-propagation with pointer
    jumping: per sweep, every node takes the min label over its
    neighborhood (sort-once + ``np.minimum.reduceat``), then labels
    compress to their fixpoint (labels are node indices, so ``m[m]``
    jumps); sweeps stop at a full fixpoint, bounded by the graph
    diameter. Shared by the CC small path and the SemDeDup cell
    kernel."""
    import numpy as np

    ids, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    ui, vi = inv[: len(u)], inv[len(u) :]
    nd = np.concatenate([ui, vi])
    nb = np.concatenate([vi, ui])
    order = np.argsort(nd, kind="stable")
    nd_s, nb_s = nd[order], nb[order]
    present, starts = np.unique(nd_s, return_index=True)
    lab = np.arange(len(ids), dtype=np.int64)
    while True:
        prev = lab
        m = lab.copy()
        seg_min = np.minimum.reduceat(lab[nb_s], starts)
        m[present] = np.minimum(m[present], seg_min)
        while True:  # pointer-jump to fixpoint (O(n) gathers)
            m2 = m[m]
            if np.array_equal(m2, m):
                break
            m = m2
        lab = m
        if np.array_equal(lab, prev):
            break
    return ids, ids[lab]


def _cc_small_star_table(e: DataFrame) -> DataFrame:
    """(node, _root) for every node occurring in ``e``: exact min-label
    connected components of a MEASURED-small edge set, computed in one
    task (coalesce(1) is a narrow read of the checkpointed partitions —
    no shuffle) by :func:`min_label_components`. Labels are the min
    node id per component — identical to star contraction's output
    (pinned by tests on both sides of the threshold)."""

    def kernel(batches):
        import numpy as np
        import pandas as pd

        us, vs = [], []
        for b in batches:
            if len(b):
                us.append(b["src"].to_numpy(dtype="int64"))
                vs.append(b["dst"].to_numpy(dtype="int64"))
        if not us:
            return
        ids, roots = min_label_components(np.concatenate(us), np.concatenate(vs))
        yield pd.DataFrame({"node": ids, "_root": roots})

    return e.coalesce(1).mapInPandas(kernel, "node long, _root long")


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    max_iters: int = 50,
    small_edge_threshold: int | None = None,
) -> DataFrame:
    """Connected components by alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14): ``(node) × (id_a, id_b)`` → ``(node, component)`` where
    component = min node id reachable. The canonical near-dup
    CLUSTERING step on top of pair output (every pair family: MinHash,
    SimHash, n-gram, embedding).

    Scale shape: each round is two groupBy-min + join passes over the
    EDGE list only (never a per-node label table joined per round),
    and the edge list contracts toward one star edge per non-root
    node. Unlike min-label propagation — O(diameter) rounds, which
    stalls on chain-shaped duplicate graphs — star contraction
    converges in O(log n) rounds on ANY topology, so a pathological
    100 TB near-dup graph costs ~log2(n) shuffles, not n. The loop is
    DRIVER-side control flow over DISTRIBUTED ops (standard Spark
    iterative pattern, localCheckpoint cuts lineage); convergence =
    the oriented edge set reaches a fixpoint. Failure semantics of
    localCheckpoint (r12 verdict #4): truncated lineage means an
    executor loss mid-loop loses those partitions and FAILS the job
    (retry restarts the query) rather than recomputing; on a real
    cluster at 100 TB, swap in reliable ``checkpoint()`` (or a parquet
    stage boundary) for the per-round snapshots — same plan shape, one
    conf-level storage decision. Per round that is an
    8-byte (count, xor-of-hashes) signature comparison; when the
    signature repeats, the fixpoint is CONFIRMED with one exact
    ``exceptAll``-emptiness job (equal counts + empty difference ⇒
    equal sets), so an xor-cancelling hash collision between different
    consecutive edge sets can delay but never corrupt the result
    (r3 advice). Raises if max_iters is hit (default 50 covers
    n ≈ 2^48 worst-case).

    Small-edge fast path: whenever a MEASURED edge count (one pre-loop
    count job, then each round's signature agg) is ≤
    ``small_edge_threshold`` and the ids are integral, the remaining
    contraction runs as one single-task vectorized kernel
    (:func:`_cc_small_star_table`) — exact, because computing the
    components of ANY intermediate star-round edge set yields the same
    min labels as contracting it to the fixpoint (star rounds only
    rewire within components, and a node absent from an intermediate
    edge set is its component's root, which labels itself in both
    paths). ``small_edge_threshold=0`` disables the fast path (tests
    pin equality on both sides).

    Sets ``connected_components.last_rounds`` for round-count tests and
    ``connected_components.last_path`` ("small"/"star") so tests can
    assert which path ran (diagnostic only; not safe across concurrent
    jobs in one process).
    """
    def _ckpt_release(df: DataFrame | None) -> None:
        """Unpersist a SUPERSEDED localCheckpoint generation. Each
        round pins its edge snapshot until JVM GC (ContextCleaner), so
        without this the loop accumulates one dead pinned RDD per
        round for the session lifetime — clearCache cannot release
        checkpoint RDDs (they bypass the CacheManager). Only safe on
        generations nothing references anymore: a truncated-lineage
        RDD cannot be recomputed after unpersist, which is why the
        FINAL edge set (referenced by the returned lazy plan) is never
        released here."""
        if df is None:
            return
        try:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:
            pass  # diagnostics-only cleanup; never fail the query

    # Checkpoints are LAZY (eager=False): each round's signature agg
    # below is the first action and materializes the checkpoint in the
    # SAME job, where the eager form paid one extra materialization job
    # per round — pure scheduling overhead on the critical path.
    e = (
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def _label(star: DataFrame, rounds: int, path: str) -> DataFrame:
        connected_components.last_rounds = rounds
        connected_components.last_path = path
        return nodes.join(star, "node", "left").select(
            "node", F.coalesce(F.col("_root"), F.col("node")).alias("component")
        )

    # None → module default, resolved at call time so deployments (and
    # A/B harnesses) can retune one constant; 0 disables the fast path.
    if small_edge_threshold is None:
        small_edge_threshold = CC_SMALL_EDGE_THRESHOLD
    # The kernel reads ids as int64; non-integral id types (not used by
    # any in-repo caller) stay on the general path.
    integral = {"tinyint", "smallint", "int", "bigint"}
    small_ok = small_edge_threshold > 0 and all(
        f.dataType.simpleString() in integral for f in e.schema.fields
    )
    if small_ok:
        # One count job (it doubles as the checkpoint materialization
        # the first star round would otherwise pay).
        n0 = e.agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"]
        if n0 <= small_edge_threshold:
            return _label(_cc_small_star_table(e), 0, "small")
    prev_sig: tuple[int, int] | None = None
    prev_e: DataFrame | None = None
    for i in range(max_iters):
        new_e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        _ckpt_release(prev_e)  # generation k-2: no longer referenced
        prev_e, e = e, new_e
        sig_row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # bit_xor, not sum: ANSI mode overflows summed 64-bit
            # hashes; xor over a DISTINCT edge set can't overflow and
            # only collides if two edge sets xor-cancel (the exact
            # confirmation below catches that).
            F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h"),
        ).collect()[0]
        sig = (sig_row["n"], sig_row["h"])
        if sig == prev_sig and e.exceptAll(prev_e).isEmpty():
            # the exact confirmation was prev_e's last consumer; only
            # the final e rides behind the returned plan
            _ckpt_release(prev_e)
            # At the fixpoint every edge is (node, root); roots and
            # isolated nodes label themselves.
            star = e.groupBy(F.col("src").alias("node")).agg(
                F.min("dst").alias("_root")
            )
            return _label(star, i + 1, "star")
        if small_ok and sig[0] <= small_edge_threshold:
            # Contracted below the threshold mid-run: finish in one
            # task. prev_e's last consumer was this round's star pass.
            _ckpt_release(prev_e)
            return _label(_cc_small_star_table(e), i + 1, "small")
        prev_sig = sig
    raise RuntimeError(f"connected_components: no convergence in {max_iters} iters")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact pairwise n-gram Jaccard via shared-shingle blocking.

    ``max_df`` drops shingles occurring in more than that many docs —
    the standard hot-key bound (a shingle shared by 1M docs would
    otherwise produce 10^12 candidate pairs). Shingles are carried as
    64-bit hashes, not strings: the blocking join shuffles 8 bytes/key."""
    from pyspark.sql import Window as W

    sh = shingle_hash_sets(df, id_col, text_col, n).select(
        "doc", F.explode(F.col("hashes")).alias("sh")
    )
    if max_df is not None:
        rare = sh.groupBy("sh").count().filter(F.col("count") <= max_df).select("sh")
        sh = sh.join(F.broadcast(rare), "sh")
    # Per-doc set size attached via window (one shuffle by doc) and
    # CARRIED THROUGH the blocking join — the groupBy(doc)+join-back
    # alternative costs two more exchanges per side. sz is functionally
    # dependent on doc, so grouping by (doc, sz) pairs is exact.
    sh = sh.withColumn("sz", F.count(F.lit(1)).over(W.partitionBy("doc")))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            F.col("a.sz").alias("sza"),
            F.col("b.sz").alias("szb"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("inter").cast("double") / (F.col("sza") + F.col("szb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def benchmark_contamination(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_overlap: float = 0.0,
    *,
    th_col: str | None = None,
) -> DataFrame:
    """Benchmark-contamination check (the pre-training hygiene pass:
    Brown et al. 2020 §C, Touvron et al. 2023 §5.1 measure train/eval
    n-gram overlap before trusting eval numbers): for every corpus
    document, the fraction of its n-token shingles that appear ANYWHERE
    in the benchmark set.

    Scale shape: the benchmark shingle universe (eval suites are tiny —
    MBs against a 100 TB corpus) collapses to a distinct 8-byte-hash
    set and BROADCASTS; corpus docs are shingled once and explode to
    (doc, n_shingles, shingle) rows — ``explode_outer``, so a document
    without shingles keeps one row — and the hit count is one
    partial-aggregated groupBy after a map-side broadcast left join —
    the corpus is never shuffled on text. ``th_col``: a precomputed
    token-hash column of ``corpus``, as in :func:`shingle_hash_sets`.
    Returns (doc, n_shingles, n_hits, overlap_frac) for every corpus doc
    (ids unique) with overlap_frac >= ``min_overlap`` (0.0 = report
    all)."""
    c = shingle_hash_sets(corpus, id_col, text_col, n, th_col=th_col)
    bench_universe = (
        shingle_hash_sets(bench, id_col, text_col, n)
        .select(F.explode("hashes").alias("_bsh"))
        .distinct()
    )
    exploded = c.select(
        "doc", F.size("hashes").alias("n_shingles"), F.explode_outer("hashes").alias("sh")
    )
    return (
        exploded.join(F.broadcast(bench_universe), F.col("sh") == F.col("_bsh"), "left")
        .groupBy("doc", "n_shingles")
        .agg(F.count("_bsh").alias("n_hits"))
        .withColumn(
            "overlap_frac",
            F.col("n_hits") / F.greatest(F.col("n_shingles"), F.lit(1)),
        )
        .filter(F.col("overlap_frac") >= min_overlap)
    )


# m_bits cap for bloom_contamination's inlined literal bitmap: 2^20 bits
# = 32,768 longs ≈ 300 KB of SQL text — comfortably parseable; 2^24
# would inline 524k elements and blow up parse/plan time.
_BLOOM_INLINE_MAX_BITS = 1 << 20


def bloom_contamination(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    m_bits: int = 1 << 16,
    n_hash: int = 4,
) -> DataFrame:
    """Contamination check with a Bloom-filter prefilter.

    benchmark_contamination broadcasts the DISTINCT bench shingle set
    and joins every exploded corpus shingle against it. When the bench
    universe outgrows comfortable broadcast (or the corpus explode is
    the bottleneck), the standard fix is a Bloom filter: m bits, j
    deterministic hash probes per shingle. The corpus-side membership
    test becomes pure map column math over the shingle array — NO
    explode, NO join — and only the flagged shingles (true hits +
    deterministic false positives) explode into the exact verify join.

    Scale shape: the bitmap is built distributedly — positions →
    (word_idx, bit) → groupBy(word_idx).bit_or — and only the FIXED
    m/32-row word table is collected (8 KB at m=2^16, independent of
    bench size; 32-bit words because DuckDB's shift-overflow check
    forbids 1<<63 even on UBIGINT, and the oracle must mirror the
    words); it is then inlined as a literal array in the filter
    expression (inline, never a materialized column: a literal in a
    projection would copy the array per row). Probes are the shared
    deterministic (a,b) family, so the same filter — including its
    false-positive set — is reproducible in any engine, which is what
    makes the oracle check possible.

    Returns (doc, n_shingles, n_flagged, n_true, n_false_pos).

    NOTE — eager side effect: building the bitmap runs a Spark job at
    operator-CALL time (the one deliberate exception to the repo's
    lazy-DataFrame contract, required to inline the words as a
    literal). The inlining budget caps ``m_bits`` at 2^20 (32k words,
    ~300 KB of expression text); beyond that a literal would explode
    parse/plan size — use a broadcast word-table join instead (the
    ``benchmark_contamination`` broadcast path already covers that
    regime).
    """
    if m_bits < 32 or m_bits % 32:
        raise ValueError(f"m_bits must be a positive multiple of 32, got {m_bits}")
    if m_bits > _BLOOM_INLINE_MAX_BITS:
        raise ValueError(
            f"m_bits={m_bits} exceeds the literal-inlining budget "
            f"({_BLOOM_INLINE_MAX_BITS}); use benchmark_contamination's "
            "broadcast path for larger filters"
        )
    consts = perm_constants(20 + n_hash)[20 : 20 + n_hash]
    universe = (
        shingle_hash_sets(bench, id_col, text_col, n)
        .select(F.explode("hashes").alias("sh"))
        .distinct()
    )
    pos = universe.select(
        F.explode(
            F.array(
                *[
                    ((F.lit(a) * F.col("sh") + F.lit(b)) % F.lit(P)) % F.lit(m_bits)
                    for a, b in consts
                ]
            )
        ).alias("p")
    ).distinct()
    words = (
        pos.select(
            (F.col("p") / F.lit(32)).cast("int").alias("idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").alias("bv"),
        )
        .groupBy("idx")
        .agg(F.bit_or("bv").alias("w"))
        .collect()
    )
    wmap = {r["idx"]: r["w"] for r in words}
    bitmap = [wmap.get(i, 0) for i in range(m_bits // 32)]
    bm_sql = "array(" + ", ".join(f"{w}L" for w in bitmap) + ")"
    pos_arr = (
        "array("
        + ", ".join(f"((({a} * h) + {b}) % {P}) % {m_bits}" for a, b in consts)
        + ")"
    )
    check = (
        f"p -> (shiftright(element_at({bm_sql}, cast(p div 32 as int) + 1), "
        f"cast(p % 32 as int)) & 1) = 1"
    )
    c = shingle_hash_sets(corpus, id_col, text_col, n).withColumn(
        "fh", F.expr(f"filter(hashes, h -> forall({pos_arr}, {check}))")
    )
    ex = c.select("doc", F.explode("fh").alias("sh"))
    true_hits = (
        ex.join(F.broadcast(universe), "sh")
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_true"))
    )
    return (
        c.select(
            "doc",
            F.size("hashes").cast("long").alias("n_shingles"),
            F.size("fh").cast("long").alias("n_flagged"),
        )
        .join(true_hits, "doc", "left")
        .withColumn("n_true", F.coalesce(F.col("n_true"), F.lit(0)).cast("long"))
        .withColumn("n_false_pos", F.col("n_flagged") - F.col("n_true"))
    )


def incremental_dedup_status(
    batch: DataFrame,
    history: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus without touching
    history-vs-history pairs — the production shape of dedup once a
    corpus is live: history's signatures are computed once (in a real
    deployment they are the persisted signature table from the last
    run; at 100 TB a parquet side-table keyed by band value), and each
    incoming batch pays only batch-side hashing plus batch×history
    band-bucket joins. Batch-internal duplicates are out of scope here
    (the standard operators cover them).

    Per batch row: ``status`` ∈ {'exact_dup', 'near_dup', 'kept'} with
    ``match_id`` = the minimum matching history id (exact content-hash
    match wins over near-dup; null when kept). Shuffles carry content
    hashes and (band_idx, band_val) ints — never text.

    ``exact_dup`` is declared from TWO independent content hashes
    (base-31 + base-37 polynomial, joint collision ~1/P² ≈ 1e-18 per
    pair): a single ~2^30 hash would falsely drop ~N²/2P unrelated
    batch docs (~500 at 1M distinct docs) — silent data loss at scale.
    The join key stays a pair of 8-byte ints, never the text payload.
    """
    rows = k // bands

    def prep(df: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
        withc = (
            df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_t"))
            .withColumn("chash", polyhash(F.col("_t")))
            .withColumn("chash2", polyhash(F.col("_t"), 37))
        )
        # One persisted signature table per side: its three projections
        # (content-hash join side, shingle-set verify side, band
        # explode) otherwise EACH re-run the tokenize → shingle →
        # minhash forest over the raw text — 3× the map CPU of the
        # whole operator. Same pattern (and caller-owned release
        # lifecycle) as minhash_lsh_pairs' signature table; at 100 TB
        # history's table is the persisted parquet side-table the
        # docstring describes.
        full = (
            shingle_hash_sets(withc, "doc", "_t", n, carry=("chash", "chash2"))
            .withColumn("sig", minhash_signature_expr("hashes", k))
            .persist()
        )
        bandsdf = full.select(
            "doc",
            F.posexplode(band_values_expr("sig", bands, rows)).alias(
                "band_idx", "band_val"
            ),
        )
        return (
            full.select("doc", "chash", "chash2"),
            full.select("doc", "hashes"),
            bandsdf,
        )

    b_hash, b_sets, b_bands = prep(batch)
    h_hash, h_sets, h_bands = prep(history)

    exact = (
        b_hash.join(
            h_hash.select("chash", "chash2", F.col("doc").alias("_hid")),
            ["chash", "chash2"],
        )
        .groupBy("doc")
        .agg(F.min("_hid").alias("exact_id"))
    )
    cand = (
        b_bands.join(
            h_bands.select(
                "band_idx", "band_val", F.col("doc").alias("_hid")
            ),
            ["band_idx", "band_val"],
        )
        .select("doc", "_hid")
        .distinct()
    )
    inter = F.size(F.array_intersect(F.col("ha"), F.col("hb")))
    union = F.size(F.col("ha")) + F.size(F.col("hb")) - inter
    near = (
        cand.join(b_sets.select(F.col("doc"), F.col("hashes").alias("hb")), "doc")
        .join(
            h_sets.select(F.col("doc").alias("_hid"), F.col("hashes").alias("ha")),
            "_hid",
        )
        .withColumn("jaccard", inter.cast("double") / union)
        .filter(F.col("jaccard") >= threshold)
        .groupBy("doc")
        .agg(F.min("_hid").alias("near_id"))
    )
    return (
        b_hash.select("doc")
        .join(exact, "doc", "left")
        .join(near, "doc", "left")
        .select(
            "doc",
            F.when(F.col("exact_id").isNotNull(), F.lit("exact_dup"))
            .when(F.col("near_id").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("kept"))
            .alias("status"),
            F.coalesce(F.col("exact_id"), F.col("near_id")).alias("match_id"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 10,
    min_count: int = 2,
    carry: tuple[str, ...] = (),
    pretokenized: bool = False,
    emit_tokens: bool = False,
) -> DataFrame:
    """Exact duplicated-span removal (the hash-gram form of Lee et al.
    2022's ExactSubstr dedup): any n-token span whose hash occurs ≥
    ``min_count`` times ANYWHERE in the corpus is removed from every
    document containing it (all occurrences drop — the conservative
    "both-drop" variant; the suffix-array original keeps one copy).

    Plan shape: tokens are hashed once per doc; span hashes fold from
    the token-hash array in O(1) each; the only corpus-wide state is
    the (span-hash → count) aggregation, whose exchange carries 8-byte
    hashes + positions, never text. Duplicate positions come back per
    doc as a sorted int array, the covered token-index set is a
    map-side interval union (flatten + distinct of [p, p+n-1] ranges,
    overlapping spans merge for free), and the cleaned text is rebuilt
    by an index filter over the original token array. At 100 TB the
    span length (n=50 in the paper) makes true-duplicate spans rare
    enough that the dup-position arrays stay small; hash collisions at
    64-bit span hashes are negligible but make this an approximation
    of the suffix-array construction, not a replica.

    Returns (doc, [carry…], n_tokens, n_dropped, cleaned) for every
    input doc; ``carry`` columns (functionally dependent on the id)
    ride through so callers need no join-back onto the (possibly
    expensive) upstream — q104 carries (lang, source), saving a whole
    re-evaluation of its quality→window-dedup chain.

    ``pretokenized=True``: ``text_col`` already holds the token array
    (tokens() semantics — non-empty, space-free elements). The operator
    reads ``base`` from two sides (span explode + rebuild), so a caller
    with a persisted upstream should tokenize ONCE into that boundary
    instead of paying the split per side. ``emit_tokens=True`` returns
    the surviving tokens as ``cleaned_toks`` (array) instead of the
    joined ``cleaned`` string — exact inverse-free form of
    ``tokens(cleaned)``, for callers that only consume the tokens
    (tokens are non-empty and contain no ' ', so
    tokens(concat_ws(' ', kept)) ≡ kept).
    """
    toks_expr = (
        F.col(text_col) if pretokenized else F.expr(tokens_spark_expr(text_col))
    )
    base = (
        df.select(
            F.col(id_col).alias("doc"),
            *[F.col(c) for c in carry],
            toks_expr.alias("_toks"),
        )
        .withColumn("_th", F.expr(token_hashes_spark_expr("_toks")))
        .withColumn("_sh", F.expr(shingle_hashes_spark_expr("_th", n)))
    )
    spans = base.select("doc", F.posexplode("_sh").alias("pos0", "sh"))
    dup = (
        spans.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .select("sh")
    )
    dpos = (
        spans.join(dup, "sh")
        .groupBy("doc")
        .agg(F.sort_array(F.collect_list(F.col("pos0") + 1)).alias("dps"))
    )
    covered = F.coalesce(
        F.array_distinct(
            F.flatten(
                F.transform(F.col("dps"), lambda p: F.sequence(p, p + F.lit(n - 1)))
            )
        ),
        F.array().cast("array<int>"),
    )
    kept_toks = F.filter(
        F.col("_toks"),
        lambda x, i: ~F.array_contains(F.col("_cov"), (i + F.lit(1)).cast("int")),
    )
    out = (
        kept_toks.alias("cleaned_toks")
        if emit_tokens
        else F.concat_ws(" ", kept_toks).alias("cleaned")
    )
    return (
        base.join(dpos, "doc", "left")
        .withColumn("_cov", covered)
        .select(
            "doc",
            *carry,
            F.size("_toks").cast("long").alias("n_tokens"),
            F.size("_cov").cast("long").alias("n_dropped"),
            out,
        )
    )


def remove_contaminated_spans(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """SPAN-level benchmark decontamination: every n-token span of a
    corpus document whose hash appears anywhere in the benchmark set is
    removed from the document (overlapping spans merge via the same
    interval union as :func:`remove_duplicate_spans`) — the surgical
    variant of :func:`benchmark_contamination`'s doc-level flag, i.e.
    what SlimPajama/FineWeb-style pipelines do when a document is only
    PARTIALLY contaminated and dropping it whole wastes the clean text.

    Scale shape: the benchmark span-hash universe is distinct 8-byte
    hashes (eval suites are MBs vs a 100 TB corpus) and BROADCASTS;
    the corpus explodes to (doc, pos, hash), hits come from the
    map-side broadcast join, and per-doc removal positions aggregate
    to a small sorted int array — the only exchange carries (doc,
    positions), never text. Rebuild is the same index-filter as span
    dedup. Returns (doc, [carry…], n_tokens, n_dropped, cleaned).
    """
    base = (
        corpus.select(
            F.col(id_col).alias("doc"),
            *[F.col(c) for c in carry],
            F.expr(tokens_spark_expr(text_col)).alias("_toks"),
        )
        .withColumn("_th", F.expr(token_hashes_spark_expr("_toks")))
        .withColumn("_sh", F.expr(shingle_hashes_spark_expr("_th", n)))
    )
    universe = (
        bench.select(F.expr(token_hashes_spark_expr(tokens_spark_expr(text_col))).alias("_th"))
        .select(F.explode(F.expr(shingle_hashes_spark_expr("_th", n))).alias("sh"))
        .distinct()
    )
    spans = base.select("doc", F.posexplode("_sh").alias("pos0", "sh"))
    dpos = (
        spans.join(F.broadcast(universe), "sh")
        .groupBy("doc")
        .agg(F.sort_array(F.collect_list(F.col("pos0") + 1)).alias("dps"))
    )
    covered = F.coalesce(
        F.array_distinct(
            F.flatten(
                F.transform(F.col("dps"), lambda p: F.sequence(p, p + F.lit(n - 1)))
            )
        ),
        F.array().cast("array<int>"),
    )
    return (
        base.join(dpos, "doc", "left")
        .withColumn("_cov", covered)
        .select(
            "doc",
            *carry,
            F.size("_toks").cast("long").alias("n_tokens"),
            F.size("_cov").cast("long").alias("n_dropped"),
            F.concat_ws(
                " ",
                F.filter(
                    F.col("_toks"),
                    lambda x, i: ~F.array_contains(F.col("_cov"), (i + F.lit(1)).cast("int")),
                ),
            ).alias("cleaned"),
        )
    )


def source_overlap_matrix(
    df: DataFrame,
    group_col: str,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Cross-source contamination matrix: for every pair of sources,
    the n-gram shingle-universe intersection size and the overlap
    coefficient |A∩B| / min(|A|,|B|) — corpus forensics for "which
    source scraped which" before mixture weighting trusts the source
    labels (the q75/q89 mixes assume sources are distinct corpora).

    Plan shape: one tokenize/shingle pass → distinct (source, hash)
    pairs (the per-source universes, hash-keyed), a self-equi-join ON
    THE SHINGLE HASH (each shared shingle contributes its source-pair
    combinations — bounded by |sources|² per hash, and |sources| is
    small by definition of a source label), a (src_a, src_b)-keyed
    count, and the |sources|-row size table broadcast back. Nothing
    text-sized ever shuffles; output is |sources|²-bounded.

    Returns (src_a, src_b, n_inter, overlap_coef) for pairs with
    n_inter > 0, src_a < src_b.
    """
    from anime_data_pipeline_spark.functions.compat import dround

    base = (
        df.select(
            F.col(group_col).alias("grp"),
            F.expr(token_hashes_spark_expr(tokens_spark_expr(text_col))).alias("_th"),
        )
        .select("grp", F.explode(F.expr(shingle_hashes_spark_expr("_th", n))).alias("sh"))
        .distinct()
    )
    sizes = base.groupBy("grp").agg(F.count(F.lit(1)).alias("_sz"))
    a, b = base.alias("a"), base.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh")) & (F.col("a.grp") < F.col("b.grp")),
        )
        .groupBy(F.col("a.grp").alias("src_a"), F.col("b.grp").alias("src_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    return (
        inter.join(
            F.broadcast(sizes.select(F.col("grp").alias("src_a"), F.col("_sz").alias("_na"))),
            "src_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("grp").alias("src_b"), F.col("_sz").alias("_nb"))),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_inter",
            dround(
                F.col("n_inter").cast("double") / F.least(F.col("_na"), F.col("_nb")), 6
            ).alias("overlap_coef"),
        )
    )


def remove_duplicate_lines(
    df: DataFrame, id_col: str, text_col: str, min_dup: int = 2
) -> DataFrame:
    """C4-style duplicated-line removal (Raffel et al. 2020 §2.2 drop
    repeated spans; RefinedWeb/CCNet drop boilerplate lines): every
    line whose exact text occurs ``min_dup``+ times across the corpus
    is removed from all documents EXCEPT its first occurrence (first =
    lexicographic min of (doc, position)) — cookie banners and nav
    chrome vanish, one canonical copy survives.

    Scale shape: lines ride every exchange as 8-byte polyhashes, never
    text. Plan = posexplode (map-only) → one groupBy on line_hash
    (map-side partial agg collapses dup lines before the exchange) →
    hash-join stats back → one per-doc agg to reassemble. First-
    occurrence choice is an argmin inside the same agg, not a window,
    so no global sort anywhere. Hash collisions (p ≈ n²/2P) conflate
    distinct lines; at 100 TB widen to a 128-bit hash.

    Returns (doc, text, n_lines, n_removed) with ``text`` rebuilt from
    the surviving lines in original order."""
    lines = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("lh", polyhash(F.col("line")))
    stats = lines.groupBy("lh").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.min(F.struct("doc", "pos")).alias("first_occ"),
    )
    kept = lines.join(stats, "lh").withColumn(
        "_keep",
        (F.col("n_occ") < min_dup)
        | (F.struct("doc", "pos") == F.col("first_occ")),
    )
    return kept.groupBy("doc").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_keep"), F.struct("pos", "line"))
                    )
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text"),
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.when(~F.col("_keep"), 1).otherwise(0)).alias("n_removed"),
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.9,
    max_df: int | None = None,
) -> DataFrame:
    """Exact pairwise n-gram CONTAINMENT via shared-shingle blocking —
    the asymmetric near-dup arbiter (Broder 1997's containment
    C(A,B) = |A∩B| / |A|): catches subset duplicates (an excerpt, a
    quoted doc, a truncated re-crawl) whose symmetric Jaccard is far
    below any near-dup threshold because the sizes differ.

    Returns (id_a, id_b, cont_a_in_b, cont_b_in_a) for pairs where the
    LARGER directional containment meets ``threshold`` (id_a < id_b).

    Scale shape identical to ngram_jaccard_pairs: shingles carried as
    8-byte hashes, optional ``max_df`` hot-shingle bound, per-doc set
    size attached via one window and carried through the blocking
    join — the only additions are two divisions at the end.
    """
    from pyspark.sql import Window as W

    sh = shingle_hash_sets(df, id_col, text_col, n).select(
        "doc", F.explode(F.col("hashes")).alias("sh")
    )
    if max_df is not None:
        rare = sh.groupBy("sh").count().filter(F.col("count") <= max_df).select("sh")
        sh = sh.join(F.broadcast(rare), "sh")
    sh = sh.withColumn("sz", F.count(F.lit(1)).over(W.partitionBy("doc")))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            F.col("a.sz").alias("sza"),
            F.col("b.sz").alias("szb"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    i = F.col("inter").cast("double")
    return (
        inter.select(
            "id_a",
            "id_b",
            (i / F.col("sza")).alias("cont_a_in_b"),
            (i / F.col("szb")).alias("cont_b_in_a"),
        )
        .filter(F.greatest(F.col("cont_a_in_b"), F.col("cont_b_in_a")) >= threshold)
    )
