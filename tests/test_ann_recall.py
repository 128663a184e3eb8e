"""Recall of the approximate ANN variants against the exact brute-force
baseline (q41's operator): Hamming-1 multi-probe must dominate
single-probe — its candidate set is a strict superset — and clear an
empirical recall floor on the real embeddings table."""

from __future__ import annotations

import duckdb
import pyarrow as pa
from pyspark.sql import functions as F

from anime_data_pipeline_spark.catalog import load_table
from anime_data_pipeline_spark.operators.similarity import (
    brute_force_topk,
    srp_lsh_topk,
)

_K = 5
_PLANES = 8


def _topk_sets(df) -> dict[int, set[int]]:
    out: dict[int, set[int]] = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["vec_id"])
    return out


def _recall(approx: dict, exact: dict) -> float:
    num = den = 0
    for qid, ex in exact.items():
        num += len(approx.get(qid, set()) & ex)
        den += len(ex)
    return num / den


def test_multiprobe_dominates_single_probe(spark, sf_dir):
    corpus = load_table(spark, sf_dir, "embeddings")
    queries = corpus.filter(F.col("vec_id") % 97 == 0)
    exact = _topk_sets(
        brute_force_topk(corpus, queries, "vec_id", "embedding", k=_K)
    )
    single = _topk_sets(
        srp_lsh_topk(corpus, queries, "vec_id", "embedding", k=_K, planes=_PLANES)
    )
    multi = _topk_sets(
        srp_lsh_topk(
            corpus,
            queries,
            "vec_id",
            "embedding",
            k=_K,
            planes=_PLANES,
            hamming_probes=1,
        )
    )
    r_single, r_multi = _recall(single, exact), _recall(multi, exact)
    # multi-probe candidates ⊇ single-probe candidates per query
    assert r_multi >= r_single, (r_single, r_multi)
    # empirical floor on the synthetic embeddings (measured at sf0.001:
    # single 0.20, multi 0.30 — the near-random vectors have weak
    # neighbor structure, so even the exact top-k sits at low cosine and
    # single-probe misses most of it; the multiprobe lift is the point)
    print(f"recall single={r_single:.3f} multi={r_multi:.3f}")
    assert r_multi >= 0.25


def test_kmeans_refine_moves_centroids_to_cluster_means(spark):
    """Two tight 2-D clusters, seeds off-center: one Lloyd iteration
    must land each centroid on its cluster's coordinate mean (6 dp)."""
    from anime_data_pipeline_spark.operators.similarity import kmeans_refine

    rows = [(i, [10.0 + (i % 3) * 0.1, 0.2]) for i in range(9)]
    rows += [(100 + i, [0.2, 20.0 + (i % 3) * 0.1]) for i in range(9)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    seeds = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    refined = kmeans_refine(df, "vec_id", "embedding", seeds, iters=1)
    got = dict(refined)
    assert got[0] == [10.1, 0.2]  # mean of 10.0/10.1/10.2 ×3 each
    assert got[1] == [0.2, 20.1]


def test_seed_centroids_fixed_k_independent_of_corpus_size(spark):
    """The r3 scale-killer fix: the centroid count (and the driver
    collect) is the REQUESTED k at any corpus size — seeding at two
    different scale factors yields exactly k rows each, and the shared
    prefix of ids is deterministic (same seeded-hash ranking)."""
    from anime_data_pipeline_spark.operators.similarity import seed_centroids

    small = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    big = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    cs = seed_centroids(small, "vec_id", "embedding", 8)
    cb = seed_centroids(big, "vec_id", "embedding", 8)
    assert len(cs) == 8 and len(cb) == 8
    # determinism: re-seeding the same corpus gives the identical list
    assert cs == seed_centroids(small, "vec_id", "embedding", 8)


def test_seed_centroids_skips_incomplete_vectors(spark):
    """A null vector or one with a null element is never a seed, in
    either engine: the Spark side ranks only complete vectors instead of
    crashing in the driver-side float conversion."""
    from anime_data_pipeline_spark.operators.similarity import (
        seed_centroids,
        seed_centroids_sql,
    )

    rows = [(i, [float(i), 1.0]) for i in range(12)]
    rows[3], rows[5], rows[8] = (3, None), (5, [1.0, None]), (8, [])
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    got = seed_centroids(df, "vec_id", "v", 6)
    con = duckdb.connect()  # from Arrow: pandas would turn null elements into NaN
    con.register("seed_rows", pa.table({"vec_id": [i for i, _ in rows], "v": [v for _, v in rows]}))
    sql = seed_centroids_sql("seed_rows", "vec_id", "v", 6)
    want = [(int(cid), list(cv)) for cid, cv in con.execute(sql).fetchall()]
    assert len(got) == 6 and not {3, 5} & {cid for cid, _ in got}
    assert got == sorted(want)
    complete = [r for r in rows if r[1] is not None and None not in r[1]]
    assert len(seed_centroids(df, "vec_id", "v", 100)) == len(complete)


def _score_py(v, cv):
    """Independent replay of one assignment score: the sequential double
    folds for the dot product and the norms; None where Spark's
    ``try_divide`` gives null (null row or element, length mismatch,
    zero denominator)."""
    import math

    from anime_data_pipeline_spark.operators.similarity import centroid_norm

    if v is None or None in v or len(v) != len(cv):
        return None
    d = vv = 0.0
    for x, y in zip(v, cv):
        d, vv = d + x * y, vv + x * x
    den = math.sqrt(vv) * centroid_norm(cv)
    return None if den == 0 else d / den


def _ranked_py(v, cents):
    """cids best first: NaN highest, null lowest, equal scores to the
    lower cid."""
    import math

    def key(entry):
        s, cid = _score_py(v, entry[1]), entry[0]
        if s is None:
            return (0, 0.0, -cid)
        return (2, 0.0, -cid) if math.isnan(s) else (1, s, -cid)

    return [cid for cid, _ in sorted(cents, key=key, reverse=True)]


def _probe_lists(df, cents, nprobe):
    from anime_data_pipeline_spark.operators.similarity import probe_cells

    got: dict[int, list[int]] = {}
    for r in probe_cells(df, "v", cents, nprobe=nprobe).collect():
        got.setdefault(r["vec_id"], []).append(r["cell"])
    return got


def test_assign_cells_matches_python_fold(spark, sf_dir):
    """The assignment kernel against an independent pure-Python replay
    on the real embeddings, at k below and above 64 (the size where the
    assignment used to switch strategy), and on 1,100 rows in one Arrow
    batch so that rows cross the kernel's 512-row tile edges, with
    hostile rows at 511/512 and 1023/1024: assign_cells gives the top
    cid and probe_cells the top three, in rank order."""
    import random

    from anime_data_pipeline_spark.operators.similarity import (
        assign_cells,
        seed_centroids,
        to_double_array,
    )

    corpus = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array(F.col("embedding")).alias("v")
    )
    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(1100)]
    for i, v in zip((511, 512, 1023, 1024), ([0.0] * 8, None, [1.0] * 7, [1.0, None] * 4)):
        rows[i] = (i, v)
    tiled = spark.createDataFrame(rows, "vec_id long, v array<double>").coalesce(1)
    # cid 0 has another length, so a null element (no score anywhere:
    # cid order) and a NaN element (NaN first among length 8) rank apart
    tiled_cents = [(0, [1.0] * 7), (1, [0.0] * 8)]
    tiled_cents += [(c, [rng.uniform(-1, 1) for _ in range(8)]) for c in range(2, 70)]
    cases = [
        (corpus, seed_centroids(corpus, "vec_id", "v", 16)),
        (corpus, seed_centroids(corpus, "vec_id", "v", 100)),
        (tiled, tiled_cents),
    ]
    for df, cents in cases:
        k = len(cents)
        vecs = {r["vec_id"]: r["v"] for r in df.collect()}
        want = {i: _ranked_py(v, cents)[:3] for i, v in vecs.items()}
        got = {
            r["vec_id"]: r["cell"]
            for r in assign_cells(df, "v", cents).collect()
        }
        assert got == {i: w[0] for i, w in want.items()}, k
        assert _probe_lists(df, cents, 3) == want, k


_HOSTILE_CENTS = [
    (3, [1.0, 0.0, 0.0]),
    (1, [0.0, 1.0, 0.0]),
    (7, [0.0, 0.0, 0.0]),
    (5, [1.0, 0.0, 0.0]),
    (9, [1.0, 1.0]),
    (2, [0.0, 0.0, 1.0]),
]
_HOSTILE_VECS = [
    [1.0, 0.0, 0.0],
    [0.0, 0.0, 0.0],
    [float("nan"), 1.0, 0.0],
    None,
    [1.0, None, 0.0],
    [1.0, 1.0],
    [1.0, 2.0, 3.0, 4.0],
    [-1.0, -1.0, -1.0],
    [0.0, -0.0, 1.0],
    [float("inf"), 0.0, 0.0],
    [1e308, 1e308, 0.0],
    [0.5, 0.5, 0.0],
    [],
]


def test_assign_and_probe_cells_hostile_golden(spark):
    """Zero, NaN, inf, overflowing, null, null-element, empty and
    wrong-length vectors against a zero centroid, duplicate centroids and
    a centroid of another length. Null scores rank last, NaN first, ties
    go to the lower cid; the cells are the ones the earlier literal
    expression gave, and probing no longer raises DIVIDE_BY_ZERO."""
    from anime_data_pipeline_spark.operators.similarity import assign_cells

    df = spark.createDataFrame(
        list(enumerate(_HOSTILE_VECS, 1)), "vec_id long, v array<double>"
    )
    got = {
        r["vec_id"]: r["cell"]
        for r in assign_cells(df, "v", _HOSTILE_CENTS).collect()
    }
    assert [got[i] for i in range(1, 14)] == [3, 1, 1, 1, 1, 9, 1, 1, 2, 1, 7, 1, 1]
    want = {
        1: [3, 5, 1], 2: [1, 2, 3], 3: [1, 2, 3], 4: [1, 2, 3], 5: [1, 2, 3],
        6: [9, 1, 2], 7: [1, 2, 3], 8: [1, 2, 3], 9: [2, 1, 3], 10: [1, 2, 3],
        11: [7, 1, 2], 12: [1, 3, 5], 13: [1, 2, 3],
    }
    assert _probe_lists(df, _HOSTILE_CENTS, 3) == want
    assert {i: _ranked_py(v, _HOSTILE_CENTS)[:3] for i, v in enumerate(_HOSTILE_VECS, 1)} == want


def test_ivf_topk_zero_query_vector_scores_null(spark):
    """A zero query vector (and a zero corpus vector) gives a null
    cosine, ranked after every real score, instead of raising ANSI
    DIVIDE_BY_ZERO in the final scoring."""
    from anime_data_pipeline_spark.operators.similarity import ivf_topk

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [2.0, 0.0]), (4, [0.0, 1.0])],
        "vec_id long, v array<double>",
    )
    queries = spark.createDataFrame(
        [(10, [0.0, 0.0]), (11, [3.0, 0.0])], "vec_id long, v array<double>"
    )
    cents = [(1, [1.0, 0.0])]
    rows = ivf_topk(corpus, queries, cents, "vec_id", "v", k=4).collect()
    got = {(r["query_id"], r["rank"]): (r["vec_id"], r["cosine"]) for r in rows}
    assert [got[(10, i)] for i in range(1, 5)] == [(i, None) for i in (1, 2, 3, 4)]
    assert [got[(11, i)] for i in range(1, 5)] == [(1, 1.0), (3, 1.0), (4, 0.0), (2, None)]


def test_srp_bucket_matches_python_left_fold(spark, sf_dir):
    """The parsed literal-plane bucket equals a Python left fold of
    each vector against the same deterministic planes: bit j is set
    when ((0 + v1*p1) + v2*p2) + ... is positive. A vector whose length
    is not the planes' dim (empty or null included) is bucket 0."""
    from anime_data_pipeline_spark.operators.similarity import (
        _plane_values,
        srp_bucket,
        to_double_array,
    )

    planes = [_plane_values(j, 64) for j in range(8)]

    def bucket_py(v):
        if v is None or len(v) != 64:
            return 0
        out = 0
        for j, plane in enumerate(planes):
            d = 0.0
            for x, y in zip(v, plane):
                d = d + x * y
            out += (1 << j) if d > 0 else 0
        return out

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array(F.col("embedding")).alias("v")
    )
    hostile = spark.createDataFrame(
        [(-1, []), (-2, None), (-3, [1.0, 2.0])], "vec_id long, v array<double>"
    )
    rows = (
        emb.unionByName(hostile)
        .select("vec_id", "v", srp_bucket("v", 8, dim=64).alias("b"))
        .collect()
    )
    assert len(rows) > 3
    assert len({r["b"] for r in rows}) > 1
    for r in rows:
        assert r["b"] == bucket_py(r["v"]), r["vec_id"]


def test_srp_operators_survive_an_empty_or_null_first_vector(spark, sf_dir):
    """The SRP planes are sized by the first non-empty vector, so a
    corpus whose first vector is [] or null runs, and every operator's
    rows that do not involve that vector are the rows it gives without
    it (such a vector scores null and ranks below every candidate). A
    corpus of that vector alone runs too."""
    from anime_data_pipeline_spark.operators.similarity import (
        density_prune,
        embedding_neardup_pairs,
        knn_graph,
        to_double_array,
    )

    base = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array(F.col("embedding")).alias("v")
    )
    # scaled copies give the near-dup operator pairs to find
    emb = base.unionByName(
        base.filter(F.col("vec_id") % 7 == 0).select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform("v", lambda x: x * F.lit(2.0)).alias("v"),
        )
    )
    queries = emb.filter(F.col("vec_id") % 37 == 0)
    ops = {
        "srp_lsh_topk": (
            lambda c: srp_lsh_topk(
                c, queries, "vec_id", "v", k=_K, planes=_PLANES, hamming_probes=1
            ),
            ("query_id", "vec_id"),
        ),
        "embedding_neardup_pairs": (
            lambda c: embedding_neardup_pairs(c, "vec_id", "v"),
            ("id_a", "id_b"),
        ),
        "knn_graph": (
            lambda c: knn_graph(c, "vec_id", "v", k=_K, planes=_PLANES),
            ("src", "dst"),
        ),
        "density_prune": (
            lambda c: density_prune(c, "vec_id", "v", k=_K, planes=_PLANES),
            ("vec_id",),
        ),
    }
    want = {
        name: sorted(map(tuple, op(emb).collect())) for name, (op, _) in ops.items()
    }
    assert all(want.values()), want
    for first in ([], None):
        hostile = spark.createDataFrame([(-1, first)], "vec_id long, v array<double>")
        corpus = hostile.unionByName(emb)
        assert corpus.first()["vec_id"] == -1
        for name, (op, ids) in ops.items():
            rows = op(corpus).collect()
            got = sorted(tuple(r) for r in rows if all(r[c] != -1 for c in ids))
            assert got == want[name], (name, first)
            # no vector to size the planes: every bucket is 0, no raise
            op(hostile).collect()


def test_cosine_operators_survive_a_zero_vector(spark):
    """A zero vector has norm 0, and ANSI double division by zero
    raises, so one such row used to fail the whole job. Its cosine is
    null now: brute_force_topk and knn_graph rank it last (every row
    without it is the row the corpus gives without it),
    embedding_neardup_pairs drops it at the threshold, and
    centroid_cohesion leaves it out of avg_cos while n_vecs counts it
    (its label's centroid keeps its direction)."""
    from anime_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        centroid_cohesion,
        embedding_neardup_pairs,
        knn_graph,
    )

    base = [
        [float((i * 7) % 11 - 5), float((i * 3) % 7 - 3), float((i * 5) % 13 - 6), float(i % 4 + 1)]
        for i in range(24)
    ]
    rows = [(i, i % 3, v) for i, v in enumerate(base)]
    rows += [(24 + i, i % 3, [2.0 * x for x in base[i]]) for i in range(5)]
    schema = "vec_id long, label long, v array<double>"
    clean = spark.createDataFrame(rows, schema)
    corpus = spark.createDataFrame(rows + [(29, 2, [0.0, 0.0, 0.0, 0.0])], schema)
    assert corpus.count() == 30

    def topk(df):
        return brute_force_topk(df, corpus, "vec_id", "v", k=30).collect()

    got = topk(corpus)
    assert len(got) == 30 * 30
    for r in got:
        if 29 in (r["query_id"], r["vec_id"]):
            assert r["cosine"] is None, r
        else:
            assert r["cosine"] is not None, r
    assert sorted(r["rank"] for r in got if r["vec_id"] == 29) == [30] * 30
    assert sorted(tuple(r) for r in got if 29 not in (r["query_id"], r["vec_id"])) == sorted(
        tuple(r) for r in topk(clean) if r["query_id"] != 29
    )

    def edges(df):
        return knn_graph(df, "vec_id", "v", k=_K, planes=2).collect()

    got = edges(corpus)
    assert any(r["src"] == 29 for r in got)
    for r in got:
        if 29 in (r["src"], r["dst"]):
            assert r["cosine"] is None, r
        else:
            assert r["cosine"] is not None, r
    by_src = {}
    for r in got:
        by_src.setdefault(r["src"], []).append((r["rank"], r["cosine"] is None))
    for ranks in by_src.values():
        flags = [null for _, null in sorted(ranks)]
        assert flags == sorted(flags), ranks  # null cosines rank after the rest
    assert sorted(tuple(r) for r in got if 29 not in (r["src"], r["dst"])) == sorted(
        tuple(r) for r in edges(clean)
    )

    def pairs(df):
        return sorted(map(tuple, embedding_neardup_pairs(df, "vec_id", "v").collect()))

    want = pairs(clean)
    assert len(want) == 5
    assert pairs(corpus) == want

    def cohesion(df):
        out = centroid_cohesion(df, "vec_id", "label", "v").collect()
        return {r["label"]: (r["n_vecs"], r["avg_cos"]) for r in out}

    with_zero, without = cohesion(corpus), cohesion(clean)
    assert with_zero.keys() == without.keys() == {0, 1, 2}
    for label, (n, cos) in without.items():
        assert with_zero[label][0] == n + (label == 2)
        assert abs(with_zero[label][1] - cos) < 1e-12, label


def test_semantic_dedup_drops_scaled_copies_keeps_originals(spark):
    """A scaled copy (cosine 1.0) must land in the same cell as its
    original, join its component, and lose the keep flag; unrelated
    vectors keep themselves. Hostile rows keep themselves too: Spark
    orders NaN above every double, so a NaN cosine must never decide a
    pair; a null vector, a null element or a length that differs from
    its cell-mates scores null everywhere (min-id cell) and never pairs
    across lengths, while two copies of one such length still pair."""
    from anime_data_pipeline_spark.operators.similarity import semantic_dedup

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [2.0, 0.0, 0.0]),   # scaled copy of 1
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 1.0]),
        (5, [float("nan"), 0.0, 0.0]),
        (6, None),
        (7, [1.0, 0.0, None]),
        (8, [1.0, 0.0, 0.0, 0.0]),
        (9, [0.0, 0.0, 0.0, 3.0]),
        (10, [0.0, 0.0, 0.0, 6.0]),  # scaled copy of 9
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(10, [1.0, 0.1, 0.0]), (20, [0.0, 1.0, 0.1]), (30, [0.1, 0.0, 1.0])]
    out = semantic_dedup(df, "vec_id", "embedding", cents, threshold=0.99).collect()
    assert {r["vec_id"]: (r["cell"], r["component"], r["keep"]) for r in out} == {
        1: (10, 1, True),
        2: (10, 1, False),
        3: (20, 3, True),
        4: (30, 4, True),
        5: (10, 5, True),
        6: (10, 6, True),
        7: (10, 7, True),
        8: (10, 8, True),
        9: (10, 9, True),
        10: (10, 9, False),
    }


def test_semantic_dedup_survives_zero_vectors_through_kmeans(spark):
    """ANSI double division by zero raises, so a zero-norm embedding, or
    a zero-vector seed centroid, used to fail the cell assignment. The
    whole chain seed_centroids → kmeans_refine → semantic_dedup must
    run: a zero vector scores null everywhere, lands in the min-id
    cell, never pairs and keeps itself; real copies still dedup."""
    import random

    from anime_data_pipeline_spark.functions.hashing import P
    from anime_data_pipeline_spark.operators.similarity import (
        kmeans_refine,
        seed_centroids,
        seed_constants,
        semantic_dedup,
    )

    rng = random.Random(7)
    vecs = {i: [rng.gauss(0.0, 1.0) for _ in range(8)] for i in range(1, 41)}
    a, b = seed_constants()
    first_seed = min(vecs, key=lambda i: ((a * (i % P) + b) % P, i))
    src = min(i for i in vecs if i != first_seed)
    vecs[first_seed] = [0.0] * 8  # becomes a zero-vector seed centroid
    vecs[41] = [0.0] * 8
    vecs[42] = [2.0 * x for x in vecs[src]]
    df = spark.createDataFrame(
        sorted(vecs.items()), "vec_id long, embedding array<double>"
    )
    seeds = seed_centroids(df, "vec_id", "embedding", 4)
    assert [0.0] * 8 in [cv for _, cv in seeds]
    cents = kmeans_refine(df, "vec_id", "embedding", seeds, iters=2)
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(df, "vec_id", "embedding", cents).collect()
    }
    assert sorted(out) == sorted(vecs)
    min_cell = min(cid for cid, _ in cents)
    for z in (first_seed, 41):
        assert (out[z]["cell"], out[z]["component"], out[z]["keep"]) == (min_cell, z, True)
    assert out[42]["cell"] == out[src]["cell"]
    assert (out[42]["component"], out[42]["keep"]) == (src, False)
    assert out[src]["keep"]


def test_semantic_dedup_tile_edges_match_union_find(spark):
    """One cell of 1,100 vectors spans three 512-row score tiles. Copies
    straddle both tile edges (rows 511/512 and 1023/1024) and
    non-adjacent tiles, and a three-link chain runs through all three
    tiles (each link ≥ threshold, its ends below it). Components must
    equal a NumPy union-find over every in-cell pair."""
    import numpy as np

    from anime_data_pipeline_spark.operators.similarity import semantic_dedup

    n, dim, thr = 1100, 16, 0.99
    rng = np.random.default_rng(11)
    x = rng.standard_normal((n, dim))
    for src, dst in [(511, 512), (1023, 1024), (3, 1050), (700, 20)]:
        x[dst] = 2.0 * x[src]
    u, w = np.eye(dim)[0], np.eye(dim)[1]
    for row, deg in [(100, 0.0), (600, 6.0), (1090, 12.0)]:
        t = np.radians(deg)
        x[row] = np.cos(t) * u + np.sin(t) * w

    unit = x / np.linalg.norm(x, axis=1)[:, None]
    gram = unit @ unit.T
    # no pair decided by rounding
    assert np.all(np.abs(gram[np.triu_indices(n, 1)] - thr) > 1e-9)
    parent = list(range(n))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    ii, jj = np.nonzero(np.triu(gram >= thr, k=1))
    for i, j in zip(ii.tolist(), jj.tolist()):
        ri, rj = find(i), find(j)
        if ri != rj:
            parent[max(ri, rj)] = min(ri, rj)
    want = {i: find(i) for i in range(n)}
    assert want[512] == 511 and want[1024] == 1023 and want[1050] == 3
    assert want[700] == 20 and want[600] == 100 and want[1090] == 100

    df = spark.createDataFrame(
        [(i, x[i].tolist()) for i in range(n)], "vec_id long, embedding array<double>"
    )
    out = semantic_dedup(df, "vec_id", "embedding", [(0, [1.0] * dim)], threshold=thr)
    got = {r["vec_id"]: r["component"] for r in out.collect()}
    assert got == want


def test_knn_graph_mutual_flag_and_recall(spark, sf_dir):
    """Mutual must be true iff the reverse edge is in the edge list;
    the graph's edges must be real near-neighbors (positive recall of
    the exact kNN sets on the bucketed candidates)."""
    from anime_data_pipeline_spark.operators.similarity import knn_graph

    corpus = load_table(spark, sf_dir, "embeddings")
    edges = knn_graph(corpus, "vec_id", "embedding", k=_K, planes=_PLANES)
    rows = edges.collect()
    eset = {(r["src"], r["dst"]) for r in rows}
    for r in rows:
        assert r["mutual"] == ((r["dst"], r["src"]) in eset)
        assert r["src"] != r["dst"]
    # per-source edge count is capped at k and ranks are 1..n contiguous
    by_src: dict[int, list[int]] = {}
    for r in rows:
        by_src.setdefault(r["src"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) and len(v) <= _K
               for v in by_src.values())


def test_knn_graph_probe_depth2_superset(spark, sf_dir):
    """Depth-2 probing must yield candidate supersets: every depth-1
    edge's (src, dst) pair stays reachable, so per-src top-k cosine at
    depth 2 is >= at depth 1 (more candidates can only improve the
    best-k). Depth outside {1, 2} is rejected."""
    import pytest as _pytest

    from anime_data_pipeline_spark.operators.similarity import knn_graph

    corpus = load_table(spark, sf_dir, "embeddings").limit(120)
    d1 = knn_graph(corpus, "vec_id", "embedding", k=3, planes=6, probe_depth=1)
    d2 = knn_graph(corpus, "vec_id", "embedding", k=3, planes=6, probe_depth=2)
    worst1 = {r["src"]: r["cosine"] for r in d1.collect() if r["rank"] == 3}
    worst2 = {r["src"]: r["cosine"] for r in d2.collect() if r["rank"] == 3}
    assert set(worst1) <= set(worst2)  # depth 2 reaches at least depth 1's srcs
    for src, c1 in worst1.items():
        assert worst2[src] >= c1 - 1e-12, src
    with _pytest.raises(ValueError):
        knn_graph(corpus, "vec_id", "embedding", probe_depth=3)


def test_quantize_int8_bounds_and_zero_vector(spark):
    from anime_data_pipeline_spark.operators.similarity import quantize_int8

    rows = [
        (1, [1.0, -0.5, 0.25, 0.0], 0),
        (2, [0.0, 0.0, 0.0, 0.0], 0),      # zero vector: scale falls back to 1
        (3, [127.0, -127.0, 63.5, 1.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = {r["vec_id"]: r for r in quantize_int8(df, "vec_id", "embedding").collect()}
    for r in out.values():
        assert all(-127 <= q <= 127 for q in r["qv"])
        # per-element reconstruction error is bounded by scale/2
        assert r["max_abs_err"] <= r["scale"] / 2 + 1e-12
    assert out[2]["scale"] == 1.0 and out[2]["q_l1"] == 0 and out[2]["mse"] == 0.0
    # extreme elements map exactly to ±127
    assert out[3]["qv"][0] == 127 and out[3]["qv"][1] == -127


def test_density_prune_drops_planted_dense_cluster_first(spark):
    """Semantic check: a corpus of well-spread vectors plus one planted
    tight cluster — the cluster members must occupy the top density
    ranks and be the ones dropped at drop_frac = cluster share."""
    import numpy as np

    from anime_data_pipeline_spark.operators.similarity import density_prune

    rng = np.random.default_rng(11)
    dim = 8
    spread = rng.normal(size=(80, dim))
    base = rng.normal(size=dim)
    cluster = base + rng.normal(scale=0.01, size=(20, dim))
    rows = [
        (i, [float(x) for x in v])
        for i, v in enumerate(np.vstack([spread, cluster]))
    ]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    out = density_prune(df, "vec_id", "v", k=5, planes=6, drop_frac=0.2)
    dropped = {r["vec_id"] for r in out.filter(~F.col("kept")).collect()}
    cluster_ids = set(range(80, 100))
    # every dropped row is a planted-cluster member (cosines ~1.0 there)
    assert dropped, "nothing dropped"
    assert dropped <= cluster_ids, f"dropped non-cluster rows: {dropped - cluster_ids}"
    # and most of the cluster is caught (some members may miss the
    # bucket if the perturbation flips a plane — allow slack)
    assert len(dropped) >= 10, f"only {len(dropped)} of 20 cluster rows dropped"


def test_pq_self_query_has_zero_adc_distance(spark, sf_dir):
    """A query that IS a codebook seed row reconstructs exactly (its
    own codeword at every subspace), so its ADC distance to itself is
    0.0 — and pq_encode must assign it its own cid per subspace."""
    from anime_data_pipeline_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebook,
        pq_encode,
    )

    corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb = pq_codebook(corpus, "vec_id", "embedding", ks=16)
    seed_ids = [cid for cid, _ in cb][:3]
    codes = (
        pq_encode(corpus, "vec_id", "embedding", cb, m=8)
        .filter(F.col("vec_id").isin(seed_ids))
        .collect()
    )
    for r in codes:
        assert r["code"] == r["vec_id"], (
            f"seed row {r['vec_id']} subspace {r['j']} encoded to {r['code']}"
        )
    queries = corpus.filter(F.col("vec_id").isin(seed_ids))
    out = pq_adc_topk(corpus, queries, "vec_id", "embedding", cb, m=8, k=3)
    selfpairs = {
        r["query_id"]: r["adc_d2"]
        for r in out.collect()
        if r["query_id"] == r["vec_id"]
    }
    assert set(selfpairs) == set(seed_ids)
    assert all(d == 0.0 for d in selfpairs.values()), selfpairs


def test_pq_encode_plan_is_broadcast_join(spark, sf_dir):
    """The encode must broadcast the tiny codebook — never a literal
    CASE tree (plan-size blow-up) and never a shuffled join."""
    from anime_data_pipeline_spark.operators.similarity import (
        pq_codebook,
        pq_encode,
    )

    corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb = pq_codebook(corpus, "vec_id", "embedding", ks=16)
    plan = (
        pq_encode(corpus, "vec_id", "embedding", cb, m=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pq_adc_is_nonnegative_and_complete(spark, sf_dir):
    """Every (query, corpus) pair gets a rank 1..k; ADC distances are
    non-negative and non-decreasing in rank per query."""
    from anime_data_pipeline_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebook,
    )

    corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = corpus.filter(F.col("vec_id") % 97 == 0)
    cb = pq_codebook(corpus, "vec_id", "embedding", ks=16)
    rows = pq_adc_topk(
        corpus, queries, "vec_id", "embedding", cb, m=8, k=5
    ).collect()
    by_q: dict = {}
    for r in rows:
        assert r["adc_d2"] >= 0.0
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["adc_d2"]))
    for q, pairs in by_q.items():
        pairs.sort()
        assert [p[0] for p in pairs] == list(range(1, len(pairs) + 1))
        ds = [p[1] for p in pairs]
        assert ds == sorted(ds), f"ADC not monotone for query {q}: {ds}"


def test_margin_mining_pairs_beat_their_neighborhood(spark, sf_dir):
    """Margin ≥ 1 means the pair's cosine is at least the mean of each
    side's top-k neighborhood — verify the invariant holds against the
    raw q136 candidate scores."""
    from anime_data_pipeline_spark.queries.similarity_q import (
        q136_margin_bitext_mining,
    )

    out = q136_margin_bitext_mining(spark, str(sf_dir)).collect()
    assert out, "no mined pairs"
    for r in out:
        assert r["margin"] >= 1.0
        assert -1.0 <= r["cosine"] <= 1.0


def test_suggested_planes_sizing_rule():
    """Production planes sizing: constant target occupancy as the
    corpus grows (the knob the round-6 stress tier measured)."""
    from anime_data_pipeline_spark.operators.similarity import suggested_planes

    assert suggested_planes(0) == 4
    assert suggested_planes(200) == 4          # tiny corpus clamps low
    assert suggested_planes(20_000) == 10      # ~16/bucket
    assert suggested_planes(20_000_000) == 20
    assert suggested_planes(10**12) == 24      # clamps high
    # doubling the corpus adds ~1 plane: occupancy stays flat
    assert suggested_planes(40_000) == suggested_planes(20_000) + 1
