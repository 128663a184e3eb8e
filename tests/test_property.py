"""Property tests (SURVEY §5 item 1): hypothesis-driven invariants on
the pure-Python executable specs, plus seeded randomized batched
equivalence between the Spark expressions and those specs (one
DataFrame per suite — not one Spark job per example)."""

from __future__ import annotations

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from anime_data_pipeline_spark.operators.bucketing import (
    BucketConfig,
    assign_bucket_columns,
    make_bucket_resolutions,
    select_bucket_py,
)
from anime_data_pipeline_spark.operators.tags import (
    clean_tags_df,
    clean_tags_py,
    novelai_order_df,
    novelai_order_py,
)

# ---------------------------------------------------------------------------
# hypothesis invariants on the Python spec (fast: no Spark)
# ---------------------------------------------------------------------------
_sizes = st.integers(min_value=16, max_value=8192)


@settings(max_examples=300, deadline=None)
@given(w=_sizes, h=_sizes)
def test_upscale_bucket_is_nearest_ar(w, h):
    cfg = BucketConfig()
    resos = make_bucket_resolutions(cfg)
    out = select_bucket_py(w, h, cfg)
    got_err = abs(out["bucket_w"] / out["bucket_h"] - w / h)
    best = min(abs(rw / rh - w / h) for rw, rh in resos)
    assert got_err == pytest.approx(best, abs=1e-12)
    assert (out["bucket_w"], out["bucket_h"]) in set(resos)
    # resized covers the bucket (bucket_manager.py:200)
    assert out["resized_w"] >= out["bucket_w"]
    assert out["resized_h"] >= out["bucket_h"]


@settings(max_examples=300, deadline=None)
@given(w=_sizes, h=_sizes)
def test_noupscale_bucket_bounds(w, h):
    cfg = BucketConfig(no_upscale=True)
    out = select_bucket_py(w, h, cfg)
    assert out["bucket_w"] % cfg.reso_steps == 0
    assert out["bucket_h"] % cfg.reso_steps == 0
    # bucket fits inside the resized image, except degenerate inputs
    # below one step where the floor is clamped to reso_steps
    assert out["bucket_w"] <= max(out["resized_w"], cfg.reso_steps)
    assert out["bucket_h"] <= max(out["resized_h"], cfg.reso_steps)
    # the scaled image never exceeds max_area beyond rounding slack
    if w * h > cfg.max_area:
        assert out["resized_w"] * out["resized_h"] <= cfg.max_area * 1.05
    else:  # no-upscale: small images keep their size
        assert (out["resized_w"], out["resized_h"]) == (w, h)


# ---------------------------------------------------------------------------
# seeded randomized Spark ≡ Python-spec equivalence (batched)
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("no_upscale", [False, True])
def test_bucket_columns_random_equivalence(spark, no_upscale):
    rng = random.Random(42)
    sizes = [(rng.randint(16, 8192), rng.randint(16, 8192)) for _ in range(400)]
    sizes += [(w, w) for w in (64, 256, 1024, 2048, 4096)]
    cfg = BucketConfig(no_upscale=no_upscale)
    df = spark.createDataFrame(
        [(i, w, h) for i, (w, h) in enumerate(sizes)],
        "image_key int, width int, height int",
    )
    got = {r["image_key"]: r for r in assign_bucket_columns(df, cfg=cfg).collect()}
    for i, (w, h) in enumerate(sizes):
        exp = select_bucket_py(w, h, cfg)
        for k, v in exp.items():
            assert got[i][k] == pytest.approx(v, abs=0, rel=0), (w, h, k)


_TAG_ALPHABET = [
    "long_hair", "short_hair", "medium_hair", "blue_eyes", "red_eyes",
    "bob_cut", "hime_cut", "ponytail", "twintails", "sidelocks",
    "long_sleeves", "sleeveless", "white_hair", "red_hair", "hair",
    "hair_ornament", "red_hair_ornament", "2girls", "1girl", "3boys",
    "^_^", "rating safe", "post_rating", "smile", "standing", "hat",
    "single_hair_bun", "two_side_up",
]


def test_clean_tags_random_equivalence(spark):
    rng = random.Random(7)
    rowset = []
    for i in range(300):
        n = rng.randint(0, 12)
        rowset.append((i, [rng.choice(_TAG_ALPHABET) for _ in range(n)]))
    df = spark.createDataFrame(rowset, "id int, tags array<string>")
    out = clean_tags_df(df, F.col("tags"), out="cleaned")
    got = {r["id"]: r["cleaned"] for r in out.collect()}
    for i, tags in rowset:
        assert got[i] == clean_tags_py(list(tags)), (i, tags)


def test_novelai_order_random_equivalence(spark):
    # more than 10 names, so the names form runs as a hashed InSet probe
    vocab = ["long hair", "short hair", "blue eyes", "smile", "standing",
             "o'neil", "back\\slash", "a,b", "café", " pad ", "sitting", "open mouth"]
    extra = ["hatsune miku", "1girl", "tall boy", "high resolution",
             "16:9", "x ray", "aspect control", "ratio thing", "holo",
             "o'neil char", "pad", ",edge", "edge,", None]
    rng = random.Random(11)
    rowset = []
    for i in range(300):
        n = rng.randint(0, 10)
        rowset.append(
            (i, [rng.choice(vocab + extra) for _ in range(n)] if i % 50 else None)
        )
    df = spark.createDataFrame(rowset, "id int, tags array<string>")
    for v in (vocab, F.array(*[F.lit(t) for t in vocab])):
        out = novelai_order_df(df, F.col("tags"), v, out="ordered")
        got = {r["id"]: r["ordered"] for r in out.select("id", "ordered").collect()}
        for i, tags in rowset:
            kept = [t for t in tags or [] if t is not None]
            assert got[i] == novelai_order_py(kept, set(vocab)), (type(v).__name__, i, tags)


# ---------------------------------------------------------------------------
# greedy packing: vectorized chase ≡ sequential spec
# ---------------------------------------------------------------------------
@settings(max_examples=300, deadline=None)
@given(
    ws=st.lists(st.integers(min_value=0, max_value=500), max_size=200),
    budget=st.integers(min_value=1, max_value=300),
)
def test_pack_chase_equals_spec(ws, budget):
    from anime_data_pipeline_spark.operators.packing import (
        pack_greedy_np,
        pack_greedy_py,
    )

    assert pack_greedy_np(ws, budget).tolist() == pack_greedy_py(ws, budget)


# ---------------------------------------------------------------------------
# star-contraction CC ≡ union-find, randomized graphs batched into ONE
# Spark job (disjoint node-id ranges per example)
# ---------------------------------------------------------------------------
def _union_find_components(n_nodes: int, edges: list) -> dict:
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical min-id labels
    return {v: find(v) for v in range(n_nodes)}


def test_star_cc_equals_union_find_on_random_graphs(spark):
    from anime_data_pipeline_spark.operators.dedup import connected_components

    rng = random.Random(42)
    all_edges, all_nodes, want = [], [], {}
    base = 0
    for trial in range(25):
        n = rng.randrange(1, 60)
        m = rng.randrange(0, 2 * n)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        labels = _union_find_components(n, edges)
        want.update({base + v: base + c for v, c in labels.items()})
        all_nodes += [base + v for v in range(n)]
        all_edges += [(base + a, base + b) for a, b in edges]
        base += n
    nodes = spark.createDataFrame([(v,) for v in all_nodes], "node long")
    edges_df = spark.createDataFrame(
        all_edges or [(0, 0)], "id_a long, id_b long"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(nodes, edges_df, max_iters=30).collect()
    }
    assert got == want
