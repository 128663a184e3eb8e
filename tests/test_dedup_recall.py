"""Recall guarantees of the near-dup operators: oracle parity proves
Spark ≡ DuckDB, these prove the algorithms actually CATCH the
duplicates the mutated corpus plants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from anime_data_pipeline_spark.operators.similarity import (
    embedding_neardup_pairs,
    srp_bucket,
    to_double_array,
)
from anime_data_pipeline_spark.plans.curation import curate_corpus
from anime_data_pipeline_spark.queries.dedup_q import (
    _BANDS,
    _K,
    _NGRAM,
    _THRESH,
    mutated_corpus,
)
from anime_data_pipeline_spark.operators.dedup import minhash_lsh_pairs


def test_lsh_catches_every_exact_copy(spark, sf_dir):
    """An exact copy has an identical signature → collides in EVERY
    band → must be reported with jaccard 1.0, no exceptions."""
    corpus = mutated_corpus(spark, sf_dir)
    base_ids = {
        r["doc_id"] for r in corpus.filter(F.col("doc_id") < 100000).collect()
    }
    expected = {(i, i + 100000) for i in base_ids if i % 3 == 0}
    pairs = minhash_lsh_pairs(
        corpus, "doc_id", "text", n=_NGRAM, k=_K, bands=_BANDS, threshold=_THRESH
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in pairs.filter(F.col("id_b") - F.col("id_a") == 100000).collect()
    }
    missing = expected - set(got)
    assert not missing, f"exact copies not caught: {sorted(missing)[:5]}"
    assert all(got[p] == pytest.approx(1.0) for p in expected)


def test_curation_removes_all_exact_copies(spark, sf_dir):
    """After curation no two surviving docs share identical text."""
    corpus = mutated_corpus(spark, sf_dir)
    curated = curate_corpus(corpus, "doc_id", "text", quality_threshold=0.0)
    n = curated.count()
    assert n == curated.select("text").distinct().count()
    # and the kept representative is always the smallest id of its group
    survivors = {r["doc_id"] for r in curated.select("doc_id").collect()}
    assert not any(i + 100000 in survivors and i in survivors
                   for i in range(0, 100000, 3))


def test_curation_passes_through_input_columns_named_like_quality_ratios(spark):
    """Only n_tokens and quality_score are re-selected by curate_corpus,
    so only those two input names are excluded from the passthrough; an
    input column that shares a name with another quality output (here
    punct_ratio) must survive."""
    corpus = spark.createDataFrame(
        [(1, "the cat sat on the mat", 0.5), (2, "a dog ran in the park", 0.5)],
        "doc_id long, text string, punct_ratio double",
    )
    curated = curate_corpus(corpus, "doc_id", "text", quality_threshold=0.0)
    assert "punct_ratio" in curated.columns
    assert curated.count() == 2


def test_srp_catches_every_scaled_copy(spark, sf_dir):
    """A scaled copy points the same direction → identical SRP signs →
    same bucket → must be verified at cosine ≈ 1."""
    from anime_data_pipeline_spark.catalog import load_table

    base = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array(F.col("embedding")).alias("v")
    )
    scaled = base.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(F.col("v"), lambda x: x * F.lit(2.0)).alias("v"),
    )
    corpus = base.unionByName(scaled)
    pairs = embedding_neardup_pairs(corpus, "vec_id", "v", threshold=0.99)
    got = {
        (r["id_a"], r["id_b"])
        for r in pairs.filter(F.col("id_b") - F.col("id_a") == 100000).collect()
    }
    expected = {
        (r["vec_id"], r["vec_id"] + 100000)
        for r in base.filter(F.col("vec_id") % 7 == 0).collect()
    }
    assert expected <= got, f"missing {sorted(expected - got)[:5]}"


def test_banded_srp_bucket_occupancy_bounded(spark, sf_dir):
    """Scale property of the banded blocking (16 planes × 4 tables):
    the candidate-pair count — sum over tables of within-bucket pairs —
    must stay a small fraction of the quadratic all-pairs count. This
    is the guard against the old planes=8 default, whose 256 buckets
    made every bucket quadratic at scale."""
    from anime_data_pipeline_spark.catalog import load_table

    base = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array(F.col("embedding")).alias("v")
    )
    n = base.count()
    all_pairs = n * (n - 1) / 2
    total_cand = 0
    for t in range(4):
        hist = (
            base.withColumn("b", srp_bucket("v", 16, first_plane=t * 16, dim=64))
            .groupBy("b")
            .count()
        )
        cand = hist.agg(
            F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("c")
        ).collect()[0]["c"]
        total_cand += cand or 0
    # real embeddings are not uniform over sign patterns, so allow slack
    # over the uniform N/2^16 expectation — but quadratic blowup (the
    # planes=8 failure mode put ~N²/256 per table) must be impossible.
    assert total_cand < 0.05 * all_pairs * 4, (
        f"banded SRP produced {total_cand} candidates vs {all_pairs} all-pairs"
    )


def test_simhash_matches_duckdb_reference(spark):
    """The Arrow-batched numpy bit-fold (q33) must equal q33's DuckDB
    fold (``_simhash_term_sql`` over ``polyhash_sql`` token hashes),
    including the edge rows the batched reduceat has to special-case:
    empty token lists, null text, and single-token docs."""
    import duckdb
    import pyarrow as pa

    from anime_data_pipeline_spark.functions.hashing import polyhash_sql
    from anime_data_pipeline_spark.functions.text import tokens_sql
    from anime_data_pipeline_spark.operators.dedup import simhash_df
    from anime_data_pipeline_spark.queries.dedup_q import _simhash_term_sql

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, ""),  # no tokens
        (2, None),  # null text
        (3, "one"),  # single token
        (4, "  "),  # whitespace only
        (5, "repeat repeat repeat repeat"),
    ] + [(10 + i, f"doc {i} filler text with shared words {i % 3}") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r["fp"] for r in simhash_df(df, "text", out="fp").collect()}
    docs = pa.table(
        {"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]}
    )
    con = duckdb.connect()
    con.register("docs", docs)
    fold = " + ".join(_simhash_term_sql(b) for b in range(30))
    want = dict(
        con.execute(
            f"""SELECT doc_id, CAST({fold} AS BIGINT) FROM (
                  SELECT doc_id,
                         list_transform({tokens_sql("text")},
                                        t -> {polyhash_sql("t")}) AS th
                  FROM docs)"""
        ).fetchall()
    )
    assert got == want
    assert got[1] == got[2] == got[4] == 0


def test_star_cc_path_graph_logarithmic_rounds(spark):
    """A 256-node path is the adversarial case for min-label
    propagation (O(diameter) = 255 rounds). Alternating
    large-star/small-star must label it in O(log n) rounds — the
    property that makes CC safe on 100 TB duplicate graphs."""
    import math

    from anime_data_pipeline_spark.operators.dedup import connected_components

    n = 256
    nodes = spark.range(n).select(F.col("id").alias("node"))
    edges = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    # small_edge_threshold=0 forces the general path: this test pins
    # the STAR CONTRACTION property itself, which the measured-size
    # fast path would otherwise absorb at this scale.
    labels = connected_components(nodes, edges, max_iters=12, small_edge_threshold=0)
    assert connected_components.last_path == "star"
    assert labels.filter(F.col("component") != 0).count() == 0
    rounds = connected_components.last_rounds
    assert rounds <= math.log2(n) + 2, f"star CC took {rounds} rounds"


def test_cc_small_fast_path_equals_star_path(spark):
    """Falsifiability for the measured-size fast path: the SAME mixed
    topology (cliques + bridge + path + isolates) must label
    identically through the single-task kernel (default threshold),
    the general star path (threshold=0), and a mid-run switch
    (threshold sized so the loop starts general and finishes small)."""
    import random

    from anime_data_pipeline_spark.operators.dedup import connected_components

    rng = random.Random(13)
    # Dense random block (60 nodes, ~400 distinct edges — star rounds
    # contract it steeply toward ~1 edge/non-root) + a path + isolates.
    pairs = (
        sorted({tuple(sorted(rng.sample(range(60), 2))) for _ in range(500)})
        + [(100 + i, 100 + i + 1) for i in range(30)]
        + [(59, 100)]
    )
    edges = spark.createDataFrame(pairs, "id_a long, id_b long")
    node_ids = sorted({x for p in pairs for x in p} | {990, 991})
    nodes = spark.createDataFrame([(i,) for i in node_ids], "node long")

    def run(threshold):
        got = {
            r["node"]: r["component"]
            for r in connected_components(
                nodes, edges, small_edge_threshold=threshold
            ).collect()
        }
        return got, connected_components.last_path, connected_components.last_rounds

    star, star_path, _ = run(0)
    assert star_path == "star"
    small, small_path, small_rounds = run(len(pairs) + 1)
    assert small_path == "small" and small_rounds == 0
    # threshold below the initial distinct edge count (~430) but above
    # the post-round-1 edge set (≈ non-root node count, ≈ 92) → enters
    # the loop, then switches: both fast-path branch points exercised.
    mid, mid_path, mid_rounds = run(150)
    assert mid_path == "small" and mid_rounds >= 1
    assert small == star and mid == star


def test_star_cc_matches_label_propagation_semantics(spark):
    """Mixed topology: two cliques, a bridge, isolated nodes —
    component must be the min reachable id for every node."""
    from anime_data_pipeline_spark.operators.dedup import connected_components

    pairs = (
        [(i, j) for i in range(5) for j in range(i + 1, 5)]  # clique 0-4
        + [(10 + i, 10 + j) for i in range(4) for j in range(i + 1, 4)]  # 10-13
        + [(4, 10)]  # bridge merges them
        + [(20, 21)]
    )
    edges = spark.createDataFrame(pairs, "id_a long, id_b long")
    nodes = spark.createDataFrame(
        [(i,) for i in list(range(5)) + list(range(10, 14)) + [20, 21, 30]],
        "node long",
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(nodes, edges).collect()
    }
    want = {i: 0 for i in list(range(5)) + list(range(10, 14))}
    want.update({20: 20, 21: 20, 30: 30})
    assert got == want


def test_leakage_safe_split_never_splits_a_component(spark, sf_dir):
    """Every near-dup component must land entirely in ONE split, and
    the split fractions must be roughly the configured weights."""
    from anime_data_pipeline_spark.registry import all_queries

    out = all_queries()["q91_leakage_safe_split"](spark, sf_dir)
    per_comp = out.groupBy("component").agg(
        F.countDistinct("split").alias("n_splits")
    )
    assert per_comp.filter(F.col("n_splits") > 1).count() == 0
    counts = {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}
    total = sum(counts.values())
    assert counts.get("train", 0) / total > 0.8
    assert 0 < counts.get("val", 0) / total < 0.12
    assert 0 < counts.get("test", 0) / total < 0.12


def test_exact_dedup_groups_exactly_like_text_equality(spark):
    """The native (xxhash64, hash) key groups hostile texts exactly as
    text equality does: '' against ' ' and against '\\x00' (equal under
    both polynomial hashes), non-ASCII text, the base-31 collision
    'XY'/'Y:', letter case, and one text under three ids, which keeps
    its smallest id. No shingle is shared, so only exact dedup drops
    rows. The token-hash column the chain carries stays internal."""
    texts = ["", " ", "\x00", "héllo wörld", "日本語 テキスト", "XY", "Y:",
             "same text", "Same text", "same text", "same text"]
    corpus = spark.createDataFrame(
        list(enumerate(texts, start=1)), "doc_id long, text string"
    )
    curated = curate_corpus(corpus, "doc_id", "text", quality_threshold=0.0)
    assert curated.columns == ["doc_id", "text", "n_tokens", "quality_score"]
    keepers = {}
    for i, t in enumerate(texts, start=1):
        keepers.setdefault(t, i)
    assert sorted(r["doc_id"] for r in curated.collect()) == sorted(keepers.values())
    spark.catalog.clearCache()


def test_document_without_shingles_keeps_zero_hits(spark):
    """benchmark_contamination reports a document with no n-gram
    shingle (fewer than n tokens, or none) with n_hits = 0, whether it
    hashes the text itself or reads a precomputed token-hash column."""
    from anime_data_pipeline_spark.functions.hashing import (
        token_hashes_spark_expr,
        tokens_spark_expr,
    )
    from anime_data_pipeline_spark.operators.dedup import benchmark_contamination

    corpus = spark.createDataFrame(
        [(1, "two words"), (2, ""), (3, "the cat sat on the mat")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(9, "the cat sat on")], "doc_id long, text string")
    expected = {1: (0, 0, 0.0), 2: (0, 0, 0.0), 3: (4, 2, 0.5)}
    th = corpus.withColumn("_th", F.expr(token_hashes_spark_expr(tokens_spark_expr("text"))))
    for df, th_col in ((corpus, None), (th, "_th")):
        out = benchmark_contamination(df, bench, "doc_id", "text", n=3, th_col=th_col)
        assert out.columns == ["doc", "n_shingles", "n_hits", "overlap_frac"]
        got = {r["doc"]: (r["n_shingles"], r["n_hits"], r["overlap_frac"]) for r in out.collect()}
        assert got == expected, th_col
