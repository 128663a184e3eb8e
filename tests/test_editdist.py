"""Edit-distance near-dup verification (operators/dedup.py:
editdist_verify_neardups) — banded-DP semantics and the band-candidate
refactor shared with minhash_lsh_pairs."""

from __future__ import annotations

from pyspark.sql import functions as F

from anime_data_pipeline_spark.operators.dedup import editdist_verify_neardups


def _corpus(spark):
    base = "the quick brown fox jumps over the lazy dog again and again ok"
    rows = [
        (1, base),
        (2, base),  # exact copy → lev 0, sim 1.0
        (3, base + " tail tail"),  # near-dup → small lev
        (4, "completely different words here nothing shared at all xyz"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_and_near_pairs_found(spark):
    out = {
        (r["id_a"], r["id_b"]): (r["lev"], r["edit_sim"])
        for r in editdist_verify_neardups(
            _corpus(spark), "doc_id", "text", min_sim=0.8
        ).collect()
    }
    assert out[(1, 2)][0] == 0 and out[(1, 2)][1] == 1.0
    assert (1, 3) in out and 0 < out[(1, 3)][0] <= 10
    assert all(4 not in pair for pair in out)


def test_banded_earlyout_matches_unbanded_filter(spark):
    # a pair that collides in a band but is too distant must be absent,
    # whether pruned by the banded -1 early-out or the sim filter.
    df = _corpus(spark)
    strict = editdist_verify_neardups(df, "doc_id", "text", min_sim=0.99)
    pairs = {(r["id_a"], r["id_b"]) for r in strict.collect()}
    assert (1, 2) in pairs  # identical survives any threshold
    assert (1, 3) not in pairs  # near-dup below 0.99 is dropped


def test_levenshtein_threshold_semantics(spark):
    # Spark's banded levenshtein returns -1 above the threshold; the
    # operator must never emit a negative distance.
    out = editdist_verify_neardups(_corpus(spark), "doc_id", "text", min_sim=0.5)
    assert out.filter(F.col("lev") < 0).count() == 0


def test_remove_duplicate_spans_semantics(spark):
    from anime_data_pipeline_spark.operators.dedup import remove_duplicate_spans

    shared = "one two three four five six seven eight nine ten"
    rows = [
        (1, shared + " tail-a unique-a"),
        (2, shared + " tail-b unique-b"),  # shares the 10-token prefix span
        (3, "totally different words with no repeated span at all here ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc"]: r for r in
           remove_duplicate_spans(df, "doc_id", "text", n=10, min_count=2).collect()}
    # the shared 10-token span is dropped from BOTH docs; tails survive
    assert out[1]["n_dropped"] == 10 and out[2]["n_dropped"] == 10
    assert out[1]["cleaned"] == "tail-a unique-a"
    assert out[2]["cleaned"] == "tail-b unique-b"
    # the unique doc is untouched
    assert out[3]["n_dropped"] == 0
    assert out[3]["cleaned"] == rows[2][1]


def test_remove_duplicate_spans_full_coverage_empty_doc(spark):
    from anime_data_pipeline_spark.operators.dedup import remove_duplicate_spans

    text = "a b c d e f g h i j"
    df = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    out = {r["doc"]: r for r in
           remove_duplicate_spans(df, "doc_id", "text", n=10, min_count=2).collect()}
    # exact copies: every token covered, cleaned text is empty
    assert out[1]["n_dropped"] == 10 and out[1]["cleaned"] == ""
    assert out[2]["n_dropped"] == 10 and out[2]["cleaned"] == ""


def test_remove_duplicate_spans_overlap_union(spark):
    from anime_data_pipeline_spark.operators.dedup import remove_duplicate_spans

    # doc 1 contains the shared 4-gram twice, overlapping coverage must
    # union (not double-count) and interior repeats both drop
    df = spark.createDataFrame(
        [(1, "w x y z w x y z tail"), (2, "w x y z other stuff here")],
        "doc_id long, text string",
    )
    out = {r["doc"]: r for r in
           remove_duplicate_spans(df, "doc_id", "text", n=4, min_count=2).collect()}
    assert out[1]["cleaned"] == "tail"
    assert out[1]["n_dropped"] == 8
    assert out[2]["cleaned"] == "other stuff here"


def test_incremental_dedup_statuses(spark):
    from anime_data_pipeline_spark.operators.dedup import incremental_dedup_status

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    history = spark.createDataFrame(
        [(1, base), (2, "lone history doc with its own words entirely here ok")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, base),                      # exact copy of 1
            (11, base + " tail tail tail"),  # near-dup of 1
            (12, "brand new content sharing nothing with the past corpus x"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc"]: (r["status"], r["match_id"]) for r in
           incremental_dedup_status(batch, history, "doc_id", "text").collect()}
    assert out[10] == ("exact_dup", 1)
    assert out[11] == ("near_dup", 1)
    assert out[12] == ("kept", None)


def test_exact_dup_survives_single_hash_collision(spark):
    """r5 advice fix: 'XY' and 'Y:' collide under the base-31 polyhash
    (both 31·c1+c2 = 2817) but differ under base 37 — a single-hash
    exact stage would falsely drop the batch doc; the dual-hash join
    must keep it (its shingle sets share nothing, so no near_dup
    either). curate_corpus keys its exact dedup on the native
    (xxhash64, hash) pair instead, which tells the two apart too."""
    from anime_data_pipeline_spark.functions.hashing import polyhash_py
    from anime_data_pipeline_spark.operators.dedup import incremental_dedup_status
    from anime_data_pipeline_spark.plans.curation import curate_corpus

    assert polyhash_py("XY") == polyhash_py("Y:")  # crafted collision
    history = spark.createDataFrame([(1, "XY")], "doc_id long, text string")
    batch = spark.createDataFrame([(10, "Y:")], "doc_id long, text string")
    out = {r["doc"]: r["status"] for r in
           incremental_dedup_status(batch, history, "doc_id", "text").collect()}
    assert out[10] == "kept"

    corpus = spark.createDataFrame(
        [(1, "XY"), (2, "Y:")], "doc_id long, text string"
    )
    kept = curate_corpus(corpus, "doc_id", "text", quality_threshold=0.0)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 2]


def test_lsh_operators_on_short_docs_and_a_three_doc_cluster(spark):
    """The three band-join operators carry their verify columns through
    the band join. Documents shorter than n tokens (no shingles, null
    signature: "hi there" twice and "") never become candidates, not
    even of each other, and the three mutual near-duplicates give all
    three pairs once each."""
    from anime_data_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_quality_audit,
    )

    base = "the quick brown fox jumps over the lazy dog again and again ok"
    texts = {
        1: base,  # 11 distinct 3-token shingles
        2: base + " tail",  # 12, all of 1's
        3: base + " tail tail",  # 13, all of 2's
        4: "hi there",
        5: "hi there",
        6: "",
        7: "completely different words here nothing shared at all xyz",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    jaccard = {(1, 2): 11 / 12, (1, 3): 11 / 13, (2, 3): 12 / 13}
    lev = {(1, 2): 5, (1, 3): 10, (2, 3): 5}

    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in minhash_lsh_pairs(df, "doc_id", "text").collect()}
    assert got == jaccard

    audit = minhash_quality_audit(df, "doc_id", "text").collect()
    assert {(r["id_a"], r["id_b"]): r["exact_jaccard"] for r in audit} == {
        p: round(j, 6) for p, j in jaccard.items()
    }
    assert all(r["est_jaccard"] == 1.0 for r in audit)  # every k=12 minimum agrees

    edits = {(r["id_a"], r["id_b"]): (r["lev"], r["edit_sim"])
             for r in editdist_verify_neardups(df, "doc_id", "text").collect()}
    assert edits == {
        (a, b): (d, 1.0 - d / max(len(texts[a]), len(texts[b])))
        for (a, b), d in lev.items()
    }
