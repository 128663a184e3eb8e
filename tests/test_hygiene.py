"""Behavioral tests for the corpus-hygiene operators: benchmark
contamination (train/eval n-gram overlap), unigram-LM scoring, and
video frame sampling."""

from __future__ import annotations

import math

import pytest

from anime_data_pipeline_spark.functions.hashing import P, polyhash_py
from anime_data_pipeline_spark.operators.dedup import benchmark_contamination
from anime_data_pipeline_spark.operators.multimodal import (
    encode_fvid,
    sample_video_frames,
)
from anime_data_pipeline_spark.operators.terms import unigram_logprob


def test_contamination_flags_overlapping_doc(spark):
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            # contains the bench trigram "beta gamma delta"
            (1, "intro words then beta gamma delta closing words"),
            # token-disjoint from the benchmark
            (2, "one two three four five six seven eight"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc"]: r
        for r in benchmark_contamination(
            corpus, bench, "doc_id", "text", n=3
        ).collect()
    }
    assert rows[1]["n_hits"] > 0
    assert rows[2]["n_hits"] == 0
    assert rows[2]["overlap_frac"] == 0.0
    # hit shingles are a subset of the doc's shingles
    assert 0 < rows[1]["overlap_frac"] <= 1.0


def test_contamination_reports_overlap_frac_for_every_doc(spark):
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "unrelated words entirely here")],
        "doc_id long, text string",
    )
    out = benchmark_contamination(corpus, bench, "doc_id", "text", n=3)
    assert {r["doc"]: r["overlap_frac"] for r in out.collect()} == {1: 1.0, 2: 0.0}


def test_unigram_logprob_hand_computed(spark):
    # corpus: doc1 = "a a b", doc2 = "b" → counts: a=2, b=2, total=4
    # p(a)=0.5, p(b)=0.5 → every token nll = ln 2
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b")], "doc_id long, text string"
    )
    rows = {r["doc"]: r for r in unigram_logprob(df, "doc_id", "text").collect()}
    assert rows[1]["n_tokens"] == 3
    assert rows[2]["n_tokens"] == 1
    assert rows[1]["mean_nll"] == pytest.approx(math.log(2.0))
    assert rows[2]["mean_nll"] == pytest.approx(math.log(2.0))


def test_unigram_logprob_rare_tokens_score_higher(spark):
    df = spark.createDataFrame(
        [(1, "common common common common"), (2, "rareword")],
        "doc_id long, text string",
    )
    rows = {r["doc"]: r for r in unigram_logprob(df, "doc_id", "text").collect()}
    assert rows[2]["mean_nll"] > rows[1]["mean_nll"]


def test_video_frame_sampling_lattice_and_hash(spark):
    payload = b"framepayload"
    df = spark.createDataFrame(
        [
            (1, encode_fvid(10, 24, payload)),  # frames 0..9 → sample 0,4,8
            (2, b"corrupt"),  # no FVID magic → dropped
            (3, encode_fvid(1, 24, b"x")),  # single frame → sample 0
        ],
        "doc_id long, content binary",
    )
    out = sample_video_frames(df, "content", every_k=4).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert sorted(r["frame_idx"] for r in by_doc[1]) == [0, 4, 8]
    assert 2 not in by_doc
    assert [r["frame_idx"] for r in by_doc[3]] == [0]
    ph = polyhash_py(payload.decode())
    expect = {i: (ph * 31 + i) % P for i in (0, 4, 8)}
    for r in by_doc[1]:
        assert r["frame_hash"] == expect[r["frame_idx"]]


def test_line_dedup_keeps_first_occurrence(spark):
    from anime_data_pipeline_spark.operators.dedup import remove_duplicate_lines

    df = spark.createDataFrame(
        [
            (1, "unique alpha\nshared boilerplate"),
            (2, "unique beta\nshared boilerplate"),
            (3, "shared boilerplate\nunique gamma"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc"]: r
        for r in remove_duplicate_lines(df, "doc_id", "text").collect()
    }
    # doc 1 holds the first occurrence (doc 1, pos 1) → keeps both lines
    assert rows[1]["text"] == "unique alpha\nshared boilerplate"
    assert rows[1]["n_removed"] == 0
    assert rows[2]["text"] == "unique beta"
    assert rows[2]["n_removed"] == 1
    assert rows[3]["text"] == "unique gamma"
    assert rows[3]["n_removed"] == 1
    assert all(r["n_lines"] == 2 for r in rows.values())


def test_line_dedup_all_lines_removed_yields_empty_doc(spark):
    from anime_data_pipeline_spark.operators.dedup import remove_duplicate_lines

    df = spark.createDataFrame(
        [(1, "dup line"), (2, "dup line")], "doc_id long, text string"
    )
    rows = {
        r["doc"]: r
        for r in remove_duplicate_lines(df, "doc_id", "text").collect()
    }
    assert rows[1]["text"] == "dup line"
    assert rows[2]["text"] == ""
    assert rows[2]["n_removed"] == 1


def test_gopher_rules_reject_and_accept(spark):
    from anime_data_pipeline_spark.operators.textstats import gopher_rules

    good = " ".join(
        ["the quick brown fox jumps over that lazy dog with energy and grace of"] * 5
    )
    short = "too short"
    symbols = "#### " * 30 + "the of and that have"
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, symbols)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in gopher_rules(df, "text").collect()}
    assert rows[1]["pass_gopher"]
    assert not rows[2]["r_word_count"] and not rows[2]["pass_gopher"]
    assert not rows[3]["r_symbol_ratio"] and not rows[3]["pass_gopher"]


def test_gopher_bullet_and_ellipsis_line_rules(spark):
    from anime_data_pipeline_spark.operators.textstats import gopher_rules

    bullets = "\n".join(["- item one", "* item two", "- item three"])
    trailing = "\n".join(["a line that just trails..."] * 4 + ["one solid line"])
    df = spark.createDataFrame(
        [(1, bullets), (2, trailing)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in gopher_rules(df, "text").collect()}
    assert not rows[1]["r_bullet"]  # 100% bullet lines > 90% cap
    assert not rows[2]["r_ellipsis"]  # 80% ellipsis endings > 30% cap


def test_no_duplicate_toplevel_defs():
    """A module-level def reusing an earlier name silently shadows it
    (this bit q80 when a q179 helper took its corpus name — the stub
    gate fed real-codec bytes and returned 0 rows). AST-scan every
    source module for duplicate top-level function/class names."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "anime_data_pipeline_spark"
    offenders = []
    for py in sorted(root.rglob("*.py")):
        tree = ast.parse(py.read_text())
        seen: set[str] = set()
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if node.name in seen:
                    offenders.append(f"{py.name}:{node.lineno} {node.name}")
                seen.add(node.name)
    assert not offenders, f"shadowed top-level defs: {offenders}"


# ---------------------------------------------------------------------------
# Repetition signals (Gopher Table A2) — hand-computed goldens
# ---------------------------------------------------------------------------
def _rep_rows(spark, docs):
    from anime_data_pipeline_spark.operators.textstats import repetition_signals

    df = spark.createDataFrame(docs, "doc_id long, text string")
    return {r["doc_id"]: r for r in repetition_signals(df, "doc_id", "text").collect()}


def test_repetition_dup_lines_hand_computed(spark):
    # lines: ["a b", "a b", "c"] -> 1 of 3 repeats; chars 7, dup chars 3
    rows = _rep_rows(spark, [(1, "a b\na b\nc")])
    r = rows[1]
    assert r["dup_line_frac"] == pytest.approx(1 / 3)
    assert r["dup_line_char_frac"] == pytest.approx(3 / 7)
    # single-newline text is ONE paragraph -> no paragraph dups
    assert r["dup_para_frac"] == 0.0 and r["dup_para_char_frac"] == 0.0


def test_repetition_dup_paragraphs_hand_computed(spark):
    rows = _rep_rows(spark, [(1, "pp qq\n\npp qq\n\nzz")])
    r = rows[1]
    assert r["dup_para_frac"] == pytest.approx(1 / 3)
    assert r["dup_para_char_frac"] == pytest.approx(5 / 12)


def test_repetition_top_ngram_mass_and_cap(spark):
    # Word-char mass (r9: join spaces excluded, the Dolma/FineWeb/RPv2
    # sum-of-word-lengths convention). "x y x y x": 2-grams x y(2),
    # y x(2) -> max count 2, both word-mass 2*2=4 -> 4/9 chars
    rows = _rep_rows(spark, [(1, "x y x y x"), (2, "aaa aaa aaa aaa")])
    assert rows[1]["top_2gram_char_frac"] == pytest.approx(4 / 9)
    # "aaa aaa aaa aaa": "aaa aaa" count 3, word-mass 3*6=18 > 15
    # chars -> capped at 1.0 (all-occurrence counting over-covers)
    assert rows[2]["top_2gram_char_frac"] == 1.0


def test_repetition_tie_breaks_toward_larger_mass(spark):
    # a true tie on count with different word masses:
    # "aa bb" cnt 2 mass 2*(2+2)=8; "xxx yyy" cnt 2 mass 2*(3+3)=12
    # -> top = 12 (larger-mass tie-break)
    text = "aa bb aa bb q xxx yyy xxx yyy"
    rows = _rep_rows(spark, [(1, text)])
    assert rows[1]["top_2gram_char_frac"] == pytest.approx(12 / len(text))


def test_repetition_dup_ngram_and_short_doc_zero(spark):
    ten = "one two three four five six seven eight nine ten"
    text = f"{ten} {ten}"
    rows = _rep_rows(spark, [(1, text), (2, "too short")])
    # the repeated 10-gram covers 2 * (word chars of `ten` = len
    # minus its 9 separator spaces) of the doubled doc
    assert rows[1]["dup_10gram_char_frac"] == pytest.approx(
        min(1.0, 2 * (len(ten) - 9) / len(text))
    )
    # fewer than n tokens -> no n-grams -> 0.0, and nothing fails keep
    assert rows[2]["dup_5gram_char_frac"] == 0.0
    assert rows[2]["dup_10gram_char_frac"] == 0.0


def test_repetition_keep_flag_thresholds(spark):
    # the all-spam doc blows the top-2-gram threshold; clean prose passes
    rows = _rep_rows(
        spark,
        [
            (1, "spam ham eggs spam ham eggs spam ham eggs end"),
            (2, "a quiet sentence with no repeated phrasing at all here"),
        ],
    )
    assert not rows[1]["repetition_keep"]
    assert rows[2]["repetition_keep"]


def test_repetition_empty_text_all_zero(spark):
    rows = _rep_rows(spark, [(1, "")])
    r = rows[1]
    for c in (
        "dup_line_frac", "dup_line_char_frac", "dup_para_frac",
        "dup_para_char_frac", "top_2gram_char_frac", "dup_5gram_char_frac",
    ):
        assert r[c] == 0.0, c
    assert r["repetition_keep"]


def test_repetition_null_text_is_empty(spark):
    # NULL text = empty doc in BOTH engines (review finding: the Spark
    # side used to return NULL char fractions vs the oracle's 0.0)
    from pyspark.sql import Row

    from anime_data_pipeline_spark.operators.textstats import repetition_signals

    df = spark.createDataFrame(
        [Row(doc_id=1, text=None), Row(doc_id=2, text="a b")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_signals(df, "doc_id", "text").collect()}
    r = rows[1]
    for c in (
        "dup_line_frac", "dup_line_char_frac", "dup_para_frac",
        "dup_para_char_frac", "top_2gram_char_frac", "dup_5gram_char_frac",
    ):
        assert r[c] == 0.0, c
    assert r["repetition_keep"]


def test_repetition_one_sided_and_empty_ns(spark):
    import duckdb

    from anime_data_pipeline_spark.operators.textstats import (
        repetition_signals,
        repetition_sql,
    )

    # dup-only and top-only halves must work in BOTH engines...
    df = spark.createDataFrame([(1, "x y x y x")], "doc_id long, text string")
    r = repetition_signals(df, "doc_id", "text", top_ns=(), dup_ns=(5,)).collect()[0]
    assert "dup_5gram_char_frac" in r.asDict() and "top_2gram_char_frac" not in r.asDict()
    con = duckdb.connect()
    for ns in ({"top_ns": (), "dup_ns": (5,)}, {"top_ns": (2,), "dup_ns": ()}):
        sql = repetition_sql("SELECT 1 AS doc_id, 'x y x y x' AS text", **ns)
        assert len(con.execute(sql).fetchall()) == 1  # parses and runs
    # ...and both-empty is rejected consistently, not emitted as bad SQL
    with pytest.raises(ValueError):
        repetition_signals(df, "doc_id", "text", top_ns=(), dup_ns=())
    with pytest.raises(ValueError):
        repetition_sql("SELECT 1 AS doc_id, 'x' AS text", top_ns=(), dup_ns=())
