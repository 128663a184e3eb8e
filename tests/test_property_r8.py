"""Property tests for the round-8 operators: repetition_signals
(Gopher Table A2) against an independent pure-Python reference on a
seeded random corpus — one Spark job for the whole batch, exact-float
comparison (every metric is an integer ratio, so both engines compute
bit-identical IEEE doubles)."""

from __future__ import annotations

import random
from collections import Counter

from pyspark.sql import functions as F

from anime_data_pipeline_spark.operators.textstats import (
    GOPHER_DUP_LINE_CHAR_MAX,
    GOPHER_DUP_LINE_MAX,
    GOPHER_DUP_NGRAM_MAX,
    GOPHER_DUP_PARA_CHAR_MAX,
    GOPHER_DUP_PARA_MAX,
    GOPHER_TOP_NGRAM_MAX,
)

TOP_NS = (2, 3, 4)
DUP_NS = (5, 10)


def _py_repetition(text: str) -> dict:
    """Reference implementation of the documented Table A2 semantics,
    sharing no code with the operator. Tokens split on single spaces
    (newlines stay embedded in tokens, as in functions.text.tokens);
    lines/paragraphs are space-trimmed nonempty splits."""

    def units(sep: str) -> list[str]:
        return [u for u in (x.strip(" ") for x in text.split(sep)) if u != ""]

    def dup_fracs(us: list[str]) -> tuple[float, float]:
        uq = list(dict.fromkeys(us))
        total, dtotal = sum(map(len, us)), sum(map(len, uq))
        return (
            (len(us) - len(uq)) / max(len(us), 1),
            (total - dtotal) / max(total, 1),
        )

    out = {}
    out["dup_line_frac"], out["dup_line_char_frac"] = dup_fracs(units("\n"))
    out["dup_para_frac"], out["dup_para_char_frac"] = dup_fracs(units("\n\n"))
    toks = [t for t in text.split(" ") if t != ""]
    nchars = max(len(text), 1)
    for n in sorted(set(TOP_NS) | set(DUP_NS)):
        # gram mass = sum of WORD lengths (join spaces excluded) — the
        # Dolma/FineWeb/RPv2 sum-of-word-lengths convention
        c = Counter(tuple(toks[i : i + n]) for i in range(len(toks) - n + 1))
        if n in TOP_NS:
            # max count, larger char mass on ties, count>=2 to qualify
            q = [
                (cnt, cnt * sum(map(len, g))) for g, cnt in c.items() if cnt >= 2
            ]
            mass = max(q)[1] if q else 0
            out[f"top_{n}gram_char_frac"] = min(1.0, mass / nchars)
        if n in DUP_NS:
            mass = sum(cnt * sum(map(len, g)) for g, cnt in c.items() if cnt >= 2)
            out[f"dup_{n}gram_char_frac"] = min(1.0, mass / nchars)
    out["repetition_keep"] = (
        out["dup_line_frac"] <= GOPHER_DUP_LINE_MAX
        and out["dup_para_frac"] <= GOPHER_DUP_PARA_MAX
        and out["dup_line_char_frac"] <= GOPHER_DUP_LINE_CHAR_MAX
        and out["dup_para_char_frac"] <= GOPHER_DUP_PARA_CHAR_MAX
        and all(
            out[f"top_{n}gram_char_frac"] <= GOPHER_TOP_NGRAM_MAX[n]
            for n in TOP_NS
        )
        and all(
            out[f"dup_{n}gram_char_frac"] <= GOPHER_DUP_NGRAM_MAX[n]
            for n in DUP_NS
        )
    )
    return out


def _random_doc(rng: random.Random) -> str:
    vocab = ["aa", "b", "ccc", "dd", "e", "ffff", "gg"]
    seps = [" "] * 8 + ["\n"] * 2 + ["\n\n"]
    n = rng.randint(0, 50)
    parts: list[str] = []
    for _ in range(n):
        parts.append(rng.choice(vocab))
        parts.append(rng.choice(seps))
    doc = "".join(parts)
    # half the docs get a repeated slice spliced back in — real
    # repetition mass, not just vocab collisions
    if n >= 6 and rng.random() < 0.5:
        toks = doc.split(" ")
        lo = rng.randrange(0, max(1, len(toks) - 5))
        seg = " ".join(toks[lo : lo + rng.randint(2, 12)])
        reps = rng.randint(1, 3)
        doc = doc + (" " + seg) * reps
    return doc


def test_repetition_signals_match_python_reference(spark):
    from anime_data_pipeline_spark.operators.textstats import repetition_signals

    rng = random.Random(8194)
    docs = [(i, _random_doc(rng)) for i in range(150)]
    rng = random.Random(8212)
    docs += [(2000 + i, _random_doc(rng)) for i in range(120)]
    # pinned edges alongside the random mass; NULL text counts as empty
    docs += [
        (1000, ""),
        (1001, " "),
        (1002, "\n\n\n"),
        (1003, "solo"),
        (1004, "x x x x x x x x x x"),
        (1005, "p q\n\np q\n\np q"),
        (1006, None),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in repetition_signals(df, "doc_id", "text").collect()
    }
    assert len(got) == len(docs)
    for doc_id, text in docs:
        want = _py_repetition(text or "")
        have = got[doc_id]
        for k, v in want.items():
            assert have[k] == v, (
                f"doc {doc_id} {k}: spark={have[k]} py={v} text={text!r}"
            )


def test_repetition_signals_arrow_matches_native(spark):
    """The map-only Arrow gram path must equal the native SQL
    explode→aggregate→join form (:func:`repetition_sql`, q194's DuckDB
    oracle) row for row, including NULL text and the pinned edge docs.
    Both sides round the fractions with the shared dround formula."""
    import duckdb
    import pyarrow as pa

    from anime_data_pipeline_spark.functions.compat import dround
    from anime_data_pipeline_spark.operators.textstats import (
        repetition_signals,
        repetition_sql,
    )

    rng = random.Random(8212)
    docs = [(i, _random_doc(rng)) for i in range(120)]
    docs += [
        (1000, ""),
        (1001, " "),
        (1002, None),
        (1003, "solo"),
        (1004, "x x x x x x x x x x"),
        (1005, "p q\n\np q\n\np q"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    b = repetition_signals(df, "doc_id", "text")
    fracs = [c for c in b.columns if c.endswith("_frac")]
    for c in fracs:
        b = b.withColumn(c, dround(F.col(c), 6))
    got = {r["doc_id"]: r.asDict() for r in b.collect()}

    con = duckdb.connect()
    con.register(
        "documents",
        pa.table({"doc_id": [d[0] for d in docs], "text": [d[1] for d in docs]}),
    )
    cur = con.execute(repetition_sql("SELECT doc_id, text FROM documents"))
    names = [d[0] for d in cur.description]
    want = {r[0]: dict(zip(names, r)) for r in cur.fetchall()}

    assert names == b.columns
    assert got == want
