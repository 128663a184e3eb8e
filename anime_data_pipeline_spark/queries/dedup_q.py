"""Deduplication queries for the correctness gate (LLM-pipeline
extension surface; SURVEY.md §2 extensions + U2 key-dedup,
run.py:75 / merge_all_to_metadata.py:142-151 generalized to corpus
scale).

The `documents` test table contains no duplicates, so every query runs
over a deterministic *mutated corpus*: the base table unioned with
exact copies (doc_id % 3) and near-duplicate copies with appended
tokens (doc_id % 5). Both engines build the identical corpus, so every
dedup operator is fully oracle-checked — including the LSH banding,
which is reproduced band-for-band in DuckDB SQL.

All hashing is the cross-engine polynomial family (functions/hashing):
bit-identical in Spark and DuckDB, no engine-native hash() anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anime_data_pipeline_spark.catalog import load_table
from anime_data_pipeline_spark.functions.hashing import (
    perm_constants,
    perm_hash_sql,
    polyhash,
    polyhash_sql,
    shingle_hashes_sql,
)
from anime_data_pipeline_spark.functions.text import tokens_sql
from anime_data_pipeline_spark.functions.compat import dround, dround_sql
from anime_data_pipeline_spark.operators.dedup import (
    connected_components,
    editdist_verify_neardups,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_df,
)
from anime_data_pipeline_spark.registry import register

# LSH configuration shared by the Spark plan and the DuckDB oracle.
_K, _BANDS, _NGRAM, _THRESH = 12, 4, 3, 0.5

_NEARDUP_SUFFIX = " qq ww ee rr"

_CORPUS_SQL = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id + 200000 AS doc_id, text || '{_NEARDUP_SUFFIX}' AS text
    FROM documents WHERE doc_id % 5 = 0
"""


def mutated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Base documents + exact copies (1/3) + near-dup copies (1/5)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    exact = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    near = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_NEARDUP_SUFFIX)).alias("text"),
    )
    return d.unionByName(exact).unionByName(near)


# ---------------------------------------------------------------------------
# Exact dedup: hash-groupBy. The shuffle key is the 64-bit content hash,
# not the raw text — at 100 TB the exchange carries 8 bytes/row and
# map-side partial agg collapses most copies before the wire.
# ---------------------------------------------------------------------------
@register(
    "q31_exact_dedup",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    hashed AS (SELECT doc_id, {polyhash_sql("text")} AS content_hash FROM corpus)
    SELECT content_hash, min(doc_id) AS keeper_id, count(*) AS n_copies
    FROM hashed GROUP BY content_hash
    """,
)
def q31_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = mutated_corpus(spark, sf_dir).withColumn(
        "content_hash", polyhash(F.col("text"))
    )
    return exact_dedup(corpus, ["content_hash"], "doc_id")


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup. The DuckDB oracle reproduces the exact same
# shingle→signature→band→join→verify pipeline, so hash-match means the
# banding itself is correct, not just the final Jaccard filter.
# ---------------------------------------------------------------------------
def _hashed_cte(n: int, corpus_sql: str | None = None) -> str:
    """corpus → tok → th → hashed(doc, hashes) CTE prefix — the same
    token-hash → shingle-fold pipeline as shingle_hash_sets."""
    return f"""
    WITH corpus AS ({corpus_sql or _CORPUS_SQL}),
    tok AS (SELECT doc_id AS doc, {tokens_sql("text")} AS toks FROM corpus),
    tha AS (SELECT doc, list_transform(toks, t -> {polyhash_sql("t")}) AS th FROM tok),
    hashed AS (SELECT doc,
                      list_distinct({shingle_hashes_sql("th", n)}) AS hashes
               FROM tha)
    """


def lsh_candidates_sql(corpus_sql: str, n: int, k: int, bands: int) -> str:
    """CTE prefix ``WITH corpus … cand`` — the LSH band join producing
    distinct candidate pairs, band-for-band mirror of band_candidates."""
    rows = k // bands
    consts = perm_constants(k)

    def sig_item(i: int) -> str:
        a, b = consts[i]
        return f"list_min(list_transform(hashes, h -> {perm_hash_sql('h', a, b)}))"

    band_selects = []
    for j in range(bands):
        v = f"sig[{j * rows + 1}]"
        for r in range(1, rows):
            v = f"(({v}) * 31 + sig[{j * rows + r + 1}])"
        band_selects.append(f"SELECT doc, {j} AS band_idx, {v} AS band_val FROM sigs")
    return f"""
    {_hashed_cte(n, corpus_sql)},
    sigs AS (SELECT doc, hashes,
                    [{", ".join(sig_item(i) for i in range(k))}] AS sig
             FROM hashed),
    bands AS ({" UNION ALL ".join(band_selects)}),
    cand AS (SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
             FROM bands a JOIN bands b
               ON a.band_idx = b.band_idx AND a.band_val = b.band_val
                  AND a.doc < b.doc)"""


def minhash_pairs_sql(corpus_sql: str, n: int, k: int, bands: int, threshold: float) -> str:
    """Full LSH near-dup-pairs oracle over an arbitrary (doc_id, text)
    corpus subquery — band-for-band mirror of minhash_lsh_pairs."""
    return f"""
    {lsh_candidates_sql(corpus_sql, n, k, bands)},
    verified AS (
      SELECT cand.id_a, cand.id_b,
             CAST(len(list_intersect(ha.hashes, hb.hashes)) AS DOUBLE)
               / (len(ha.hashes) + len(hb.hashes)
                  - len(list_intersect(ha.hashes, hb.hashes))) AS jaccard
      FROM cand
      JOIN hashed ha ON ha.doc = cand.id_a
      JOIN hashed hb ON hb.doc = cand.id_b)
    SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= {threshold}
    """


_MINHASH_ORACLE = minhash_pairs_sql(_CORPUS_SQL, _NGRAM, _K, _BANDS, _THRESH)


@register("q32_minhash_lsh_neardup", oracle=_MINHASH_ORACLE)
def q32_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = mutated_corpus(spark, sf_dir)
    return minhash_lsh_pairs(
        corpus, "doc_id", "text", n=_NGRAM, k=_K, bands=_BANDS, threshold=_THRESH
    )


# ---------------------------------------------------------------------------
# SimHash fingerprints: full-table parity on the 30-bit fingerprint is a
# stronger check than any pair query built on top of it.
# ---------------------------------------------------------------------------
def _simhash_term_sql(b: int) -> str:
    ind = f"CASE WHEN (x >> {b}) & 1 = 1 THEN 1 ELSE -1 END"
    return (
        f"CASE WHEN list_sum(list_transform(th, x -> {ind})) > 0 "
        f"THEN {1 << b} ELSE 0 END"
    )


_SIMHASH_ORACLE = f"""
    WITH corpus AS ({_CORPUS_SQL}),
    tok AS (SELECT doc_id, {tokens_sql("text")} AS toks FROM corpus),
    th AS (SELECT doc_id,
                  list_transform(toks, t -> {polyhash_sql("t")}) AS th
           FROM tok)
    SELECT doc_id,
           CAST({" + ".join(_simhash_term_sql(b) for b in range(30))} AS BIGINT)
             AS fingerprint
    FROM th
"""


@register("q33_simhash_fingerprint", oracle=_SIMHASH_ORACLE)
def q33_simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = mutated_corpus(spark, sf_dir)
    return simhash_df(corpus, "text", out="fingerprint", bits=30).select(
        "doc_id", "fingerprint"
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard with shared-shingle blocking + max-document-frequency
# cap (the hot-key bound: a shingle in every doc would otherwise drive a
# quadratic join). Semantics = Jaccard over the *rare* shingle sets —
# mirrored exactly in the oracle.
# ---------------------------------------------------------------------------
_NJ_N, _NJ_THRESH, _NJ_MAXDF = 2, 0.6, 25

_NGRAM_ORACLE = f"""
    {_hashed_cte(_NJ_N)},
    ex AS (SELECT doc, unnest(hashes) AS sh FROM hashed),
    rare AS (SELECT sh FROM ex GROUP BY sh HAVING count(*) <= {_NJ_MAXDF}),
    kept AS (SELECT ex.doc, ex.sh FROM ex JOIN rare USING (sh)),
    sizes AS (SELECT doc, count(*) AS sz FROM kept GROUP BY doc),
    inter AS (SELECT a.doc AS id_a, b.doc AS id_b, count(*) AS n_inter
              FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc < b.doc
              GROUP BY 1, 2),
    scored AS (
      SELECT id_a, id_b,
             CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc = inter.id_a
      JOIN sizes sb ON sb.doc = inter.id_b)
    SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= {_NJ_THRESH}
"""


@register("q34_ngram_jaccard_neardup", oracle=_NGRAM_ORACLE)
def q34_ngram_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = mutated_corpus(spark, sf_dir)
    return ngram_jaccard_pairs(
        corpus, "doc_id", "text", n=_NJ_N, threshold=_NJ_THRESH, max_df=_NJ_MAXDF
    )


# ---------------------------------------------------------------------------
# q96 — edit-distance verification of LSH candidates: the
# order-sensitive near-dup arbiter. Same band join as q32; the verify
# stage is normalized Levenshtein on prefix-capped texts instead of
# shingle Jaccard. The O(prefix²) DP runs only on bucket-colliding
# pairs, map-side after the candidate join.
# ---------------------------------------------------------------------------
_Q96_PREFIX, _Q96_MINSIM = 256, 0.8

_Q96_ORACLE = f"""
    {lsh_candidates_sql(_CORPUS_SQL, _NGRAM, _K, _BANDS)},
    t AS (SELECT doc_id, substr(text, 1, {_Q96_PREFIX}) AS txt FROM corpus),
    v AS (SELECT id_a, id_b,
                 CAST(levenshtein(ta.txt, tb.txt) AS BIGINT) AS lev,
                 greatest(greatest(length(ta.txt), length(tb.txt)), 1) AS lng
          FROM cand
          JOIN t ta ON ta.doc_id = cand.id_a
          JOIN t tb ON tb.doc_id = cand.id_b)
    SELECT id_a, id_b, lev,
           {dround_sql("1.0 - CAST(lev AS DOUBLE) / lng", 6)} AS edit_sim
    FROM v WHERE 1.0 - CAST(lev AS DOUBLE) / lng >= {_Q96_MINSIM}
"""


@register("q96_editdist_verify", oracle=_Q96_ORACLE)
def q96_editdist_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = mutated_corpus(spark, sf_dir)
    out = editdist_verify_neardups(
        corpus,
        "doc_id",
        "text",
        n=_NGRAM,
        k=_K,
        bands=_BANDS,
        prefix=_Q96_PREFIX,
        min_sim=_Q96_MINSIM,
    )
    return out.withColumn("edit_sim", dround(F.col("edit_sim"), 6))


# ---------------------------------------------------------------------------
# q102 — incremental dedup: a new batch (exact copies, near-dup copies,
# token-reversed fresh docs) deduped against the existing corpus
# WITHOUT any history-vs-history work. History signatures are computed
# once (= the persisted signature side-table in production); the batch
# pays only its own hashing plus batch×history band joins.
# ---------------------------------------------------------------------------
_Q102_BATCH_SQL = f"""
    SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id + 200000 AS doc_id, text || '{_NEARDUP_SUFFIX}' AS text
    FROM documents WHERE doc_id % 5 = 0
    UNION ALL
    SELECT doc_id + 300000 AS doc_id,
           coalesce(list_aggregate(list_reverse({tokens_sql("text")}),
                                   'string_agg', ' '), '') AS text
    FROM documents WHERE doc_id % 11 = 0
"""
# coalesce mirrors the engine's concat_ws(' ', ...) which yields '' (not
# NULL) for an empty token list — a whitespace-only doc with
# doc_id % 11 = 0 would otherwise diverge (NULL text/chash oracle-side).


def _q102_oracle() -> str:
    n, k, bands, t = _NGRAM, _K, _BANDS, _THRESH
    rows = k // bands
    consts = perm_constants(k)

    def sig_items() -> str:
        items = []
        for a, b in consts:
            items.append(
                f"list_min(list_transform(hashes, h -> {perm_hash_sql('h', a, b)}))"
            )
        return "[" + ", ".join(items) + "]"

    def band_selects(src: str) -> str:
        sels = []
        for j in range(bands):
            v = f"sig[{j * rows + 1}]"
            for r in range(1, rows):
                v = f"(({v}) * 31 + sig[{j * rows + r + 1}])"
            sels.append(f"SELECT doc, {j} AS band_idx, {v} AS band_val FROM {src}")
        return " UNION ALL ".join(sels)

    def chain(p: str, src: str) -> str:
        return f"""
    {p}tok AS (SELECT doc_id AS doc, {polyhash_sql("text")} AS chash,
                      {polyhash_sql("text", 37)} AS chash2,
                      {tokens_sql("text")} AS toks FROM {src}),
    {p}tha AS (SELECT doc, chash, chash2,
                      list_transform(toks, t -> {polyhash_sql("t")}) AS th
               FROM {p}tok),
    {p}hashed AS (SELECT doc, chash, chash2,
                         list_distinct({shingle_hashes_sql("th", n)}) AS hashes
                  FROM {p}tha),
    {p}sigs AS (SELECT doc, {sig_items()} AS sig FROM {p}hashed),
    {p}bands AS ({band_selects(p + "sigs")})"""

    jac = (
        "CAST(len(list_intersect(bs.hashes, hs.hashes)) AS DOUBLE) / "
        "(len(bs.hashes) + len(hs.hashes) - len(list_intersect(bs.hashes, hs.hashes)))"
    )
    return f"""
    WITH hist AS (SELECT doc_id, text FROM documents),
    batchc AS ({_Q102_BATCH_SQL}),
    {chain("h_", "hist")},
    {chain("b_", "batchc")},
    exact AS (SELECT b.doc, min(h.doc) AS exact_id
              FROM b_hashed b JOIN h_hashed h
                ON b.chash = h.chash AND b.chash2 = h.chash2
              GROUP BY b.doc),
    cand AS (SELECT DISTINCT b.doc, h.doc AS hid
             FROM b_bands b JOIN h_bands h
               ON b.band_idx = h.band_idx AND b.band_val = h.band_val),
    near AS (SELECT cand.doc, min(cand.hid) AS near_id
             FROM cand
             JOIN b_hashed bs ON bs.doc = cand.doc
             JOIN h_hashed hs ON hs.doc = cand.hid
             WHERE {jac} >= {t}
             GROUP BY cand.doc),
    out AS (SELECT b.doc,
                   CASE WHEN e.exact_id IS NOT NULL THEN 'exact_dup'
                        WHEN nr.near_id IS NOT NULL THEN 'near_dup'
                        ELSE 'kept' END AS status,
                   coalesce(e.exact_id, nr.near_id) AS match_id
            FROM b_hashed b
            LEFT JOIN exact e USING (doc)
            LEFT JOIN near nr USING (doc))
    SELECT doc, status, match_id FROM out
    """


@register("q102_incremental_dedup", oracle=_q102_oracle())
def q102_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.functions.text import tokens
    from anime_data_pipeline_spark.operators.dedup import incremental_dedup_status

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    exact = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    near = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_NEARDUP_SUFFIX)).alias("text"),
    )
    fresh = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat_ws(" ", F.reverse(tokens(F.col("text")))).alias("text"),
    )
    batch = exact.unionByName(near).unionByName(fresh)
    return incremental_dedup_status(
        batch, d, "doc_id", "text", n=_NGRAM, k=_K, bands=_BANDS, threshold=_THRESH
    )


# ---------------------------------------------------------------------------
# q101 — exact duplicated-span removal (hash-gram ExactSubstr, Lee et
# al. 2022): every 10-token span occurring ≥2 times corpus-wide is
# dropped from every document; cleaned text rebuilt from the surviving
# tokens. The mutated corpus guarantees duplicated spans (exact copies
# share every span; near-dup copies share long prefixes).
# ---------------------------------------------------------------------------
_SPAN_N = 10


def _q101_oracle() -> str:
    n = _SPAN_N
    return f"""
    WITH corpus AS ({_CORPUS_SQL}),
    tok AS (SELECT doc_id AS doc, {tokens_sql("text")} AS toks FROM corpus),
    tha AS (SELECT doc, toks,
                   list_transform(toks, t -> {polyhash_sql("t")}) AS th
            FROM tok),
    shs AS (SELECT doc, toks, {shingle_hashes_sql("th", n)} AS sh FROM tha),
    spans AS (SELECT doc, u.s.sh AS sh, u.s.pos AS pos
              FROM shs, unnest(list_transform(sh, (x, i) -> {{'sh': x, 'pos': i}})) AS u(s)),
    dup AS (SELECT sh FROM spans GROUP BY sh HAVING count(*) >= 2),
    dpos AS (SELECT doc, list_sort(list(pos)) AS dps
             FROM spans JOIN dup USING (sh) GROUP BY doc),
    cov AS (SELECT s.doc, s.toks,
                   coalesce(list_distinct(flatten(list_transform(d.dps,
                     p -> list_transform(generate_series(p, p + {n - 1}), z -> CAST(z AS INT))))),
                     CAST([] AS INT[])) AS cv
            FROM shs s LEFT JOIN dpos d USING (doc))
    SELECT doc,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(cv) AS BIGINT) AS n_dropped,
           coalesce(list_aggregate(
               list_filter(toks, (x, i) -> NOT list_contains(cv, CAST(i AS INT))),
               'string_agg', ' '), '') AS cleaned
    FROM cov
    """


@register("q101_span_dedup", oracle=_q101_oracle())
def q101_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.operators.dedup import remove_duplicate_spans

    corpus = mutated_corpus(spark, sf_dir)
    return remove_duplicate_spans(corpus, "doc_id", "text", n=_SPAN_N, min_count=2)


# ---------------------------------------------------------------------------
# Near-dup clusters: connected components over the verified LSH pairs.
# Spark runs alternating large-star/small-star contraction (O(log n)
# driver-loop rounds over distributed joins); the oracle computes the
# same components with a recursive CTE — both converge to the
# canonical labeling (min reachable id), so equality is
# algorithm-independent.
# ---------------------------------------------------------------------------
_CC_ORACLE = f"""
    WITH RECURSIVE pairs AS ({minhash_pairs_sql(_CORPUS_SQL, _NGRAM, _K, _BANDS, _THRESH)}),
    nodes AS (SELECT doc_id FROM ({_CORPUS_SQL})),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(node, label) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS doc_id, min(label) AS component FROM reach GROUP BY node
"""


@register("q36_neardup_clusters", oracle=_CC_ORACLE)
def q36_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = mutated_corpus(spark, sf_dir)
    pairs = minhash_lsh_pairs(
        corpus, "doc_id", "text", n=_NGRAM, k=_K, bands=_BANDS, threshold=_THRESH
    )
    nodes = corpus.select(F.col("doc_id").alias("node"))
    return connected_components(nodes, pairs).select(
        F.col("node").alias("doc_id"), "component"
    )


# ---------------------------------------------------------------------------
# q81 — C4-style duplicated-line removal: every doc gets one of 5
# boilerplate lines appended (the cookie-banner scenario); the operator
# strips every line occurring 2+ times corpus-wide except its first
# occurrence, and rebuilds the doc text in original line order.
# ---------------------------------------------------------------------------
_BOILERPLATE = [
    "accept all cookies to continue reading",
    "subscribe to our newsletter for updates",
    "copyright all rights reserved worldwide",
    "click here to enable notifications now",
    "share this article on social media",
]

_BP_SQL = "[" + ", ".join(f"'{b}'" for b in _BOILERPLATE) + "]"

_Q81_ORACLE = f"""
    WITH corpus AS (SELECT doc_id AS doc,
                           text || chr(10) || ({_BP_SQL})[(doc_id % 5) + 1] AS text
                    FROM documents),
    ls AS (SELECT doc, string_split(text, chr(10)) AS lines FROM corpus),
    lns AS (SELECT doc, unnest(lines) AS line,
                   generate_subscripts(lines, 1) - 1 AS pos
            FROM ls),
    hashed AS (SELECT doc, pos, line, {polyhash_sql("line")} AS lh FROM lns),
    stats AS (SELECT lh, count(*) AS n_occ,
                     min(doc * 1000000 + pos) AS first_k
              FROM hashed GROUP BY lh),
    kept AS (SELECT h.doc, h.pos, h.line,
                    (s.n_occ < 2) OR (h.doc * 1000000 + h.pos = s.first_k) AS keep
             FROM hashed h JOIN stats s USING (lh))
    SELECT doc,
           coalesce(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY pos), '') AS text,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
    FROM kept GROUP BY doc
"""


@register("q81_line_dedup", oracle=_Q81_ORACLE)
def q81_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.operators.dedup import remove_duplicate_lines

    bp = F.array(*[F.lit(b) for b in _BOILERPLATE])
    corpus = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("doc"),
        F.concat(
            F.col("text"),
            F.lit("\n"),
            F.element_at(bp, (F.col("doc_id") % 5 + 1).cast("int")),
        ).alias("text"),
    )
    out = remove_duplicate_lines(corpus, "doc", "text", min_dup=2)
    return out.select(
        "doc",
        "text",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_removed").cast("long").alias("n_removed"),
    )


# ---------------------------------------------------------------------------
# q91 — leakage-safe split: assign train/val/test by hashing the
# near-dup COMPONENT, so no duplicate cluster straddles splits (the
# classic eval-contamination bug). Components from the same LSH chain
# as q36; the oracle replays CC with a recursive CTE and applies the
# identical hash-band CASE.
# ---------------------------------------------------------------------------
_Q91_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}
_Q91_SEED = 3


def _q91_oracle() -> str:
    from anime_data_pipeline_spark.operators.sampling import leakage_safe_split_sql

    split_case = leakage_safe_split_sql("component", _Q91_WEIGHTS, seed=_Q91_SEED)
    return f"""
    WITH RECURSIVE pairs AS ({minhash_pairs_sql(_CORPUS_SQL, _NGRAM, _K, _BANDS, _THRESH)}),
    nodes AS (SELECT doc_id FROM ({_CORPUS_SQL})),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(node, label) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (SELECT node AS doc_id, min(label) AS component FROM reach GROUP BY node)
    SELECT doc_id, component, {split_case} AS split FROM comp
    """


@register("q91_leakage_safe_split", oracle=_q91_oracle())
def q91_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.operators.sampling import leakage_safe_split

    corpus = mutated_corpus(spark, sf_dir)
    pairs = minhash_lsh_pairs(
        corpus, "doc_id", "text", n=_NGRAM, k=_K, bands=_BANDS, threshold=_THRESH
    )
    comp = connected_components(
        corpus.select(F.col("doc_id").alias("node")), pairs
    ).select(F.col("node").alias("doc_id"), "component")
    return leakage_safe_split(
        comp, "doc_id", "component", _Q91_WEIGHTS, seed=_Q91_SEED
    )


# ---------------------------------------------------------------------------
# q118 — span-level decontamination (round 5): the q88-style salted
# corpus (docs with doc_id % 13 = 0 get the first benchmark doc's
# 200-char prefix appended) cleaned SURGICALLY — only the benchmark-
# overlapping 8-token spans are removed, the rest of each document
# survives (vs q78/q100's whole-doc flags). Bench split = doc_id % 29
# = 0; corpus = the rest. Cleaned text is part of the compared output,
# so the interval-union removal is verified byte-for-byte.
# ---------------------------------------------------------------------------
_Q118_N = 8


def _q118_oracle() -> str:
    n = _Q118_N
    return f"""
    WITH b0 AS (SELECT substr(text, 1, 200) AS t FROM documents WHERE doc_id = 0),
    corpus AS (
      SELECT doc_id, CASE WHEN doc_id % 13 = 0
                          THEN text || ' ' || (SELECT t FROM b0)
                          ELSE text END AS text
      FROM documents WHERE doc_id % 29 <> 0
    ),
    bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 29 = 0),
    btha AS (SELECT list_transform({tokens_sql("text")}, t -> {polyhash_sql("t")}) AS th
             FROM bench),
    universe AS (SELECT DISTINCT unnest({shingle_hashes_sql("th", n)}) AS sh FROM btha),
    tok AS (SELECT doc_id AS doc, {tokens_sql("text")} AS toks FROM corpus),
    tha AS (SELECT doc, toks,
                   list_transform(toks, t -> {polyhash_sql("t")}) AS th
            FROM tok),
    shs AS (SELECT doc, toks, {shingle_hashes_sql("th", n)} AS sh FROM tha),
    spans AS (SELECT doc, u.s.sh AS sh, u.s.pos AS pos
              FROM shs, unnest(list_transform(sh, (x, i) -> {{'sh': x, 'pos': i}})) AS u(s)),
    dpos AS (SELECT doc, list_sort(list(pos)) AS dps
             FROM spans JOIN universe USING (sh) GROUP BY doc),
    cov AS (SELECT s.doc, s.toks,
                   coalesce(list_distinct(flatten(list_transform(d.dps,
                     p -> list_transform(generate_series(p, p + {n - 1}), z -> CAST(z AS INT))))),
                     CAST([] AS INT[])) AS cv
            FROM shs s LEFT JOIN dpos d USING (doc))
    SELECT doc,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(cv) AS BIGINT) AS n_dropped,
           coalesce(list_aggregate(
               list_filter(toks, (x, i) -> NOT list_contains(cv, CAST(i AS INT))),
               'string_agg', ' '), '') AS cleaned
    FROM cov
    """


@register("q118_span_decontaminate", oracle=_q118_oracle())
def q118_span_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.operators.dedup import remove_contaminated_spans

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    b0 = d.filter(F.col("doc_id") == 0).select(
        F.substring("text", 1, 200).alias("_b0")
    )
    corpus = (
        d.filter(F.col("doc_id") % 29 != 0)
        .crossJoin(F.broadcast(b0))
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 13 == 0,
                F.concat(F.col("text"), F.lit(" "), F.col("_b0")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    bench = d.filter(F.col("doc_id") % 29 == 0)
    return remove_contaminated_spans(corpus, bench, "doc_id", "text", n=_Q118_N)


# ---------------------------------------------------------------------------
# q120 — MinHash sketch-quality audit (round 5): per LSH candidate
# pair, signature-estimated Jaccard (equal-component fraction, the
# Broder estimator) vs exact shingle Jaccard + absolute error — the
# k/bands tuning diagnostic. Oracle replays the identical signatures
# component-for-component, so estimator AND exact set math are both
# pinned.
# ---------------------------------------------------------------------------
def _q120_oracle() -> str:
    n, k, bands = _NGRAM, _K, _BANDS
    est = (
        f"CAST(len(list_filter(range(1, {k + 1}), "
        f"i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / {k}"
    )
    exact = (
        "CAST(len(list_intersect(sa.hashes, sb.hashes)) AS DOUBLE) / "
        "(len(sa.hashes) + len(sb.hashes) - len(list_intersect(sa.hashes, sb.hashes)))"
    )
    return f"""
    {lsh_candidates_sql(_CORPUS_SQL, n, k, bands)},
    audit AS (
      SELECT cand.id_a, cand.id_b,
             {dround_sql(est, 6)} AS est_jaccard,
             {dround_sql(exact, 6)} AS exact_jaccard
      FROM cand
      JOIN sigs sa ON sa.doc = cand.id_a
      JOIN sigs sb ON sb.doc = cand.id_b)
    SELECT id_a, id_b, est_jaccard, exact_jaccard,
           {dround_sql("abs(est_jaccard - exact_jaccard)", 6)} AS abs_err
    FROM audit
    """


@register("q120_minhash_quality_audit", oracle=_q120_oracle())
def q120_minhash_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.operators.dedup import minhash_quality_audit

    corpus = mutated_corpus(spark, sf_dir)
    return minhash_quality_audit(corpus, "doc_id", "text", n=_NGRAM, k=_K, bands=_BANDS)


# ---------------------------------------------------------------------------
# q122 — cross-source contamination matrix (round 5): n-gram shingle-
# universe overlap between every source pair, salted with a synthetic
# "srcagg" aggregator source that re-hosts every 4th document — the
# corpus-forensics pass that catches inter-source scraping before
# mixture weighting (q75/q89) trusts source labels as distinct
# corpora. Overlap coefficient = |A∩B| / min(|A|,|B|).
# ---------------------------------------------------------------------------
def _q122_oracle() -> str:
    n = _NGRAM
    return f"""
    WITH corpus AS (
      SELECT source, text FROM documents
      UNION ALL
      SELECT 'srcagg' AS source, text FROM documents WHERE doc_id % 4 = 0
    ),
    tha AS (SELECT source AS grp,
                   list_transform({tokens_sql("text")}, t -> {polyhash_sql("t")}) AS th
            FROM corpus),
    uni AS (SELECT DISTINCT grp, unnest({shingle_hashes_sql("th", n)}) AS sh FROM tha),
    sizes AS (SELECT grp, count(*) AS sz FROM uni GROUP BY grp),
    inter AS (SELECT a.grp AS src_a, b.grp AS src_b,
                     CAST(count(*) AS BIGINT) AS n_inter
              FROM uni a JOIN uni b ON a.sh = b.sh AND a.grp < b.grp
              GROUP BY a.grp, b.grp)
    SELECT i.src_a, i.src_b, i.n_inter,
           {dround_sql("CAST(i.n_inter AS DOUBLE) / least(sa.sz, sb.sz)", 6)}
             AS overlap_coef
    FROM inter i
    JOIN sizes sa ON sa.grp = i.src_a
    JOIN sizes sb ON sb.grp = i.src_b
    """


@register("q122_source_overlap_matrix", oracle=_q122_oracle())
def q122_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.operators.dedup import source_overlap_matrix

    d = load_table(spark, sf_dir, "documents")
    corpus = d.select("source", "doc_id", "text").unionByName(
        d.filter(F.col("doc_id") % 4 == 0).select(
            F.lit("srcagg").alias("source"), "doc_id", "text"
        )
    )
    return source_overlap_matrix(corpus, "source", "doc_id", "text", n=_NGRAM)


# ---------------------------------------------------------------------------
# q125 — persisted signature side-table roundtrip (round 5): the
# PRODUCTION shape q102's docstring promises — history MinHash
# signatures + shingle sets are written ONCE to a parquet side-table;
# an incoming batch is deduped against the STORED table (read back
# from disk) with zero re-hashing of history text. The parquet write/
# read is inside the query, so the gate verifies the storage
# roundtrip byte-path too (schema, longs, arrays). At 100 TB the
# side-table is the only history artifact each nightly batch touches.
# ---------------------------------------------------------------------------
def _q125_oracle() -> str:
    # storage is value-transparent, so the oracle is q102's near stage
    n, k, bands, t = _NGRAM, _K, _BANDS, _THRESH
    jac = (
        "CAST(len(list_intersect(bs.hashes, hs.hashes)) AS DOUBLE) / "
        "(len(bs.hashes) + len(hs.hashes) - len(list_intersect(bs.hashes, hs.hashes)))"
    )
    batch_sql = f"""
    SELECT doc_id + 200000 AS doc_id, text || '{_NEARDUP_SUFFIX}' AS text
    FROM documents WHERE doc_id % 5 = 0
    """
    return f"""
    WITH hist AS (SELECT doc_id, text FROM documents),
    batchc AS ({batch_sql}),
    {{h_chain}},
    {{b_chain}},
    cand AS (SELECT DISTINCT b.doc, h.doc AS hid
             FROM b_bands b JOIN h_bands h
               ON b.band_idx = h.band_idx AND b.band_val = h.band_val),
    near AS (SELECT cand.doc, min(cand.hid) AS near_id
             FROM cand
             JOIN b_hashed bs ON bs.doc = cand.doc
             JOIN h_hashed hs ON hs.doc = cand.hid
             WHERE {jac} >= {t}
             GROUP BY cand.doc)
    SELECT b.doc, near.near_id
    FROM b_hashed b LEFT JOIN near USING (doc)
    """


def _q125_chains() -> tuple[str, str]:
    """The q102 oracle's per-side CTE chains, reused verbatim minus the
    content-hash columns (this query is near-dup-only)."""
    n, k, bands = _NGRAM, _K, _BANDS
    rows = k // bands
    consts = perm_constants(k)

    def sig_items() -> str:
        items = []
        for a, b in consts:
            items.append(
                f"list_min(list_transform(hashes, h -> {perm_hash_sql('h', a, b)}))"
            )
        return "[" + ", ".join(items) + "]"

    def band_selects(src: str) -> str:
        sels = []
        for j in range(bands):
            v = f"sig[{j * rows + 1}]"
            for r in range(1, rows):
                v = f"(({v}) * 31 + sig[{j * rows + r + 1}])"
            sels.append(f"SELECT doc, {j} AS band_idx, {v} AS band_val FROM {src}")
        return " UNION ALL ".join(sels)

    def chain(p: str, src: str) -> str:
        return f"""
    {p}tha AS (SELECT doc_id AS doc,
                      list_transform({tokens_sql("text")}, t -> {polyhash_sql("t")}) AS th
               FROM {src}),
    {p}hashed AS (SELECT doc,
                         list_distinct({shingle_hashes_sql("th", n)}) AS hashes
                  FROM {p}tha),
    {p}sigs AS (SELECT doc, {sig_items()} AS sig FROM {p}hashed),
    {p}bands AS ({band_selects(p + "sigs")})"""

    return chain("h_", "hist"), chain("b_", "batchc")


_Q125_H, _Q125_B = _q125_chains()


@register(
    "q125_signature_sidetable",
    oracle=_q125_oracle().format(h_chain=_Q125_H, b_chain=_Q125_B),
)
def q125_signature_sidetable(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from anime_data_pipeline_spark.functions.text import tokens
    from anime_data_pipeline_spark.operators.dedup import (
        band_values_expr,
        minhash_signature_expr,
        shingle_hash_sets,
    )

    n, k, bands = _NGRAM, _K, _BANDS
    rows = k // bands
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    # Nightly build: hash history ONCE, persist (doc, hashes, sig)
    side = tempfile.mkdtemp(prefix="sigtab_")
    shingle_hash_sets(d, "doc_id", "text", n).withColumn(
        "sig", minhash_signature_expr("hashes", k)
    ).write.mode("overwrite").parquet(side)

    # Batch run: history comes ONLY from the stored side-table
    stored = spark.read.parquet(side)
    h_bands = stored.select(
        "doc", F.posexplode(band_values_expr("sig", bands, rows)).alias(
            "band_idx", "band_val"
        )
    )
    batch = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_NEARDUP_SUFFIX)).alias("text"),
    )
    b_hashed = shingle_hash_sets(batch, "doc_id", "text", n).withColumn(
        "sig", minhash_signature_expr("hashes", k)
    ).persist()
    b_bands = b_hashed.select(
        "doc", F.posexplode(band_values_expr("sig", bands, rows)).alias(
            "band_idx", "band_val"
        )
    )
    cand = (
        b_bands.join(
            h_bands.select("band_idx", "band_val", F.col("doc").alias("_hid")),
            ["band_idx", "band_val"],
        )
        .select("doc", "_hid")
        .distinct()
    )
    inter = F.size(F.array_intersect(F.col("ha"), F.col("hb")))
    union = F.size(F.col("ha")) + F.size(F.col("hb")) - inter
    near = (
        cand.join(b_hashed.select(F.col("doc"), F.col("hashes").alias("hb")), "doc")
        .join(
            stored.select(F.col("doc").alias("_hid"), F.col("hashes").alias("ha")),
            "_hid",
        )
        .withColumn("jaccard", inter.cast("double") / union)
        .filter(F.col("jaccard") >= _THRESH)
        .groupBy("doc")
        .agg(F.min("_hid").alias("near_id"))
    )
    return b_hashed.select("doc").join(near, "doc", "left")


# ---------------------------------------------------------------------------
# q152 — URL canonicalization + URL-level dedup (RefinedWeb §3.1 /
# CCNet stage 0, round 5): a synthetic crawl frontier derived from
# doc_id (mixed-case schemes/hosts, www labels, default ports,
# utm/fbclid tracking params, fragments, trailing slashes) is
# canonicalized by operators/web.canonicalize_url — pure native
# regexp expressions, no UDF, no shuffle — then deduped by canonical
# form (keeper = min doc_id). The oracle rebuilds the identical raw
# URLs from doc_id and applies the DuckDB twin canonicalize_url_sql,
# so every normalization rule is hash-checked rule-for-rule.
# ---------------------------------------------------------------------------
def _q152_raw_url_spark() -> "F.Column":
    i = F.col("doc_id")
    scheme = F.when(i % 7 == 0, F.lit("HTTPS")).otherwise(F.lit("http"))
    host = (
        F.when(i % 5 == 0, F.lit("Example.COM"))
        .when(i % 5 == 1, F.lit("www.example.com"))
        .when(i % 5 == 2, F.lit("EXAMPLE.com"))
        .when(i % 5 == 3, F.lit("news.site.ORG"))
        .otherwise(F.lit("WWW.News.Site.org"))
    )
    port = F.when(
        i % 6 == 0, F.when(i % 7 == 0, F.lit(":443")).otherwise(F.lit(":80"))
    ).otherwise(F.lit(""))
    path = F.concat(
        F.lit("/p/"), (i % 17).cast("string"), F.when(i % 4 == 0, F.lit("/")).otherwise(F.lit(""))
    )
    query = (
        F.when(i % 3 == 0, F.concat(F.lit("?utm_source=feed&id="), (i % 11).cast("string")))
        .when(i % 3 == 1, F.concat(F.lit("?id="), (i % 11).cast("string")))
        .otherwise(F.lit(""))
    )
    query = F.when(i % 9 == 0, F.concat(query, F.lit("&utm_campaign=Spring"))).otherwise(query)
    frag = F.when(i % 4 == 0, F.concat(F.lit("#Sec"), (i % 3).cast("string"))).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, port, path, query, frag)


_Q152_RAW_URL_SQL = """
  (CASE WHEN doc_id % 7 = 0 THEN 'HTTPS' ELSE 'http' END || '://'
   || CASE CAST(doc_id % 5 AS INTEGER)
        WHEN 0 THEN 'Example.COM' WHEN 1 THEN 'www.example.com'
        WHEN 2 THEN 'EXAMPLE.com' WHEN 3 THEN 'news.site.ORG'
        ELSE 'WWW.News.Site.org' END
   || CASE WHEN doc_id % 6 = 0
           THEN CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE ':80' END
           ELSE '' END
   || '/p/' || CAST(doc_id % 17 AS VARCHAR)
   || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
   || (CASE WHEN doc_id % 3 = 0
            THEN '?utm_source=feed&id=' || CAST(doc_id % 11 AS VARCHAR)
            WHEN doc_id % 3 = 1
            THEN '?id=' || CAST(doc_id % 11 AS VARCHAR)
            ELSE '' END
       || CASE WHEN doc_id % 9 = 0 THEN '&utm_campaign=Spring' ELSE '' END)
   || CASE WHEN doc_id % 4 = 0 THEN '#Sec' || CAST(doc_id % 3 AS VARCHAR) ELSE '' END)
"""


def _q152_oracle() -> str:
    from anime_data_pipeline_spark.operators.web import canonicalize_url_sql

    canon = canonicalize_url_sql(_Q152_RAW_URL_SQL)
    return f"""
    WITH frontier AS (
      SELECT doc_id, {canon} AS canon_url
      FROM documents WHERE doc_id % 2 = 0
    )
    SELECT canon_url,
           CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM frontier GROUP BY canon_url
    """


@register("q152_url_canonical_dedup", oracle=_q152_oracle())
def q152_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.operators.web import canonicalize_url

    frontier = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 0)
        .select("doc_id", _q152_raw_url_spark().alias("raw_url"))
        .withColumn("canon_url", canonicalize_url(F.col("raw_url")))
    )
    return frontier.groupBy("canon_url").agg(
        F.min("doc_id").cast("long").alias("keeper_doc_id"),
        F.count(F.lit(1)).cast("long").alias("n_copies"),
    )


# ---------------------------------------------------------------------------
# q153 — CCNet-normalized exact dedup (Wenzek et al. 2020 §4.1, round
# 5): duplicates that raw exact-dedup CANNOT see — uppercased copies
# with punctuation bolted on, accent-injected copies with punctuation noise
# — collapse once both sides pass through functions/text.
# ccnet_normalize (lowercase → accent fold → digits→0 → punct→space →
# whitespace collapse; all native translate/regexp expressions).
# Grouping is by the normalized CONTENT itself (exact_dedup's
# collision-free semantics, not hash-only). The oracle builds the
# identical mutated corpus and applies the SQL twin rule-for-rule.
# ---------------------------------------------------------------------------
_Q153_CORPUS_SQL = """
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id + 1000000, upper(text) || ' !!' FROM documents
  WHERE doc_id % 2 = 0 AND doc_id % 4 = 0
  UNION ALL
  SELECT doc_id + 2000000, translate(text, 'ae', 'áé') || ' ...' FROM documents
  WHERE doc_id % 2 = 0 AND doc_id % 6 = 0
"""


def _q153_oracle() -> str:
    from anime_data_pipeline_spark.functions.text import ccnet_normalize_sql

    norm = ccnet_normalize_sql("text")
    return f"""
    WITH corpus AS ({_Q153_CORPUS_SQL}),
    normed AS (SELECT doc_id, {norm} AS norm_text FROM corpus)
    SELECT CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(length(norm_text) AS BIGINT) AS n_chars_norm
    FROM normed GROUP BY norm_text
    """


@register("q153_normalized_dedup", oracle=_q153_oracle())
def q153_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.functions.text import ccnet_normalize

    base = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 0)
        .select("doc_id", "text")
    )
    upper_copies = base.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit(" !!")).alias("text"),
    )
    accent_copies = base.filter(F.col("doc_id") % 6 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.translate(F.col("text"), "ae", "áé"), F.lit(" ...")).alias("text"),
    )
    corpus = base.unionByName(upper_copies).unionByName(accent_copies)
    normed = corpus.select("doc_id", ccnet_normalize(F.col("text")).alias("norm_text"))
    return normed.groupBy("norm_text").agg(
        F.min("doc_id").cast("long").alias("keeper_doc_id"),
        F.count(F.lit(1)).cast("long").alias("n_copies"),
        F.length(F.first("norm_text")).cast("long").alias("n_chars_norm"),
    ).drop("norm_text")


# ---------------------------------------------------------------------------
# q161 — n-gram CONTAINMENT dedup (Broder's asymmetric C(A,B) =
# |A∩B|/|A|): catches subset duplicates — excerpts, truncated
# re-crawls, quoted docs — whose symmetric Jaccard sits near
# |A|/|B| << threshold and sails through q34. Corpus = documents +
# half-length excerpt docs (1/4 of ids, re-keyed +300000, text = the
# first ⌈n_tokens/2⌉ tokens), so every planted excerpt has
# containment 1.0 in its parent but Jaccard ≈ 0.5. Same 8-byte
# shared-shingle blocking + max_df hot-key bound as q34; the only new
# math is the two directional divisions.
# ---------------------------------------------------------------------------
_Q161_N, _Q161_THRESH, _Q161_MAXDF = 3, 0.9, 25

_Q161_CORPUS_SQL = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 300000 AS doc_id,
           coalesce(list_aggregate(
             list_slice({tokens_sql("text")}, 1,
               greatest(CAST(floor(len({tokens_sql("text")}) / 2.0) AS INT), 1)),
             'string_agg', ' '), '') AS text
    FROM documents WHERE doc_id % 4 = 0
"""

_Q161_ORACLE = f"""
    {_hashed_cte(_Q161_N, _Q161_CORPUS_SQL)},
    ex AS (SELECT doc, unnest(hashes) AS sh FROM hashed),
    rare AS (SELECT sh FROM ex GROUP BY sh HAVING count(*) <= {_Q161_MAXDF}),
    kept AS (SELECT ex.doc, ex.sh FROM ex JOIN rare USING (sh)),
    sizes AS (SELECT doc, count(*) AS sz FROM kept GROUP BY doc),
    inter AS (SELECT a.doc AS id_a, b.doc AS id_b, count(*) AS n_inter
              FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc < b.doc
              GROUP BY 1, 2),
    scored AS (
      SELECT id_a, id_b,
             CAST(n_inter AS DOUBLE) / sa.sz AS ca,
             CAST(n_inter AS DOUBLE) / sb.sz AS cb
      FROM inter
      JOIN sizes sa ON sa.doc = inter.id_a
      JOIN sizes sb ON sb.doc = inter.id_b)
    SELECT id_a, id_b,
           {dround_sql("ca", 6)} AS cont_a_in_b,
           {dround_sql("cb", 6)} AS cont_b_in_a
    FROM scored WHERE greatest(ca, cb) >= {_Q161_THRESH}
"""


def _q161_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens(F.col("text"))
    half = F.greatest(
        F.floor(F.size(toks) / F.lit(2.0)).cast("int"), F.lit(1)
    )
    excerpts = d.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, F.lit(1), half)).alias("text"),
    )
    return d.unionByName(excerpts)


@register("q161_containment_dedup", oracle=_Q161_ORACLE)
def q161_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.operators.dedup import ngram_containment_pairs

    out = ngram_containment_pairs(
        _q161_corpus(spark, sf_dir),
        "doc_id",
        "text",
        n=_Q161_N,
        threshold=_Q161_THRESH,
        max_df=_Q161_MAXDF,
    )
    return out.select(
        "id_a",
        "id_b",
        dround(F.col("cont_a_in_b"), 6).alias("cont_a_in_b"),
        dround(F.col("cont_b_in_a"), 6).alias("cont_b_in_a"),
    )


# ---------------------------------------------------------------------------
# q185 — blocked entity resolution (round 7: record linkage — the
# structured-record sibling of document near-dup: Fellegi-Sunter-style
# block → candidate pairs → edit-distance verify). Records are
# synthesized from `customer` with name lists whose initials are
# UNIQUE per list, so initial-pair blocking is exact (a typo'd variant
# never leaves its entity's block — the property real ER blocking
# approximates); every 3rd customer gets a variant with one (or, every
# 6th, two) deterministic character substitutions, so the lev<=1
# verify keeps single-typo variants and rejects double-typo ones.
# Both engines run the SAME pipeline (build → block → self-join →
# levenshtein) — name synthesis is closed-form from c_custkey, and
# the lev values are small-string exact in both engines (q96's
# established parity). Scale: blocking key equi-join (one shuffle);
# the within-block quadratic is bounded by block size — at 1000
# executors the block-size distribution IS the cost model, and the
# skew treatment is the same hot-key cap/AQE story as the banding
# dedups; the output is a per-block aggregate, never the pair list.
# ---------------------------------------------------------------------------
_Q185_FIRST = [
    "Alice", "Brian", "Clara", "David", "Elena", "Frank", "Grace", "Henry",
    "Irene", "James", "Karen", "Louis", "Maria", "Nora", "Oscar", "Peter",
]
_Q185_LAST = [
    "Adams", "Brown", "Clark", "Davis", "Evans", "Field", "Green", "Hayes",
    "Irwin", "Jones", "Kline", "Lewis", "Moore", "Nolan", "Olsen", "Perez",
]
# the Spark typo expressions use fixed-length substrings while the
# oracle's substr(ln, 3) runs to end-of-string — they agree only while
# every last name is exactly 5 chars (and initials stay unique so the
# blocking is exact; 'x'/'q' never appear at the typo positions so the
# lev distances are exact)
assert all(len(n) == 5 for n in _Q185_LAST)
assert len({n[0] for n in _Q185_FIRST}) == 16 and len({n[0] for n in _Q185_LAST}) == 16
assert all(n[1] != "x" and n[3] != "q" for n in _Q185_LAST)


def _q185_oracle() -> str:
    first = ", ".join(f"'{n}'" for n in _Q185_FIRST)
    last = ", ".join(f"'{n}'" for n in _Q185_LAST)
    return f"""
    WITH ks AS (SELECT c_custkey AS k FROM customer),
    named AS (
      SELECT k, [{first}][CAST(k * 7 AS INTEGER) % 16 + 1] AS fn,
             [{last}][CAST(k // 16 AS INTEGER) % 16 + 1] AS ln
      FROM ks
    ),
    recs AS (
      SELECT k * 2 AS rec_id, fn || ' ' || ln AS name FROM named
      UNION ALL
      SELECT k * 2 + 1 AS rec_id,
             fn || ' ' || CASE WHEN k % 6 = 0
               THEN substr(ln, 1, 1) || 'x' || substr(ln, 3, 1) || 'q' || substr(ln, 5)
               ELSE substr(ln, 1, 1) || 'x' || substr(ln, 3) END AS name
      FROM named WHERE k % 3 = 0
    ),
    blocked AS (
      SELECT rec_id, name,
             substr(name, 1, 1) AS fi,
             substr(split_part(name, ' ', 2), 1, 1) AS li
      FROM recs
    ),
    pairs AS (
      SELECT a.fi, a.li, levenshtein(a.name, b.name) AS lev
      FROM blocked a JOIN blocked b
        ON a.fi = b.fi AND a.li = b.li AND a.rec_id < b.rec_id
    ),
    sizes AS (
      SELECT fi, li, CAST(count(*) AS BIGINT) AS n_records
      FROM blocked GROUP BY fi, li
    )
    SELECT s.fi AS first_initial, s.li AS last_initial, s.n_records,
           CAST(count(p.lev) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN p.lev <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_matches,
           CAST(sum(CASE WHEN p.lev = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact
    FROM sizes s LEFT JOIN pairs p ON s.fi = p.fi AND s.li = p.li
    GROUP BY s.fi, s.li, s.n_records
    """


@register("q185_entity_resolution", oracle=_q185_oracle())
def q185_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = F.col("c_custkey")
    fn = F.element_at(
        F.array(*[F.lit(n) for n in _Q185_FIRST]), ((k * 7) % 16 + 1).cast("int")
    )
    ln = F.element_at(
        F.array(*[F.lit(n) for n in _Q185_LAST]),
        # floor-div decorrelates from the first-name index (k*7 % 16 is
        # a bijection of k % 16, so a second k-linear index would yield
        # only 16 name combos instead of 256)
        (F.floor(k / 16) % 16 + 1).cast("int"),
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    base = cust.select((k * 2).alias("rec_id"), F.concat(fn, F.lit(" "), ln).alias("name"))
    typo1 = F.concat(F.substring(ln, 1, 1), F.lit("x"), F.substring(ln, 3, 3))
    typo2 = F.concat(
        F.substring(ln, 1, 1), F.lit("x"), F.substring(ln, 3, 1),
        F.lit("q"), F.substring(ln, 5, 1),
    )
    variants = cust.filter(k % 3 == 0).select(
        (k * 2 + 1).alias("rec_id"),
        F.concat(fn, F.lit(" "), F.when(k % 6 == 0, typo2).otherwise(typo1)).alias("name"),
    )
    blocked = base.unionByName(variants).select(
        "rec_id",
        "name",
        F.substring(F.col("name"), 1, 1).alias("fi"),
        F.substring(F.substring_index(F.col("name"), " ", -1), 1, 1).alias("li"),
    )
    a = blocked.select(
        F.col("fi"), F.col("li"), F.col("rec_id").alias("id_a"), F.col("name").alias("name_a")
    )
    b = blocked.select(
        F.col("fi"), F.col("li"), F.col("rec_id").alias("id_b"), F.col("name").alias("name_b")
    )
    pairs = a.join(b, ["fi", "li"]).filter(F.col("id_a") < F.col("id_b")).select(
        "fi", "li", F.levenshtein(F.col("name_a"), F.col("name_b")).alias("lev")
    )
    sizes = blocked.groupBy("fi", "li").agg(
        F.count(F.lit(1)).cast("long").alias("n_records")
    )
    agg = pairs.groupBy("fi", "li").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("lev") <= 1, 1).otherwise(0)).cast("long").alias("n_matches"),
        F.sum(F.when(F.col("lev") == 0, 1).otherwise(0)).cast("long").alias("n_exact"),
    )
    return (
        sizes.join(agg, ["fi", "li"], "left")
        .select(
            F.col("fi").alias("first_initial"),
            F.col("li").alias("last_initial"),
            "n_records",
            F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce(F.col("n_matches"), F.lit(0)).cast("long").alias("n_matches"),
            F.coalesce(F.col("n_exact"), F.lit(0)).cast("long").alias("n_exact"),
        )
    )
