"""q35 — the full curation pipeline as ONE oracle-checked query:
quality filter → exact dedup → LSH near-dup removal, over the mutated
corpus (which contains both exact and near duplicates by
construction). The DuckDB oracle rebuilds the identical chain,
including the banded LSH, so a hash-match certifies the composition,
not just the stages."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anime_data_pipeline_spark.functions.compat import dround, dround_sql
from anime_data_pipeline_spark.functions.hashing import polyhash_sql
from anime_data_pipeline_spark.operators.textstats import quality_sql_projection
from anime_data_pipeline_spark.plans.curation import curate_corpus
from anime_data_pipeline_spark.queries.dedup_q import (
    _CORPUS_SQL,
    minhash_pairs_sql,
    mutated_corpus,
)
from anime_data_pipeline_spark.registry import register

_QT = 0.7
_N, _K, _BANDS, _JT = 3, 12, 4, 0.5


def _uniq_sql() -> str:
    """Survivors of quality filter + exact dedup, as one nested SELECT
    (no WITH — this gets embedded as a CTE body elsewhere)."""
    score = quality_sql_projection("text")["quality_score"]
    kept = f"SELECT doc_id, text FROM ({_CORPUS_SQL}) WHERE ({score}) >= {_QT}"
    return f"""
    SELECT doc_id, text FROM (
      SELECT doc_id, text,
             min(doc_id) OVER (
               PARTITION BY {polyhash_sql("text")}, {polyhash_sql("text", 37)}) AS keeper
      FROM ({kept})
    ) WHERE doc_id = keeper
    """


def _q35_oracle() -> str:
    proj = quality_sql_projection("text")
    return f"""
    WITH pairs AS ({minhash_pairs_sql(_uniq_sql(), _N, _K, _BANDS, _JT)}),
    uniq AS ({_uniq_sql()})
    SELECT doc_id,
           {proj["n_tokens"]} AS n_tokens,
           {dround_sql(proj["quality_score"], 6)} AS quality_score
    FROM uniq
    WHERE doc_id NOT IN (SELECT id_b FROM pairs)
    """


@register("q35_curation_pipeline", oracle=_q35_oracle())
def q35_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = mutated_corpus(spark, sf_dir)
    curated = curate_corpus(
        corpus,
        "doc_id",
        "text",
        quality_threshold=_QT,
        n=_N,
        k=_K,
        bands=_BANDS,
        jaccard_threshold=_JT,
    )
    return curated.select(
        "doc_id",
        F.col("n_tokens"),
        dround(F.col("quality_score"), 6).alias("quality_score"),
    )


# ---------------------------------------------------------------------------
# q88 — the COMPLETE pretraining-corpus preparation chain, end-to-end:
# hygiene (langid + quality) → exact dedup → LSH near-dup →
# decontamination vs a benchmark split → greedy packing. The corpus is
# salted so each stage demonstrably removes its class: exact copies
# (+100000), near-dup suffixed copies (+200000), and rows contaminated
# with the first benchmark doc's text (+300000). The oracle rebuilds
# all five stages, ending in the q67-style recursive-CTE pack replay.
# ---------------------------------------------------------------------------
_Q88_BUDGET = 256
_Q88_CONTAM_N = 8
_Q88_SUFFIX = " qq ww ee rr"


def _q88_train_sql() -> str:
    b0 = "(SELECT substr(text, 1, 200) FROM documents WHERE doc_id = 0)"
    return f"""
    SELECT doc_id, source, text FROM documents WHERE doc_id % 29 <> 0
    UNION ALL
    SELECT doc_id + 100000, source, text FROM documents
    WHERE doc_id % 29 <> 0 AND doc_id % 3 = 0
    UNION ALL
    SELECT doc_id + 200000, source, text || '{_Q88_SUFFIX}' FROM documents
    WHERE doc_id % 29 <> 0 AND doc_id % 5 = 0
    UNION ALL
    SELECT doc_id + 300000, source, text || ' ' || {b0} FROM documents
    WHERE doc_id % 29 <> 0 AND doc_id % 13 = 0
    """


def _q88_oracle() -> str:
    from anime_data_pipeline_spark.functions.hashing import shingle_hashes_sql
    from anime_data_pipeline_spark.functions.text import tokens_sql
    from anime_data_pipeline_spark.operators.textstats import (
        language_id_sql,
        ws_token_count_sql,
    )

    pred, _ = language_id_sql("text")
    score = quality_sql_projection("text")["quality_score"]
    ph = polyhash_sql("text")
    ph2 = polyhash_sql("text", 37)
    n = _Q88_CONTAM_N
    return f"""
    WITH RECURSIVE train AS ({_q88_train_sql()}),
    hygiene AS (SELECT doc_id, source, text FROM train
                WHERE ({pred}) = 'en' AND ({score}) >= {_QT}),
    uniq AS (
      SELECT doc_id, source, text FROM (
        SELECT doc_id, source, text,
               min(doc_id) OVER (PARTITION BY {ph}, {ph2}) AS keeper
        FROM hygiene
      ) WHERE doc_id = keeper),
    pairs AS ({minhash_pairs_sql("SELECT doc_id, text FROM uniq", _N, _K, _BANDS, _JT)}),
    surv AS (SELECT * FROM uniq WHERE doc_id NOT IN (SELECT id_b FROM pairs)),
    bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 29 = 0),
    sth AS (SELECT doc_id, list_transform({tokens_sql("text")},
                     t -> {polyhash_sql("t")}) AS th FROM surv),
    shash AS (SELECT doc_id,
                     list_distinct({shingle_hashes_sql("th", n)}) AS hashes
              FROM sth),
    bth AS (SELECT doc_id, list_transform({tokens_sql("text")},
                     t -> {polyhash_sql("t")}) AS th FROM bench),
    universe AS (SELECT DISTINCT unnest(
                   list_distinct({shingle_hashes_sql("th", n)})) AS sh FROM bth),
    ex AS (SELECT doc_id, unnest(hashes) AS sh FROM shash),
    hits AS (SELECT doc_id, count(*) AS n_hits
             FROM ex JOIN universe USING (sh) GROUP BY doc_id),
    clean AS (SELECT s.doc_id, s.source, s.text FROM surv s
              LEFT JOIN hits h USING (doc_id)
              WHERE coalesce(h.n_hits, 0) = 0),
    docs2 AS MATERIALIZED (SELECT doc_id, source, {ws_token_count_sql("text")} AS n_tokens,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY doc_id) AS rn
              FROM clean),
    step(source, rn, doc_id, n_tokens, chunk_id, acc) AS (
      SELECT source, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
      FROM docs2 WHERE rn = 1
      UNION ALL
      SELECT d.source, d.rn, d.doc_id, d.n_tokens,
             CASE WHEN s.acc > 0 AND s.acc + d.n_tokens > {_Q88_BUDGET}
                  THEN s.chunk_id + 1 ELSE s.chunk_id END,
             CASE WHEN s.acc > 0 AND s.acc + d.n_tokens > {_Q88_BUDGET}
                  THEN d.n_tokens ELSE s.acc + d.n_tokens END
      FROM step s JOIN docs2 d ON d.source = s.source AND d.rn = s.rn + 1
    )
    SELECT doc_id, source, n_tokens, chunk_id FROM step
    """


@register("q88_pretraining_corpus", oracle=_q88_oracle())
def q88_pretraining_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.catalog import load_table
    from anime_data_pipeline_spark.plans.curation import prepare_pretraining_corpus

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    train_base = d.filter(F.col("doc_id") % 29 != 0)
    bench = d.filter(F.col("doc_id") % 29 == 0).select("doc_id", "text")
    b0 = F.broadcast(
        d.filter(F.col("doc_id") == 0).select(
            F.substring("text", 1, 200).alias("_b0")
        )
    )
    exact = train_base.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "source", "text"
    )
    near = train_base.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        "source",
        F.concat(F.col("text"), F.lit(_Q88_SUFFIX)).alias("text"),
    )
    contam = (
        train_base.filter(F.col("doc_id") % 13 == 0)
        .crossJoin(b0)
        .select(
            (F.col("doc_id") + 300000).alias("doc_id"),
            "source",
            F.concat(F.col("text"), F.lit(" "), F.col("_b0")).alias("text"),
        )
    )
    corpus = (
        train_base.unionByName(exact).unionByName(near).unionByName(contam)
    )
    return prepare_pretraining_corpus(
        corpus,
        bench,
        quality_threshold=_QT,
        n=_N,
        k=_K,
        bands=_BANDS,
        jaccard_threshold=_JT,
        contam_n=_Q88_CONTAM_N,
        budget=_Q88_BUDGET,
    )


# ---------------------------------------------------------------------------
# q104 — the MODERN LLM curation chain, end-to-end: quality rules →
# exact doc dedup → ExactSubstr span cleaning (drop docs losing >50%
# of tokens) → DSIR importance weights → CCNet per-source perplexity
# band. One oracle-checked composition of the round-4 selection stack
# over a corpus salted with exact and near-dup copies. q88 remains the
# packing-oriented flagship; this is the data-selection flagship.
# ---------------------------------------------------------------------------
_Q104_QT = 0.5
_Q104_SPAN_N = 10
_Q104_B = 1024
_Q104_SUFFIX = " qq ww ee rr"

_Q104_CORPUS_SQL = f"""
    SELECT doc_id, lang, source, text FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, lang, source, text
    FROM documents WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id + 200000 AS doc_id, lang, source,
           text || '{_Q104_SUFFIX}' AS text
    FROM documents WHERE doc_id % 5 = 0
"""


def _q104_oracle() -> str:
    from anime_data_pipeline_spark.functions.hashing import (
        shingle_hashes_sql,
    )
    from anime_data_pipeline_spark.functions.text import tokens_sql

    score = quality_sql_projection("text")["quality_score"]
    n = _Q104_SPAN_N
    b = _Q104_B
    return f"""
    WITH corpus AS ({_Q104_CORPUS_SQL}),
    hyg AS (SELECT * FROM corpus WHERE ({score}) >= {_Q104_QT}),
    uniq AS (SELECT doc_id, lang, source, text FROM (
               SELECT *, min(doc_id) OVER (
                 PARTITION BY {polyhash_sql("text")}, {polyhash_sql("text", 37)}) AS keeper
               FROM hyg) WHERE doc_id = keeper),
    tok AS (SELECT doc_id, lang, source, {tokens_sql("text")} AS toks FROM uniq),
    tha AS (SELECT doc_id, lang, source, toks,
                   list_transform(toks, t -> {polyhash_sql("t")}) AS th FROM tok),
    shs AS (SELECT doc_id, lang, source, toks,
                   {shingle_hashes_sql("th", n)} AS sh FROM tha),
    spans AS (SELECT doc_id, u.s.sh AS sh, u.s.pos AS pos
              FROM shs, unnest(list_transform(sh, (x, i) -> {{'sh': x, 'pos': i}})) AS u(s)),
    dup AS (SELECT sh FROM spans GROUP BY sh HAVING count(*) >= 2),
    dpos AS (SELECT doc_id, list_sort(list(pos)) AS dps
             FROM spans JOIN dup USING (sh) GROUP BY doc_id),
    cov AS (SELECT s.doc_id, s.lang, s.source, s.toks,
                   coalesce(list_distinct(flatten(list_transform(d.dps,
                     p -> list_transform(generate_series(p, p + {n - 1}), z -> CAST(z AS INT))))),
                     CAST([] AS INT[])) AS cv
            FROM shs s LEFT JOIN dpos d USING (doc_id)),
    ckept AS (SELECT doc_id, lang, source,
                     coalesce(list_aggregate(
                       list_filter(toks, (x, i) -> NOT list_contains(cv, CAST(i AS INT))),
                       'string_agg', ' '), '') AS text
              FROM cov WHERE len(cv) * 2 <= len(toks)),
    dtok AS (SELECT doc_id, lang, {tokens_sql("text")} AS toks FROM ckept),
    dtha AS (SELECT doc_id, lang,
                    list_transform(toks, t -> {polyhash_sql("t")}) AS th FROM dtok),
    feats AS (SELECT doc_id, lang,
                     list_transform(list_concat(th, {shingle_hashes_sql("th", 2)}),
                                    h -> h % {b}) AS fb FROM dtha),
    fex AS (SELECT doc_id, lang, unnest(fb) AS bucket FROM feats),
    counts AS (SELECT doc_id, lang, bucket, count(*) AS cnt
               FROM fex GROUP BY doc_id, lang, bucket),
    rawtot AS (SELECT sum(cnt) AS tot FROM counts),
    rawd AS (SELECT bucket,
                    ln((sum(cnt) + 1.0) / ((SELECT tot FROM rawtot) + {b})) AS logq
             FROM counts GROUP BY bucket),
    tcounts AS (SELECT * FROM counts WHERE lang = 'en'),
    ttot AS (SELECT sum(cnt) AS tot FROM tcounts),
    tgtd AS (SELECT bucket,
                    ln((sum(cnt) + 1.0) / ((SELECT tot FROM ttot) + {b})) AS logp
             FROM tcounts GROUP BY bucket),
    ratio AS (SELECT r.bucket,
                     coalesce(t.logp, ln(1.0 / ((SELECT tot FROM ttot) + {b}))) - r.logq
                       AS logratio
              FROM rawd r LEFT JOIN tgtd t USING (bucket)),
    w AS (SELECT doc_id, sum(cnt * logratio) AS lw
          FROM counts JOIN ratio USING (bucket) GROUP BY doc_id),
    ltok AS (SELECT doc_id, unnest({tokens_sql("text")}) AS term FROM ckept),
    vocab AS (SELECT term, count(*) AS n_term FROM ltok GROUP BY term),
    ltot AS (SELECT CAST(sum(n_term) AS DOUBLE) AS n_total FROM vocab),
    lscored AS (SELECT doc_id, -ln(n_term / n_total) AS nll
                FROM ltok JOIN vocab USING (term) CROSS JOIN ltot),
    perdoc AS (SELECT doc_id, {dround_sql("avg(nll)", 6)} AS mean_nll
               FROM lscored GROUP BY doc_id),
    with_src AS (SELECT p.doc_id, c.source, p.mean_nll
                 FROM perdoc p JOIN ckept c USING (doc_id)),
    ranked AS (SELECT *,
                      row_number() OVER (PARTITION BY source
                                         ORDER BY mean_nll, doc_id) AS rn,
                      count(*) OVER (PARTITION BY source) AS nn
               FROM with_src)
    SELECT r.doc_id, r.source, {dround_sql("w.lw", 6)} AS dsir_logw, r.mean_nll
    FROM ranked r JOIN w USING (doc_id)
    WHERE r.rn > floor(0.25 * r.nn) AND r.rn <= floor(0.75 * r.nn)
    """


@register("q104_curation_v2", oracle=_q104_oracle())
def q104_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from anime_data_pipeline_spark.catalog import load_table
    from anime_data_pipeline_spark.functions.hashing import polyhash
    from anime_data_pipeline_spark.operators.dedup import remove_duplicate_spans
    from anime_data_pipeline_spark.operators.selection import (
        dsir_logweights,
        rank_band_filter,
    )
    from anime_data_pipeline_spark.operators.terms import unigram_logprob
    from anime_data_pipeline_spark.operators.textstats import quality_columns

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text")
    exact = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "lang", "source", "text"
    )
    near = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        "lang",
        "source",
        F.concat(F.col("text"), F.lit(_Q104_SUFFIX)).alias("text"),
    )
    from anime_data_pipeline_spark.plans.curation import ensure_map_parallelism

    corpus = ensure_map_parallelism(d.unionByName(exact).unionByName(near))

    # A: quality hygiene
    hyg = (
        quality_columns(corpus, "text")
        .filter(F.col("quality_score") >= _Q104_QT)
        .select("doc_id", "lang", "source", "text")
    )
    # B: exact dedup, keep the minimum id per content hash. Dual
    # independent hashes (base-31 + base-37): keying the window on one
    # ~2^30 hash would falsely collapse ~N²/2P unrelated docs at scale.
    keeper = F.min("doc_id").over(Window.partitionBy("_chash", "_chash2"))
    # uniq feeds the span op's two consumers (span explode + cleaned-
    # text rebuild); its lineage is the quality forest + dual-hash
    # window — persist wins over recompute here (measured 8.5→7.4 s at
    # sf0.1; the window chain is exactly the expensive-upstream case
    # where persist pays, unlike cheap-scan upstreams). r13: the
    # boundary holds the TOKEN ARRAY instead of the text — tokenize
    # runs once into the persist (post-window, so the dedup shuffle
    # still carries strings+hashes only) rather than once per span-op
    # side, and nothing downstream reads the raw text again.
    from anime_data_pipeline_spark.functions.text import tokens

    uniq = (
        hyg.withColumn("_chash", polyhash(F.col("text")))
        .withColumn("_chash2", polyhash(F.col("text"), 37))
        .withColumn("_keeper", keeper)
        .filter(F.col("doc_id") == F.col("_keeper"))
        .select("doc_id", "lang", "source", tokens(F.col("text")).alias("_toks"))
        .persist()
    )
    # C: ExactSubstr span cleaning; drop docs losing more than half.
    # (lang, source) carry through so no join-back re-evaluates the
    # quality→window-dedup chain (measured: the A-C stage was 70% of
    # q104's wall time, dominated by re-derivations of `uniq`).
    cleaned = remove_duplicate_spans(
        uniq,
        "doc_id",
        "_toks",
        n=_Q104_SPAN_N,
        min_count=2,
        carry=("lang", "source"),
        pretokenized=True,
        emit_tokens=True,
    )
    # Stage boundary: every downstream stage (DSIR's two featurize
    # passes, the LM aggs, the source join) re-derives the full
    # hygiene → window-dedup → span-dedup chain otherwise. Same
    # persisted-stage-boundary pattern as the q88 chain. The surviving
    # TOKEN ARRAY carries straight through (emit_tokens:
    # tokens(concat_ws(' ', kept)) ≡ kept, so rebuilding a cleaned
    # string only to re-split it would be two dead corpus passes —
    # r12 left that on the table; DSIR's two featurize passes and the
    # LM aggs consume the array as before).
    ckept = (
        cleaned.filter(F.col("n_dropped") * 2 <= F.col("n_tokens"))
        .select(
            F.col("doc").alias("doc_id"),
            "lang",
            "source",
            F.col("cleaned_toks").alias("_toks"),
        )
        .persist()
    )
    # D: DSIR importance weights on the cleaned corpus
    w = dsir_logweights(
        ckept,
        "doc_id",
        "_toks",
        target_pred=F.col("lang") == "en",
        buckets=_Q104_B,
        pretokenized=True,
    ).select(F.col("doc").alias("doc_id"), dround(F.col("dsir_logw"), 6).alias("dsir_logw"))
    # E: CCNet per-source perplexity band on the cleaned corpus LM
    nll = unigram_logprob(ckept, "doc_id", "_toks", pretokenized=True).select(
        F.col("doc").alias("doc_id"), dround(F.col("mean_nll"), 6).alias("mean_nll")
    )
    with_src = nll.join(ckept.select("doc_id", "source"), "doc_id")
    band = rank_band_filter(with_src, "source", "mean_nll", "doc_id", lo=0.25, hi=0.75)
    return band.join(w, "doc_id").select("doc_id", "source", "dsir_logw", "mean_nll")


# ---------------------------------------------------------------------------
# q126 — per-source curation funnel report (round 5): the ops
# dashboard an LLM-data team reads daily — for each source, raw count,
# quality survivors, dual-hash-unique survivors, and the retention
# rates. Composes the hygiene + keeper-window stages over the
# q104-style salted corpus (exact copies re-keyed +100000 so dedup
# demonstrably removes rows per source). All exchanges are
# source-keyed partial aggs on top of the chain's hash shuffles.
# ---------------------------------------------------------------------------
_Q126_QT = 0.5


def _q126_oracle() -> str:
    score = quality_sql_projection("text")["quality_score"]
    return f"""
    WITH corpus AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, source, text
      FROM documents WHERE doc_id % 3 = 0
    ),
    hyg AS (SELECT * FROM corpus WHERE ({score}) >= {_Q126_QT}),
    uniq AS (SELECT doc_id, source FROM (
               SELECT *, min(doc_id) OVER (
                 PARTITION BY {polyhash_sql("text")}, {polyhash_sql("text", 37)}) AS keeper
               FROM hyg) WHERE doc_id = keeper),
    raw_c AS (SELECT source, count(*) AS n_raw FROM corpus GROUP BY source),
    hyg_c AS (SELECT source, count(*) AS n_quality FROM hyg GROUP BY source),
    unq_c AS (SELECT source, count(*) AS n_unique FROM uniq GROUP BY source)
    SELECT r.source,
           CAST(r.n_raw AS BIGINT) AS n_raw,
           CAST(coalesce(h.n_quality, 0) AS BIGINT) AS n_quality,
           CAST(coalesce(u.n_unique, 0) AS BIGINT) AS n_unique,
           {dround_sql("coalesce(h.n_quality, 0) / CAST(r.n_raw AS DOUBLE)", 6)}
             AS quality_rate,
           {dround_sql("coalesce(u.n_unique, 0) / CAST(r.n_raw AS DOUBLE)", 6)}
             AS unique_rate
    FROM raw_c r
    LEFT JOIN hyg_c h USING (source)
    LEFT JOIN unq_c u USING (source)
    """


@register("q126_curation_report", oracle=_q126_oracle())
def q126_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from anime_data_pipeline_spark.catalog import load_table
    from anime_data_pipeline_spark.functions.hashing import polyhash
    from anime_data_pipeline_spark.operators.textstats import quality_columns

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    corpus = d.unionByName(
        d.filter(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "source", "text"
        )
    )
    hyg = (
        quality_columns(corpus, "text")
        .filter(F.col("quality_score") >= _Q126_QT)
        .select("doc_id", "source", "text")
    )
    keeper = F.min("doc_id").over(Window.partitionBy("_ch", "_ch2"))
    uniq = (
        hyg.withColumn("_ch", polyhash(F.col("text")))
        .withColumn("_ch2", polyhash(F.col("text"), 37))
        .withColumn("_k", keeper)
        .filter(F.col("doc_id") == F.col("_k"))
        .select("doc_id", "source")
    )
    raw_c = corpus.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_raw"))
    hyg_c = hyg.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_quality"))
    unq_c = uniq.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_unique"))
    return (
        raw_c.join(hyg_c, "source", "left")
        .join(unq_c, "source", "left")
        .select(
            "source",
            "n_raw",
            F.coalesce(F.col("n_quality"), F.lit(0)).cast("long").alias("n_quality"),
            F.coalesce(F.col("n_unique"), F.lit(0)).cast("long").alias("n_unique"),
            dround(
                F.coalesce(F.col("n_quality"), F.lit(0)) / F.col("n_raw").cast("double"),
                6,
            ).alias("quality_rate"),
            dround(
                F.coalesce(F.col("n_unique"), F.lit(0)) / F.col("n_raw").cast("double"),
                6,
            ).alias("unique_rate"),
        )
    )
