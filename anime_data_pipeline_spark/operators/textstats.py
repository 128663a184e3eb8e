"""Text-analysis operators for training-data curation (LLM-pipeline
extension surface; BASELINE.json north_star: "text analysis").

All map-only column expressions — no shuffle, no UDF: at 100 TB these
run as a single scan-project over the corpus, and every metric is
mirrored in DuckDB SQL for the oracle gate.

- token counting: whitespace tokens + a BPE-ish regex segmentation
  (letters / digits / single non-space symbol runs — the GPT-2-style
  pre-tokenizer shape, restricted to engine-portable character classes)
- quality scoring: length, token-length, punctuation/digit/stopword
  ratios folded into one composite score (Gopher/C4-style filters)
- language ID: function-word profile matching (the trigram-free n=1
  heuristic; each profile is a literal ``IN`` list in the expression)
- fingerprinting: winnowing (Schleimer et al., SIGMOD'03) over rolling
  token-hash k-grams — the standard local document fingerprint.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from anime_data_pipeline_spark.functions.hashing import (
    shingle_hashes_spark_expr,
    token_hashes_spark_expr,
    tokens_spark_expr,
)
from anime_data_pipeline_spark.functions.text import tokens, tokens_sql
from anime_data_pipeline_spark.operators.tags import sql_str

# Engine-portable "BPE-ish" pre-tokenizer: letter runs, digit runs,
# single symbols. (Same regex text is valid in Java and RE2/DuckDB.)
BPE_TOKEN_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

# Function-word profiles for language ID (top closed-class words).
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr": ("le", "la", "de", "et", "un", "une", "est", "que"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "den"),
    "zh": ("de5", "shi4", "le5", "wo3", "ni3", "ta1", "zai4", "you3"),
}
STOPWORDS = LANG_PROFILES["en"]


def ws_token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def ws_token_count_sql(expr: str) -> str:
    return f"CAST(len({tokens_sql(expr)}) AS BIGINT)"


def bpe_token_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0)).cast("long")


def bpe_token_count_sql(expr: str) -> str:
    return f"CAST(len(regexp_extract_all({expr}, '{BPE_TOKEN_RE}')) AS BIGINT)"


def _count_class(text: Column, char_class: str) -> Column:
    """Number of characters matching a regex class (portable spelling:
    length difference after deleting them)."""
    return F.length(text) - F.length(F.regexp_replace(text, char_class, ""))


def _count_class_sql(expr: str, char_class: str) -> str:
    return f"(length({expr}) - length(regexp_replace({expr}, '{char_class}', '', 'g')))"


def _stop_hits(toks: str, profile: tuple[str, ...]) -> Column:
    """Tokens of the array column ``toks`` that are in ``profile``: one
    parsed ``t IN (...)`` probe per token, not a scan of a literal
    array built over py4j."""
    words = ", ".join(sql_str(w) for w in profile)
    return F.expr(f"size(filter(`{toks}`, t -> t IN ({words})))")


def _stop_hits_sql(toks_expr: str, profile: tuple[str, ...]) -> str:
    arr = "[" + ", ".join(f"'{w}'" for w in profile) + "]"
    return f"len(list_filter({toks_expr}, t -> list_contains({arr}, t)))"


def quality_columns(df: DataFrame, text_col: str) -> DataFrame:
    """n_chars/tokens/ratios + composite quality score in [0, 1].

    Heuristic components (C4/Gopher-shaped, engine-portable):
    mean token length in a sane band, low punctuation ratio, low digit
    ratio, nonzero stopword ratio, length floor.
    """
    text = F.col(text_col)
    df = df.withColumn("_q_toks", tokens(text))
    toks = F.col("_q_toks")
    n_chars = F.length(text).cast("long")
    n_tokens = F.size(toks).cast("long")
    punct = _count_class(text, "[^a-zA-Z0-9 ]").cast("double") / F.greatest(
        F.length(text), F.lit(1)
    )
    digits = _count_class(text, "[0-9]").cast("double") / F.greatest(
        F.length(text), F.lit(1)
    )
    stop_ratio = _stop_hits("_q_toks", STOPWORDS).cast("double") / F.greatest(
        F.size(toks), F.lit(1)
    )
    mean_tok_len = n_chars.cast("double") / F.greatest(n_tokens, F.lit(1))
    score = (
        F.when((mean_tok_len >= 3) & (mean_tok_len <= 10), 0.25).otherwise(0.0)
        + F.when(punct <= 0.1, 0.25).otherwise(0.0)
        + F.when(digits <= 0.2, 0.2).otherwise(0.0)
        + F.when(stop_ratio > 0, 0.15).otherwise(0.0)
        + F.when(n_chars >= 50, 0.15).otherwise(0.0)
    )
    return (
        df.withColumn("n_chars_m", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn("punct_ratio", punct)
        .withColumn("digit_ratio", digits)
        .withColumn("stopword_ratio", stop_ratio)
        .withColumn("mean_token_len", mean_tok_len)
        .withColumn("quality_score", score)
        .drop("_q_toks")
    )


def quality_sql_projection(text_expr: str) -> dict[str, str]:
    """DuckDB spelling of every quality_columns output, keyed by name."""
    toks = tokens_sql(text_expr)
    n_chars = f"CAST(length({text_expr}) AS BIGINT)"
    n_tokens = f"CAST(len({toks}) AS BIGINT)"
    punct = (
        f"CAST({_count_class_sql(text_expr, '[^a-zA-Z0-9 ]')} AS DOUBLE)"
        f" / greatest(length({text_expr}), 1)"
    )
    digits = (
        f"CAST({_count_class_sql(text_expr, '[0-9]')} AS DOUBLE)"
        f" / greatest(length({text_expr}), 1)"
    )
    stop = (
        f"CAST({_stop_hits_sql(toks, STOPWORDS)} AS DOUBLE) / greatest(len({toks}), 1)"
    )
    mean_tok = f"CAST({n_chars} AS DOUBLE) / greatest({n_tokens}, 1)"
    score = (
        f"(CASE WHEN ({mean_tok}) >= 3 AND ({mean_tok}) <= 10 THEN 0.25 ELSE 0.0 END"
        f" + CASE WHEN ({punct}) <= 0.1 THEN 0.25 ELSE 0.0 END"
        f" + CASE WHEN ({digits}) <= 0.2 THEN 0.2 ELSE 0.0 END"
        f" + CASE WHEN ({stop}) > 0 THEN 0.15 ELSE 0.0 END"
        f" + CASE WHEN ({n_chars}) >= 50 THEN 0.15 ELSE 0.0 END)"
    )
    return {
        "n_chars_m": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": punct,
        "digit_ratio": digits,
        "stopword_ratio": stop,
        "mean_token_len": mean_tok,
        "quality_score": score,
    }


def language_id(df: DataFrame, text_col: str) -> DataFrame:
    """Predicted language by function-word profile hit count; ties go to
    the first language in fixed profile order; zero hits → 'und'."""
    df = df.withColumn("_l_toks", tokens(F.col(text_col)))
    for lang, profile in LANG_PROFILES.items():
        df = df.withColumn(f"_hits_{lang}", _stop_hits("_l_toks", profile))
    best = F.greatest(*[F.col(f"_hits_{lang}") for lang in LANG_PROFILES])
    pred = F.lit("und")
    for lang in reversed(list(LANG_PROFILES)):
        pred = F.when(
            (best > 0) & (F.col(f"_hits_{lang}") == best), F.lit(lang)
        ).otherwise(pred)
    return (
        df.withColumn("pred_lang", pred)
        .withColumn("profile_hits", best.cast("long"))
        .drop("_l_toks", *[f"_hits_{lang}" for lang in LANG_PROFILES])
    )


def language_id_sql(text_expr: str) -> tuple[str, str]:
    """(pred_lang_expr, profile_hits_expr) in DuckDB SQL."""
    toks = tokens_sql(text_expr)
    hits = {
        lang: _stop_hits_sql(toks, profile) for lang, profile in LANG_PROFILES.items()
    }
    best = "greatest(" + ", ".join(hits.values()) + ")"
    branches = " ".join(
        f"WHEN ({hits[lang]}) = ({best}) THEN '{lang}'" for lang in LANG_PROFILES
    )
    pred = f"CASE WHEN ({best}) > 0 THEN (CASE {branches} END) ELSE 'und' END"
    return pred, f"CAST({best} AS BIGINT)"


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, w: int = 4
) -> DataFrame:
    """Winnowing: distinct minima of each w-window over rolling k-gram
    token hashes → exploded (doc, fingerprint) rows. Map-only."""
    kg = "_wn_kg"
    df = (
        df.select(
            F.col(id_col).alias("doc"),
            F.expr(
                token_hashes_spark_expr(tokens_spark_expr(text_col))
            ).alias("_wn_th"),
        )
        .withColumn(kg, F.expr(shingle_hashes_spark_expr("_wn_th", k)))
    )
    n_win = F.size(F.col(kg)) - (w - 1)
    # Shorter docs (some k-grams but fewer than one full window) emit
    # their single global minimum; no k-grams → no fingerprints.
    fps = F.array_distinct(
        F.when(
            n_win >= 1,
            F.transform(
                F.sequence(F.lit(1), n_win),
                lambda i: F.array_min(F.slice(F.col(kg), i, w)),
            ),
        )
        .when(F.size(F.col(kg)) > 0, F.array(F.array_min(F.col(kg))))
        .otherwise(F.array().cast("array<long>"))
    )
    return df.select("doc", F.explode(fps).alias("fingerprint"))


def winnow_fingerprints_sql(corpus_sql: str, id_expr: str, text_expr: str,
                            k: int = 3, w: int = 4) -> str:
    """DuckDB mirror of winnow_fingerprints over a corpus subquery."""
    toks = tokens_sql(text_expr)
    from anime_data_pipeline_spark.functions.hashing import (
        polyhash_sql,
        shingle_hashes_sql,
    )

    return f"""
    WITH corpus AS ({corpus_sql}),
    tha AS (SELECT {id_expr} AS doc,
                   list_transform({toks}, t -> {polyhash_sql("t")}) AS th
            FROM corpus),
    kgs AS (SELECT doc, {shingle_hashes_sql("th", k)} AS kg FROM tha),
    fps AS (SELECT doc,
                   CASE WHEN len(kg) - {w - 1} >= 1 THEN
                     list_distinct(list_transform(
                       generate_series(1, len(kg) - {w - 1}),
                       i -> list_min(kg[i:i + {w - 1}])))
                   WHEN len(kg) > 0 THEN [list_min(kg)]
                   ELSE CAST([] AS BIGINT[]) END AS fp
            FROM kgs)
    SELECT doc, unnest(fp) AS fingerprint FROM fps
    """


# ---------------------------------------------------------------------------
# PII redaction (map-only; the pre-training scrub pass). Patterns are
# restricted to the regex subset with identical semantics in Java
# (Spark) and RE2-ish (DuckDB) engines: no backrefs, no lookaround.
# ---------------------------------------------------------------------------
EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}"
PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


def redact_pii(df: DataFrame, text_col: str, out: str = "redacted") -> DataFrame:
    """Replace emails/phone numbers with typed placeholder tokens and
    count the hits per document (the audit trail a compliance pass
    needs). One scan-project; both counts come from the SAME
    regexp_extract_all arrays the replacement logically performs, so
    redaction and audit cannot drift apart."""
    text = F.col(text_col)
    return (
        df.withColumn("n_emails", F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), 0)).cast("long"))
        .withColumn("n_phones", F.size(F.regexp_extract_all(text, F.lit(PHONE_RE), 0)).cast("long"))
        .withColumn(
            out,
            F.regexp_replace(
                F.regexp_replace(text, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
            ),
        )
    )


def redact_pii_sql(text_expr: str) -> dict[str, str]:
    """DuckDB mirror: {column: SQL expression}."""
    return {
        "n_emails": f"CAST(len(regexp_extract_all({text_expr}, '{EMAIL_RE}')) AS BIGINT)",
        "n_phones": f"CAST(len(regexp_extract_all({text_expr}, '{PHONE_RE}')) AS BIGINT)",
        "redacted": (
            f"regexp_replace(regexp_replace({text_expr}, '{EMAIL_RE}', '<EMAIL>', 'g'), "
            f"'{PHONE_RE}', '<PHONE>', 'g')"
        ),
    }


# Gopher quality-rule thresholds (Rae et al. 2021, Table A1) and stop list.
GOPHER_WORDS_MIN = 50
GOPHER_WORDS_MAX = 100_000
GOPHER_MEAN_WORD_LEN_MIN = 3.0
GOPHER_MEAN_WORD_LEN_MAX = 10.0
GOPHER_SYMBOL_RATIO_MAX = 0.1
GOPHER_BULLET_FRAC_MAX = 0.9
GOPHER_ELLIPSIS_FRAC_MAX = 0.3
GOPHER_ALPHA_WORD_FRAC_MIN = 0.8
GOPHER_STOP_HITS_MIN = 2
GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
BULLETS = ("-", "*")

# Gopher repetition thresholds (Table A2; see repetition_signals).
GOPHER_DUP_LINE_MAX = 0.30
GOPHER_DUP_PARA_MAX = 0.30
GOPHER_DUP_LINE_CHAR_MAX = 0.20
GOPHER_DUP_PARA_CHAR_MAX = 0.20
GOPHER_TOP_NGRAM_MAX = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_MAX = {5: 0.15, 10: 0.10}


def gopher_rules(df: DataFrame, text_col: str) -> DataFrame:
    """Gopher quality-rule bundle (Rae et al. 2021 Table A1 — the
    standard pre-training document filter): per-doc rule metrics, one
    boolean per rule, and the conjunction ``pass_gopher``.

    Map-only column expressions end to end (no UDF, no shuffle): at
    100 TB this runs at scan speed and the filter pushes into the same
    stage as the parquet read. DuckDB twin: :func:`gopher_sql_projection`.
    """
    text = F.col(text_col)
    df = df.withColumn("_g_toks", tokens(text)).withColumn(
        "_g_lines", F.split(text, "\n")
    )
    toks, lns = F.col("_g_toks"), F.col("_g_lines")
    n_words = F.size(toks).cast("long")
    safe_n = F.greatest(n_words, F.lit(1))
    mean_wl = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda a, x: a + x
    ).cast("double") / safe_n
    n_hash = _count_class(text, "#")
    n_ellipsis = (F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))) / 3
    symbol_ratio = (n_hash + n_ellipsis).cast("double") / safe_n
    n_lines = F.greatest(F.size(lns), F.lit(1))
    bullet_lit = F.array(*[F.lit(b) for b in BULLETS])
    bullet_frac = F.size(
        F.filter(
            lns,
            lambda l: F.array_contains(bullet_lit, F.substring(F.ltrim(l), 1, 1)),
        )
    ).cast("double") / n_lines
    ellipsis_frac = F.size(
        F.filter(lns, lambda l: F.rtrim(l).endswith("..."))
    ).cast("double") / n_lines
    alpha_frac = F.size(
        F.filter(toks, lambda t: t.rlike("[a-zA-Z]"))
    ).cast("double") / safe_n
    stop_lit = F.array(*[F.lit(w) for w in GOPHER_STOPS])
    stop_hits = F.size(
        F.filter(stop_lit, lambda w: F.array_contains(toks, w))
    ).cast("long")
    rules = {
        "r_word_count": (n_words >= GOPHER_WORDS_MIN) & (n_words <= GOPHER_WORDS_MAX),
        "r_mean_word_len": (mean_wl >= GOPHER_MEAN_WORD_LEN_MIN)
        & (mean_wl <= GOPHER_MEAN_WORD_LEN_MAX),
        "r_symbol_ratio": symbol_ratio <= GOPHER_SYMBOL_RATIO_MAX,
        "r_bullet": bullet_frac <= GOPHER_BULLET_FRAC_MAX,
        "r_ellipsis": ellipsis_frac <= GOPHER_ELLIPSIS_FRAC_MAX,
        "r_alpha_words": alpha_frac >= GOPHER_ALPHA_WORD_FRAC_MIN,
        "r_stopwords": stop_hits >= GOPHER_STOP_HITS_MIN,
    }
    out = (
        df.withColumn("n_words", n_words)
        .withColumn("mean_word_len", mean_wl)
        .withColumn("symbol_ratio", symbol_ratio)
        .withColumn("bullet_frac", bullet_frac)
        .withColumn("ellipsis_frac", ellipsis_frac)
        .withColumn("alpha_word_frac", alpha_frac)
        .withColumn("stop_hits", stop_hits)
    )
    passed = None
    for name, cond in rules.items():
        out = out.withColumn(name, cond)
        passed = cond if passed is None else (passed & cond)
    return out.withColumn("pass_gopher", passed).drop("_g_toks", "_g_lines")


def gopher_sql_projection(text_expr: str) -> dict[str, str]:
    """DuckDB spelling of every gopher_rules output, keyed by name."""
    toks = tokens_sql(text_expr)
    n_words = f"CAST(len({toks}) AS BIGINT)"
    safe_n = f"greatest({n_words}, 1)"
    mean_wl = (
        f"CAST(list_reduce(list_prepend(0, list_transform({toks}, t -> length(t))),"
        f" (a, b) -> a + b) AS DOUBLE) / {safe_n}"
    )
    n_hash = _count_class_sql(text_expr, "#")
    n_ellipsis = f"((length({text_expr}) - length(replace({text_expr}, '...', ''))) / 3)"
    symbol_ratio = f"CAST({n_hash} + {n_ellipsis} AS DOUBLE) / {safe_n}"
    lns = f"string_split({text_expr}, chr(10))"
    n_lines = f"greatest(len({lns}), 1)"
    bullets = "[" + ", ".join(f"'{b}'" for b in BULLETS) + "]"
    bullet_frac = (
        f"CAST(len(list_filter({lns}, l -> list_contains({bullets},"
        f" substr(ltrim(l), 1, 1)))) AS DOUBLE) / {n_lines}"
    )
    ellipsis_frac = (
        f"CAST(len(list_filter({lns}, l -> rtrim(l) LIKE '%...'))"
        f" AS DOUBLE) / {n_lines}"
    )
    alpha_frac = (
        f"CAST(len(list_filter({toks}, t -> regexp_matches(t, '[a-zA-Z]')))"
        f" AS DOUBLE) / {safe_n}"
    )
    stops = "[" + ", ".join(f"'{w}'" for w in GOPHER_STOPS) + "]"
    stop_hits = (
        f"CAST(len(list_filter({stops}, w -> list_contains({toks}, w))) AS BIGINT)"
    )
    cols = {
        "n_words": n_words,
        "mean_word_len": mean_wl,
        "symbol_ratio": symbol_ratio,
        "bullet_frac": bullet_frac,
        "ellipsis_frac": ellipsis_frac,
        "alpha_word_frac": alpha_frac,
        "stop_hits": stop_hits,
        "r_word_count": f"({n_words} >= {GOPHER_WORDS_MIN}"
        f" AND {n_words} <= {GOPHER_WORDS_MAX})",
        "r_mean_word_len": f"(({mean_wl}) >= {GOPHER_MEAN_WORD_LEN_MIN}"
        f" AND ({mean_wl}) <= {GOPHER_MEAN_WORD_LEN_MAX})",
        "r_symbol_ratio": f"(({symbol_ratio}) <= {GOPHER_SYMBOL_RATIO_MAX})",
        "r_bullet": f"(({bullet_frac}) <= {GOPHER_BULLET_FRAC_MAX})",
        "r_ellipsis": f"(({ellipsis_frac}) <= {GOPHER_ELLIPSIS_FRAC_MAX})",
        "r_alpha_words": f"(({alpha_frac}) >= {GOPHER_ALPHA_WORD_FRAC_MIN})",
        "r_stopwords": f"({stop_hits} >= {GOPHER_STOP_HITS_MIN})",
    }
    cols["pass_gopher"] = "(" + " AND ".join(
        cols[k] for k in cols if k.startswith("r_")
    ) + ")"
    return cols


def sliding_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 128,
    stride: int = 96,
) -> DataFrame:
    """RAG-ingestion chunking: overlapping token windows (size
    ``chunk_tokens``, step ``stride`` < chunk_tokens for overlap) per
    document — the retrieval-index preparation step between raw docs
    and the embedding stage (each chunk embeds independently).

    Map-only: tokens materialize once per row, window starts are a
    sequence explode, each chunk is a slice+join — no shuffle, output
    grows by ~n_tokens/stride per doc. Empty docs emit one empty
    chunk (chunk_idx 0) so every input id stays present downstream."""
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    toks = tokens(F.col(text_col))
    with_toks = df.select(
        F.col(id_col).alias("doc"), toks.alias("_toks")
    ).withColumn("_n", F.size("_toks"))
    starts = F.sequence(
        F.lit(0), F.greatest(F.col("_n") - 1, F.lit(0)), F.lit(stride)
    )
    return (
        with_toks.withColumn("start", F.explode(starts))
        .withColumn("chunk_idx", (F.col("start") / stride).cast("long"))
        .withColumn("chunk", F.slice(F.col("_toks"), F.col("start") + 1, chunk_tokens))
        .select(
            "doc",
            "chunk_idx",
            F.size("chunk").cast("long").alias("n_chunk_tokens"),
            F.array_join("chunk", " ").alias("chunk_text"),
        )
    )


def cdc_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    divisor: int = 64,
) -> DataFrame:
    """Content-defined chunking (the Rabin/FastCDC idea at token
    granularity): a chunk boundary falls AFTER token i whenever
    ``hash(token_i) % divisor == 0``, so boundaries move with the
    CONTENT, not byte offsets — insert one word at the front of a
    document and every fixed-size chunk shifts, but content-defined
    chunks re-align after the next boundary, which is what makes
    chunk-level dedup across document revisions work (mean chunk
    length ≈ ``divisor`` tokens).

    Map-only native array math: token hashes materialize once per row,
    boundary positions are an index filter, spans fold their hash from
    the token-hash array (the shingle-fold discipline), one explode.
    No shuffle; at 100 TB this runs at scan speed and the (doc,
    chunk_hash) output feeds exact_dedup for revision-tolerant
    chunk-store dedup. Docs with no tokens emit no chunks.

    Returns (doc, chunk_idx, start, end, n_chunk_tokens, chunk_hash)
    with 1-based inclusive token positions.
    """
    from anime_data_pipeline_spark.functions.hashing import P

    if divisor <= 0:
        raise ValueError("divisor must be positive")
    base = df.select(
        F.col(id_col).alias("doc"),
        F.expr(token_hashes_spark_expr(tokens_spark_expr(text_col))).alias("_th"),
    ).withColumn("_n", F.size("_th"))
    bpos = F.filter(
        F.sequence(F.lit(1), F.greatest(F.col("_n"), F.lit(1))),
        lambda i: (i <= F.col("_n"))
        & (F.element_at(F.col("_th"), i) % F.lit(divisor) == 0),
    )
    ends = F.array_sort(
        F.array_distinct(F.concat(bpos, F.array(F.col("_n"))))
    )
    withe = base.filter(F.col("_n") > 0).withColumn("_ends", ends)
    chunk = lambda idx: F.struct(  # noqa: E731
        F.when(idx == 1, F.lit(1))
        .otherwise(F.element_at(F.col("_ends"), (idx - 1).cast("int")) + 1)
        .cast("long")
        .alias("start"),
        F.element_at(F.col("_ends"), idx.cast("int")).cast("long").alias("end"),
    )
    spans = withe.select(
        "doc",
        "_th",
        F.posexplode(
            F.transform(F.sequence(F.lit(1), F.size("_ends")), chunk)
        ).alias("_i", "_c"),
    )
    length = F.col("_c.end") - F.col("_c.start") + 1
    fold = F.aggregate(
        F.slice(F.col("_th"), F.col("_c.start").cast("int"), length.cast("int")),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % F.lit(P),
    )
    return spans.select(
        "doc",
        (F.col("_i") + 1).cast("long").alias("chunk_idx"),
        F.col("_c.start").alias("start"),
        F.col("_c.end").alias("end"),
        length.cast("long").alias("n_chunk_tokens"),
        fold.alias("chunk_hash"),
    )


# ---------------------------------------------------------------------------
# Readability (Flesch reading ease / Flesch–Kincaid grade): the
# document-difficulty prior used when targeting a training-mix reading
# level (e.g. educational-quality filtering). Engine-portable
# spelling: sentences = count of [.!?]+ runs (≥1), syllables = count
# of [aeiouy]+ vowel groups per word (≥1 each) — both via
# regexp_extract_all, identical in Java regex and RE2 for these
# classes. Stateless per-row column math: map-only at any scale.
# ---------------------------------------------------------------------------
def readability_columns(df: DataFrame, text_col: str) -> DataFrame:
    """Adds n_words, n_sentences, n_syllables, flesch, fk_grade."""
    text = F.lower(F.col(text_col))
    toks = tokens(text)
    n_words = F.greatest(F.size(toks), F.lit(1)).cast("long")
    n_sent = F.greatest(
        F.size(F.expr(f"regexp_extract_all(lower({text_col}), '[.!?]+', 0)")),
        F.lit(1),
    ).cast("long")
    syl = F.aggregate(
        F.transform(
            toks,
            lambda w: F.greatest(
                F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), F.lit(0))),
                F.lit(1),
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    wps = n_words.cast("double") / n_sent
    spw = syl.cast("double") / n_words
    return (
        df.withColumn("n_words", n_words)
        .withColumn("n_sentences", n_sent)
        .withColumn("n_syllables", syl)
        .withColumn(
            "flesch",
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw,
        )
        .withColumn(
            "fk_grade",
            F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59),
        )
    )


def readability_sql_projection(text_expr: str) -> dict[str, str]:
    """DuckDB twins of readability_columns, same clamps and classes."""
    toks = tokens_sql(f"lower({text_expr})")
    n_words = f"greatest(len({toks}), 1)"
    n_sent = f"greatest(len(regexp_extract_all(lower({text_expr}), '[.!?]+')), 1)"
    syl = (
        f"list_aggregate(list_transform({toks}, "
        f"w -> greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1)), 'sum')"
    )
    wps = f"(CAST({n_words} AS DOUBLE) / {n_sent})"
    spw = f"(CAST({syl} AS DOUBLE) / {n_words})"
    return {
        "n_words": f"CAST({n_words} AS BIGINT)",
        "n_sentences": f"CAST({n_sent} AS BIGINT)",
        "n_syllables": f"CAST({syl} AS BIGINT)",
        "flesch": f"(206.835 - 1.015 * {wps} - 84.6 * {spw})",
        "fk_grade": f"(0.39 * {wps} + 11.8 * {spw} - 15.59)",
    }


# ---------------------------------------------------------------------------
# Repetition signals (Rae et al. 2021 "Gopher", Table A2 — the
# repetition-removal half of the Gopher filter; deployed verbatim by
# Dolma, FineWeb and RedPajama-v2). Per document:
#
# - dup_line_frac / dup_para_frac: fraction of trimmed nonempty
#   lines/paragraphs that repeat an earlier one;
# - dup_line_char_frac / dup_para_char_frac: fraction of line/paragraph
#   characters sitting in those repeats (chars beyond each unit's first
#   occurrence over total unit chars);
# - top_{n}gram_char_frac (n=2,3,4): characters covered by the single
#   most frequent word n-gram (count × WORD-char mass over doc chars;
#   ties broken toward the larger character mass — deterministic,
#   unlike Counter.most_common — and only grams occurring MORE THAN
#   ONCE qualify: a unique n-gram is not a repeat, so a short
#   all-unique doc scores 0, not len(gram)/len(doc));
# - dup_{n}gram_char_frac (n=5,10): characters covered by all n-grams
#   occurring more than once.
#
# An n-gram's character mass is sum(len(word)) — the join spaces do
# NOT count, matching the sum-of-word-lengths convention of the
# public Dolma/FineWeb/RedPajama-v2 deployments (spelled
# length(joined) − (n−1) here since grams are single-space joined and
# tokens contain no spaces). Documented deviations from those
# deployments, chosen so the metric is order-free and thus identical
# in Spark and the DuckDB oracle: coverage counts EVERY (possibly
# overlapping) occurrence — including each gram's first — rather than
# the sequential overlap-aware span scan, so both n-gram fractions are
# capped at 1.0; the denominator is whole-doc characters (spaces
# included). Both choices bias the fractions UP, i.e. keep/drop is
# never laxer than the published filters.
#
# Scale shape: map-only, no shuffle. Line/paragraph metrics are pure
# array expressions; the n-gram metrics come from one doc-local
# vectorized UDF per Arrow batch. The DuckDB twin (repetition_sql)
# unnests (id, n, gram) rows and aggregates them instead.
# ---------------------------------------------------------------------------
def _rep_units(text: Column, sep: str) -> Column:
    """Trimmed nonempty segments of ``text`` split on ``sep``."""
    return F.filter(
        F.transform(F.split(text, sep), lambda x: F.trim(x)), lambda x: x != ""
    )


def _rep_char_sum(arr: Column) -> Column:
    return F.aggregate(
        arr, F.lit(0).cast("long"), lambda a, x: a + F.length(x).cast("long")
    )


def _dup_unit_fracs(text: Column, sep: str) -> tuple[Column, Column]:
    """(dup_unit_frac, dup_unit_char_frac) for one separator."""
    units = _rep_units(text, sep)
    uniq = F.array_distinct(units)
    n, nd = F.size(units), F.size(uniq)
    total, dtotal = _rep_char_sum(units), _rep_char_sum(uniq)
    dup_frac = (n - nd).cast("double") / F.greatest(n, F.lit(1)).cast("double")
    dup_char = (total - dtotal).cast("double") / F.greatest(
        total, F.lit(1)
    ).cast("double")
    return dup_frac, dup_char


def _gram_metrics_udf(top_ns: tuple[int, ...], dup_ns: tuple[int, ...]):
    """Vectorized per-document n-gram repetition metrics as an
    Arrow-batched pandas UDF: text crosses to Python once per batch,
    tokens are integer-coded with one ``pd.factorize`` pass, windows
    come from ``sliding_window_view``, and per-(doc, gram) counting is
    one lexicographic ``np.unique(axis=0)`` per n — all doc-local, so
    the operator is MAP-ONLY (no explode, no exchange, no join back).

    Counting token codes instead of joined gram strings gives the
    same integers, since tokens cannot contain the join character
    (token equality ⇔ gram equality). An explode → aggregate → join
    spelling of the same metrics measured ~3× the wall time at sf0.1:
    it builds every gram string through Catalyst's interpreted
    higher-order evaluator and shuffles (id, n, gram) rows although
    every key is doc-local.

    Returns a pandas UDF: text column → struct of ``_top{n}``
    (lexicographic-max (count, mass) → mass, 0 when no gram repeats)
    and ``_dup{n}`` (Σ count·mass over repeated grams) longs, where
    mass = count × (gram chars − joining spaces)."""
    import numpy as np
    import pandas as pd
    from numpy.lib.stride_tricks import sliding_window_view
    from pyspark.sql.functions import pandas_udf

    all_ns = sorted(set(top_ns) | set(dup_ns))
    fields = [f"_top{n}" for n in top_ns] + [f"_dup{n}" for n in dup_ns]
    schema = ", ".join(f"{f} long" for f in fields)

    def gm(texts):
        n_docs = len(texts)
        toks_per_doc = [
            [t for t in s.split(" ") if t] if isinstance(s, str) else []
            for s in texts
        ]
        lens = np.fromiter(
            (len(ts) for ts in toks_per_doc), dtype=np.int64, count=n_docs
        )
        total = int(lens.sum())
        out = {f: np.zeros(n_docs, dtype=np.int64) for f in fields}
        if total:
            flat = np.empty(total, dtype=object)
            i = 0
            for ts in toks_per_doc:
                flat[i : i + len(ts)] = ts
                i += len(ts)
            codes = pd.factorize(flat)[0].astype(np.int64)
            charlen = np.fromiter(
                (len(t) for t in flat), dtype=np.int64, count=total
            )
            cs = np.concatenate(([0], np.cumsum(charlen)))
            doc_of = np.repeat(np.arange(n_docs, dtype=np.int64), lens)
            doc_starts = np.concatenate(([0], np.cumsum(lens)))[:-1]
            pos = np.arange(total, dtype=np.int64) - np.repeat(doc_starts, lens)
            lens_of = np.repeat(lens, lens)
            for n in all_ns:
                if total < n:
                    continue
                # window at global start i stays inside its doc iff
                # its doc still has >= n tokens from position pos[i]
                starts = np.nonzero((pos <= lens_of - n)[: total - n + 1])[0]
                if starts.size == 0:
                    continue
                rows = np.column_stack(
                    (doc_of[starts], sliding_window_view(codes, n)[starts])
                )
                uniq, first_idx, counts = np.unique(
                    rows, axis=0, return_index=True, return_counts=True
                )
                c = counts.astype(np.int64)
                rd = uniq[:, 0]
                sl = cs[starts + n] - cs[starts]
                m = c * sl[first_idx]
                sel = c >= 2
                if n in dup_ns:
                    np.add.at(out[f"_dup{n}"], rd[sel], m[sel])
                if n in top_ns:
                    maxc = np.zeros(n_docs, dtype=np.int64)
                    np.maximum.at(maxc, rd[sel], c[sel])
                    is_top = sel & (c == maxc[rd])
                    np.maximum.at(out[f"_top{n}"], rd[is_top], m[is_top])
        return pd.DataFrame(out)

    # `from __future__ import annotations` stringifies inline hints;
    # pandas_udf needs the real objects (same fix as simhash_arrow_udf).
    gm.__annotations__ = {"texts": pd.Series, "return": pd.DataFrame}
    return pandas_udf(gm, schema)


def repetition_signals(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 10),
) -> DataFrame:
    """Per-document Gopher Table A2 repetition metrics plus the
    conjunction ``repetition_keep`` (every metric at or under its
    published threshold). Fractions are raw doubles — callers round
    for oracle hashing; the keep flag is computed pre-rounding.
    NULL text counts as empty (all-zero metrics, keep=true), matching
    the coalesce in :func:`repetition_sql`.

    One map-only projection, no exchange: the line/paragraph metrics
    are array expressions and the n-gram metrics come doc-locally from
    one vectorized pandas UDF (:func:`_gram_metrics_udf`)."""
    if not top_ns and not dup_ns:
        raise ValueError("at least one of top_ns/dup_ns must be non-empty")
    text = F.coalesce(F.col(text_col), F.lit(""))
    line_f, line_cf = _dup_unit_fracs(text, "\n")
    para_f, para_cf = _dup_unit_fracs(text, "\n\n")
    gm = _gram_metrics_udf(tuple(top_ns), tuple(dup_ns))
    out = (
        df.select(
            F.col(id_col),
            F.greatest(F.length(text), F.lit(1)).cast("double").alias("_n_chars"),
            line_f.alias("dup_line_frac"),
            line_cf.alias("dup_line_char_frac"),
            para_f.alias("dup_para_frac"),
            para_cf.alias("dup_para_char_frac"),
            F.col(text_col).alias("_gm_text"),
        )
        .withColumn("_gm", gm(F.col("_gm_text")))
        .select(
            "*",
            *[F.col(f"_gm._top{n}").alias(f"_top{n}") for n in top_ns],
            *[F.col(f"_gm._dup{n}").alias(f"_dup{n}") for n in dup_ns],
        )
        .drop("_gm", "_gm_text")
    )
    return _repetition_finish(out, top_ns, dup_ns)


def _repetition_finish(
    out: DataFrame, top_ns: tuple[int, ...], dup_ns: tuple[int, ...]
) -> DataFrame:
    """Tail of :func:`repetition_signals`: fractions from the per-doc
    ``_top{n}``/``_dup{n}`` integers (NULL coalesces to 0) plus the
    keep conjunction."""
    keep = (
        (F.col("dup_line_frac") <= GOPHER_DUP_LINE_MAX)
        & (F.col("dup_para_frac") <= GOPHER_DUP_PARA_MAX)
        & (F.col("dup_line_char_frac") <= GOPHER_DUP_LINE_CHAR_MAX)
        & (F.col("dup_para_char_frac") <= GOPHER_DUP_PARA_CHAR_MAX)
    )
    for n in top_ns:
        frac = F.least(
            F.lit(1.0),
            F.coalesce(F.col(f"_top{n}"), F.lit(0)).cast("double")
            / F.col("_n_chars"),
        )
        out = out.withColumn(f"top_{n}gram_char_frac", frac)
        keep = keep & (F.col(f"top_{n}gram_char_frac") <= GOPHER_TOP_NGRAM_MAX[n])
    for n in dup_ns:
        frac = F.least(
            F.lit(1.0),
            F.coalesce(F.col(f"_dup{n}"), F.lit(0)).cast("double")
            / F.col("_n_chars"),
        )
        out = out.withColumn(f"dup_{n}gram_char_frac", frac)
        keep = keep & (F.col(f"dup_{n}gram_char_frac") <= GOPHER_DUP_NGRAM_MAX[n])
    drop = [f"_top{n}" for n in top_ns] + [f"_dup{n}" for n in dup_ns]
    return out.withColumn("repetition_keep", keep).drop("_n_chars", *drop)


def repetition_sql(
    docs_cte: str,
    id_expr: str = "doc_id",
    text_expr: str = "text",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 10),
    digits: int = 6,
) -> str:
    """DuckDB twin of :func:`repetition_signals` over ``docs_cte``
    (a SELECT yielding ``id_expr`` + ``text_expr``), fractions rounded
    with the shared dround formula, keep flag computed pre-rounding.
    NULL text counts as empty, matching the Spark side's coalesce."""
    from anime_data_pipeline_spark.functions.compat import dround_sql

    if not top_ns and not dup_ns:
        raise ValueError("at least one of top_ns/dup_ns must be non-empty")
    all_ns = sorted(set(top_ns) | set(dup_ns))
    text_expr = f"coalesce({text_expr}, '')"

    def units(sep: str) -> str:
        return (
            f"list_filter(list_transform(string_split({text_expr}, {sep}), "
            f"x -> trim(x)), x -> x <> '')"
        )

    def char_sum(arr: str) -> str:
        return f"coalesce(list_sum(list_transform({arr}, x -> length(x))), 0)"

    def dup_fracs(unit: str) -> tuple[str, str]:
        uq = f"list_distinct({unit})"
        f1 = (
            f"CAST(len({unit}) - len({uq}) AS DOUBLE) / greatest(len({unit}), 1)"
        )
        f2 = (
            f"CAST({char_sum(unit)} - {char_sum(uq)} AS DOUBLE) "
            f"/ greatest({char_sum(unit)}, 1)"
        )
        return f1, f2

    lf, lcf = dup_fracs(units("chr(10)"))
    pf, pcf = dup_fracs(units("chr(10) || chr(10)"))

    def gram_branch(n: int) -> str:
        joined = " || ' ' || ".join(f"t[i + {j}]" for j in range(n))
        return (
            f"SELECT id, {n} AS n, unnest(CASE WHEN len(t) >= {n} THEN "
            f"list_transform(generate_series(1, len(t) - {n - 1}), i -> {joined}) "
            f"ELSE CAST([] AS VARCHAR[]) END) AS g FROM toks"
        )

    grams = " UNION ALL ".join(gram_branch(n) for n in all_ns)
    # one flat list so an empty top_ns/dup_ns can't leave a dangling comma
    gm_cols = ", ".join(
        ["id"]
        + [f"max(CASE WHEN n = {n} THEN topm END) AS top{n}" for n in top_ns]
        + [f"max(CASE WHEN n = {n} THEN dupm END) AS dup{n}" for n in dup_ns]
    )
    top_fracs = {
        n: f"least(1.0, CAST(coalesce(top{n}, 0) AS DOUBLE) / n_chars)"
        for n in top_ns
    }
    dup_fracs_n = {
        n: f"least(1.0, CAST(coalesce(dup{n}, 0) AS DOUBLE) / n_chars)"
        for n in dup_ns
    }
    keep = " AND ".join(
        [
            f"dup_line_frac <= {GOPHER_DUP_LINE_MAX}",
            f"dup_para_frac <= {GOPHER_DUP_PARA_MAX}",
            f"dup_line_char_frac <= {GOPHER_DUP_LINE_CHAR_MAX}",
            f"dup_para_char_frac <= {GOPHER_DUP_PARA_CHAR_MAX}",
            *[f"{top_fracs[n]} <= {GOPHER_TOP_NGRAM_MAX[n]}" for n in top_ns],
            *[f"{dup_fracs_n[n]} <= {GOPHER_DUP_NGRAM_MAX[n]}" for n in dup_ns],
        ]
    )
    out_fracs = ", ".join(
        [
            f"{dround_sql(c, digits)} AS {c}"
            for c in (
                "dup_line_frac",
                "dup_line_char_frac",
                "dup_para_frac",
                "dup_para_char_frac",
            )
        ]
        + [
            f"{dround_sql(top_fracs[n], digits)} AS top_{n}gram_char_frac"
            for n in top_ns
        ]
        + [
            f"{dround_sql(dup_fracs_n[n], digits)} AS dup_{n}gram_char_frac"
            for n in dup_ns
        ]
    )
    return f"""
    WITH docs AS ({docs_cte}),
    bstats AS (
      SELECT {id_expr} AS id,
             greatest(length({text_expr}), 1) AS n_chars,
             {lf} AS dup_line_frac,
             {lcf} AS dup_line_char_frac,
             {pf} AS dup_para_frac,
             {pcf} AS dup_para_char_frac
      FROM docs
    ),
    toks AS (SELECT {id_expr} AS id, {tokens_sql(text_expr)} AS t FROM docs),
    grams AS ({grams}),
    counts AS (SELECT id, n, g, count(*) AS cnt FROM grams GROUP BY 1, 2, 3),
    m1 AS (SELECT id, n, max(cnt) AS mc FROM counts GROUP BY 1, 2),
    pern AS (
      SELECT c.id, c.n,
             max(CASE WHEN c.cnt = m1.mc AND c.cnt >= 2
                      THEN c.cnt * (length(c.g) - (c.n - 1)) END) AS topm,
             coalesce(sum(CASE WHEN c.cnt >= 2
                               THEN c.cnt * (length(c.g) - (c.n - 1)) END), 0)
               AS dupm
      FROM counts c JOIN m1 USING (id, n) GROUP BY 1, 2
    ),
    gm AS (SELECT {gm_cols} FROM pern GROUP BY 1)
    SELECT b.id AS {id_expr}, {out_fracs}, ({keep}) AS repetition_keep
    FROM bstats b LEFT JOIN gm USING (id)
    """
