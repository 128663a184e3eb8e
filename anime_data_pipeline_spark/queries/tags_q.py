"""Tag-pipeline gate queries: NovelAI ordering (M2), caption cleaning
(M4, bounded), clean_tags (M3) — over tag arrays synthesized
deterministically from ``documents`` (identical construction in Spark
and the DuckDB oracle)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anime_data_pipeline_spark.catalog import load_table
from anime_data_pipeline_spark.operators.tags import (
    CAPTION_REPLACEMENTS,
    clean_caption_bounded,
    clean_tags_df,
    novelai_order_df,
)
from anime_data_pipeline_spark.registry import register

# Fixed vocabulary for the ordering query (stands in for the 9k-row
# selected_tags.csv dimension; literal so both engines share it).
_VOCAB = [
    "the", "fast", "key", "order", "sort", "table", "scan", "merge", "part",
    "window", "join", "data", "row", "filter", "spark",
]


# ---------------------------------------------------------------------------
# q24 — NovelAI tag ordering (novelai_order.py:12-40)
# ---------------------------------------------------------------------------
_VOCAB_SQL = "[" + ", ".join(f"'{v}'" for v in _VOCAB) + "]"

_Q24_ORACLE = f"""
WITH base AS (
  SELECT doc_id, u.tag AS tag, u.ord AS ord FROM (
    SELECT doc_id,
           unnest(list_transform(string_split(text, ' ')[1:8],
                                 (t, i) -> {{'tag': t, 'ord': i}})) AS u
    FROM documents
  )
  UNION ALL SELECT doc_id, '1girl', 101 FROM documents WHERE doc_id % 5 = 0
  UNION ALL SELECT doc_id, 'tall boy', 102 FROM documents WHERE doc_id % 7 = 0
  UNION ALL SELECT doc_id, 'hatsune miku', 103 FROM documents WHERE doc_id % 3 = 0
  UNION ALL SELECT doc_id, 'high resolution', 104 FROM documents WHERE doc_id % 4 = 0
),
dedup AS (SELECT doc_id, tag, min(ord) AS first_ord FROM base GROUP BY doc_id, tag),
cat AS (
  SELECT doc_id, tag, first_ord,
    CASE WHEN tag LIKE '%girl%' OR tag LIKE '%boy%' THEN 'p'
         WHEN list_contains({_VOCAB_SQL}, tag)
           OR contains(tag, ':') OR contains(tag, 'x') OR contains(tag, 'resolution')
           OR contains(tag, 'aspect') OR contains(tag, 'ratio') THEN 'g'
         ELSE 'c' END AS cat
  FROM dedup
),
agg AS (
  SELECT doc_id,
    coalesce(string_agg(tag, ',' ORDER BY first_ord) FILTER (WHERE cat = 'p'), '') AS p,
    coalesce(string_agg(tag, ',' ORDER BY length(tag) DESC, tag)
             FILTER (WHERE cat = 'c'), '') AS c,
    coalesce(string_agg(tag, ',' ORDER BY length(tag) DESC, tag)
             FILTER (WHERE cat = 'g'), '') AS g
  FROM cat GROUP BY doc_id
)
SELECT doc_id, trim(p || ',' || c || ',' || g, ',') AS ordered_tags FROM agg
"""


def _synth_order_tags(doc_id: F.Column, text: F.Column) -> F.Column:
    empty = F.array().cast("array<string>")
    cond = lambda m, tag: F.when(doc_id % m == 0, F.array(F.lit(tag))).otherwise(empty)  # noqa: E731
    return F.concat(
        F.slice(F.split(text, " "), 1, 8),
        cond(5, "1girl"),
        cond(7, "tall boy"),
        cond(3, "hatsune miku"),
        cond(4, "high resolution"),
    )


@register("q24_novelai_order", oracle=_Q24_ORACLE)
def q24_novelai_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tags = _synth_order_tags(F.col("doc_id"), F.col("text"))
    return novelai_order_df(docs, tags, _VOCAB).select("doc_id", "ordered_tags")


# ---------------------------------------------------------------------------
# q25 — caption cleaning, bounded chained-replace form (M4/F6)
# ---------------------------------------------------------------------------
_Q25_CAPTION_SQL = """CASE CAST(doc_id % 4 AS INTEGER)
  WHEN 0 THEN 'young woman holding a cartoon drawing'
  WHEN 1 THEN 'anime anime girl with anime woman and cartoon women'
  WHEN 2 THEN 'cartoon women and young people'
  ELSE substr(text, 1, 30) END"""


def _bounded_replace_sql(expr: str, passes: int = 3) -> str:
    for src, dst in CAPTION_REPLACEMENTS:
        for _ in range(passes):
            expr = f"replace({expr}, '{src}', '{dst}')"
    return expr


@register(
    "q25_clean_caption",
    oracle=f"""
    SELECT doc_id, {_bounded_replace_sql(f"({_Q25_CAPTION_SQL})")} AS cleaned
    FROM documents
    """,
)
def q25_clean_caption(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    caption = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("young woman holding a cartoon drawing"))
        .when(F.col("doc_id") % 4 == 1,
              F.lit("anime anime girl with anime woman and cartoon women"))
        .when(F.col("doc_id") % 4 == 2, F.lit("cartoon women and young people"))
        .otherwise(F.substring(F.col("text"), 1, 30))
    )
    return docs.select("doc_id", clean_caption_bounded(caption, passes=3).alias("cleaned"))


# ---------------------------------------------------------------------------
# q26 — clean_tags (M3): multi-person family pruning + word subsumption
# ---------------------------------------------------------------------------
_Q26_TAGS_SQL = """list_concat(list_concat(list_concat(list_concat(list_concat(
  string_split(text, ' ')[1:3],
  ['^_^', 'hair_ornament', 'red_hair_ornament']),
  CASE WHEN doc_id % 2 = 0
       THEN ['2girls', 'long_hair', 'short_hair', 'blue_eyes', 'red_eyes']
       ELSE CAST([] AS VARCHAR[]) END),
  CASE WHEN doc_id % 3 = 0 THEN ['blonde_hair', 'brown_hair']
       ELSE CAST([] AS VARCHAR[]) END),
  CASE WHEN doc_id % 5 = 0 THEN ['hair', 'red_hair'] ELSE CAST([] AS VARCHAR[]) END),
  CASE WHEN doc_id % 7 = 0 THEN ['rating safe', 'post_rating']
       ELSE CAST([] AS VARCHAR[]) END)"""

_FAMILY_PATTERNS_SQL = (
    "^(long|short|medium) hair$",
    "^(bob|hime) cut$",
    "^[\\w\\-]+ eyes$",
    "^([\\w\\-]+ sleeves|sleeveless)$",
    "^(ponytail|braid|ahoge|twintails|[\\w\\-]+ bun|single hair bun|single side bun"
    "|two side up|two tails|[\\w\\-]+ braid|sidelocks)$",
)


def _q26_oracle() -> str:
    ctes = [
        f"docs AS (SELECT doc_id, {_Q26_TAGS_SQL} AS tags FROM documents)",
        # underscore normalize, protect ^_^
        "s1 AS (SELECT doc_id, list_transform(tags, t -> CASE WHEN t = '^_^' THEN t "
        "ELSE replace(t, '_', ' ') END) AS tags FROM docs)",
        # truncate at the first rating* tag at position >= 2 (the
        # reference's ', rating' split never matches a rating FIRST tag)
        "s2 AS (SELECT doc_id, CASE WHEN list_position(list_transform(tags, "
        "t -> t LIKE 'rating%')[2:], true) > 0 THEN tags[1:list_position("
        "list_transform(tags, t -> t LIKE 'rating%')[2:], true)] ELSE tags END AS tags "
        "FROM s1)",
        "s3 AS (SELECT doc_id, tags, (contains(array_to_string(tags, ', '), 'girls') OR "
        "contains(array_to_string(tags, ', '), 'boys')) AS multi FROM s2)",
    ]
    prev = "s3"
    for i, pat in enumerate(_FAMILY_PATTERNS_SQL):
        name = f"f{i}"
        ctes.append(
            f"{name} AS (SELECT doc_id, multi, CASE WHEN multi AND "
            f"len(list_filter(tags, t -> regexp_matches(t, '{pat}'))) > 1 "
            f"THEN list_filter(tags, t -> NOT regexp_matches(t, '{pat}')) "
            f"ELSE tags END AS tags FROM {prev})"
        )
        prev = name
    hair = "regexp_matches(t, '^[\\w\\-]+ hair$') AND NOT regexp_matches(t, '^(long|short|medium) hair$')"
    ctes.append(
        f"fh AS (SELECT doc_id, CASE WHEN multi AND "
        f"len(list_filter(tags, t -> {hair})) > 1 "
        f"THEN list_filter(tags, t -> NOT ({hair})) ELSE tags END AS tags FROM {prev})"
    )
    ctes.append(
        "sub AS (SELECT doc_id, list_filter(tags, t -> NOT ("
        "regexp_matches(t, '^([\\w\\-]+|hair ornament)$') AND "
        "len(list_filter(tags, u -> u != t AND ends_with(u, ' ' || t) AND "
        "regexp_matches(substr(u, 1, length(u) - length(t)), '^(\\w+ )+$'))) > 0"
        ")) AS tags FROM fh)"
    )
    return (
        "WITH " + ",\n".join(ctes)
        + "\nSELECT doc_id, array_to_string(tags, ', ') AS cleaned, "
        "len(tags) AS n_tags FROM sub"
    )


@register("q26_clean_tags", oracle=_q26_oracle())
def q26_clean_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")
    empty = F.array().cast("array<string>")
    cond = lambda m, tags_: F.when(doc_id % m == 0, F.array(*[F.lit(t) for t in tags_])).otherwise(empty)  # noqa: E731
    tags = F.concat(
        F.slice(F.split(F.col("text"), " "), 1, 3),
        F.array(F.lit("^_^"), F.lit("hair_ornament"), F.lit("red_hair_ornament")),
        cond(2, ["2girls", "long_hair", "short_hair", "blue_eyes", "red_eyes"]),
        cond(3, ["blonde_hair", "brown_hair"]),
        cond(5, ["hair", "red_hair"]),
        cond(7, ["rating safe", "post_rating"]),
    )
    staged = clean_tags_df(docs.select("doc_id", "text"), tags, out="cleaned_tags")
    return staged.select(
        "doc_id",
        F.array_join(F.col("cleaned_tags"), ", ").alias("cleaned"),
        F.size(F.col("cleaned_tags")).cast("long").alias("n_tags"),
    )
