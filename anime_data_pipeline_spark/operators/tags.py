"""Tag ordering and cleaning operators (SURVEY §2.9 M2-M4, §2.7 F1-F8).

Behavior studied from /root/reference/dataruu/tags_ordering/novelai_order.py
and /root/reference/legacy/merge_all_to_metadata.py; re-expressed as native
Spark array/string expressions (no UDF on the hot path).

Documented divergence from the reference: ``novelai_order.py:17`` dedups
via ``list(set(tags))`` whose iteration order is hash-randomized, so the
reference's output ordering is NOT deterministic run-to-run. A
distributed engine needs a total order, so this implementation dedups
keeping FIRST occurrence and sorts the character/general groups by
``(-len(tag), tag)`` — same primary key as the reference
(novelai_order.py:35-36), with a lexicographic tiebreak.
"""

from __future__ import annotations

import re
from collections.abc import Iterable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Trigger substrings marking a non-vocab tag as NOT a character name
# (novelai_order.py:10).
TRIGGER_NON_CHAR_WORDS = (":", "x", "resolution", "aspect", "ratio")

# Caption replacement pairs applied to fixpoint (merge_all_to_metadata.py:28-56).
CAPTION_REPLACEMENTS = (
    ("anime anime", "anime"),
    ("young ", ""),
    ("anime girl", "girl"),
    ("cartoon female", "girl"),
    ("cartoon lady", "girl"),
    ("cartoon character", "girl"),
    ("cartoon woman", "girl"),
    ("cartoon women", "girls"),
    ("cartoon girl", "girl"),
    ("anime female", "girl"),
    ("anime lady", "girl"),
    ("anime character", "girl"),
    ("anime woman", "girl"),
    ("anime women", "girls"),
    ("lady", "girl"),
    ("female", "girl"),
    ("woman", "girl"),
    ("women", "girls"),
    ("people", "girls"),
    ("person", "girl"),
    ("a cartoon figure", "a figure"),
    ("a cartoon image", "an image"),
    ("a cartoon picture", "a picture"),
    ("an anime cartoon image", "an image"),
    ("a cartoon anime drawing", "a drawing"),
    ("a cartoon drawing", "a drawing"),
    ("girl girl", "girl"),
)

# Multi-person tag families removed when ≥2 of the family are present
# (merge_all_to_metadata.py:14-26), re-anchored to whole-tag form.
_MULTI_PERSON_FAMILY_PATTERNS = (
    r"^(long|short|medium) hair$",
    r"^(bob|hime) cut$",
    r"^[\w\-]+ eyes$",
    r"^([\w\-]+ sleeves|sleeveless)$",
    r"^(ponytail|braid|ahoge|twintails|[\w\-]+ bun|single hair bun|single side bun"
    r"|two side up|two tails|[\w\-]+ braid|sidelocks)$",
)
_HAIR_LENGTH = r"^(long|short|medium) hair$"
_GENERIC_HAIR = r"^[\w\-]+ hair$"
_SINGLE_WORD = r"^([\w\-]+|hair ornament)$"
_ALL_WORDS_PREFIX = r"^(\w+ )+$"


# ---------------------------------------------------------------------------
# Pure-Python executable specs (oracles for golden tests)
# ---------------------------------------------------------------------------
def novelai_order_py(tags: Iterable[str], vocab: set[str]) -> str:
    """Deterministic NovelAI prompt ordering (novelai_order.py:12-40):
    prefix (girl/boy) ++ character ++ general, groups sorted by -len."""
    seen: list[str] = []
    for t in tags:
        if t not in seen:
            seen.append(t)
    prefix, character, general = [], [], []
    for t in seen:
        if "girl" in t or "boy" in t:
            prefix.append(t)
        elif t in vocab:
            general.append(t)
        elif any(w in t for w in TRIGGER_NON_CHAR_WORDS):
            general.append(t)
        else:
            character.append(t)
    key = lambda x: (-len(x), x)  # noqa: E731
    joined = (
        ",".join(prefix)
        + ","
        + ",".join(sorted(character, key=key))
        + ","
        + ",".join(sorted(general, key=key))
    )
    return joined.strip(",")


def clean_tags_py(tags: list[str]) -> list[str]:
    """Multi-person / subsumption tag cleaning (merge_all_to_metadata.py:58-100)
    re-expressed over a tag array:

    1. underscore → space, protecting the ``^_^`` emoticon;
    2. truncate at the first tag starting with 'rating' that FOLLOWS
       another tag — the reference splits the joined string on
       ', rating' (merge_all_to_metadata.py:63), so a rating-prefixed
       FIRST tag is left untouched;
    3. if any tag mentions girls/boys: for each tag family, if ≥2 family
       members present remove them all (generic-hair counting excludes
       the at-most-one surviving hair-length tag, mirroring the @@@
       protection at :80-90);
    4. drop a single-word tag when a multi-word all-\\w tag ends with it
       (:92-95).
    """
    tags = [t if t == "^_^" else t.replace("_", " ") for t in tags]
    out: list[str] = []
    for idx, t in enumerate(tags):
        if idx > 0 and t.startswith("rating"):
            break
        out.append(t)
    tags = out

    blob = ", ".join(tags)
    if "girls" in blob or "boys" in blob:
        for pat in _MULTI_PERSON_FAMILY_PATTERNS:
            rx = re.compile(pat)
            if sum(1 for t in tags if rx.match(t)) > 1:
                tags = [t for t in tags if not rx.match(t)]
        hair_len = re.compile(_HAIR_LENGTH)
        generic = re.compile(_GENERIC_HAIR)
        plain_hair = [t for t in tags if generic.match(t) and not hair_len.match(t)]
        if len(plain_hair) > 1:
            tags = [t for t in tags if not (generic.match(t) and not hair_len.match(t))]

    single = re.compile(_SINGLE_WORD)
    prefix_ok = re.compile(_ALL_WORDS_PREFIX)
    keep = []
    for t in tags:
        if single.match(t):
            subsumed = any(
                u != t and u.endswith(" " + t) and prefix_ok.match(u[: len(u) - len(t)])
                for u in tags
            )
            if subsumed:
                continue
        keep.append(t)
    return keep


def clean_caption_py(caption: str) -> str:
    """Fixpoint replacement (merge_all_to_metadata.py:102-109): each pair
    is re-applied until the string stops changing."""
    for src, dst in CAPTION_REPLACEMENTS:
        while src in caption:
            caption = caption.replace(src, dst)
    return caption


# ---------------------------------------------------------------------------
# Spark expressions
# ---------------------------------------------------------------------------
def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal. Escapes ``\\`` and ``'``, the
    only characters the parser treats specially inside single quotes,
    so untrusted names (vocab CSVs) render verbatim."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


_BY_LEN_DESC = (
    "(l, r) -> CASE WHEN length(l) > length(r) THEN -1 WHEN length(l) < length(r) THEN 1 "
    "WHEN l < r THEN -1 WHEN l > r THEN 1 ELSE 0 END"
)


def novelai_order_df(
    df: DataFrame,
    tags: Column,
    vocab: Iterable[str] | Column,
    out: str = "ordered_tags",
) -> DataFrame:
    """NovelAI prompt ordering (rule set: novelai_order_py) of the tag
    array ``tags`` into the string column ``out``. A null array orders
    as empty; null elements are dropped.

    Two parsed expressions over materialized columns. The first
    classifies each distinct tag once: prefix (0), character (1) or
    general (2). The second sorts the character and general groups by
    ``(-length, value)`` and joins the three. A names list renders as
    ``t IN (<escaped names>)``, which Catalyst's ``OptimizeIn`` turns
    into a hashed ``InSet`` probe, and the whole vocab costs one py4j
    round trip. A Column vocab (an array) is probed with
    ``array_contains``, a linear scan per tag.
    """
    df = df.withColumn("_no_t", F.coalesce(tags, F.array().cast("array<string>")))
    if isinstance(vocab, Column):
        df = df.withColumn("_no_v", vocab)
        in_vocab = "array_contains(_no_v, t)"
    else:
        in_vocab = f"t IN ({', '.join(map(sql_str, vocab)) or 'NULL'})"
    trigger = " OR ".join(f"contains(t, {sql_str(w)})" for w in TRIGGER_NON_CHAR_WORDS)
    df = df.withColumn(
        "_no_c",
        F.expr(
            "transform(array_distinct(_no_t), t -> named_struct('t', t, 'c', CASE "
            "WHEN t IS NULL THEN NULL "
            "WHEN contains(t, 'girl') OR contains(t, 'boy') THEN 0 "
            f"WHEN {in_vocab} OR {trigger} THEN 2 ELSE 1 END))"
        ),
    )
    group = lambda c: f"transform(filter(_no_c, x -> x.c = {c}), x -> x.t)"  # noqa: E731
    df = df.withColumn(
        out,
        F.expr(
            f"trim(BOTH ',' FROM concat_ws(',', array_join({group(0)}, ','), "
            f"array_join(array_sort({group(1)}, {_BY_LEN_DESC}), ','), "
            f"array_join(array_sort({group(2)}, {_BY_LEN_DESC}), ',')))"
        ),
    )
    return df.drop("_no_t", "_no_c", "_no_v")


def clean_tags_df(df: "DataFrame", tags: Column, out: str = "cleaned_tags") -> "DataFrame":
    """Array-native clean_tags (rule set: clean_tags_py), staged across
    separate projections.

    Staging matters: each step references its input several times, and a
    single nested Column expression would re-embed the whole upstream
    tree at every reference (multiplicative blowup — measured 45s+ for
    5k rows). Materializing each stage as a column makes every step
    compute once per row; CollapseProject keeps single-use stages fused
    and will not duplicate the expensive multi-referenced ones.
    """
    # 1. underscore normalize, protecting ^_^
    df = df.withColumn(
        "_ct_norm",
        F.transform(
            tags, lambda t: F.when(t == "^_^", t).otherwise(F.regexp_replace(t, "_", " "))
        ),
    )
    # 2. truncate at the first 'rating*' tag at 1-based position >= 2:
    # the reference splits the joined string on ', rating'
    # (merge_all_to_metadata.py:63), which can only match a rating tag
    # preceded by a comma — a rating-prefixed FIRST tag never truncates.
    df = df.withColumn(
        "_ct_rtail",
        F.array_position(
            F.slice(
                F.transform(F.col("_ct_norm"), lambda t: t.startswith("rating")),
                2,
                F.greatest(F.size(F.col("_ct_norm")) - 1, F.lit(0)),
            ),
            True,
        ),
    )
    df = df.withColumn(
        "_ct_rpos",
        F.when(F.col("_ct_rtail") > 0, F.col("_ct_rtail") + 1).otherwise(F.lit(0)),
    )
    df = df.withColumn(
        "_ct_trunc",
        F.when(
            F.col("_ct_rpos") > 0,
            F.slice(F.col("_ct_norm"), 1, (F.col("_ct_rpos") - 1).cast("int")),
        ).otherwise(F.col("_ct_norm")),
    )

    # 3. multi-person family removal — each tag's family-membership vector
    # is computed ONCE, family counts once, then a single filter pass.
    fam_pats = list(_MULTI_PERSON_FAMILY_PATTERNS)

    def mvec(t: Column) -> Column:
        plain_hair = t.rlike(_GENERIC_HAIR) & ~t.rlike(_HAIR_LENGTH)
        return F.array(*[t.rlike(p) for p in fam_pats], plain_hair)

    blob = F.array_join(F.col("_ct_trunc"), ", ")
    df = df.withColumn("_ct_multi", blob.contains("girls") | blob.contains("boys"))
    df = df.withColumn(
        "_ct_marked",
        F.transform(F.col("_ct_trunc"), lambda t: F.struct(t.alias("t"), mvec(t).alias("m"))),
    )
    df = df.withColumn(
        "_ct_counts",
        F.array(
            *[
                F.size(F.filter(F.col("_ct_marked"), lambda x: x["m"].getItem(i)))
                for i in range(len(fam_pats) + 1)
            ]
        ),
    )
    kept = F.filter(
        F.col("_ct_marked"),
        lambda x: ~F.exists(
            F.zip_with(F.col("_ct_counts"), x["m"], lambda c, mm: (c > 1) & mm),
            lambda b: b,
        ),
    )
    df = df.withColumn(
        "_ct_pruned",
        F.when(F.col("_ct_multi"), F.transform(kept, lambda x: x["t"])).otherwise(
            F.col("_ct_trunc")
        ),
    )

    # 4. word subsumption over the materialized array attribute
    def subsumed(t: Column, arr: Column) -> Column:
        return F.exists(
            arr,
            lambda u: (u != t)
            & u.endswith(F.concat(F.lit(" "), t))
            & F.substr(u, F.lit(1), F.length(u) - F.length(t)).rlike(_ALL_WORDS_PREFIX),
        )

    df = df.withColumn(
        out,
        F.filter(
            F.col("_ct_pruned"),
            lambda t: ~(t.rlike(_SINGLE_WORD) & subsumed(t, F.col("_ct_pruned"))),
        ),
    )
    return df.drop(
        "_ct_norm", "_ct_rtail", "_ct_rpos", "_ct_trunc", "_ct_multi",
        "_ct_marked", "_ct_counts", "_ct_pruned",
    )


def clean_caption_bounded(caption: Column, passes: int = 3) -> Column:
    """Native chained-replace caption cleaning: each pair applied
    ``passes`` times in order. Exact for any caption needing ≤ passes
    re-applications per pair (the practical case); the true-fixpoint
    variant is ``clean_caption_udf``."""
    col = caption
    for src, dst in CAPTION_REPLACEMENTS:
        for _ in range(passes):
            col = F.replace(col, F.lit(src), F.lit(dst))
    return col


@F.pandas_udf(T.StringType())
def clean_caption_udf(captions: pd.Series) -> pd.Series:
    """Arrow-vectorized true-fixpoint caption cleaning (SURVEY F6: the
    one rule not expressible as a bounded native chain)."""
    return captions.map(lambda c: clean_caption_py(c) if c is not None else None)
