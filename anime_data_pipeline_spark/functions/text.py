"""Tokenization and normalization column expressions shared by the text
operators (SURVEY extension surface: dedup, text analysis)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(text: Column) -> Column:
    """Whitespace tokens, empties dropped (SURVEY P3 generalized)."""
    return F.filter(F.split(text, " "), lambda t: t != "")


def tokens_sql(text_expr: str) -> str:
    return f"list_filter(string_split({text_expr}, ' '), t -> t <> '')"


# ---------------------------------------------------------------------------
# CCNet-style dedup normalization (Wenzek et al. 2020 §4.1: lowercase,
# strip accents, map digits to 0, drop punctuation, collapse
# whitespace) — applied BEFORE hashing so that trivially-reformatted
# duplicates collapse. Pure native expressions (translate + regexp),
# whole-stage codegen; the _sql twin mirrors every rule for the
# oracle. The accent table is an explicit Latin-1/Latin-Ext subset
# (both engines translate char-for-char — no locale dependence).
# ---------------------------------------------------------------------------
_ACCENT_SRC = "àáâãäåèéêëìíîïòóôõöùúûüýÿñçšžłæœß"
_ACCENT_DST = "aaaaaaeeeeiiiiooooouuuuyyncszlaos"


def ccnet_normalize(text: Column) -> Column:
    t = F.lower(text)
    t = F.translate(t, _ACCENT_SRC, _ACCENT_DST)
    t = F.regexp_replace(t, r"[0-9]", "0")
    t = F.regexp_replace(t, r"[^a-z0 ]", " ")
    t = F.trim(F.regexp_replace(t, r"\s+", " "))
    return t


def ccnet_normalize_sql(text_expr: str) -> str:
    t = f"lower({text_expr})"
    t = f"translate({t}, '{_ACCENT_SRC}', '{_ACCENT_DST}')"
    t = f"regexp_replace({t}, '[0-9]', '0', 'g')"
    t = f"regexp_replace({t}, '[^a-z0 ]', ' ', 'g')"
    t = f"trim(regexp_replace({t}, '\\s+', ' ', 'g'))"
    return t
