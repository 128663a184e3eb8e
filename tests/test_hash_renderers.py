"""Parity of the Spark renderers of the cross-engine hash family
(functions/hashing.py) with the pure-Python fold and the DuckDB
``*_sql`` twin the oracles use, on the inputs most likely to split the
engines: empty text, one token, fewer tokens than the shingle width,
a double space, non-ASCII characters and a quote."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from anime_data_pipeline_spark.functions.hashing import (
    P,
    polyhash,
    polyhash_spark_expr,
    polyhash_sql,
    shingle_hashes_spark_expr,
    shingle_hashes_sql,
    token_hashes_spark_expr,
    tokens_spark_expr,
)
from anime_data_pipeline_spark.functions.text import tokens_sql

TEXTS = [
    "",
    "alpha",
    "alpha beta",
    "alpha  beta gamma",
    "café naïve 東京 señor",
    "it's o'clock, isn't it",
]


def _fold(xs, base: int = 31) -> int:
    acc = 0
    for x in xs:
        acc = (acc * base + x) % P
    return acc


def _token_hashes_py(s: str) -> list[int]:
    return [_fold(map(ord, t)) for t in s.split(" ") if t]


def _shingles_py(s: str, n: int) -> list[int]:
    th = _token_hashes_py(s)
    return [_fold(th[i : i + n]) for i in range(len(th) - n + 1)]


# name -> (Spark column over a frame with `s` and a materialized `_th`,
#          Python reference, DuckDB expression over `s`)
_TH_SQL = f"list_transform({tokens_sql('s')}, t -> {polyhash_sql('t')})"
RENDERERS = {
    "polyhash_31": (
        lambda: polyhash(F.col("s")),
        lambda s: _fold(map(ord, s), 31),
        polyhash_sql("s"),
    ),
    "polyhash_37": (
        lambda: polyhash(F.col("s"), 37),
        lambda s: _fold(map(ord, s), 37),
        polyhash_sql("s", 37),
    ),
    "polyhash_spark_expr": (
        lambda: F.expr(polyhash_spark_expr("s")),
        lambda s: _fold(map(ord, s), 31),
        polyhash_sql("s"),
    ),
    "token_hashes": (
        lambda: F.col("_th"),
        _token_hashes_py,
        _TH_SQL,
    ),
    "shingles_2": (
        lambda: F.expr(shingle_hashes_spark_expr("_th", 2)),
        lambda s: _shingles_py(s, 2),
        shingle_hashes_sql(f"({_TH_SQL})", 2),
    ),
    "shingles_3": (
        lambda: F.expr(shingle_hashes_spark_expr("_th", 3)),
        lambda s: _shingles_py(s, 3),
        shingle_hashes_sql(f"({_TH_SQL})", 3),
    ),
}


@pytest.mark.parametrize("name", sorted(RENDERERS))
def test_spark_renderer_matches_python_and_duckdb(spark, name):
    spark_col, py_ref, duck_expr = RENDERERS[name]
    rows = list(enumerate(TEXTS))
    df = spark.createDataFrame(rows, "id int, s string").withColumn(
        "_th", F.expr(token_hashes_spark_expr(tokens_spark_expr("s")))
    )
    got = {r["id"]: r["v"] for r in df.select("id", spark_col().alias("v")).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE t (id INTEGER, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    duck = dict(con.execute(f"SELECT id, {duck_expr} FROM t").fetchall())

    for i, s in rows:
        want = py_ref(s)
        assert got[i] == want, (name, s, got[i], want)
        assert duck[i] == want, (name, s, duck[i], want)
