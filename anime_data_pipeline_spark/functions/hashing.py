"""Cross-engine deterministic hashing primitives.

Spark's ``hash()`` (Murmur3) and DuckDB's ``hash()`` are different
functions, so oracle-checked dedup/similarity operators use an explicit
31-base polynomial rolling hash mod p — plain integer arithmetic that
is bit-identical in any engine. It is not cheap in Spark: the fold is a
higher-order ``aggregate``, and every higher-order function is
``CodegenFallback`` — interpreted, one lambda call per character,
outside whole-stage codegen.

h(s) = fold(chars(s), 0, (acc, c) -> (acc * 31 + codepoint(c)) mod P)

MinHash permutations are the classic (a*h + b) mod P family with fixed
deterministic constants (no runtime randomness — reproducible runs and
resumable pipelines at scale).

This module is the one home of the family's Spark spellings: the char
hash (:func:`polyhash`, :func:`polyhash_spark_expr`), the token split
(:func:`tokens_spark_expr`; the Column form is ``functions.text.tokens``),
the shingle fold (:func:`shingle_hashes_spark_expr`), the MinHash
signature (:func:`minhash_signature_expr`) and the LSH band fold
(:func:`band_values_expr`). The char hash and the shingle fold have
DuckDB ``*_sql`` twins; the char hash also has the pure-Python
:func:`polyhash_py`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

P = 1_000_000_007
_A_SEED = 2_654_435_761
_B_SEED = 40_503


def perm_constants(k: int) -> list[tuple[int, int]]:
    """k deterministic (a, b) pairs for the permutation family."""
    return [((_A_SEED * (i + 1)) % P, (_B_SEED * (i + 7) + 1) % P) for i in range(k)]


def polyhash(col: Column, base: int = 31) -> Column:
    """Polynomial rolling hash of a string column → long in [0, P).

    ``base=37`` is the INDEPENDENT second content hash for collision
    verification: two distinct same-length strings colliding under
    base 31 satisfy D(31) ≡ 0 mod P for the difference polynomial D;
    also colliding under base 37 additionally requires D(37) ≡ 0, so
    the pairwise false-match probability drops from ~1/P to ~1/P²
    (≈1e-18) — the second-independent-hash fix for exact-dup
    declarations made from hashes alone (a prefix/suffix-salted base-31
    hash would NOT work: same-length base-31 collisions survive any
    affine salt).

    The Column form exists for call sites that hash a COMPUTED
    expression (salted ids, lambda variables); a named column or
    literal is cheaper to build as ``F.expr(polyhash_spark_expr(c))``.
    Wrap it in a one-argument lambda before handing it to ``F.transform``:
    passed bare, ``base`` would receive the element index.
    """
    return F.aggregate(
        F.transform(F.split(col, ""), lambda c: F.ascii(c).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * base + c) % F.lit(P),
    )


def polyhash_py(s: str) -> int:
    """Pure-Python twin of :func:`polyhash` / :func:`polyhash_sql` —
    used by stub models (operators/multimodal.py, operators/inference.py)
    so that their fake logits are recomputable by the DuckDB oracle."""
    acc = 0
    for c in s:
        acc = (acc * 31 + ord(c)) % P
    return acc


def polyhash_sql(expr: str, base: int = 31) -> str:
    """The identical hash as DuckDB SQL text."""
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(a, b) -> (a * {base} + b) % {P})"
    )


def perm_hash_sql(h_expr: str, a: int, b: int) -> str:
    return f"(({a} * {h_expr} + {b}) % {P})"


def polyhash_spark_expr(v: str) -> str:
    """:func:`polyhash` (base 31) as Spark-SQL TEXT — parses to the
    identical Aggregate/Transform Catalyst nodes as the Column spelling,
    for ONE py4j round-trip instead of ~20 (the expression-build latency
    class documented on operators/dedup.shingle_hash_sets)."""
    return (
        f"aggregate(transform(split({v}, ''), c -> CAST(ascii(c) AS BIGINT)), "
        f"CAST(0 AS BIGINT), (acc, c) -> (acc * 31 + c) % {P})"
    )


def tokens_spark_expr(text_col: str) -> str:
    """functions.text.tokens as Spark-SQL text (same nodes)."""
    return f"filter(split(`{text_col}`, ' '), t -> t != '')"


def token_hashes_spark_expr(toks_expr: str) -> str:
    """Per-token :func:`polyhash` array as Spark-SQL text."""
    return f"transform({toks_expr}, t -> {polyhash_spark_expr('t')})"


def shingle_hashes_spark_expr(th: str, n: int = 3) -> str:
    """n-token shingle hashes folded from a token-hash array, as
    Spark-SQL text: the hash of shingle i is
    ``fold(th[i..i+n-1], (acc, t) -> (acc*31 + t) % P)`` (first element
    taken as-is). O(n) per shingle from precomputed token hashes — ~10×
    cheaper than re-hashing each shingle's characters. Parsed text, so
    plan build is one py4j round-trip at any n.

    ``th`` MUST name a materialized column (withColumn/select alias),
    not a nested expression: it is referenced per shingle element and a
    nested expression would be re-evaluated at each reference.
    """
    v = f"element_at({th}, i)"
    for j in range(1, n):
        v = f"(({v}) * 31 + element_at({th}, i + {j})) % {P}"
    return (
        f"CASE WHEN size({th}) >= {n} THEN "
        f"transform(sequence(1, size({th}) - {n - 1}), i -> {v}) "
        f"ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )


def shingle_hashes_sql(th_expr: str, n: int = 3) -> str:
    """The identical shingle-hash fold as DuckDB SQL (1-based lists)."""
    v = f"{th_expr}[i]"
    for j in range(1, n):
        v = f"((({v}) * 31 + {th_expr}[i + {j}]) % {P})"
    return (
        f"CASE WHEN len({th_expr}) >= {n} THEN "
        f"list_transform(generate_series(1, len({th_expr}) - {n - 1}), i -> {v}) "
        f"ELSE CAST([] AS BIGINT[]) END"
    )


def minhash_signature_expr(hashes_col: str, k: int = 12) -> Column:
    """k-permutation MinHash signature (null entries when no shingles),
    rendered as one ``F.expr`` string — one py4j round-trip instead of
    the ~3k a Column-API spelling costs.

    k scalar array_min passes beat a single-traversal fold with a
    length-k array state: interpreted higher-order evaluation allocates
    the state array per element, which costs more than k cheap scalar
    scans (measured 2.4× slower at sf0.1).
    """
    items = ", ".join(
        f"array_min(transform({hashes_col}, h -> ({a} * h + {b}) % {P}))"
        for a, b in perm_constants(k)
    )
    return F.expr(f"array({items})")


def band_values_expr(sig_col: str, bands: int, rows: int) -> Column:
    """Fold each band of the signature into one bucket value, as one
    ``F.expr`` (0-based bracket indexing)."""
    items = []
    for j in range(bands):
        v = f"{sig_col}[{j * rows}]"
        for r in range(1, rows):
            v = f"({v}) * 31 + {sig_col}[{j * rows + r}]"
        items.append(v)
    return F.expr(f"array({', '.join(items)})")


def hash_chain(seed: int, n: int) -> list[int]:
    """n unrelated pseudorandom constants in [0, P): iterated
    string-rehashing (x → polyhash(str(x) + "/mix")). Unlike the
    (a·i + b) perm family or polyhash of strings differing in one
    character — both AFFINE families with a constant step — chained
    values have no linear relation, which matters when the constants
    multiply a variable (e.g. the stub feature encoder: affine
    constants made every vector an arithmetic progression and
    embedding-cosine dedup collapsed unrelated items)."""
    out, x = [], seed
    for _ in range(n):
        x = polyhash_py(str(x) + "/mix")
        out.append(x)
    return out
