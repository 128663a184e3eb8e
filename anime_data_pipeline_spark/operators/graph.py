"""Link-graph analytics over edge lists (LLM-pipeline extension
surface: PageRank is the classic crawl-frontier prioritizer and
host-quality prior — OPIC/Common-Crawl-style harvest ranking — and
pairs with the URL canonicalization stage in operators/web.py).

Spark-first power iteration: each round is one equi-join shuffle of a
(node, rank) table against the edge list plus a per-dst aggregation —
payloads are an 8-byte id and a double, never documents. Dangling
mass (nodes with no out-edges) is redistributed uniformly via a 1-row
scalar broadcast (the repo's established scalar-crossJoin pattern).
``localCheckpoint`` after every iteration bounds lineage (the same
iterative-plan discipline as connected_components in
operators/dedup.py). A fixed iteration count keeps runs deterministic
and oracle-replayable (the DuckDB twin unrolls the same iterations as
generated CTE stages — no recursive-aggregate support needed).

At 100 TB: edges shuffle once per iteration on ``dst`` (AQE handles
skewed in-degree); ranks/outdeg are node-cardinality tables that
co-partition with the edge join keys. No collect anywhere; the only
driver-size object is the 1-row dangling-mass aggregate.

Checkpoint retention (r12 ADVICE #2): unlike connected_components —
whose driver-side loop runs an ACTION per round and can therefore
release each superseded generation as soon as its last consumer ran —
these fixed-iteration loops return one LAZY plan and run zero actions
themselves. Every generation materializes inside the CALLER's single
action, so at release time (inside the loop) nothing is materialized
yet and an unpersist would destroy lineage-truncated RDDs the plan
still needs; after the caller's action this module has no hook.
The generations (~n_iter node-cardinality tables per call) therefore
stay pinned until driver GC (ContextCleaner) collects the dropped
plan. Deliberate: a caller-side release hook would force eager
evaluation or leak the lazy contract; bounded at n_iter ≈ 5 tables
per invocation, and localCheckpoint data is MEMORY_AND_DISK so
pressure spills rather than OOMs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    damping: float = 0.85,
    n_iter: int = 5,
) -> DataFrame:
    """Fixed-iteration PageRank over a (src, dst) edge list.

    Returns (node, pr) — UNROUNDED doubles; callers round for
    oracle-compared output. Nodes = union of both endpoints; dangling
    nodes contribute their mass uniformly; rank mass is conserved at
    1.0 every iteration (pinned in tests)."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n_total = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    d = float(damping)

    ranks = nodes.crossJoin(F.broadcast(n_total)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("pr")
    ).localCheckpoint(eager=False)
    for _ in range(int(n_iter)):
        with_deg = ranks.join(outdeg, ranks["node"] == outdeg["src"], "left").select(
            ranks["node"], "pr", "deg"
        )
        contrib = (
            e.join(
                with_deg.filter(F.col("deg").isNotNull()),
                e["src"] == F.col("node"),
            )
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("deg")).alias("s"))
        )
        dangling = with_deg.filter(F.col("deg").isNull()).agg(
            F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dang")
        )
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(dangling))
            .crossJoin(F.broadcast(n_total))
            .select(
                "node",
                (
                    (F.lit(1.0) - d) / F.col("n")
                    + d * (F.coalesce(F.col("s"), F.lit(0.0)) + F.col("dang") / F.col("n"))
                ).alias("pr"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    n_iter: int = 5,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg) over a (src, dst) edge list.

    Returns (node, hub, auth) — UNROUNDED doubles; callers round for
    oracle-compared output. Each round: auth(v) = Σ_{u→v} hub(u) then
    L1-normalize, hub(u) = Σ_{u→v} auth_new(v) then L1-normalize.
    L1 (sum-to-1) normalization keeps the DuckDB twin a plain
    sum-window expression — no sqrt ulp concerns.

    Plan shape per round: two equi-join shuffles of an (node, score)
    table against the edge list plus per-endpoint aggregation —
    payloads are 8-byte ids and doubles. Normalizers are 1-row scalar
    broadcasts. ``localCheckpoint`` bounds lineage exactly as in
    :func:`pagerank`. At 100 TB the edge table shuffles once per
    round per direction on its join key; score tables co-partition.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_total = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    scores = nodes.crossJoin(F.broadcast(n_total)).select(
        "node",
        (F.lit(1.0) / F.col("n")).alias("hub"),
        (F.lit(1.0) / F.col("n")).alias("auth"),
    ).localCheckpoint(eager=False)
    for _ in range(int(n_iter)):
        a_raw = (
            e.join(
                scores.select(F.col("node").alias("_u"), "hub"),
                e["src"] == F.col("_u"),
            )
            .groupBy("dst")
            .agg(F.sum("hub").alias("a"))
        )
        auth = nodes.join(a_raw, nodes["node"] == a_raw["dst"], "left").select(
            "node", F.coalesce(F.col("a"), F.lit(0.0)).alias("a")
        )
        a_sum = auth.agg(F.sum("a").alias("asum"))
        auth = auth.crossJoin(F.broadcast(a_sum)).select(
            "node", (F.col("a") / F.col("asum")).alias("auth")
        ).localCheckpoint(eager=False)
        h_raw = (
            e.join(
                auth.select(F.col("node").alias("_v"), "auth"),
                e["dst"] == F.col("_v"),
            )
            .groupBy("src")
            .agg(F.sum("auth").alias("h"))
        )
        hub = nodes.join(h_raw, nodes["node"] == h_raw["src"], "left").select(
            "node", F.coalesce(F.col("h"), F.lit(0.0)).alias("h")
        )
        h_sum = hub.agg(F.sum("h").alias("hsum"))
        hub = hub.crossJoin(F.broadcast(h_sum)).select(
            "node", (F.col("h") / F.col("hsum")).alias("hub")
        ).localCheckpoint(eager=False)
        scores = hub.join(auth, "node").select("node", "hub", "auth")
    return scores


def hits_oracle_sql(edges_sql: str, *, n_iter: int = 5) -> str:
    """DuckDB twin of :func:`hits`: the same rounds unrolled as
    generated CTE stages with L1 normalization via scalar subqueries.
    ``edges_sql`` must yield (src, dst)."""
    parts = [
        f"edges AS MATERIALIZED ({edges_sql})",
        "nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes)",
        "h0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS hub FROM nodes)",
    ]
    for k in range(1, int(n_iter) + 1):
        prev = f"h{k - 1}"
        parts.append(
            f"ar{k} AS (SELECT nodes.node, coalesce(x.a, 0.0) AS a FROM nodes "
            f"LEFT JOIN (SELECT e.dst AS node, sum(h.hub) AS a FROM edges e "
            f"JOIN {prev} h ON h.node = e.src GROUP BY e.dst) x ON x.node = nodes.node)"
        )
        parts.append(
            f"a{k} AS MATERIALIZED (SELECT node, a / (SELECT sum(a) FROM ar{k}) AS auth FROM ar{k})"
        )
        parts.append(
            f"hr{k} AS (SELECT nodes.node, coalesce(x.h, 0.0) AS h FROM nodes "
            f"LEFT JOIN (SELECT e.src AS node, sum(a.auth) AS h FROM edges e "
            f"JOIN a{k} a ON a.node = e.dst GROUP BY e.src) x ON x.node = nodes.node)"
        )
        parts.append(
            f"h{k} AS MATERIALIZED (SELECT node, h / (SELECT sum(h) FROM hr{k}) AS hub FROM hr{k})"
        )
    n = int(n_iter)
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT h.node, h.hub, a.auth FROM h{n} h JOIN a{n} a ON a.node = h.node"
    )


def pagerank_oracle_sql(
    edges_sql: str,
    *,
    damping: float = 0.85,
    n_iter: int = 5,
) -> str:
    """DuckDB twin: the SAME power iteration unrolled as generated CTE
    stages (it0..itN), one contrib/dangling pair per round —
    bit-comparable to :func:`pagerank` after the caller's rounding.
    ``edges_sql`` must yield (src, dst)."""
    d = float(damping)
    parts = [
        f"edges AS MATERIALIZED ({edges_sql})",
        "nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "outdeg AS MATERIALIZED (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM edges GROUP BY src)",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes)",
        "it0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM nodes)",
    ]
    for k in range(1, int(n_iter) + 1):
        prev = f"it{k - 1}"
        parts.append(
            f"c{k} AS (SELECT e.dst AS node, sum(r.pr / o.deg) AS s "
            f"FROM edges e JOIN {prev} r ON r.node = e.src "
            f"JOIN outdeg o ON o.src = e.src GROUP BY e.dst)"
        )
        parts.append(
            f"d{k} AS (SELECT coalesce(sum(r.pr), 0.0) AS dang FROM {prev} r "
            f"WHERE r.node NOT IN (SELECT src FROM outdeg))"
        )
        parts.append(
            f"it{k} AS MATERIALIZED (SELECT nodes.node, "
            f"(1.0 - {d!r}) / (SELECT n FROM nn) "
            f"+ {d!r} * (coalesce(c{k}.s, 0.0) + (SELECT dang FROM d{k}) / (SELECT n FROM nn)) AS pr "
            f"FROM nodes LEFT JOIN c{k} ON c{k}.node = nodes.node)"
        )
    return "WITH " + ",\n".join(parts) + f"\nSELECT node, pr FROM it{int(n_iter)}"


def pointer_jump_roots(
    nodes: DataFrame,
    node_col: str = "node",
    parent_col: str = "parent",
    *,
    n_rounds: int = 5,
) -> DataFrame:
    """Flatten a forest: (node, root, depth) for every node of a
    (node, parent) table — parent NULL marks a root. Spark's answer to
    a recursive-CTE hierarchy walk.

    Pointer jumping (path doubling): each round replaces every node's
    current ancestor pointer with that ancestor's pointer and adds the
    distances, so after k rounds each pointer has skipped 2^k hops —
    ``n_rounds=5`` resolves any depth ≤ 2^5 = 32 (a 64-bit id space's
    division-chain forests max out near depth 19; callers with deeper
    trees raise n_rounds logarithmically). A chain-shaped 100 TB
    hierarchy costs O(log depth) self-join shuffles of (node, anc, d)
    triples — never O(depth) rounds and never a per-node recursion.
    ``localCheckpoint`` per round bounds lineage exactly as in
    :func:`pagerank`; roots carry a self-pointer so the join is total
    (no null keys reach the exchange).
    """
    state = nodes.select(
        F.col(node_col).alias("node"),
        F.coalesce(F.col(parent_col), F.col(node_col)).alias("anc"),
        F.when(F.col(parent_col).isNull(), F.lit(0))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("d"),
    ).localCheckpoint(eager=False)
    for _ in range(int(n_rounds)):
        nxt = state.select(
            F.col("node").alias("_n2"), F.col("anc").alias("_a2"), F.col("d").alias("_d2")
        )
        state = (
            state.join(nxt, state["anc"] == nxt["_n2"])
            .select(
                "node",
                F.col("_a2").alias("anc"),
                (F.col("d") + F.col("_d2")).alias("d"),
            )
            .localCheckpoint(eager=False)
        )
    return state.select("node", F.col("anc").alias("root"), F.col("d").alias("depth"))
