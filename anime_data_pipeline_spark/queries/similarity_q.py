"""Similarity-search gate queries over the `embeddings` table
(64-dim float vectors): exact brute-force cosine top-k, SRP-LSH
approximate top-k, and embedding-cosine near-dup pairs.

Everything — including the LSH hyperplanes — is deterministic and
mirrored operation-for-operation in DuckDB, so even the approximate
operators are fully oracle-checked (identical IEEE double math gives
identical candidates, scores, and ranks in both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anime_data_pipeline_spark.catalog import load_table
from anime_data_pipeline_spark.functions.compat import dround, dround_sql
from anime_data_pipeline_spark.functions.hashing import P
from anime_data_pipeline_spark.operators.similarity import (
    brute_force_topk,
    cosine_sql,
    embedding_neardup_pairs,
    ivf_topk,
    knn_graph,
    PQ_SEED_PERM,
    pq_d2_sql,
    quantize_int8,
    seed_centroids,
    seed_centroids_sql,
    seed_constants,
    srp_bucket_sql,
    srp_lsh_topk,
    to_double_array,
)
from anime_data_pipeline_spark.registry import register

_QUERY_MOD = 97  # vec_id % 97 == 0 → the broadcast query set
_PLANES = 8


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def _queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _corpus(spark, sf_dir).filter(F.col("vec_id") % _QUERY_MOD == 0)


# ---------------------------------------------------------------------------
# q41 — exact brute-force cosine top-k
# ---------------------------------------------------------------------------
_Q41_ORACLE = f"""
    WITH corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id % {_QUERY_MOD} = 0),
    scored AS (SELECT q.query_id, corpus.vec_id,
                      {cosine_sql("qv", "cv")} AS cosine
               FROM corpus CROSS JOIN q),
    ranked AS (SELECT *, row_number() OVER (
                 PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
               FROM scored)
    SELECT query_id, vec_id, rank, cosine FROM ranked WHERE rank <= 10
"""


@register("q41_ann_bruteforce_topk", oracle=_Q41_ORACLE)
def q41_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = brute_force_topk(
        _corpus(spark, sf_dir), _queries(spark, sf_dir), "vec_id", "embedding", k=10
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


# ---------------------------------------------------------------------------
# q42 — SRP-LSH approximate top-k (single probe, 8 hyperplanes)
# ---------------------------------------------------------------------------
_Q42_ORACLE = f"""
    WITH corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv,
                           {srp_bucket_sql("CAST(embedding AS DOUBLE[])", _PLANES)} AS bucket
                    FROM embeddings),
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
                 {srp_bucket_sql("CAST(embedding AS DOUBLE[])", _PLANES)} AS bucket
          FROM embeddings WHERE vec_id % {_QUERY_MOD} = 0),
    scored AS (SELECT q.query_id, corpus.vec_id,
                      {cosine_sql("qv", "cv")} AS cosine
               FROM corpus JOIN q USING (bucket)),
    ranked AS (SELECT *, row_number() OVER (
                 PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
               FROM scored)
    SELECT query_id, vec_id, rank, cosine FROM ranked WHERE rank <= 5
"""


@register("q42_ann_srp_lsh_topk", oracle=_Q42_ORACLE)
def q42_ann_srp_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = srp_lsh_topk(
        _corpus(spark, sf_dir),
        _queries(spark, sf_dir),
        "vec_id",
        "embedding",
        k=5,
        planes=_PLANES,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


# ---------------------------------------------------------------------------
# q48 — multi-probe SRP-LSH top-k: the query probes its own bucket PLUS
# every Hamming-1 neighbor (bucket XOR one bit). Probe expansion is on
# the broadcast query side only; the corpus bucketing is unchanged, so
# the oracle mirrors the probe set with an unnested bucket list.
# ---------------------------------------------------------------------------
_Q48_ORACLE = f"""
    WITH corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv,
                           {srp_bucket_sql("CAST(embedding AS DOUBLE[])", _PLANES)} AS bucket
                    FROM embeddings),
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
                 {srp_bucket_sql("CAST(embedding AS DOUBLE[])", _PLANES)} AS bucket
          FROM embeddings WHERE vec_id % {_QUERY_MOD} = 0),
    qp AS (SELECT query_id, qv,
                  unnest(list_prepend(bucket,
                    list_transform(range(0, {_PLANES}), j -> xor(bucket, 1 << j)))) AS bucket
           FROM q),
    scored AS (SELECT qp.query_id, corpus.vec_id,
                      {cosine_sql("qv", "cv")} AS cosine
               FROM corpus JOIN qp USING (bucket)),
    ranked AS (SELECT *, row_number() OVER (
                 PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
               FROM scored)
    SELECT query_id, vec_id, rank, cosine FROM ranked WHERE rank <= 5
"""


@register("q48_ann_multiprobe_topk", oracle=_Q48_ORACLE)
def q48_ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = srp_lsh_topk(
        _corpus(spark, sf_dir),
        _queries(spark, sf_dir),
        "vec_id",
        "embedding",
        k=5,
        planes=_PLANES,
        hamming_probes=1,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


# ---------------------------------------------------------------------------
# q97 — approximate mutual-kNN graph: every vector queries its own SRP
# bucket plus all Hamming-1 probes; top-5 per source; mutual flag from
# one self-join of the edge list on the reversed key. Both sides are
# the corpus (no broadcast side) — the graph primitive for
# density-based pruning / graph clustering of embedding spaces.
# ---------------------------------------------------------------------------
_Q97_K = 5

_Q97_ORACLE = f"""
    WITH corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv,
                           {srp_bucket_sql("CAST(embedding AS DOUBLE[])", _PLANES)} AS bucket
                    FROM embeddings),
    qp AS (SELECT vec_id AS src, cv AS qv,
                  unnest(list_prepend(bucket,
                    list_transform(range(0, {_PLANES}), j -> xor(bucket, 1 << j)))) AS bucket
           FROM corpus),
    scored AS (SELECT qp.src, corpus.vec_id,
                      {cosine_sql("qv", "cv")} AS cosine
               FROM corpus JOIN qp USING (bucket)
               WHERE qp.src <> corpus.vec_id),
    ranked AS (SELECT *, row_number() OVER (
                 PARTITION BY src ORDER BY cosine DESC, vec_id) AS rank
               FROM scored),
    edges AS (SELECT src, vec_id AS dst, rank, cosine
              FROM ranked WHERE rank <= {_Q97_K})
    SELECT e.src, e.dst, e.rank, e.cosine,
           (r.src IS NOT NULL) AS mutual
    FROM edges e LEFT JOIN edges r ON e.src = r.dst AND e.dst = r.src
"""


@register("q97_knn_graph", oracle=_Q97_ORACLE)
def q97_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = knn_graph(
        _corpus(spark, sf_dir), "vec_id", "embedding", k=_Q97_K, planes=_PLANES
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


# ---------------------------------------------------------------------------
# q98 — per-vector symmetric int8 quantization audit: scale, integer
# code checksum (Σ|q_i| — bit-exact check of the codes themselves),
# reconstruction MSE and max error. Map-only; the storage-compression
# step for serving embedding tables.
# ---------------------------------------------------------------------------
_Q98_ORACLE = f"""
    WITH c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings),
    s AS (SELECT *, (CASE WHEN list_max(list_transform(cv, x -> abs(x))) / 127.0 > 0
                     THEN list_max(list_transform(cv, x -> abs(x))) / 127.0
                     ELSE 1.0 END) AS scale
          FROM c),
    qq AS (SELECT *, list_transform(cv,
                x -> greatest(-127.0, least(127.0, floor(x / scale + 0.5)))) AS qv
           FROM s),
    m AS (SELECT vec_id, label, scale,
                 CAST(list_sum(list_transform(qv, q -> CAST(abs(q) AS BIGINT)))
                      AS BIGINT) AS q_l1,
                 list_reduce(list_prepend(0.0,
                   list_transform(generate_series(1, len(cv)),
                     i -> (cv[i] - qv[i] * scale) * (cv[i] - qv[i] * scale))),
                   (a, b) -> a + b) / len(cv) AS mse,
                 list_max(list_transform(generate_series(1, len(cv)),
                   i -> abs(cv[i] - qv[i] * scale))) AS max_abs_err
          FROM qq)
    SELECT vec_id, label, {dround_sql("scale", 9)} AS scale, q_l1,
           {dround_sql("mse", 9)} AS mse,
           {dround_sql("max_abs_err", 9)} AS max_abs_err
    FROM m
"""


@register("q98_embedding_quantize", oracle=_Q98_ORACLE)
def q98_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = quantize_int8(_corpus(spark, sf_dir), "vec_id", "embedding")
    return out.select(
        "vec_id",
        "label",
        dround(F.col("scale"), 9).alias("scale"),
        "q_l1",
        dround(F.col("mse"), 9).alias("mse"),
        dround(F.col("max_abs_err"), 9).alias("max_abs_err"),
    )


# ---------------------------------------------------------------------------
# q43 — embedding near-dup pairs (SRP blocking + exact cosine verify).
# The base table has no near-dups, so the corpus adds scaled copies
# (same direction ⇒ cosine ≈ 1) for vec_id % 7 — identical construction
# in both engines, in double space so the scaling is exact.
# ---------------------------------------------------------------------------
# ---------------------------------------------------------------------------
# q44 — IVF-flat ANN: coarse quantizer = nearest of FIXED-K seeded-hash
# centroids (seed_centroids — corpus-size-independent, so the driver
# collect is O(k) and the assignment plan O(1) at any data scale; a kmeans
# trainer would drop in unchanged); each query probes only its cell.
# Seeding, assignment + probe mirrored exactly in SQL.
# ---------------------------------------------------------------------------
_CENTROID_K = 16

_SEED_SQL = seed_centroids_sql("embeddings", "vec_id", "embedding", _CENTROID_K)


def _centroids(corpus: DataFrame) -> list[tuple[int, list[float]]]:
    return seed_centroids(corpus, "vec_id", "embedding", _CENTROID_K)


_Q44_ORACLE = f"""
    WITH cents AS ({_SEED_SQL}),
    corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    assign AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT corpus.vec_id, cents.cid,
               row_number() OVER (
                 PARTITION BY corpus.vec_id
                 ORDER BY {cosine_sql("v", "cv")} DESC, cents.cid) AS rn
        FROM corpus CROSS JOIN cents
      ) WHERE rn = 1),
    c AS (SELECT a.cell, corpus.vec_id, corpus.v AS cv2
          FROM corpus JOIN assign a USING (vec_id)),
    q AS (SELECT a.cell, corpus.vec_id AS query_id, corpus.v AS qv
          FROM corpus JOIN assign a USING (vec_id)
          WHERE corpus.vec_id % {_QUERY_MOD} = 0),
    scored AS (SELECT q.query_id, c.vec_id,
                      {cosine_sql("qv", "cv2")} AS cosine
               FROM c JOIN q USING (cell)),
    ranked AS (SELECT *, row_number() OVER (
                 PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
               FROM scored)
    SELECT query_id, vec_id, rank, cosine FROM ranked WHERE rank <= 5
"""


@register("q44_ann_ivf_topk", oracle=_Q44_ORACLE)
def q44_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus(spark, sf_dir)
    out = ivf_topk(
        corpus, _queries(spark, sf_dir), _centroids(corpus), "vec_id", "embedding", k=5
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


_Q43_THRESH = 0.99
_Q43_PPT = 16  # planes per table (2^16 buckets/table — the scale default)
_Q43_TABLES = 4

_Q43_CORPUS_SQL = """
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    UNION ALL
    SELECT vec_id + 100000 AS vec_id,
           list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2.0) AS v
    FROM embeddings WHERE vec_id % 7 = 0
"""

# Mirror of the banded multi-table SRP design: table t buckets on the
# plane slice [t*p, (t+1)*p); candidate pairs collide in ANY table and
# are de-duplicated before the final result (identical double math ⇒
# identical cosine per collision, so DISTINCT collapses tables).
_Q43_KEYED_SQL = "\n    UNION ALL\n".join(
    f"""    SELECT {t} AS t, vec_id, v,
           {srp_bucket_sql("v", _Q43_PPT, first_plane=t * _Q43_PPT)} AS b
    FROM corpus"""
    for t in range(_Q43_TABLES)
)

_Q43_ORACLE = f"""
    WITH corpus AS ({_Q43_CORPUS_SQL}),
    keyed AS (
{_Q43_KEYED_SQL}
    ),
    pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              FROM keyed a JOIN keyed b
                ON a.t = b.t AND a.b = b.b AND a.vec_id < b.vec_id),
    scored AS (SELECT id_a, id_b, {cosine_sql("ca.v", "cb.v")} AS cosine
               FROM pairs
               JOIN corpus ca ON ca.vec_id = pairs.id_a
               JOIN corpus cb ON cb.vec_id = pairs.id_b)
    SELECT id_a, id_b, cosine FROM scored WHERE cosine >= {_Q43_THRESH}
"""


@register("q43_embedding_neardup", oracle=_Q43_ORACLE)
def q43_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _corpus(spark, sf_dir).select(
        "vec_id", to_double_array(F.col("embedding")).alias("v")
    )
    scaled = base.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(F.col("v"), lambda x: x * F.lit(2.0)).alias("v"),
    )
    corpus = base.unionByName(scaled)
    return embedding_neardup_pairs(
        corpus,
        "vec_id",
        "v",
        threshold=_Q43_THRESH,
        planes_per_table=_Q43_PPT,
        n_tables=_Q43_TABLES,
    )


# ---------------------------------------------------------------------------
# q77 — label centroids + cohesion: element-wise mean vector per label
# and the mean cosine of members to their centroid — the embedding-
# space health check (cluster tightness / label noise) run before
# using labels for curation. Position-exploded aggregation on both
# sides; the oracle mirrors it with unnest + generate_subscripts.
# ---------------------------------------------------------------------------
_Q77_ORACLE = f"""
    WITH e AS (SELECT vec_id, label,
                      unnest(CAST(embedding AS DOUBLE[])) AS val,
                      generate_subscripts(embedding, 1) AS pos
               FROM embeddings),
    cent AS (SELECT label, pos, avg(val) AS c FROM e GROUP BY label, pos),
    cnorm AS (SELECT label, sqrt(sum(c * c)) AS cn FROM cent GROUP BY label),
    pv AS (SELECT e.vec_id, e.label,
                  sum(e.val * cent.c) AS dot,
                  sqrt(sum(e.val * e.val)) AS vn
           FROM e JOIN cent USING (label, pos)
           GROUP BY e.vec_id, e.label)
    SELECT label,
           count(*) AS n_vecs,
           {dround_sql("avg(dot / (vn * cn))", 6)} AS avg_cos
    FROM pv JOIN cnorm USING (label)
    GROUP BY label
"""


@register("q77_label_centroid_cohesion", oracle=_Q77_ORACLE)
def q77_label_centroid_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.operators.similarity import centroid_cohesion

    emb = load_table(spark, sf_dir, "embeddings")
    out = centroid_cohesion(emb, "vec_id", "label", "embedding")
    return out.select(
        "label", "n_vecs", dround(F.col("avg_cos"), 6).alias("avg_cos")
    )


# ---------------------------------------------------------------------------
# q85 — IVF with k-means-refined centroids: seeds → one distributed
# Lloyd iteration (assign by max cosine, per-cell coordinate means,
# rounded to 6 dp so both engines hold bit-identical centroids) →
# IVF-flat top-k inside the refined cells. The oracle replays the
# iteration in SQL: same argmin tie-break, same rounded means.
# ---------------------------------------------------------------------------
_Q85_ORACLE = f"""
    WITH cents0 AS ({_SEED_SQL}),
    corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    a0 AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT corpus.vec_id, cents0.cid,
               row_number() OVER (
                 PARTITION BY corpus.vec_id
                 ORDER BY {cosine_sql("v", "cv")} DESC, cents0.cid) AS rn
        FROM corpus CROSS JOIN cents0
      ) WHERE rn = 1),
    expl AS (SELECT a0.cell, generate_subscripts(corpus.v, 1) AS pos,
                    unnest(corpus.v) AS val
             FROM corpus JOIN a0 USING (vec_id)),
    means AS (SELECT cell, pos, {dround_sql("avg(val)", 6)} AS m
              FROM expl GROUP BY cell, pos),
    cents1 AS (SELECT cell AS cid, list(m ORDER BY pos) AS cv
               FROM means GROUP BY cell),
    a1 AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT corpus.vec_id, cents1.cid,
               row_number() OVER (
                 PARTITION BY corpus.vec_id
                 ORDER BY {cosine_sql("v", "cv")} DESC, cents1.cid) AS rn
        FROM corpus CROSS JOIN cents1
      ) WHERE rn = 1),
    c AS (SELECT a.cell, corpus.vec_id, corpus.v AS cv2
          FROM corpus JOIN a1 a USING (vec_id)),
    q AS (SELECT a.cell, corpus.vec_id AS query_id, corpus.v AS qv
          FROM corpus JOIN a1 a USING (vec_id)
          WHERE corpus.vec_id % {_QUERY_MOD} = 0),
    scored AS (SELECT q.query_id, c.vec_id,
                      {cosine_sql("qv", "cv2")} AS cosine
               FROM c JOIN q USING (cell)),
    ranked AS (SELECT *, row_number() OVER (
                 PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
               FROM scored)
    SELECT query_id, vec_id, rank, cosine FROM ranked WHERE rank <= 5
"""


@register("q85_ann_ivf_kmeans", oracle=_Q85_ORACLE)
def q85_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.operators.similarity import kmeans_refine

    corpus = _corpus(spark, sf_dir)
    refined = kmeans_refine(corpus, "vec_id", "embedding", _centroids(corpus), iters=1)
    out = ivf_topk(
        corpus, _queries(spark, sf_dir), refined, "vec_id", "embedding", k=5
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


# ---------------------------------------------------------------------------
# q86 — SemDeDup (Abbas et al. 2023): semantic dedup over a corpus
# salted with exact-direction duplicates (scaled copies, cosine 1.0).
# Cells from the q44 seed centroids; pairs mined within cells only;
# representative = min id of each connected component. The oracle
# replays assignment + pairing + a recursive-CTE CC.
# ---------------------------------------------------------------------------
_Q86_THRESH = 0.99

_Q86_CORPUS_SQL = """
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    UNION ALL
    SELECT vec_id + 100000 AS vec_id,
           list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2.0) AS v
    FROM embeddings WHERE vec_id % 7 = 0
"""

_Q86_ORACLE = f"""
    WITH RECURSIVE corpus AS ({_Q86_CORPUS_SQL}),
    cents AS ({_SEED_SQL}),
    assign AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT corpus.vec_id, cents.cid,
               row_number() OVER (
                 PARTITION BY corpus.vec_id
                 ORDER BY {cosine_sql("v", "cv")} DESC, cents.cid) AS rn
        FROM corpus CROSS JOIN cents
      ) WHERE rn = 1),
    cc AS (SELECT corpus.vec_id, corpus.v, assign.cell
           FROM corpus JOIN assign USING (vec_id)),
    pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM cc a JOIN cc b
                ON a.cell = b.cell AND a.vec_id < b.vec_id
              WHERE {cosine_sql("a.v", "b.v")} >= {_Q86_THRESH}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(node, label) AS (
      SELECT vec_id, vec_id FROM cc
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node)
    SELECT cc.vec_id, cc.cell, comp.component,
           (cc.vec_id = comp.component) AS keep
    FROM cc JOIN comp ON cc.vec_id = comp.node
"""


@register("q86_semantic_dedup", oracle=_Q86_ORACLE)
def q86_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.operators.similarity import semantic_dedup

    base = _corpus(spark, sf_dir)
    scaled = base.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            to_double_array(F.col("embedding")), lambda x: x * 2.0
        ).alias("embedding"),
    )
    corpus = base.select(
        "vec_id", to_double_array(F.col("embedding")).alias("embedding")
    ).unionByName(scaled)
    return semantic_dedup(
        corpus, "vec_id", "embedding", _centroids(base), threshold=_Q86_THRESH
    )


# ---------------------------------------------------------------------------
# q93 — IVF multi-probe: each query scans its TWO nearest cells
# (nprobe=2), recovering neighbors that straddle a cell boundary for
# 2× scan cost — the standard production IVF recall knob. Oracle:
# rank cells per query, keep rn <= 2, same candidate union.
# ---------------------------------------------------------------------------
_Q93_NPROBE = 2

_Q93_ORACLE = f"""
    WITH cents AS ({_SEED_SQL}),
    corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    assign AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT corpus.vec_id, cents.cid,
               row_number() OVER (
                 PARTITION BY corpus.vec_id
                 ORDER BY {cosine_sql("v", "cv")} DESC, cents.cid) AS rn
        FROM corpus CROSS JOIN cents
      ) WHERE rn = 1),
    qprobe AS (
      SELECT vec_id AS query_id, cid AS cell FROM (
        SELECT corpus.vec_id, cents.cid,
               row_number() OVER (
                 PARTITION BY corpus.vec_id
                 ORDER BY {cosine_sql("v", "cv")} DESC, cents.cid) AS rn
        FROM corpus CROSS JOIN cents
        WHERE corpus.vec_id % {_QUERY_MOD} = 0
      ) WHERE rn <= {_Q93_NPROBE}),
    c AS (SELECT a.cell, corpus.vec_id, corpus.v AS cv2
          FROM corpus JOIN assign a USING (vec_id)),
    q AS (SELECT qp.cell, qp.query_id, corpus.v AS qv
          FROM qprobe qp JOIN corpus ON corpus.vec_id = qp.query_id),
    scored AS (SELECT q.query_id, c.vec_id,
                      {cosine_sql("qv", "cv2")} AS cosine
               FROM c JOIN q USING (cell)),
    ranked AS (SELECT *, row_number() OVER (
                 PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
               FROM scored)
    SELECT query_id, vec_id, rank, cosine FROM ranked WHERE rank <= 5
"""


@register("q93_ann_ivf_multiprobe", oracle=_Q93_ORACLE)
def q93_ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus(spark, sf_dir)
    out = ivf_topk(
        corpus,
        _queries(spark, sf_dir),
        _centroids(corpus),
        "vec_id",
        "embedding",
        k=5,
        nprobe=_Q93_NPROBE,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


# ---------------------------------------------------------------------------
# q116 — density-based pruning (round 5): rank every vector by mean
# cosine to its k approximate NNs (q97's graph, out-edges only) and
# drop the densest 20% — the SSL-prototypes/SemDeDup-family
# diversification heuristic. The global rank goes through
# bucketed_global_rank on the quantized density key (the q29 operator
# reused on a double-valued score), so there is NO single-partition
# window anywhere; the oracle mirrors the quantized key ordering.
# ---------------------------------------------------------------------------
_Q116_DROP = 0.2

_Q116_ORACLE = f"""
    WITH corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv,
                           {srp_bucket_sql("CAST(embedding AS DOUBLE[])", _PLANES)} AS bucket
                    FROM embeddings),
    qp AS (SELECT vec_id AS src, cv AS qv,
                  unnest(list_prepend(bucket,
                    list_transform(range(0, {_PLANES}), j -> xor(bucket, 1 << j)))) AS bucket
           FROM corpus),
    scored AS (SELECT qp.src, corpus.vec_id,
                      {cosine_sql("qv", "cv")} AS cosine
               FROM corpus JOIN qp USING (bucket)
               WHERE qp.src <> corpus.vec_id),
    ranked AS (SELECT *, row_number() OVER (
                 PARTITION BY src ORDER BY cosine DESC, vec_id) AS rank
               FROM scored),
    edges AS (SELECT src, cosine FROM ranked WHERE rank <= {_Q97_K}),
    dens AS (SELECT src, CAST(count(*) AS BIGINT) AS degree,
                    {dround_sql("avg(cosine)", 6)} AS density
             FROM edges GROUP BY src),
    tot AS (SELECT count(*) AS n FROM dens),
    rk AS (SELECT *, row_number() OVER (
             ORDER BY floor((1.0 - density) * 1000000.0 + 0.5), src) AS rank
           FROM dens)
    SELECT src AS vec_id, degree, density, CAST(rank AS BIGINT) AS rank,
           rank > floor({_Q116_DROP} * (SELECT n FROM tot)) AS kept
    FROM rk
"""


@register("q116_density_prune", oracle=_Q116_ORACLE)
def q116_density_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.operators.similarity import density_prune

    return density_prune(
        _corpus(spark, sf_dir),
        "vec_id",
        "embedding",
        k=_Q97_K,
        planes=_PLANES,
        drop_frac=_Q116_DROP,
    )


# ---------------------------------------------------------------------------
# q121 — per-dimension embedding profile (round 5): mean / population
# std (closed form from two averages — NOT engine stddev, whose
# Welford orderings differ across engines) / integer |z|>3 outlier
# count per dimension. The feature-scaling audit before
# standardization or int8 quantization. Oracle unnests with explicit
# ordinality structs (the q101 spans pattern).
# ---------------------------------------------------------------------------
_Q121_ZCUT = 3.0

_Q121_ORACLE = f"""
    WITH vals AS (
      SELECT u.s.i - 1 AS dim, u.s.x AS x
      FROM (SELECT CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
           unnest(list_transform(cv, (x, i) -> {{'x': x, 'i': i}})) AS u(s)
    ),
    stats AS (
      SELECT dim, avg(x) AS m, avg(x * x) AS m2,
             sqrt(greatest(avg(x * x) - avg(x) * avg(x), 0.0)) AS sd
      FROM vals GROUP BY dim
    ),
    outl AS (
      SELECT v.dim, count(*) AS n_outliers
      FROM vals v JOIN stats s ON s.dim = v.dim
      WHERE abs(v.x - s.m) > {_Q121_ZCUT} * s.sd
      GROUP BY v.dim
    )
    SELECT CAST(s.dim AS BIGINT) AS dim,
           {dround_sql("s.m", 6)} AS mean_v,
           {dround_sql("s.sd", 6)} AS std_v,
           CAST(coalesce(o.n_outliers, 0) AS BIGINT) AS n_outliers
    FROM stats s LEFT JOIN outl o ON o.dim = s.dim
"""


@register("q121_embedding_dim_profile", oracle=_Q121_ORACLE)
def q121_embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.operators.similarity import embedding_dim_profile

    return embedding_dim_profile(
        _corpus(spark, sf_dir), "vec_id", "embedding", z_cut=_Q121_ZCUT
    )


# ---------------------------------------------------------------------------
# q130 — product-quantization ADC top-k: deterministic 16-word codebook
# (seeded TakeOrdered, own perm slot), map-only literal encode to m=8
# codes, asymmetric-distance scan over codes only (64× less IO than
# raw doubles at dim=64), partitioned per-query rank on the ROUNDED
# distance so cross-engine ULP noise can't flip an ordering. The
# oracle derives the identical codebook in SQL and mirrors the
# fixed-order j-ascending distance sum.
# ---------------------------------------------------------------------------
_PQ_KS = 16
_PQ_M = 8
_PQ_SUB = 8  # 64-dim / 8 subspaces
_PQ_K = 10
_PQ_SEED_SQL = seed_centroids_sql(
    "embeddings", "vec_id", "embedding", _PQ_KS, perm=PQ_SEED_PERM
)

_Q130_ORACLE = f"""
    WITH cb AS (SELECT cid, cv AS w FROM ({_PQ_SEED_SQL})),
    sub AS (SELECT j FROM range(0, {_PQ_M}) t(j)),
    corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    cd AS (SELECT corpus.vec_id, cb.cid, sub.j,
                  {pq_d2_sql("cv", "j", _PQ_SUB)} AS d2
           FROM corpus CROSS JOIN cb CROSS JOIN sub),
    codes AS (SELECT vec_id, j, cid AS code FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY vec_id, j ORDER BY d2, cid) AS rn FROM cd)
              WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, cv AS qv FROM corpus
          WHERE vec_id % {_QUERY_MOD} = 0),
    dt AS (SELECT query_id, cb.cid, sub.j,
                  {pq_d2_sql("qv", "j", _PQ_SUB)} AS d2
           FROM q CROSS JOIN cb CROSS JOIN sub),
    adc AS (SELECT dt.query_id, codes.vec_id,
                   {dround_sql("list_aggregate(list(dt.d2 ORDER BY dt.j), 'sum')", 6)} AS adc_d2
            FROM codes JOIN dt ON codes.j = dt.j AND codes.code = dt.cid
            GROUP BY dt.query_id, codes.vec_id),
    ranked AS (SELECT *, row_number() OVER (
                 PARTITION BY query_id ORDER BY adc_d2, vec_id) AS rank
               FROM adc)
    SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank, adc_d2
    FROM ranked WHERE rank <= {_PQ_K}
"""


@register("q130_pq_adc_topk", oracle=_Q130_ORACLE)
def q130_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebook,
    )

    corpus = _corpus(spark, sf_dir)
    cb = pq_codebook(corpus, "vec_id", "embedding", ks=_PQ_KS)
    return pq_adc_topk(
        corpus,
        _queries(spark, sf_dir),
        "vec_id",
        "embedding",
        cb,
        m=_PQ_M,
        k=_PQ_K,
    )


# ---------------------------------------------------------------------------
# q131 — contrastive hard-negative mining: per query vector, the k most
# cosine-similar corpus vectors with a DIFFERENT label, found via the
# multi-probe SRP-LSH bucket join (probe expansion on the broadcast
# query side only; label predicate applied map-side before the rank
# shuffle). The pairs an embedding/contrastive trainer feeds as
# in-batch hard negatives.
# ---------------------------------------------------------------------------
_Q131_K = 5

_Q131_ORACLE = f"""
    WITH corpus AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS cv,
                           {srp_bucket_sql("CAST(embedding AS DOUBLE[])", _PLANES)} AS bucket
                    FROM embeddings),
    q AS (SELECT vec_id AS query_id, label AS qlabel, cv AS qv, bucket
          FROM corpus WHERE vec_id % {_QUERY_MOD} = 0),
    qp AS (SELECT query_id, qlabel, qv,
                  unnest(list_prepend(bucket,
                    list_transform(range(0, {_PLANES}), j -> xor(bucket, 1 << j)))) AS bucket
           FROM q),
    scored AS (SELECT qp.query_id, corpus.vec_id, corpus.label,
                      {cosine_sql("qv", "cv")} AS cosine
               FROM corpus JOIN qp USING (bucket)
               WHERE corpus.label <> qp.qlabel),
    ranked AS (SELECT *, row_number() OVER (
                 PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
               FROM scored)
    SELECT query_id, vec_id, label, CAST(rank AS BIGINT) AS rank, cosine
    FROM ranked WHERE rank <= {_Q131_K}
"""


@register("q131_hard_negatives", oracle=_Q131_ORACLE)
def q131_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = srp_lsh_topk(
        _corpus(spark, sf_dir),
        _queries(spark, sf_dir),
        "vec_id",
        "embedding",
        k=_Q131_K,
        planes=_PLANES,
        hamming_probes=1,
        neg_label_col="label",
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


# ---------------------------------------------------------------------------
# q133 — cluster-balanced sampling: cap each IVF cell at CAP vectors,
# chosen by a seeded-hash order (reproducible at any parallelism, no
# RNG state). The diversity-preserving subsample a pretraining mix
# wants: dense regions of embedding space can't crowd out sparse ones
# the way a uniform sample lets them. Cell assignment reuses q44's
# coarse quantizer (one map-only pass at any k); the cap is
# a per-cell window rank — partitioned by cell, never global.
# ---------------------------------------------------------------------------
_Q133_CAP = 20
_Q133_PERM = 983  # perm-family slot for the within-cell sampling order
_Q133_A, _Q133_B = seed_constants(_Q133_PERM)

_Q133_ORACLE = f"""
    WITH cents AS ({_SEED_SQL}),
    corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    assign AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT corpus.vec_id, cents.cid,
               row_number() OVER (
                 PARTITION BY corpus.vec_id
                 ORDER BY {cosine_sql("v", "cv")} DESC, cents.cid) AS rn
        FROM corpus CROSS JOIN cents
      ) WHERE rn = 1),
    ranked AS (SELECT vec_id, cell,
                 row_number() OVER (PARTITION BY cell
                   ORDER BY ({_Q133_A} * (vec_id % {P}) + {_Q133_B}) % {P}, vec_id) AS rank
               FROM assign)
    SELECT vec_id, cell, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {_Q133_CAP}
"""


@register("q133_cluster_balanced_sample", oracle=_Q133_ORACLE)
def q133_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from anime_data_pipeline_spark.operators.similarity import assign_cells

    raw = _corpus(spark, sf_dir)
    corpus = raw.select(
        "vec_id", to_double_array(F.col("embedding")).alias("v")
    )
    assigned = assign_cells(corpus, "v", _centroids(raw), out_col="cell")
    hk = (
        F.lit(_Q133_A) * (F.col("vec_id").cast("long") % F.lit(P)) + F.lit(_Q133_B)
    ) % F.lit(P)
    w = W.partitionBy("cell").orderBy(hk.asc(), F.col("vec_id").asc())
    return (
        assigned.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _Q133_CAP)
        .select("vec_id", "cell", "rank")
    )


# ---------------------------------------------------------------------------
# q136 — cross-lingual margin-based bitext mining (Artetxe & Schwenk
# margin criterion, the CCMatrix/NLLB mining step): candidate en↔de
# pairs from the SRP bucket join (Hamming-1 probes on the en side
# only), margin(x,y) = cos(x,y) / (0.5·(avgₖNN(x) + avgₖNN(y))) with
# the k-NN averages taken over each side's own candidate set, keep
# margin ≥ threshold. Every window is partitioned (by src or by tgt);
# the per-side averages are id-keyed aggregates joined back — no
# global sort, no all-pairs: the candidate set is bucket-pruned
# exactly like q42/q48.
# ---------------------------------------------------------------------------
_Q136_K = 4
_Q136_MARGIN = 1.0

_Q136_ORACLE = f"""
    WITH emb AS (SELECT e.vec_id, d.lang, CAST(e.embedding AS DOUBLE[]) AS v,
                        {srp_bucket_sql("CAST(e.embedding AS DOUBLE[])", _PLANES)} AS bucket
                 FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
    x AS (SELECT vec_id AS src_id, v AS xv,
                 unnest(list_prepend(bucket,
                   list_transform(range(0, {_PLANES}), j -> xor(bucket, 1 << j)))) AS bucket
          FROM emb WHERE lang = 'en'),
    y AS (SELECT vec_id AS tgt_id, v AS yv, bucket FROM emb WHERE lang = 'de'),
    cand AS (SELECT x.src_id, y.tgt_id,
                    {cosine_sql("xv", "yv")} AS c
             FROM x JOIN y USING (bucket)),
    rk AS (SELECT src_id, tgt_id, c,
                  row_number() OVER (PARTITION BY src_id ORDER BY c DESC, tgt_id) AS rx,
                  row_number() OVER (PARTITION BY tgt_id ORDER BY c DESC, src_id) AS ry
           FROM cand),
    ax AS (SELECT src_id, {dround_sql("avg(c)", 6)} AS ax
           FROM rk WHERE rx <= {_Q136_K} GROUP BY src_id),
    ay AS (SELECT tgt_id, {dround_sql("avg(c)", 6)} AS ay
           FROM rk WHERE ry <= {_Q136_K} GROUP BY tgt_id),
    scored AS (SELECT cand.src_id, cand.tgt_id,
                      {dround_sql("c", 6)} AS cosine,
                      {dround_sql("c / (0.5 * (ax + ay))", 6)} AS margin
               FROM cand JOIN ax USING (src_id) JOIN ay USING (tgt_id))
    SELECT src_id, tgt_id, cosine, margin
    FROM scored WHERE margin >= {_Q136_MARGIN}
"""


@register("q136_margin_bitext_mining", oracle=_Q136_ORACLE)
def q136_margin_bitext_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from anime_data_pipeline_spark.operators.similarity import (
        dot,
        sq_norm,
        srp_bucket,
    )

    emb = _corpus(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    base = (
        emb.join(docs, emb["vec_id"] == docs["doc_id"])
        .select("vec_id", "lang", to_double_array(F.col("embedding")).alias("v"))
        .withColumn("bucket0", srp_bucket("v", _PLANES, dim=64))
    )
    probe_set = F.array(
        F.col("bucket0"),
        *[F.col("bucket0").bitwiseXOR(F.lit(1 << j)) for j in range(_PLANES)],
    )
    x = base.filter(F.col("lang") == "en").select(
        F.col("vec_id").alias("src_id"),
        F.col("v").alias("xv"),
        F.explode(probe_set).alias("bucket"),
    )
    y = base.filter(F.col("lang") == "de").select(
        F.col("vec_id").alias("tgt_id"),
        F.col("v").alias("yv"),
        F.col("bucket0").alias("bucket"),
    )
    # Persisted stage boundary: cand feeds the two kNN-average aggs AND
    # the final join — without it the bucket join + cosine re-derive 3×
    # (measured 20 exchanges → 8).
    cand = x.join(y, "bucket").select(
        "src_id",
        "tgt_id",
        (
            dot(F.col("xv"), F.col("yv"))
            / (F.sqrt(sq_norm(F.col("xv"))) * F.sqrt(sq_norm(F.col("yv"))))
        ).alias("c"),
    ).persist()
    wx = W.partitionBy("src_id").orderBy(F.desc("c"), F.asc("tgt_id"))
    wy = W.partitionBy("tgt_id").orderBy(F.desc("c"), F.asc("src_id"))
    rk = cand.withColumn("rx", F.row_number().over(wx)).withColumn(
        "ry", F.row_number().over(wy)
    )
    ax = (
        rk.filter(F.col("rx") <= _Q136_K)
        .groupBy("src_id")
        .agg(dround(F.avg("c"), 6).alias("ax"))
    )
    ay = (
        rk.filter(F.col("ry") <= _Q136_K)
        .groupBy("tgt_id")
        .agg(dround(F.avg("c"), 6).alias("ay"))
    )
    return (
        cand.join(ax, "src_id")
        .join(ay, "tgt_id")
        .select(
            "src_id",
            "tgt_id",
            dround(F.col("c"), 6).alias("cosine"),
            dround(F.col("c") / (F.lit(0.5) * (F.col("ax") + F.col("ay"))), 6).alias(
                "margin"
            ),
        )
        .filter(F.col("margin") >= _Q136_MARGIN)
    )


# ---------------------------------------------------------------------------
# q139 — ANN recall audit: recall@k of the multi-probe SRP-LSH search
# against the exact brute-force ground truth, per query. The quality
# gate an ANN deployment runs on a sampled query set before trusting
# the index at full scale — here the sample is the same broadcast
# query set, so the exact side stays a broadcast-scored scan and the
# audit adds one (query, id)-keyed join + a per-query agg.
# ---------------------------------------------------------------------------
_Q139_K = 10

_Q139_ORACLE = f"""
    WITH corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv,
                           {srp_bucket_sql("CAST(embedding AS DOUBLE[])", _PLANES)} AS bucket
                    FROM embeddings),
    q AS (SELECT vec_id AS query_id, cv AS qv, bucket FROM corpus
          WHERE vec_id % {_QUERY_MOD} = 0),
    exact AS (SELECT query_id, vec_id FROM (
        SELECT q.query_id, corpus.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY {cosine_sql("qv", "cv")} DESC, corpus.vec_id) AS rank
        FROM corpus CROSS JOIN q) WHERE rank <= {_Q139_K}),
    qp AS (SELECT query_id, qv,
                  unnest(list_prepend(bucket,
                    list_transform(range(0, {_PLANES}), j -> xor(bucket, 1 << j)))) AS bucket
           FROM q),
    approx AS (SELECT query_id, vec_id FROM (
        SELECT qp.query_id, corpus.vec_id,
               row_number() OVER (PARTITION BY qp.query_id
                 ORDER BY {cosine_sql("qv", "cv")} DESC, corpus.vec_id) AS rank
        FROM corpus JOIN qp USING (bucket)) WHERE rank <= {_Q139_K})
    SELECT e.query_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(a.vec_id) AS BIGINT) AS n_hits,
           {dround_sql(f"count(a.vec_id) / CAST(count(*) AS DOUBLE)", 6)} AS recall
    FROM exact e LEFT JOIN approx a
      ON e.query_id = a.query_id AND e.vec_id = a.vec_id
    GROUP BY e.query_id
"""


@register("q139_ann_recall_audit", oracle=_Q139_ORACLE)
def q139_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus(spark, sf_dir)
    queries = _queries(spark, sf_dir)
    exact = brute_force_topk(corpus, queries, "vec_id", "embedding", k=_Q139_K).select(
        "query_id", "vec_id"
    )
    approx = srp_lsh_topk(
        corpus,
        queries,
        "vec_id",
        "embedding",
        k=_Q139_K,
        planes=_PLANES,
        hamming_probes=1,
    ).select(F.col("query_id").alias("a_qid"), F.col("vec_id").alias("a_vid"))
    return (
        exact.join(
            approx,
            (exact["query_id"] == approx["a_qid"])
            & (exact["vec_id"] == approx["a_vid"]),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.count("a_vid").cast("long").alias("n_hits"),
            dround(
                F.count("a_vid") / F.count(F.lit(1)).cast("double"), 6
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# q142 — IVF index freshness/drift audit: assign an incoming batch
# (odd vec_ids) to the centroids trained on the INDEXED history (even
# vec_ids) and compare per-cell occupancy shares and mean
# assignment-cosine between history and batch — the monitoring query
# that tells a serving ANN index "your coarse quantizer has drifted,
# retrain". Everything is cell-keyed: two assigns (map-only), two
# |cells|-row aggs, one join on cell. The shares compare against 1-row
# totals via broadcast.
# ---------------------------------------------------------------------------
_Q142_SEED_SQL = seed_centroids_sql(
    "(SELECT * FROM embeddings WHERE vec_id % 2 = 0)",
    "vec_id",
    "embedding",
    _CENTROID_K,
)

_Q142_ORACLE = f"""
    WITH cents AS ({_Q142_SEED_SQL}),
    corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                      vec_id % 2 = 0 AS is_hist
               FROM embeddings),
    assign AS (
      SELECT vec_id, is_hist, cid AS cell, c FROM (
        SELECT corpus.vec_id, corpus.is_hist, cents.cid,
               {cosine_sql("v", "cv")} AS c,
               row_number() OVER (
                 PARTITION BY corpus.vec_id
                 ORDER BY {cosine_sql("v", "cv")} DESC, cents.cid) AS rn
        FROM corpus CROSS JOIN cents
      ) WHERE rn = 1),
    hist AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_hist,
                    {dround_sql("avg(c)", 6)} AS cos_hist
             FROM assign WHERE is_hist GROUP BY cell),
    newb AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_new,
                    {dround_sql("avg(c)", 6)} AS cos_new
             FROM assign WHERE NOT is_hist GROUP BY cell),
    tot AS (SELECT sum(CASE WHEN is_hist THEN 1 ELSE 0 END) AS th,
                   sum(CASE WHEN is_hist THEN 0 ELSE 1 END) AS tn
            FROM assign)
    SELECT coalesce(h.cell, n.cell) AS cell,
           CAST(coalesce(h.n_hist, 0) AS BIGINT) AS n_hist,
           CAST(coalesce(n.n_new, 0) AS BIGINT) AS n_new,
           {dround_sql("coalesce(h.n_hist, 0) / CAST(t.th AS DOUBLE)", 6)} AS hist_share,
           {dround_sql("coalesce(n.n_new, 0) / CAST(t.tn AS DOUBLE)", 6)} AS new_share,
           coalesce(h.cos_hist, 0.0) AS cos_hist,
           coalesce(n.cos_new, 0.0) AS cos_new,
           (abs(coalesce(n.n_new, 0) / CAST(t.tn AS DOUBLE)
                - coalesce(h.n_hist, 0) / CAST(t.th AS DOUBLE)) > 0.02) AS drift_flag
    FROM hist h FULL OUTER JOIN newb n ON h.cell = n.cell
    CROSS JOIN tot t
"""


@register("q142_ivf_drift_audit", oracle=_Q142_ORACLE)
def q142_ivf_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.operators.similarity import assign_cells

    raw = _corpus(spark, sf_dir)
    cents = seed_centroids(
        raw.filter(F.col("vec_id") % 2 == 0), "vec_id", "embedding", _CENTROID_K
    )
    corpus = raw.select(
        "vec_id",
        to_double_array(F.col("embedding")).alias("v"),
        (F.col("vec_id") % 2 == 0).alias("is_hist"),
    )
    assigned = assign_cells(corpus, "v", cents, out_col="cell")
    # assignment cosine to the OWN cell centroid, recomputed against the
    # tiny centroid table (broadcast) — assign_cells returns the argmax
    # cell; the audit also needs its score.
    cent_rows = [(int(cid), [float(x) for x in cv]) for cid, cv in cents]
    cent_df = spark.createDataFrame(cent_rows, "cell long, cv array<double>")
    from anime_data_pipeline_spark.operators.similarity import cosine

    scored = assigned.join(F.broadcast(cent_df), "cell").withColumn(
        "c", cosine(F.col("v"), F.col("cv"))
    )
    # one assignment pass: conditional aggregates per cell, then one
    # global aggregate over those k rows that carries them along with
    # the totals (a null is_hist counts as new only in ``tn``, as the
    # oracle's NOT-filter and CASE total have it)
    h = F.col("is_hist")
    cells = scored.groupBy("cell").agg(
        F.count(F.when(h, 1)).alias("n_hist"),
        F.count(F.when(~h, 1)).alias("n_new"),
        F.count(F.lit(1)).alias("n"),
        F.coalesce(dround(F.avg(F.when(h, F.col("c"))), 6), F.lit(0.0)).alias("cos_hist"),
        F.coalesce(dround(F.avg(F.when(~h, F.col("c"))), 6), F.lit(0.0)).alias("cos_new"),
    )
    hs = F.col("n_hist") / F.col("th").cast("double")
    ns = F.col("n_new") / F.col("tn").cast("double")
    return (
        cells.agg(
            F.collect_list(
                F.struct("cell", "n_hist", "n_new", "cos_hist", "cos_new")
            ).alias("rows"),
            F.sum("n_hist").alias("th"),
            (F.sum("n") - F.sum("n_hist")).alias("tn"),
        )
        .select(F.inline("rows"), "th", "tn")
        .filter(F.col("n_hist") + F.col("n_new") > 0)
        .select(
            "cell",
            "n_hist",
            "n_new",
            dround(hs, 6).alias("hist_share"),
            dround(ns, 6).alias("new_share"),
            "cos_hist",
            "cos_new",
            (F.abs(ns - hs) > 0.02).alias("drift_flag"),
        )
    )


# ---------------------------------------------------------------------------
# q148 — kNN label propagation (one round): every vector takes the
# majority label of its top-k approximate neighbors (q97's SRP-bucket
# graph), ties by lexicographically-smallest label — the
# semi-supervised label-smoothing / label-noise-detection step over an
# embedding space. The graph reuses the bucket-pruned edge build (no
# N²); voting is one (src, label) agg and a per-src argmax window.
# Output flags where the propagated label disagrees with the stored
# one — the candidate mislabels.
# ---------------------------------------------------------------------------
_Q148_ORACLE = f"""
    WITH corpus AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS cv,
                           {srp_bucket_sql("CAST(embedding AS DOUBLE[])", _PLANES)} AS bucket
                    FROM embeddings),
    qp AS (SELECT vec_id AS src, cv AS qv,
                  unnest(list_prepend(bucket,
                    list_transform(range(0, {_PLANES}), j -> xor(bucket, 1 << j)))) AS bucket
           FROM corpus),
    scored AS (SELECT qp.src, corpus.vec_id, corpus.label,
                      {cosine_sql("qv", "cv")} AS cosine
               FROM corpus JOIN qp USING (bucket)
               WHERE qp.src <> corpus.vec_id),
    ranked AS (SELECT *, row_number() OVER (
                 PARTITION BY src ORDER BY cosine DESC, vec_id) AS rank
               FROM scored),
    edges AS (SELECT src, label FROM ranked WHERE rank <= {_Q97_K}),
    votes AS (SELECT src, label, CAST(count(*) AS BIGINT) AS n_votes
              FROM edges GROUP BY src, label),
    win AS (SELECT *, row_number() OVER (
              PARTITION BY src ORDER BY n_votes DESC, label) AS rn
            FROM votes)
    SELECT c.vec_id, c.label AS own_label, w.label AS propagated_label,
           w.n_votes,
           (c.label <> w.label) AS relabel_candidate
    FROM win w JOIN (SELECT vec_id, label FROM corpus) c ON c.vec_id = w.src
    WHERE w.rn = 1
"""


@register("q148_label_propagation", oracle=_Q148_ORACLE)
def q148_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    corpus = _corpus(spark, sf_dir)
    edges = knn_graph(corpus, "vec_id", "embedding", k=_Q97_K, planes=_PLANES).select(
        "src", "dst"
    )
    labels = corpus.select("vec_id", "label")
    votes = (
        edges.join(
            labels.select(
                F.col("vec_id").alias("dst"), F.col("label").alias("nlabel")
            ),
            "dst",
        )
        .groupBy("src", "nlabel")
        .agg(F.count(F.lit(1)).cast("long").alias("n_votes"))
    )
    w = W.partitionBy("src").orderBy(F.desc("n_votes"), F.asc("nlabel"))
    winner = votes.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        winner.join(labels, winner["src"] == labels["vec_id"])
        .select(
            "vec_id",
            F.col("label").alias("own_label"),
            F.col("nlabel").alias("propagated_label"),
            "n_votes",
            (F.col("label") != F.col("nlabel")).alias("relabel_candidate"),
        )
    )


# ---------------------------------------------------------------------------
# q183 — retrieval-quality metrics (round 7: the IR-eval layer over the
# ANN family — MRR, recall@k, and binary-gain nDCG@k of exact cosine
# retrieval against label relevance; q139 audits INDEX recall vs the
# exact search, this audits the EMBEDDING SPACE itself against ground
# truth, the standard eval before an embedding corpus is trusted for
# hard-negative mining / semantic dedup). Per the repo's libm rule,
# every 1/log2(rank+1) gain is dround-12-ed in BOTH engines before any
# sum (log2 may differ by 1 ulp between JVM and DuckDB); idcg is a
# left fold over the identical dround-12 terms (F.aggregate ↔
# list_reduce). Scale: query side broadcast, scoring map-only, one
# window per query partition, label-size side table broadcast.
# ---------------------------------------------------------------------------
_Q183_K = 10


def _q183_gain_sql(rank_expr: str) -> str:
    return dround_sql(f"1.0 / log2(CAST({rank_expr} AS DOUBLE) + 1.0)", 12)


# Shared per-label metric tail (q183 exact eval + q191 indexed eval):
# CTEs from a ``{topk}`` relation carrying (query_id, q_label, label,
# rank) to per-label (n_queries, mrr, mean_recall, mean_ndcg). Queries
# whose candidate set came back EMPTY (possible for the bucket-pruned
# index, never for brute force) still count, with rr/recall/ndcg = 0 —
# the IR convention; hence the LEFT JOIN from the query set.
def _q183_metric_ctes(topk: str, sfx: str) -> str:
    return f"""
    hits{sfx} AS (SELECT query_id,
                    coalesce(max(CASE WHEN label = q_label
                                      THEN 1.0 / rank END), 0.0) AS rr,
                    CAST(sum(CASE WHEN label = q_label THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_hits,
                    sum(CASE WHEN label = q_label
                             THEN {_q183_gain_sql("rank")} ELSE 0.0 END) AS dcg
             FROM {topk} GROUP BY query_id),
    perq{sfx} AS (SELECT q.query_id, q.q_label,
                    coalesce(h.rr, 0.0) AS rr,
                    coalesce(h.n_hits, 0) AS n_hits,
                    coalesce(h.dcg, 0.0) AS dcg
             FROM q LEFT JOIN hits{sfx} h USING (query_id)),
    mets{sfx} AS (SELECT p.query_id, p.q_label, p.rr, p.n_hits,
                    CAST(p.n_hits AS DOUBLE) / least({_Q183_K}, s.n_rel) AS recall,
                    p.dcg / list_reduce(
                      list_transform(range(1, least({_Q183_K}, s.n_rel) + 1),
                                     r -> {_q183_gain_sql("r")}),
                      (a, b) -> a + b) AS ndcg
             FROM perq{sfx} p JOIN sizes s ON p.q_label = s.label),
    agg{sfx} AS (SELECT q_label AS label, CAST(count(*) AS BIGINT) AS n_queries,
           {dround_sql("avg(rr)", 6)} AS mrr,
           {dround_sql("avg(recall)", 6)} AS mean_recall,
           {dround_sql("avg(ndcg)", 6)} AS mean_ndcg
    FROM mets{sfx} GROUP BY q_label)"""


_Q183_SHARED_HEAD = f"""
    corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv, label
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
                 label AS q_label
          FROM embeddings WHERE vec_id % {_QUERY_MOD} = 0),
    sizes AS (SELECT label, count(*) - 1 AS n_rel FROM corpus
              GROUP BY label HAVING count(*) >= 2)"""

_Q183_EXACT_TOPK = f"""
    scored AS (SELECT q.query_id, q.q_label, corpus.vec_id, corpus.label,
                      {cosine_sql("qv", "cv")} AS cosine
               FROM corpus JOIN q ON corpus.vec_id <> q.query_id),
    ranked AS (SELECT *, row_number() OVER (
                 PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
               FROM scored),
    topk AS (SELECT * FROM ranked WHERE rank <= {_Q183_K})"""

_Q183_ORACLE = f"""
    WITH {_Q183_SHARED_HEAD},
    {_Q183_EXACT_TOPK},
    {_q183_metric_ctes("topk", "")}
    SELECT label, n_queries, mrr, mean_recall, mean_ndcg FROM agg
"""


def _perlabel_retrieval_metrics(topk: DataFrame, corpus: DataFrame) -> DataFrame:
    """Shared metric fold (q183 exact / q191 indexed): per-label
    (n_queries, mrr, mean_recall@k, mean_ndcg@k) from a top-k relation
    (query_id, vec_id, rank). Queries with an EMPTY candidate set
    still count with all-zero metrics (left join from the broadcast
    query set — for the bucket-pruned index a query's probed buckets
    can contain only itself). Per the repo's libm rule every
    1/log2(rank+1) gain is dround-12-ed in BOTH engines before any
    sum; idcg is a left fold over the identical dround-12 terms
    (F.aggregate ↔ list_reduce). Scale: the topk relation is
    queries×k rows, every join against it is broadcast, the folds are
    per-row column math — nothing here grows with the corpus."""
    labels = corpus.select("vec_id", "label")
    qlab = corpus.filter(F.col("vec_id") % _QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
    )
    gain = dround(1.0 / F.log2(F.col("rank").cast("double") + 1.0), 12)
    hit = F.col("label") == F.col("q_label")
    hits = (
        topk.join(labels, "vec_id")
        .join(F.broadcast(qlab), "query_id")
        .groupBy("query_id")
        .agg(
            F.coalesce(F.max(F.when(hit, 1.0 / F.col("rank"))), F.lit(0.0)).alias("rr"),
            F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias("n_hits"),
            F.sum(F.when(hit, gain).otherwise(0.0)).alias("dcg"),
        )
    )
    perq = (
        qlab.join(F.broadcast(hits), "query_id", "left")
        .withColumn("rr", F.coalesce(F.col("rr"), F.lit(0.0)))
        .withColumn("n_hits", F.coalesce(F.col("n_hits"), F.lit(0).cast("long")))
        .withColumn("dcg", F.coalesce(F.col("dcg"), F.lit(0.0)))
    )
    # singleton labels have no relevant set: recall would be 0/0 and the
    # idcg fold would see an empty (Spark: DESCENDING [1,0]) sequence —
    # drop them in BOTH engines before metrics
    sizes = (
        corpus.groupBy("label")
        .agg((F.count(F.lit(1)) - 1).alias("n_rel"))
        .filter(F.col("n_rel") >= 1)
    )
    m = F.least(F.lit(_Q183_K), F.col("n_rel"))
    idcg = F.aggregate(
        F.sequence(F.lit(1), m.cast("int")),
        F.lit(0.0),
        lambda acc, r: acc + dround(1.0 / F.log2(r.cast("double") + 1.0), 12),
    )
    mets = (
        perq.join(F.broadcast(sizes), perq["q_label"] == sizes["label"])
        .withColumn("recall", F.col("n_hits").cast("double") / m)
        .withColumn("ndcg", F.col("dcg") / idcg)
    )
    return (
        mets.groupBy("q_label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            dround(F.avg("rr"), 6).alias("mrr"),
            dround(F.avg("recall"), 6).alias("mean_recall"),
            dround(F.avg("ndcg"), 6).alias("mean_ndcg"),
        )
        .withColumnRenamed("q_label", "label")
    )


@register("q183_retrieval_metrics", oracle=_Q183_ORACLE)
def q183_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus(spark, sf_dir)
    topk = brute_force_topk(
        corpus,
        _queries(spark, sf_dir),
        "vec_id",
        "embedding",
        k=_Q183_K,
        exclude_self=True,
    )
    return _perlabel_retrieval_metrics(topk, corpus)


# ---------------------------------------------------------------------------
# q191 — INDEXED retrieval metrics + recall delta (round 8: the r7
# verdict's "promote q183's eval to the ANN scale path" — q183's
# brute-force scoring is linear in corpus rows BY DESIGN as ground
# truth, but the production eval scores the INDEX: SRP-LSH with
# Hamming-1 multi-probe generates bucket-pruned candidates, the shared
# metric folds grade them per label, and recall_delta against the
# exact run quantifies exactly what the index costs in quality
# (q139's audit pattern, lifted from per-query recall to the IR
# metric suite). Scale: the corpus is bucketed ONCE (map-only int
# key); only probed buckets are scored; everything downstream of the
# two topk relations is queries×k-row broadcast math. This is the
# query a 100 TB deployment runs nightly — the exact side stays
# feasible there by sampling the query set, which is already how
# _QUERY_MOD defines it.
# ---------------------------------------------------------------------------
_Q191_INDEX_TOPK = f"""
    corpusb AS (SELECT vec_id, cv, label,
                       {srp_bucket_sql("cv", _PLANES)} AS bucket
                FROM corpus),
    qb AS (SELECT query_id, qv, q_label,
                  {srp_bucket_sql("qv", _PLANES)} AS bucket0
           FROM q),
    qp AS (SELECT query_id, qv, q_label,
                  unnest(list_prepend(bucket0,
                    list_transform(range(0, {_PLANES}),
                                   j -> xor(bucket0, 1 << j)))) AS bucket
           FROM qb),
    cand AS (SELECT qp.query_id, qp.q_label, corpusb.vec_id, corpusb.label,
                    {cosine_sql("qv", "cv")} AS cosine
             FROM corpusb JOIN qp USING (bucket)
             WHERE corpusb.vec_id <> qp.query_id),
    ranked_ix AS (SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
                  FROM cand),
    topk_ix AS (SELECT * FROM ranked_ix WHERE rank <= {_Q183_K})"""

_Q191_ORACLE = f"""
    WITH {_Q183_SHARED_HEAD},
    {_Q183_EXACT_TOPK},
    {_Q191_INDEX_TOPK},
    {_q183_metric_ctes("topk", "_ex")},
    {_q183_metric_ctes("topk_ix", "_ix")}
    SELECT ix.label, ix.n_queries, ix.mrr, ix.mean_recall, ix.mean_ndcg,
           {dround_sql("ix.mean_recall - ex.mean_recall", 6)} AS recall_delta
    FROM agg_ix ix JOIN agg_ex ex USING (label)
"""


@register("q191_index_retrieval_metrics", oracle=_Q191_ORACLE)
def q191_index_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    corpus = _corpus(spark, sf_dir)
    queries = _queries(spark, sf_dir)
    # k+1 then self-filter then re-rank: srp_lsh_topk has no
    # exclude_self and self (cosine 1.0) always tops its own bucket,
    # so the re-ranked top-k equals ranking with self excluded. The
    # re-rank window runs over ≤ queries×(k+1) rows — broadcast-scale.
    cand = srp_lsh_topk(
        corpus,
        queries,
        "vec_id",
        "embedding",
        k=_Q183_K + 1,
        planes=_PLANES,
        hamming_probes=1,
    ).filter(F.col("vec_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    topk_ix = (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _Q183_K)
        .select("query_id", "vec_id", "rank")
    )
    exact = brute_force_topk(
        corpus, queries, "vec_id", "embedding", k=_Q183_K, exclude_self=True
    )
    ix = _perlabel_retrieval_metrics(topk_ix, corpus)
    ex = _perlabel_retrieval_metrics(exact, corpus).select(
        F.col("label").alias("ex_label"), F.col("mean_recall").alias("ex_recall")
    )
    return ix.join(F.broadcast(ex), ix["label"] == ex["ex_label"]).select(
        "label",
        "n_queries",
        "mrr",
        "mean_recall",
        "mean_ndcg",
        dround(F.col("mean_recall") - F.col("ex_recall"), 6).alias("recall_delta"),
    )

