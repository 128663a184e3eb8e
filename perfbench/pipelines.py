"""The benchmark pipelines, written against the program's public
functions, plus the traced-run attribution for each.

``run(spark, tr, m, out)`` is one pipeline run: from the first
``sources`` call to the sink's return. It returns what the output
check needs besides the committed files. Every call into a program
layer sits inside ``tr.span(layer, ...)``.

``attribute(spark, tr, m, scratch)`` runs the traced-only attribution
executions that split the lazy work between layers. Each execution goes
through the noop sink (or the real sink) under its own job group; it
returns ``[(layer, group, base_group), ...]``: the layer is charged the
figures of ``group`` less those of ``base_group``.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from perfbench import oracle

SINK = "pipeline.sink"  # job group of the work a lazy pipeline defers to its sink


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(spark, tr, group: str, walls: dict, fn) -> None:
    spark.catalog.clearCache()
    with tr.span("trace", group, group=group):
        t = time.perf_counter()
        fn()
        walls[group] = time.perf_counter() - t


# --------------------------------------------------------------------------
# ep1_metadata
# --------------------------------------------------------------------------
def _ep1_sources(spark, tr, m):
    from anime_data_pipeline_spark.catalog import load_table
    from anime_data_pipeline_spark.sources.aesthetic import read_aesthetic_scores
    from anime_data_pipeline_spark.sources.images import derive_keys
    from anime_data_pipeline_spark.sources.sidecar import parse_rating_tags
    from anime_data_pipeline_spark.sources.vocab import (
        CATEGORY_GENERAL,
        read_tag_vocab,
        vocab_names_by_category,
    )

    d = os.path.dirname(m["paths"]["images"])
    with tr.span("sources", "derive_keys"):
        images = derive_keys(
            load_table(spark, d, "images").select("path", "width", "height", "is_corrupt")
        ).withColumnRenamed("path", "image_key")
    with tr.span("sources", "parse_rating_tags"):
        sidecars = parse_rating_tags(load_table(spark, d, "sidecars")).drop("raw_line")
    with tr.span("sources", "read_aesthetic_scores"):
        scores = read_aesthetic_scores(spark, m["paths"]["scores"])
    with tr.span("sources", "read_tag_vocab"):
        vocab = read_tag_vocab(spark, m["paths"]["vocab"])
        names = [r["name"] for r in vocab_names_by_category(vocab, CATEGORY_GENERAL).collect()]
    return images, sidecars, scores, names


def run_ep1(spark, tr, m, out):
    from anime_data_pipeline_spark.plans.pipeline import PipelineConfig, bucket_report, run_ep1
    from anime_data_pipeline_spark.sources.sinks import write_table

    images, sidecars, scores, names = _ep1_sources(spark, tr, m)
    with tr.span("plans", "run_ep1"):
        meta, audit = run_ep1(images, sidecars, scores, names, PipelineConfig())
    with tr.span("plans", "audit+bucket_report", group=SINK):
        audit_row = audit.collect()[0].asDict()
        report = [
            (r["bucket_reso"]["w"], r["bucket_reso"]["h"], r["n_images"], r["mean_abs_ar_error"])
            for r in bucket_report(meta).collect()
        ]
    with tr.span("sinks", "write_table", group=SINK):
        write_table(meta, out)
    return {"audit": audit_row, "report": report}


def check_ep1(expected, out, info):
    return oracle.check_ep1(expected, out, info["audit"], info["report"])


def attribute_ep1(spark, tr, m, scratch):
    """Cumulative prefix cuts over plans/pipeline.py's stage functions."""
    from anime_data_pipeline_spark.plans.pipeline import (
        PipelineConfig,
        aesthetic_stage,
        bucketing_stage,
        ordering_stage,
        run_ep1,
        sidecar_join_stage,
    )
    from anime_data_pipeline_spark.sources.sinks import write_table

    images, sidecars, scores, names = _ep1_sources(spark, tr.__class__(), m)
    cfg = PipelineConfig()
    walls: dict[str, float] = {}
    prefixes = [("sources", lambda: images)]
    prefixes.append(("operators.bucketing", lambda: bucketing_stage(images, cfg.bucket)))
    prefixes.append(("sources", lambda: sidecar_join_stage(prefixes[1][1](), sidecars)))
    prefixes.append(("sources", lambda: aesthetic_stage(
        prefixes[2][1](), scores, cfg.aesthetic_threshold)[0]))
    prefixes.append(("operators.tags", lambda: ordering_stage(
        prefixes[3][1](), F.array(*[F.lit(v) for v in names]))))
    charges = []
    base = None
    for k, (layer, build) in enumerate(prefixes):
        group = f"cut{k}"
        _timed(spark, tr, group, walls, lambda: _noop(build()))
        charges.append((layer, group, base))
        base = group
    meta, _ = run_ep1(images, sidecars, scores, names, cfg)
    _timed(spark, tr, "cut.meta", walls, lambda: _noop(meta))
    charges.append(("plans", "cut.meta", base))
    _timed(spark, tr, "cut.sink", walls, lambda: write_table(meta, scratch))
    charges.append(("sinks", "cut.sink", "cut.meta"))
    return charges, walls, {}


# --------------------------------------------------------------------------
# llm_curation: the pretraining chain, then semantic dedup of embeddings
# --------------------------------------------------------------------------
def _llm_sources(spark, tr, m):
    from anime_data_pipeline_spark.catalog import load_table

    d = m["paths"]["dir"]
    with tr.span("sources", "load_table"):
        docs = load_table(spark, d, "documents")
        bench = load_table(spark, d, "bench")
        emb = load_table(spark, d, "embeddings")
    return docs, bench, emb


def _packed(docs, bench):
    from anime_data_pipeline_spark.plans.curation import prepare_pretraining_corpus

    c = oracle.CURATION
    return prepare_pretraining_corpus(
        docs, bench, quality_threshold=c["quality_threshold"], n=c["n"], k=c["k"],
        bands=c["bands"], jaccard_threshold=c["jaccard_threshold"],
        contam_n=c["contam_n"], budget=c["budget"],
    )


def _semdedup(tr, emb):
    from anime_data_pipeline_spark.operators.similarity import (
        kmeans_refine,
        seed_centroids,
        semantic_dedup,
    )

    s = oracle.SEMDEDUP
    with tr.span("operators.similarity", "seed_centroids"):
        seeds = seed_centroids(emb, "vec_id", "embedding", s["k"])
    with tr.span("operators.similarity", "kmeans_refine"):
        cents = kmeans_refine(emb, "vec_id", "embedding", seeds, iters=s["iters"])
    with tr.span("operators.similarity", "semantic_dedup"):
        return semantic_dedup(emb, "vec_id", "embedding", cents, threshold=s["threshold"])


def run_llm(spark, tr, m, out):
    from anime_data_pipeline_spark.sources.sinks import write_table

    docs, bench, emb = _llm_sources(spark, tr, m)
    with tr.span("plans", "prepare_pretraining_corpus"):
        packed = _packed(docs, bench)
    with tr.span("sinks", "write_table", group=SINK):
        write_table(packed, os.path.join(out, "packed"))
    spark.catalog.clearCache()  # the chain's persisted stage boundaries
    result = _semdedup(tr, emb)
    with tr.span("sinks", "write_table", group=SINK):
        write_table(result, os.path.join(out, "semdedup"))
    return {}


def check_llm(expected, out, info):
    return oracle.check_corpus(expected["corpus"], os.path.join(out, "packed")) + (
        oracle.check_semdedup(expected["semdedup"], os.path.join(out, "semdedup"))
    )


def attribute_llm(spark, tr, m, scratch):
    """Standalone noop runs of each text operator family on the same
    documents, each charged its time less that of reading them; the
    lazy remainder of the dedup plan; and each sink's share. The eager
    similarity calls are charged through their job groups in the traced
    pipeline run."""
    from anime_data_pipeline_spark.operators.dedup import (
        band_candidates,
        benchmark_contamination,
        minhash_lsh_pairs,
        minhash_signature_expr,
        shingle_hash_sets,
    )
    from anime_data_pipeline_spark.operators.packing import pack_greedy
    from anime_data_pipeline_spark.operators.textstats import language_id, quality_columns
    from anime_data_pipeline_spark.sources.sinks import write_table

    c = oracle.CURATION
    quiet = tr.__class__()
    docs, bench, emb = _llm_sources(spark, quiet, m)
    walls: dict[str, float] = {}
    lsh = lambda: minhash_lsh_pairs(  # noqa: E731
        docs, "doc_id", "text", n=c["n"], k=c["k"], bands=c["bands"],
        threshold=c["jaccard_threshold"])
    weights = docs.select(
        "doc_id", "source", F.size(F.split("text", " ")).cast("long").alias("n_tokens"))
    packed = _packed(docs, bench)
    result = _semdedup(quiet, emb)
    runs = [
        ("sources", "cut.read", None, lambda: _noop(docs)),
        ("operators.textstats", "cut.textstats", "cut.read",
         lambda: _noop(quality_columns(language_id(docs, "text"), "text"))),
        ("operators.dedup", "cut.lsh", "cut.read", lambda: _noop(lsh())),
        ("operators.dedup", "cut.contam", "cut.read",
         lambda: _noop(benchmark_contamination(docs, bench, "doc_id", "text", n=c["contam_n"]))),
        ("operators.packing", "cut.pack", "cut.read",
         lambda: _noop(pack_greedy(weights, "source", "doc_id", "n_tokens", c["budget"]))),
        ("trace", "cut.packed", None, lambda: _noop(packed)),
        ("sinks", "cut.packed.sink", "cut.packed",
         lambda: write_table(packed, os.path.join(scratch, "packed"))),
        ("sources", "cut.read.emb", None, lambda: _noop(emb)),
        ("operators.similarity", "cut.semdedup", "cut.read.emb", lambda: _noop(result)),
        ("sinks", "cut.semdedup.sink", "cut.semdedup",
         lambda: write_table(result, os.path.join(scratch, "semdedup"))),
    ]
    charges = []
    for layer, group, base, fn in runs:
        _timed(spark, tr, group, walls, fn)
        if layer != "trace":
            charges.append((layer, group, base))

    # LSH yield on the same documents: candidate pairs vs pairs that verify
    with tr.span("trace", "lsh counts", group="trace.counts"):
        sig = shingle_hash_sets(docs, "doc_id", "text", c["n"]).withColumn(
            "sig", minhash_signature_expr("hashes", c["k"]))
        n_cand = band_candidates(sig, c["bands"], c["k"] // c["bands"]).count()
        n_ver = lsh().count()
    spark.catalog.clearCache()
    return charges, walls, {
        "operators.dedup.verified_per_candidate": n_ver / n_cand if n_cand else 0.0
    }


WORKLOADS = {
    "ep1_metadata": (run_ep1, check_ep1, attribute_ep1),
    "llm_curation": (run_llm, check_llm, attribute_llm),
}
