"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All queries live in ``anime_data_pipeline_spark/queries/`` and register
themselves in ``anime_data_pipeline_spark.registry``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from anime_data_pipeline_spark.registry import all_oracles, all_queries

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The flagship is the COMPLETE pretraining-corpus preparation chain
    (language-ID + quality hygiene → exact dedup → MinHash-LSH
    near-dup removal → benchmark decontamination → greedy sequence
    packing) — the engine's LLM-training-data story in one
    oracle-checked plan (q88)."""
    qs = all_queries()
    return qs["q88_pretraining_corpus"](spark, SMOKE_SF_DIR)


# The driver's correctness gate samples a bounded prefix of queries()
# per round, so ordering decides which queries get a fresh driver row.
# The rule (r5 verdict item 2 — enforced by tests/test_cli.py): the
# first 50 positions MUST contain, in order, (a) queries whose
# implementation changed this round, (b) queries with no driver row in
# any prior round, (c) queries reworked in the previous round whose
# only green rows predate the rework, then (d) the stalest remaining
# rows. Never newer-before-never-rowed.
#
# Since round 8, (a) and (c) are COMPUTED, not hand-maintained:
# scripts/fingerprints.py hashes each query's function slice plus its
# operator-module closure against QUERY_FINGERPRINTS.json (the
# fingerprint at the query's newest verified row), and
# tests/test_cli.py::test_changed_this_round_matches_fingerprint_diff
# fails if any drifted query is missing below. Round-start ritual:
#   python scripts/fingerprints.py refresh <prev-round-end-rev> <N>
#   python scripts/fingerprints.py diff   # → this list
# (Round 6's q90 rework slipped through the old hand list — shared-
# source changes are exactly what hand lists miss.)

# (a) drifted since the newest verified row: `scripts/fingerprints.py
# diff` verbatim, against the snapshot refreshed at cc45497. Three
# reworks feed it:
# (1) round 13 (OPTIMIZATION_r13.md): the connected_components fast
#     path, the curate_corpus passthrough guard, q104's span-dedup
#     boundary and the parsed IVF cell assignment — 13 queries;
# (2) the hash-family consolidation: every Spark spelling of the
#     polynomial hash, token split and shingle fold now comes from
#     functions/hashing (operators/dedup, textstats, selection, terms),
#     polyhash2 became polyhash(col, 37), and curate_corpus /
#     prepare_pretraining_corpus share one dedup chain — every query
#     whose closure imports those modules drifts;
# (3) NovelAI tag ordering became one DataFrame-level function with a
#     parsed, hashed vocab probe (operators/tags.novelai_order_df) —
#     q24.
# (4) SemDeDup became one grouped pass per cell sharing the CC small
#     path's min-label kernel, and assign_cells scores with try_divide
#     — q36, q44, q60, q85, q86, q91, q93, q125, q133, q142, all
#     already drifted above.
# (5) nearest-centroid assignment became one NumPy kernel for every k
#     (operators/similarity), and the DuckDB token split in
#     operators/textstats now comes from functions.text.tokens_sql
#     (byte-identical SQL) — every query whose closure imports either
#     module drifts: 20 more.
# (6) assign_cells / probe_cells lost their unused id_col argument and
#     q142 assigns each vector once (one conditional groupBy per cell)
#     — all already drifted above; the set is unchanged.
# (7) the upscale bucket lookup became one parsed CASE with no
#     higher-order function (operators/bucketing) — every query whose
#     closure imports it drifts: q21, q22, q23, q28, q115, q151, q177,
#     q187 (8 more, 75 in all).
# (8) the curation chain keys exact dedup on the native hash pair and
#     carries one token-hash column to its n-gram folds; contamination
#     is one outer-explode pass; the stop-word probes are parsed IN
#     lists; bucketing_stage drops rows whose resized size overflows
#     an int — every importer was already drifted; the set is
#     unchanged (75).
# (9) the fan-out guard's split count comes from Spark's planned file
#     scans (plans/curation.scan_input_splits) — every importer of
#     plans/curation drifts, which adds the _spread decode chains: q71,
#     q87, q178, q179, q181, q184, q188, q190, q192 (9 more, 84 in all);
#     kmeans_refine lost its unread `_kid` select and `round_dp`, and
#     benchmark_contamination its always-true `min_overlap` filter —
#     their importers were already drifted.
# (10) one spelling per operator: SimHash and the repetition signals
#     lost their impl= alternates, srp_bucket its two Column spellings
#     (the SRP operators size their planes from the first non-empty
#     vector), the Gopher rule thresholds became module constants, and
#     assign_bucket_columns lost its column-name parameters — every
#     query whose closure imports operators/similarity drifts: q43,
#     q97, q116, q136, q148 (5 more, 89 in all).
# (11) the LSH band join carries its verify columns (no signature
#     persist, no join-back), q88's decontamination carries the packing
#     columns (no survivors persist, no anti-join), the knn/near-dup/
#     cohesion cosines are try_divide, and bucketed_global_rank joins
#     its offsets null-safe — every importer was already drifted except
#     centroid_cohesion's q77 (1 more, 90 in all).
# (12) brute_force_topk's cosine is try_divide — its importers q41 and
#     q183 drift (2 more, 92 in all) and leave the (d) queue. The sink
#     module became parquet-only; no query imports it.
_CHANGED_THIS_ROUND: list[str] = [
    "q100_bloom_contamination",
    "q101_span_dedup",
    "q102_incremental_dedup",
    "q104_curation_v2",
    "q105_quality_drift",
    "q106_image_neardup",
    "q108_stream_incremental_dedup",
    "q110_bm25_rerank",
    "q114_gumbel_resample",
    "q115_png_decode_bucket",
    "q116_density_prune",
    "q118_span_decontaminate",
    "q120_minhash_quality_audit",
    "q122_source_overlap_matrix",
    "q125_signature_sidetable",
    "q126_curation_report",
    "q127_cdc_chunks",
    "q128_length_buckets",
    "q130_pq_adc_topk",
    "q131_hard_negatives",
    "q133_cluster_balanced_sample",
    "q135_doc_stitching",
    "q136_margin_bitext_mining",
    "q139_ann_recall_audit",
    "q142_ivf_drift_audit",
    "q148_label_propagation",
    "q151_gif_jpeg_decode_bucket",
    "q156_source_js_divergence",
    "q158_readability",
    "q161_containment_dedup",
    "q165_calibration_bins",
    "q177_raster_decode_bucket",
    "q178_wav_decode_chunk",
    "q179_video_frame_sample",
    "q181_image_dedup",
    "q183_retrieval_metrics",
    "q184_audio_quality_filter",
    "q187_webp_decode_bucket",
    "q188_webp_anim_sample",
    "q190_webp_lossy_decode",
    "q191_index_retrieval_metrics",
    "q192_foreign_stream_decode",
    "q193_fasttext_quality_filter",
    "q194_repetition_signals",
    "q21_bucket_assign",
    "q22_bucket_assign_noupscale",
    "q23_bucket_stats",
    "q24_novelai_order",
    "q28_crop_ltrb",
    "q29_seeded_shuffle",
    "q30_map_zip_filter",
    "q31_exact_dedup",
    "q32_minhash_lsh_neardup",
    "q33_simhash_fingerprint",
    "q34_ngram_jaccard_neardup",
    "q35_curation_pipeline",
    "q36_neardup_clusters",
    "q41_ann_bruteforce_topk",
    "q42_ann_srp_lsh_topk",
    "q43_embedding_neardup",
    "q44_ann_ivf_topk",
    "q48_ann_multiprobe_topk",
    "q50_ngram_repetition",
    "q51_token_counts",
    "q52_quality_score",
    "q53_language_id",
    "q54_winnow_fingerprints",
    "q55_quality_rollup",
    "q58_pack_chunks",
    "q60_cluster_resolve",
    "q67_pack_greedy",
    "q71_multimodal_decode",
    "q72_multimodal_features",
    "q73_tag_inference",
    "q76_salted_join_hot_key",
    "q77_label_centroid_cohesion",
    "q78_contamination_check",
    "q80_video_frame_sample",
    "q81_line_dedup",
    "q82_gopher_rules",
    "q85_ann_ivf_kmeans",
    "q86_semantic_dedup",
    "q87_audio_chunk_plan",
    "q88_pretraining_corpus",
    "q90_stream_quality_dedup",
    "q91_leakage_safe_split",
    "q92_pack_barriered",
    "q93_ann_ivf_multiprobe",
    "q95_dsir_logweights",
    "q96_editdist_verify",
    "q97_knn_graph",
    "q99_adaptive_quality_filter",
]

# (b) never rowed: none — registry growth is frozen at 195 (r8 rule).
_NEVER_ROWED: list[str] = []

# (c) reworked last round with only pre-rework rows: none — every
# round-13 rework is still drifted and sits in (a).
_REWORKED_LAST_ROUND: list[str] = []

_PRIORITY = [
    *_CHANGED_THIS_ROUND,
    *_NEVER_ROWED,
    *_REWORKED_LAST_ROUND,
    # (d) stalest first. Round 13's window sampled the whole former
    # round-6/7 queue, so the stalest rows left are round 7's tail,
    # then the round-8 cohort. With 92 changed entries the 50-row
    # window takes none of them; they stay queued for the next
    # rotation.
    "q89_temperature_mix",
    "q94_rag_chunking",
    "q103_perplexity_band",
    "q98_embedding_quantize",
    "q65_stream_stream_join",
    "q64_stream_dedup",
    "q141_stream_blocklist",
    "q182_link_graph",
    "q83_zorder_key",
    "q84_zorder_skipping",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    qs = all_queries()
    ordered = {name: qs[name] for name in _PRIORITY if name in qs}
    ordered.update((name, fn) for name, fn in qs.items() if name not in ordered)
    return ordered


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted → rows-only check)."""
    return all_oracles()
