"""Streaming gate queries: each one executes genuinely through the
Structured Streaming engine (file-source replay of events.parquet,
availableNow trigger, StateStore-backed stateful operators), then the
finished result is oracle-checked against batch DuckDB SQL — the
streaming/batch consistency property Structured Streaming guarantees.

Window-start oracles use integer microsecond arithmetic
(epoch_us // width * width), which is exactly Spark's tumbling-window
alignment for epoch-aligned widths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anime_data_pipeline_spark.functions.compat import (
    dround,
    dround_sql,
    money_sum_sql,
    money_units,
    units_money,
)
from anime_data_pipeline_spark.registry import register
from anime_data_pipeline_spark.streaming.pipeline import (
    dedup_stream,
    read_events_stream,
    run_available_now,
    session_agg,
    sliding_agg,
    stream_stream_join,
    tumbling_agg,
)

_5M = 300_000_000  # microseconds


# ---------------------------------------------------------------------------
# q61 — tumbling windows through the streaming engine
# ---------------------------------------------------------------------------
@register(
    "q61_stream_tumbling",
    oracle=f"""
    SELECT make_timestamp((epoch_us(ts) // {_5M}) * {_5M}) AS window_start,
           event_type,
           count(*) AS n,
           {money_sum_sql("value")} AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q61_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    # total_value already rides the integer-units money convention
    # inside tumbling_agg (exact BIGINT state) — no post-round needed.
    return run_available_now(
        tumbling_agg(read_events_stream(spark, sf_dir), "5 minutes"), "complete"
    )


# ---------------------------------------------------------------------------
# q62 — sliding windows (width 10m, slide 5m): every event lands in two
# windows; the oracle unions the two alignment lattices.
# ---------------------------------------------------------------------------
@register(
    "q62_stream_sliding",
    oracle=f"""
    WITH starts AS (
      SELECT make_timestamp((epoch_us(ts) // {_5M}) * {_5M}) AS window_start, value
      FROM events
      UNION ALL
      SELECT make_timestamp((epoch_us(ts) // {_5M}) * {_5M} - {_5M}) AS window_start, value
      FROM events
    )
    SELECT window_start, count(*) AS n, {money_sum_sql("value")} AS total_value
    FROM starts GROUP BY 1
    """,
)
def q62_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_available_now(
        sliding_agg(read_events_stream(spark, sf_dir), "10 minutes", "5 minutes"),
        "complete",
    )


# ---------------------------------------------------------------------------
# q63 — session windows (gap 30m) through the streaming engine; the
# oracle rebuilds the same sessions with the lag/cumsum construction
# (equivalent for gaps ≠ exactly 30m, which cannot occur in μs data).
# ---------------------------------------------------------------------------
@register(
    "q63_stream_sessions",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, value
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM gaps
    )
    SELECT min(ts) AS session_start, user_id,
           count(*) AS n_events, {money_sum_sql("value")} AS session_value
    FROM sess GROUP BY user_id, sid
    """,
)
def q63_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_available_now(
        session_agg(read_events_stream(spark, sf_dir), "30 minutes"), "complete"
    )


# ---------------------------------------------------------------------------
# q64 — stateful dedup: the stream replays events TWICE (self-union),
# dropDuplicatesWithinWatermark keeps exactly one copy per event_id.
# ---------------------------------------------------------------------------
# ---------------------------------------------------------------------------
# q65 — stream-stream interval join: each purchase matched to the
# user's clicks in the preceding 10 minutes, through the streaming
# engine (watermarked two-sided join state), oracle = batch theta join.
# ---------------------------------------------------------------------------
@register(
    "q65_stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts <= p.ts
    """,
)
def q65_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    purchases = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"), "user_id", "ts")
    )
    joined = stream_stream_join(purchases, clicks, "user_id", 600, 0)
    out = run_available_now(
        joined.select(
            F.col("l.event_id").alias("purchase_id"),
            F.col("r.click_id").alias("click_id"),
            F.col("l.user_id").alias("user_id"),
        ),
        "append",
    )
    return out


# ---------------------------------------------------------------------------
# q66 — stream-static enrichment: the event stream joined to the
# (batch) customer dimension — broadcast into every micro-batch, no
# stream state — then aggregated per market segment.
# ---------------------------------------------------------------------------
@register(
    "q66_stream_static_enrich",
    oracle=f"""
    SELECT c.c_mktsegment, e.event_type,
           count(*) AS n, {money_sum_sql("e.value")} AS total_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id + 1
    GROUP BY 1, 2
    """,
)
def q66_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.catalog import load_table

    events = read_events_stream(spark, sf_dir)
    customers = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = events.join(
        customers, customers.c_custkey == events.user_id + 1, "inner"
    )
    # money in exact integer units through the streaming agg state
    # (compat.py convention — same as tumbling_agg).
    agg = (
        enriched.withColumn("value_u", money_units(F.col("value")))
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value_u").alias("total_u"))
        .select(
            "c_mktsegment",
            "event_type",
            "n",
            units_money(F.col("total_u")).alias("total_value"),
        )
    )
    return run_available_now(agg, "complete")


@register(
    "q64_stream_dedup",
    oracle="SELECT event_id, user_id, event_type, value FROM events",
)
def q64_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = read_events_stream(spark, sf_dir)
    doubled = s.unionByName(read_events_stream(spark, sf_dir))
    out = run_available_now(dedup_stream(doubled, ["event_id"]), "append")
    return out.select("event_id", "user_id", "event_type", "value")


# ---------------------------------------------------------------------------
# q68 — custom stateful operator (streaming/stateful.running_user_totals,
# applyInPandasWithState): per-user running (count, total), replayed as
# 4 REAL micro-batches (time-ordered file splits) so the StateStore
# commits state across batches. The running fields are cumulative, so
# each key's final emission equals the batch aggregate — the oracle.
# ---------------------------------------------------------------------------
@register(
    "q68_stream_stateful_stats",
    oracle=f"""
    SELECT user_id,
           count(*) AS n_events,
           {money_sum_sql("value")} AS total_value
    FROM events GROUP BY user_id
    """,
)
def q68_stream_stateful_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.streaming.pipeline import (
        read_split_stream,
        resplit_events,
    )
    from anime_data_pipeline_spark.streaming.stateful import running_user_totals

    split = resplit_events(spark, sf_dir, n_files=4)
    out = run_available_now(running_user_totals(read_split_stream(spark, split)), "update")
    # one emission per key per batch; the last (max running count) is
    # the final state — both fields ride the same max-count row.
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        # total_value is already converted from the exact BIGINT units
        # state inside running_user_totals — no post-round needed.
        .select("user_id", "n_events", "total_value")
    )


# ---------------------------------------------------------------------------
# q69 — foreachBatch sink: the stream upserts each micro-batch's latest
# row per user into a parquet table; resolution is by value
# (max (ts, event_id)), so the final table is identical under any batch
# split. The oracle is the batch argmax per user.
# ---------------------------------------------------------------------------
@register(
    "q69_stream_foreachbatch_upsert",
    oracle="""
    SELECT user_id, event_id, ts, event_type, value FROM events
    QUALIFY row_number() OVER (
      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def q69_stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from anime_data_pipeline_spark.streaming.pipeline import (
        foreach_batch_upsert_latest,
        read_split_stream,
        resplit_events,
    )

    split = resplit_events(spark, sf_dir, n_files=4)
    table = tempfile.mkdtemp(prefix="stream_upsert_") + "/latest"
    foreach_batch_upsert_latest(read_split_stream(spark, split), table, "user_id")
    return spark.read.parquet(table).select(
        "user_id", "event_id", "ts", "event_type", "value"
    )


# ---------------------------------------------------------------------------
# q90 — streaming corpus hygiene: quality filter → stateful exact
# dedup on (source, content_hash) → per-source rollup, executed
# through the streaming engine. Duplicates are keyed within source so
# the kept set is deterministic; the oracle aggregates the DISTINCT
# (source, hash) universe, which equals any arrival order's result.
# ---------------------------------------------------------------------------
def _q90_oracle() -> str:
    from anime_data_pipeline_spark.functions.hashing import polyhash_sql
    from anime_data_pipeline_spark.operators.textstats import (
        quality_sql_projection,
        ws_token_count_sql,
    )

    score = quality_sql_projection("text")["quality_score"]
    return f"""
    WITH kept AS (SELECT source, text FROM documents WHERE ({score}) >= 0.7),
    uniq AS (SELECT DISTINCT source, {polyhash_sql("text")} AS h,
                    {ws_token_count_sql("text")} AS nt
             FROM kept)
    SELECT source, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS total_tokens
    FROM uniq GROUP BY source
    """


@register("q90_stream_quality_dedup", oracle=_q90_oracle())
def q90_stream_quality_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.streaming.pipeline import (
        read_documents_stream,
        stream_quality_dedup_rollup,
    )

    out = run_available_now(
        stream_quality_dedup_rollup(read_documents_stream(spark, sf_dir)),
        "complete",
    )
    return out.withColumn("total_tokens", F.col("total_tokens").cast("long"))


# ---------------------------------------------------------------------------
# q108 — streaming incremental dedup: a doubled document stream (every
# doc arrives twice) deduped within itself AND against a static
# history (content hashes of the even doc_ids). Only genuinely new
# CONTENT survives — the ingest gate of a continuously-fed corpus, the
# streaming twin of q102's exact stage. The output is content-keyed
# (hash + n_chars, both functions of the text): the testdata really
# does contain duplicate texts across different doc_ids, and WHICH id
# survives streaming dropDuplicates is arrival-order-dependent — the
# content view is the deterministic (and semantically honest) result.
# ---------------------------------------------------------------------------
def _q108_oracle() -> str:
    from anime_data_pipeline_spark.functions.hashing import polyhash_sql

    h = polyhash_sql("text")
    h2 = polyhash_sql("text", 37)
    return f"""
    WITH hist AS (SELECT DISTINCT {h} AS content_hash, {h2} AS content_hash2
                  FROM documents WHERE doc_id % 2 = 0),
    allc AS (SELECT DISTINCT {h} AS content_hash, {h2} AS content_hash2, n_chars
             FROM documents)
    SELECT a.content_hash, a.n_chars FROM allc a
    ANTI JOIN hist USING (content_hash, content_hash2)
    """


@register("q108_stream_incremental_dedup", oracle=_q108_oracle())
def q108_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.catalog import load_table
    from anime_data_pipeline_spark.functions.hashing import polyhash
    from anime_data_pipeline_spark.streaming.pipeline import (
        read_documents_stream,
        run_available_now,
        stream_incremental_dedup,
    )

    # Dual content hashes (base-31 + base-37): exact-dup declared from a
    # single ~2^30 hash silently drops ~N²/2P unrelated docs at scale.
    history = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 0)
        .select(
            polyhash(F.col("text")).alias("content_hash"),
            polyhash(F.col("text"), 37).alias("content_hash2"),
        )
    )
    s = read_documents_stream(spark, sf_dir)
    doubled = (
        s.unionByName(read_documents_stream(spark, sf_dir))
        .withColumn("content_hash", polyhash(F.col("text")))
        .withColumn("content_hash2", polyhash(F.col("text"), 37))
    )
    out = run_available_now(
        stream_incremental_dedup(
            doubled, history, ["content_hash", "content_hash2"]
        ),
        "append",
    )
    return out.select("content_hash", "n_chars")


# ---------------------------------------------------------------------------
# q111 — streaming drift monitor: per 1-hour event-time window, the
# PSI of the value distribution vs the static all-time baseline (the
# q105 drift op composed with the streaming engine). The stream emits
# only (window, bin, count) — bins-sized state per window; the PSI
# math runs batch-side on the tiny sink table.
# ---------------------------------------------------------------------------
_1H_US = 3_600 * 1_000_000
_Q111_NB = 20
_Q111_W = 25.0  # bin width over the value range [0, 500)


def _q111_oracle() -> str:
    nb, w = _Q111_NB, _Q111_W
    b = f"greatest(least(CAST(floor(value / {w}) AS INT), {nb - 1}), 0)"
    return f"""
    WITH ev AS (SELECT make_timestamp((epoch_us(ts) // {_1H_US}) * {_1H_US})
                         AS window_start,
                       {b} AS bin
                FROM events),
    base AS (SELECT {b} AS bin, count(*) AS n_b FROM events GROUP BY 1),
    baset AS (SELECT sum(n_b) AS t FROM base),
    wins AS (SELECT DISTINCT window_start FROM ev),
    bins AS (SELECT CAST(g.i AS INT) AS bin FROM generate_series(0, {nb - 1}) g(i)),
    grid AS (SELECT w.window_start, b.bin FROM wins w CROSS JOIN bins b),
    wc AS (SELECT window_start, bin, count(*) AS n_w FROM ev GROUP BY 1, 2),
    wt AS (SELECT window_start, sum(n_w) AS t_w FROM wc GROUP BY 1),
    j AS (SELECT g.window_start, g.bin,
                 (coalesce(wc.n_w, 0) + 0.5) / (wt.t_w + {0.5 * nb}) AS share_w,
                 (coalesce(base.n_b, 0) + 0.5)
                   / ((SELECT t FROM baset) + {0.5 * nb}) AS share_b
          FROM grid g
          LEFT JOIN wc ON wc.window_start = g.window_start AND wc.bin = g.bin
          LEFT JOIN base ON base.bin = g.bin
          JOIN wt ON wt.window_start = g.window_start)
    SELECT window_start,
           {dround_sql("sum((share_w - share_b) * ln(share_w / share_b))", 6)}
             AS psi
    FROM j GROUP BY window_start
    """


@register("q111_stream_window_drift", oracle=_q111_oracle())
def q111_stream_window_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed-drift gate in PRODUCTION shape (r8 verdict #5): the
    hourly bin counts run in UPDATE mode with the event-time watermark
    wired, over the 4-file time-ordered replay — so the StateStore
    holds only bins × OPEN windows (closed windows are evicted once
    the watermark passes; measured in SCALE.md's streaming table)
    instead of complete-mode's every-window-ever. The memory sink then
    holds one emission per (window, bin) per updating batch; counts
    are monotone per key, so max() is the final state — the same
    last-emission reconciliation q68 uses. The replay is time-ordered,
    so no row is ever late; the 30-minute delay is headroom for
    out-of-order arrival at a real deployment."""
    from anime_data_pipeline_spark.catalog import load_table
    from anime_data_pipeline_spark.streaming.pipeline import (
        read_split_stream,
        resplit_events,
    )

    nb, wdt = _Q111_NB, _Q111_W
    b = F.greatest(
        F.least(F.floor(F.col("value") / F.lit(wdt)).cast("int"), F.lit(nb - 1)),
        F.lit(0),
    )
    split = resplit_events(spark, sf_dir, n_files=4)
    s = read_split_stream(spark, split).withColumn("bin", b)
    out = run_available_now(
        s.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "bin")
        .agg(F.count(F.lit(1)).alias("n_w")),
        "update",
    )
    counts = (
        out.groupBy(F.col("w.start").alias("window_start"), "bin")
        .agg(F.max("n_w").alias("n_w"))
    )
    base = (
        load_table(spark, sf_dir, "events")
        .select(b.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_b"))
    )
    baset = base.agg(F.sum("n_b").alias("t"))
    wins = counts.select("window_start").distinct()
    bins = spark.range(0, nb).select(F.col("id").cast("int").alias("bin"))
    wt = counts.groupBy("window_start").agg(F.sum("n_w").alias("t_w"))
    grid = wins.crossJoin(F.broadcast(bins))
    j = (
        grid.join(counts, ["window_start", "bin"], "left")
        .join(F.broadcast(base), "bin", "left")
        .join(F.broadcast(wt), "window_start")
        .crossJoin(F.broadcast(baset))
        .withColumn(
            "share_w",
            (F.coalesce(F.col("n_w"), F.lit(0)) + F.lit(0.5))
            / (F.col("t_w") + F.lit(0.5 * nb)),
        )
        .withColumn(
            "share_b",
            (F.coalesce(F.col("n_b"), F.lit(0)) + F.lit(0.5))
            / (F.col("t") + F.lit(0.5 * nb)),
        )
    )
    return j.groupBy("window_start").agg(
        dround(
            F.sum(
                (F.col("share_w") - F.col("share_b"))
                * F.log(F.col("share_w") / F.col("share_b"))
            ),
            6,
        ).alias("psi")
    )


# ---------------------------------------------------------------------------
# q123 — streaming heavy hitters (round 5): per 1-hour event-time
# window, the top-3 event types by count — trending detection over the
# ingest stream. The stream emits only (window, type, count) — state
# is |types|-sized per open window; the rank runs batch-side on the
# tiny sink table (per-window partitioned window, never global).
# ---------------------------------------------------------------------------
_Q123_K = 3


def _q123_oracle() -> str:
    return f"""
    WITH ev AS (SELECT make_timestamp((epoch_us(ts) // {_1H_US}) * {_1H_US})
                         AS window_start,
                       event_type
                FROM events),
    wc AS (SELECT window_start, event_type, CAST(count(*) AS BIGINT) AS n
           FROM ev GROUP BY 1, 2),
    rk AS (SELECT *, row_number() OVER (
             PARTITION BY window_start ORDER BY n DESC, event_type) AS rank
           FROM wc)
    SELECT window_start, event_type, n, CAST(rank AS BIGINT) AS rank
    FROM rk WHERE rank <= {_Q123_K}
    """


@register("q123_stream_heavy_hitters", oracle=_q123_oracle())
def q123_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production shape since round 9 (the q111 promotion applied to
    the whole windowed family): UPDATE output mode with the event-time
    watermark wired, over the 4-file time-ordered replay — state is
    types × OPEN windows with closed windows evicted, and the memory
    sink reconciles last-emission-wins (max of the monotone per-key
    counts). The top-k rank still runs batch-side on the reconciled
    windows×types table — tiny, per-window partitioned."""
    from pyspark.sql.window import Window

    from anime_data_pipeline_spark.streaming.pipeline import (
        read_split_stream,
        resplit_events,
    )

    split = resplit_events(spark, sf_dir, n_files=4)
    s = read_split_stream(spark, split)
    out = run_available_now(
        s.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n")),
        "update",
    )
    counts = (
        out.groupBy(F.col("w.start").alias("window_start"), "event_type")
        .agg(F.max("n").cast("long").alias("n"))
    )
    rk = Window.partitionBy("window_start").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counts.withColumn("rank", F.row_number().over(rk).cast("long"))
        .filter(F.col("rank") <= _Q123_K)
    )


# ---------------------------------------------------------------------------
# q141 — streaming blocklist/safety filter: the ingest-time twin of
# q137. The phrase dictionary is INLINED as a literal array and each
# micro-batch row is classified map-side (padded-substring containment
# over the space-joined token stream) — a STATELESS append-mode
# stream: no watermark, no state store, no shuffle; at 100 TB/day
# ingest this runs at source parallelism. (The batch q137 uses the
# shingle-join form instead because a large dictionary can't inline;
# for the bounded safety dictionary a literal is the streaming-optimal
# shape.) Planted phrases (doc_id % 6 / % 10) match q137's.
# ---------------------------------------------------------------------------
_Q141_PHRASES = ["buy now", "click here", "limited offer", "winner"]


def _q141_oracle() -> str:
    checks = ", ".join(
        f"CASE WHEN contains(' ' || text || ' ', ' {p} ') THEN '{p}' END"
        for p in sorted(_Q141_PHRASES)
    )
    return f"""
    WITH docs AS (
      SELECT doc_id, source,
             text || CASE WHEN doc_id % 6 = 0 THEN ' buy now limited offer' ELSE '' END
                  || CASE WHEN doc_id % 10 = 0 THEN ' click here winner' ELSE '' END AS text
      FROM documents),
    m AS (SELECT doc_id, source,
                 list_filter([{checks}], x -> x IS NOT NULL) AS ml
          FROM docs)
    SELECT doc_id, source,
           CAST(len(ml) AS BIGINT) AS n_phrases,
           coalesce(array_to_string(ml, ','), '') AS matched,
           (len(ml) > 0) AS blocked
    FROM m
"""


@register("q141_stream_blocklist", oracle=_q141_oracle())
def q141_stream_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from anime_data_pipeline_spark.streaming.pipeline import read_documents_stream

    s = read_documents_stream(spark, sf_dir).select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 6 == 0, F.lit(" buy now limited offer")).otherwise(
                F.lit("")
            ),
            F.when(F.col("doc_id") % 10 == 0, F.lit(" click here winner")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    ml = F.filter(
        F.array(
            *[
                F.when(padded.contains(f" {p} "), F.lit(p))
                for p in sorted(_Q141_PHRASES)
            ]
        ),
        lambda x: x.isNotNull(),
    )
    classified = s.select(
        "doc_id",
        "source",
        F.size(ml).cast("long").alias("n_phrases"),
        F.concat_ws(",", ml).alias("matched"),
        (F.size(ml) > 0).alias("blocked"),
    )
    return run_available_now(classified, "append")


# ---------------------------------------------------------------------------
# q195 — late-data watermark FALSIFIABILITY gate (r9 verdict #3).
# q111/q123 run update mode with the watermark wired, but their replay
# is time-ordered, so "no row is ever late" — the eviction/late-drop
# semantics the watermark exists for were never falsified by a gate.
# Here the replay is deterministically OUT OF ORDER: rows with
# event_id % 7 == 0 whose 1-hour window closed >= 2 hours before the
# table's max event time are carved out of their slice and arrive as a
# FINAL 5th file, after the 30-minute watermark has passed their
# window by >= 90 minutes. A correct watermark must drop every one of
# them; the oracle recomputes the window counts EXCLUDING exactly that
# set (it is computable in closed form — the horizon/delay gap leaves
# no boundary ambiguity). Falsification is two-sided:
#   * watermark stops dropping (not wired / not advancing): the late
#     rows re-enter live state, counts rise -> hash mismatch;
#   * state evicted but late rows re-admitted as FRESH state (the
#     half-broken mode max()-reconciliation would mask): n_emissions
#     counts sink rows per window, and any batch-5 admission adds one
#     -> mismatch. The expected value is itself closed-form: update
#     mode emits one row per key per batch that changed it, so
#     n_emissions = count(DISTINCT slice) over the window's kept rows.
# tests/test_streaming_late.py additionally runs the SAME replay with
# the watermark effectively disabled and asserts the drop disappears —
# proving the watermark, not the replay construction, is what gates.
# ---------------------------------------------------------------------------
_Q195_LATE_MOD = 7
_Q195_HORIZON_US = 2 * _1H_US


def _q195_oracle() -> str:
    return f"""
    WITH stats AS (SELECT count(*) AS c, max(epoch_us(ts)) AS max_us FROM events),
    ranked AS (
      SELECT ts, event_id,
             row_number() OVER (ORDER BY ts, event_id) AS rn
      FROM events),
    marked AS (
      SELECT ts,
             (rn - 1) // ((s.c + 3) // 4) AS slice,
             (event_id % {_Q195_LATE_MOD} = 0 AND
              (epoch_us(ts) // {_1H_US}) * {_1H_US} + {_1H_US + _Q195_HORIZON_US}
                <= s.max_us) AS is_late
      FROM ranked, stats s)
    SELECT make_timestamp((epoch_us(ts) // {_1H_US}) * {_1H_US}) AS window_start,
           count(*) AS n,
           count(DISTINCT slice) AS n_emissions
    FROM marked WHERE NOT is_late GROUP BY 1
    """


@register("q195_stream_late_data", oracle=_q195_oracle())
def q195_stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event counts over the LATE-DATA replay, update mode +
    30-minute watermark: the gate is green only while the watermark
    actually drops the deterministic late set (see block comment)."""
    from anime_data_pipeline_spark.streaming.pipeline import (
        read_split_stream,
        resplit_events,
    )

    split = resplit_events(
        spark, sf_dir, n_files=4, late_mod=_Q195_LATE_MOD,
        late_horizon_us=_Q195_HORIZON_US,
    )
    s = read_split_stream(spark, split)
    out = run_available_now(
        s.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_w")),
        "update",
    )
    return out.groupBy(F.col("w.start").alias("window_start")).agg(
        F.max("n_w").alias("n"),
        F.count(F.lit(1)).alias("n_emissions"),
    )
