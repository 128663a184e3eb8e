"""Structured Streaming over the `events` table: watermarked tumbling /
sliding / session windows and stateful dedup.

The reference has no streaming at all (SURVEY.md §2.9) — this is the
extension surface, built on vanilla Structured Streaming so the same
code runs against Kafka/files at cluster scale; here the file source
replays the parquet table as a stream.

Execution harness: ``run_available_now`` drives a streaming DataFrame
to completion with ``trigger(availableNow=True)`` into a memory sink
and returns the result as a batch DataFrame — which is how the
streaming gate queries stay oracle-checkable: the plan genuinely
executes through the streaming engine (StateStore, watermarks,
incremental aggregation), and the finished result is compared against
DuckDB like any batch query.

Watermark notes for the replay harness: with a single availableNow
replay there is no late data, so aggregations use ``complete`` output
mode (every window emitted regardless of final watermark) and dedup
uses ``append`` (stateful dedup emits first-seen rows immediately).
At a real deployment the same transformations run with ``update`` /
``append`` and the watermark bounds state size.
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anime_data_pipeline_spark.functions.compat import money_units, units_money

# Streaming-plan audit trail: every completed streaming query appends
# its final StreamingQueryProgress here (scripts/plan_report.py clears
# it, runs a gate query, and reads the stateful-operator names +
# watermark out — the streaming analogue of `.explain("formatted")`,
# which a memory-sink batch read cannot show). Bounded: one dict per
# stream run, cleared by readers.
AUDIT: list[dict] = []


def _record_progress(q) -> None:
    """Append the query's last progress (a plain dict: operatorName /
    numRowsTotal per stateful op, eventTime.watermark, batchId) to
    AUDIT. Never raises — the audit is observability, not control."""
    try:
        p = q.lastProgress
        if p:
            AUDIT.append(dict(p, _numBatches=len(q.recentProgress)))
    except Exception:
        pass


def _stream_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """File-source stream over ``{sf_dir}/{table}.parquet`` whether the
    testdata ships it as a single FILE (the driver's sf dirs) or as a
    DIRECTORY of part files (the ×100 stress tier, any real ingest
    drop zone). The file stream source requires a directory basePath,
    so the file shape streams the sf dir filtered down to that name —
    the r8 streaming stress run exposed that this glob matches no LEAF
    files under a directory-shaped table, silently replaying an empty
    stream."""
    import os

    path = f"{sf_dir}/{table}.parquet"
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if os.path.isdir(path):
        return reader.parquet(path)
    return reader.option("pathGlobFilter", f"{table}.parquet").parquet(sf_dir)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay events.parquet as a stream (file source needs an explicit
    schema; the TIMESTAMP(NANOS) column comes in as long and is
    downcast to microsecond timestamps, mirroring catalog.load_table)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = _stream_table(spark, sf_dir, "events")
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        # div, not `/`: see catalog.load_table (double rounds nano epochs).
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # withWatermark rejects TIMESTAMP_NTZ event time; UTC session tz
        # makes the cast value-preserving (see catalog.load_table).
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def tumbling_agg(
    stream: DataFrame, width: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Watermarked tumbling-window count + value sum per event_type.

    Money rides the integer-units convention (compat.py): the state
    store accumulates an exact BIGINT, so the emitted total is
    independent of the arrival order AND the micro-batch split — the
    double-sum it replaces could flip a .xx5 cent boundary between a
    streaming replay and the batch oracle."""
    return (
        stream.withColumn("value_u", money_units(F.col("value")))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("win"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value_u").alias("total_u"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n",
            units_money(F.col("total_u")).alias("total_value"),
        )
    )


def sliding_agg(
    stream: DataFrame,
    width: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked sliding-window count + value sum (overlapping).
    Money in exact integer units — see tumbling_agg."""
    return (
        stream.withColumn("value_u", money_units(F.col("value")))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("win"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value_u").alias("total_u"))
        .select(
            F.col("win.start").alias("window_start"),
            "n",
            units_money(F.col("total_u")).alias("total_value"),
        )
    )


def session_agg(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Gap-based session windows per user (session_window merges events
    closer than ``gap``; the stateful analogue of batch q19).
    Money in exact integer units — see tumbling_agg."""
    return (
        stream.withColumn("value_u", money_units(F.col("value")))
        .withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value_u").alias("total_u"))
        .select(
            F.col("win.start").alias("session_start"),
            "user_id",
            "n_events",
            units_money(F.col("total_u")).alias("session_value"),
        )
    )


def dedup_stream(stream: DataFrame, keys: list[str], watermark: str = "10 minutes") -> DataFrame:
    """Stateful exact dedup: first row per key wins; watermark bounds
    how long each key is remembered (state eviction at scale)."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    lower_s: int,
    upper_s: int,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked stream-stream inner join: match right rows with
    ``l.ts - lower_s <= r.ts <= l.ts + upper_s`` per key. Both sides
    are watermarked so the join state (buffered unmatched rows) is
    evicted once the band cannot match anymore — the state-bound
    requirement for unbounded streams."""
    l = left.withWatermark("ts", watermark).alias("l")
    r = (
        right.withColumnRenamed("ts", "r_ts")
        .withWatermark("r_ts", watermark)
        .alias("r")
    )
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col("r.r_ts") >= F.col("l.ts") - F.expr(f"INTERVAL {lower_s} SECONDS"))
        & (F.col("r.r_ts") <= F.col("l.ts") + F.expr(f"INTERVAL {upper_s} SECONDS"))
    )
    return l.join(r, cond, "inner")


def run_available_now(
    stream_df: DataFrame, output_mode: str, timeout_s: int = 300
) -> DataFrame:
    """Drive a streaming DataFrame to completion; return the memory-sink
    table as a batch DataFrame."""
    name = f"stream_out_{uuid.uuid4().hex[:12]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(timeout_s):
            raise TimeoutError(f"streaming query {name} still running after {timeout_s}s")
    finally:
        _record_progress(q)
        if q.isActive:
            q.stop()
    return stream_df.sparkSession.table(name)


# ---------------------------------------------------------------------------
# Multi-batch replay + custom stateful operators
# ---------------------------------------------------------------------------
_RESPLIT_CACHE: dict[tuple, str] = {}


def _source_signature(path: str) -> tuple:
    """Cheap content signature of a parquet file-or-directory —
    (relname, size, mtime_ns) per data file. Cache keys carry it so a
    regenerated source at the SAME path (a test fixture rebuilding a
    tmp dir in-process) misses instead of silently replaying stale
    derived data (ADVICE r9)."""
    import os

    if os.path.isfile(path):
        st = os.stat(path)
        return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
    sig = []
    for root, _dirs, files in os.walk(path):
        for f in sorted(files):
            if f.endswith(".parquet") or f.endswith(".json"):
                st = os.stat(os.path.join(root, f))
                sig.append((os.path.relpath(os.path.join(root, f), path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(sig))


_1H_US = 3_600 * 1_000_000


def resplit_events(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 4,
    late_mod: int | None = None,
    late_horizon_us: int = 2 * _1H_US,
) -> str:
    """Re-split events.parquet into ``n_files`` time-ordered files with
    strictly increasing modification times, so a file-source stream
    with ``maxFilesPerTrigger=1`` replays them as ``n_files`` REAL
    micro-batches in time order — per-key state genuinely evolves
    across StateStore commits instead of collapsing into one batch.

    Replay-harness code (like run_available_now), not a product
    operator: at a real deployment the source is Kafka/files arriving
    over time and this step does not exist.

    Memoized per (sf_dir, n_files, source signature) within the
    process: the slices are a deterministic function of the source
    table (rank by ts, event_id), and four gate queries
    (q68/q69/q111/q123) replay the same split — rebuilding it per
    query re-paid the global sort + 4 single-file writes three times
    over. Each checkpointed stream still reads the files
    independently. The signature keys out an in-process regeneration
    of events.parquet at the same path, and the hit path re-verifies
    every written slice still exists — a partially cleaned temp dir
    must rebuild, not silently stream fewer batches (ADVICE r9).

    ``late_mod`` (q195's late-data falsifiability gate, r9 verdict
    #3): when set, rows with ``event_id % late_mod == 0`` whose
    1-hour-window END sits at least ``late_horizon_us`` before the
    table's max event time are CARVED OUT of their time-ordered slice
    and written as one extra FINAL file, behind an EMPTY sentinel
    file. Replayed with maxFilesPerTrigger=1 they arrive after every
    in-order batch — by which point any watermark with delay <
    late_horizon_us has passed their window, so a correctly wired
    watermark must drop every one of them (the horizon/delay gap
    removes boundary ambiguity: the drop set is exactly computable by
    the batch oracle). In-order slices stay globally time-ordered
    after the carve-out, so no kept row is ever late.

    The sentinel exists because since SPARK-40925 (3.4+) a stateful
    operator filters LATE EVENTS with the PREVIOUS microbatch's
    watermark while evicting state with the current one — without it,
    the late batch is filtered with the watermark computed before the
    final in-order slice was seen, and late rows from that slice's
    time range slip through (observed: 36/143 admitted at sf0.001).
    The empty batch advances the lagged filter watermark to
    global-max - delay before the late rows arrive; under the older
    single-watermark semantics it is a harmless no-op batch, so the
    construction is version-robust either way."""
    import os

    key = (
        os.path.abspath(sf_dir),
        int(n_files),
        None if late_mod is None else (int(late_mod), int(late_horizon_us)),
        _source_signature(os.path.join(sf_dir, "events.parquet")),
    )
    cached = _RESPLIT_CACHE.get(key)
    if cached is not None and os.path.isdir(cached[0]):
        slices = [
            f
            for f in os.listdir(cached[0])
            if f.endswith(".parquet") and not f.startswith("slice_")
        ]
        if len(slices) == cached[1]:
            return cached[0]

    out = tempfile.mkdtemp(prefix="events_split_")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # deterministic time-ordered slices: rank by (ts, event_id)
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("ts"), F.col("event_id"))
    # persist the ranked frame: the late filter, the slice write and
    # the late write all reuse it — one global sort, not three (the
    # r10 verdict-#6 wall was exactly this recomputation). The frame
    # is replay-harness-sized (the gate SF events table), not a
    # production operator input.
    ranked = df.withColumn("_rn", F.row_number().over(w)).persist()
    sliced = ranked
    total = df.count()  # no window needed for the row count
    per = (total + n_files - 1) // n_files
    late = None
    if late_mod is not None:
        # bounded 1-row collect (same class as the dedup stats probe)
        # parquet may carry ts as TIMESTAMP_NTZ; the cast is
        # value-preserving under the UTC session tz (read_events_stream)
        us = F.unix_micros(F.col("ts").cast("timestamp"))
        max_us = sliced.agg(F.max(us)).collect()[0][0]
        wend = (F.floor(us / F.lit(_1H_US)) * F.lit(_1H_US)) + F.lit(_1H_US)
        is_late = (F.col("event_id") % late_mod == 0) & (
            wend + F.lit(int(late_horizon_us)) <= F.lit(max_us)
        )
        late = sliced.filter(is_late)
        sliced = sliced.filter(~is_late)
    base = 1_700_000_000

    def write_one(part, i: int) -> None:
        pdir = os.path.join(out, f"slice_{i}")
        part.coalesce(1).write.parquet(pdir)
        src = next(
            f for f in os.listdir(pdir) if f.endswith(".parquet") and f.startswith("part-")
        )
        dst = os.path.join(out, f"{i:03d}.parquet")
        os.rename(os.path.join(pdir, src), dst)
        os.utime(dst, (base + i * 60, base + i * 60))

    # All in-order slices land in ONE parallel write (r10 verdict #6:
    # the old per-slice filter + coalesce(1) loop re-scanned the
    # sorted frame n_files times in sequence and was ~90% of q195's
    # gate wall). repartition on the slice id gives every slice its
    # own partition, so partitionBy emits exactly one part-file per
    # slice directory — same one-file-per-micro-batch contract, one
    # job. Within-file row order is irrelevant to the replay: a file
    # IS a micro-batch, and every consumer is order-insensitive
    # within a batch (event_id is unique, aggs are commutative).
    pdir = os.path.join(out, "slice_all")
    (
        sliced.withColumn(
            "_slice", F.expr(f"CAST((_rn - 1) DIV {int(per)} AS INT)")
        )
        .drop("_rn")
        .repartition(n_files, "_slice")
        .write.partitionBy("_slice")
        .parquet(pdir)
    )
    for i in range(n_files):
        sdir = os.path.join(pdir, f"_slice={i}")
        parts = (
            [
                f for f in os.listdir(sdir)
                if f.endswith(".parquet") and f.startswith("part-")
            ]
            if os.path.isdir(sdir)
            else []
        )
        if len(parts) > 1:
            # One file IS one micro-batch — silently taking parts[0]
            # would drop rows from the replay. A real raise (not an
            # assert, which vanishes under `python -O` — r11 ADVICE
            # #2) keeps the contract enforced in every interpreter
            # mode.
            raise RuntimeError(
                f"slice {i}: {len(parts)} part-files (want <=1) — "
                "repartition(n_files, _slice) no longer yields one "
                "file per slice directory"
            )
        if not parts:
            # partitionBy skips empty partitions; a slice can be empty
            # when the table has fewer rows than n_files — keep the
            # old contract (an empty micro-batch file) instead of
            # crashing on the missing directory.
            write_one(sliced.limit(0).drop("_rn"), i)
            continue
        dst = os.path.join(out, f"{i:03d}.parquet")
        os.rename(os.path.join(sdir, parts[0]), dst)
        os.utime(dst, (base + i * 60, base + i * 60))
    n_written = n_files
    if late is not None and not late.isEmpty():
        write_one(sliced.limit(0).drop("_rn"), n_files)  # sentinel
        write_one(late.drop("_rn"), n_files + 1)
        n_written += 2
    ranked.unpersist()
    _RESPLIT_CACHE[key] = (out, n_written)
    return out


def read_split_stream(spark: SparkSession, split_dir: str) -> DataFrame:
    """Stream the re-split events dir one file per micro-batch (oldest
    modification time first — the deterministic order resplit_events
    stamped)."""
    schema = spark.read.parquet(split_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(split_dir)
    )
    if dict(stream.dtypes).get("ts") == "timestamp_ntz":
        # withWatermark rejects TIMESTAMP_NTZ event time; UTC session
        # tz makes the cast value-preserving (see read_events_stream).
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def foreach_batch_upsert_latest(
    stream: DataFrame,
    path: str,
    key_col: str,
    timeout_s: int = 300,
) -> None:
    """Streaming → table sink via ``foreachBatch``: each micro-batch is
    reduced to its latest row per key (max (ts, event_id)), then merged
    into the parquet table at ``path`` keeping the overall latest.

    The resolution is by VALUE (ts, event_id), not by arrival order,
    so the result is identical under any batch split or ordering —
    exactly-once per key regardless of replay. foreachBatch is the
    standard bridge from a stream to batch-only sinks (JDBC, MERGE
    into Delta, multi-table writes); at scale the merge body below
    would be a Delta MERGE, which waits until delta-spark is installed
    (sources/sinks holds only the parquet writes)."""
    from pyspark.sql.window import Window

    def latest(df: DataFrame) -> DataFrame:
        w = Window.partitionBy(key_col).orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def merge(batch_df: DataFrame, _batch_id: int) -> None:
        spark = batch_df.sparkSession
        updates = latest(batch_df)
        try:
            existing = spark.read.parquet(path)
            merged = latest(existing.unionByName(updates))
        except Exception:  # first batch — no table yet
            merged = updates
        tmp = path.rstrip("/") + "__tmp_stream"
        merged.write.mode("overwrite").parquet(tmp)
        spark.read.parquet(tmp).write.mode("overwrite").parquet(path)
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)

    q = (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(timeout_s):
            raise TimeoutError(f"foreachBatch stream still running after {timeout_s}s")
    finally:
        _record_progress(q)
        if q.isActive:
            q.stop()


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay documents.parquet as a stream (same file-source pattern
    as read_events_stream) — the ingest shape of a continuously-fed
    corpus: new parquet drops appear, the curation query keeps up.

    Adds a deterministic ``ingest_ts`` event-time column (epoch +
    doc_id seconds — the replay twin of a real ingest timestamp) so
    downstream stateful operators can bound their state with a
    watermark exactly as they would in production; the same document
    replayed twice carries the same ingest_ts, so
    dropDuplicatesWithinWatermark semantics are deterministic."""
    return _stream_table(spark, sf_dir, "documents").withColumn(
        "ingest_ts",
        F.timestamp_seconds(F.lit(1_704_067_200) + F.col("doc_id")),
    )


def stream_quality_dedup_rollup(
    stream: DataFrame, quality_threshold: float = 0.7
) -> DataFrame:
    """Streaming corpus hygiene: quality-filter (stateless column
    exprs), stateful exact dedup on (source, content_hash), per-source
    rollup — the LLM-curation chain's streaming front end.

    Dedup keys on (source, content_hash), not hash alone: a text
    appearing under two sources would otherwise keep whichever
    arrived first — racy across partitions, and untestable. State is
    one 16-byte key per distinct kept doc, WATERMARK-BOUNDED: the
    ingest_ts watermark + dropDuplicatesWithinWatermark evicts keys
    older than the horizon, so state is O(ingest volume per horizon),
    not O(all time) — duplicate bursts land within the horizon, and
    anything older is the batch dedup pass's job (q31/q102). The
    30-day horizon exceeds the replay's whole ingest_ts span, so the
    availableNow gate run stays exact."""
    from anime_data_pipeline_spark.functions.hashing import polyhash
    from anime_data_pipeline_spark.operators.textstats import (
        quality_columns,
        ws_token_count,
    )

    kept = quality_columns(stream, "text").filter(
        F.col("quality_score") >= quality_threshold
    )
    deduped = (
        kept.withColumn("content_hash", polyhash(F.col("text")))
        .withWatermark("ingest_ts", "30 days")
        .dropDuplicatesWithinWatermark(["source", "content_hash"])
    )
    return deduped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ws_token_count(F.col("text"))).alias("total_tokens"),
    )


def stream_incremental_dedup(
    stream: DataFrame, history: DataFrame, keys: list[str]
) -> DataFrame:
    """Streaming twin of operators/dedup.incremental_dedup_status's
    exact stage: the incoming stream is deduped within itself
    (dropDuplicatesWithinWatermark on the content key — state bounded
    to the ingest_ts watermark horizon, not all time) and against a
    STATIC history table via a per-micro-batch left-anti join
    (stateless — the history side is a batch relation joined into
    every micro-batch; at scale a broadcast of the 8-byte key set or
    a shuffle join against the persisted key table). Only rows whose
    content key is genuinely new survive — the continuously-fed
    corpus's ingest gate. The split of labor is what makes the state
    bounded: in-horizon duplicates are the stream operator's job,
    older ones the (periodically refreshed) history table's. The
    30-day horizon exceeds the replay's ingest_ts span, so the
    availableNow gate run stays exact."""
    return (
        stream.withWatermark("ingest_ts", "30 days")
        .dropDuplicatesWithinWatermark(keys)
        .join(history.select(*keys), keys, "left_anti")
    )
