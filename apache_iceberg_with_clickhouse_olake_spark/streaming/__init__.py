"""Structured Streaming surface (reference: OLake CDC pipeline,
SURVEY.md §2.10 C1-C6 / §3.2).

- :func:`run_cdc_upsert_stream`: file-source change stream ->
  ``foreachBatch`` append into a merge-on-read delta log under the
  parquet state table. Each micro-batch lands as-is in its own
  ``_delta/<batch_id>`` directory; once the stream has drained, one
  merge (:func:`read_cdc_state`, the same latest-version-per-key
  operator as ``operators.cdc.apply_cdc_upsert``) publishes base + deltas
  as the new state. That is the parquet stand-in for the D6 upsert into
  an Iceberg merge-on-read table: appended data and equality-delete files,
  compacted by ``rewrite_data_files``. Checkpointing gives restartable
  exactly-once-per-batch semantics (C6).
- :func:`run_streaming_sessionization`: watermarked ``session_window``
  aggregation (the streaming twin of
  ``operators.sessions.session_window_rollup``).

Micro-batch cadence (C3, destination.json:96-98) maps to ``trigger``;
every stream here drains with ``availableNow`` (:func:`_drain`), so the
whole backlog drains deterministically and the call returns.

Scale notes: a CDC micro-batch reads and writes only its own events --
it never touches the published state, so its cost is flat in the table
size. The table is read and rewritten once per stream run, at publish.
The watermark bounds session state.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..sources.lake import recover_dir, replace_dir

CDC_EVENT_SCHEMA = StructType(
    [
        StructField("key", LongType()),
        StructField("custkey", LongType()),
        StructField("price", DoubleType()),
        StructField("_op", StringType()),
        StructField("_seq", LongType()),
        StructField("_sync_ts_epoch", LongType()),
    ]
)


def _file_stream(
    spark: SparkSession,
    schema: StructType,
    src_dir: str,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """A parquet file-source stream over ``src_dir`` (C2: by default one
    file per micro-batch, so state and watermarks cross batches; None
    lets one micro-batch take the whole backlog)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(src_dir)


def _drain(writer: DataStreamWriter, checkpoint_dir: str) -> None:
    """Start ``writer`` checkpointed at ``checkpoint_dir`` and block until
    it has drained the backlog: the one trigger policy of every stream
    here (availableNow, so a run is deterministic and terminates)."""
    writer = writer.option("checkpointLocation", checkpoint_dir)
    writer.trigger(availableNow=True).start().awaitTermination()


def _drain_to_memory(
    df: DataFrame, name: str, output_mode: str, checkpoint_dir: str
) -> DataFrame:
    """:func:`_drain` into the in-memory sink ``name``; returns its table."""
    _drain(
        df.writeStream.format("memory").queryName(name).outputMode(output_mode),
        checkpoint_dir,
    )
    return df.sparkSession.table(name)


def _delta_dir(state_dir: str) -> str:
    """The delta log: one ``<batch_id:010d>`` directory per micro-batch.
    Spark and pyarrow skip ``_``-prefixed paths, so a plain read of
    ``state_dir`` sees only the last published state."""
    return os.path.join(state_dir, "_delta")


def _has_deltas(state_dir: str) -> bool:
    delta = _delta_dir(state_dir)
    return os.path.isdir(delta) and bool(os.listdir(delta))


def read_cdc_state(
    spark: SparkSession, state_dir: str, keep_tombstones: bool = False
) -> DataFrame:
    """Merge-on-read view of a CDC state table: the published base plus
    every delta not yet published, latest version per key.

    ``keep_tombstones=True`` keeps the winning delete rows, as a view
    that more change events will still be merged into must."""
    from ..operators.cdc import apply_cdc_upsert

    paths = []
    if os.path.exists(os.path.join(state_dir, "_SUCCESS")):
        paths.append(state_dir)
    if _has_deltas(state_dir):
        # Each batch dir by name: a read rooted at a `_` dir is ignored
        # as hidden, and a glob that is the read's only path makes Spark
        # stat it for a streaming-sink metadata dir and log a warning.
        delta = _delta_dir(state_dir)
        paths += [os.path.join(delta, b) for b in sorted(os.listdir(delta))]
    events = spark.read.schema(CDC_EVENT_SCHEMA).parquet(*paths)
    return apply_cdc_upsert(events, keep_tombstones=keep_tombstones)


def _apply_batch(state_dir: str):
    """foreachBatch body: append the micro-batch, as-is, to the delta log.

    It neither reads nor rewrites the state, so a batch costs the batch.
    A replayed batch id (crash after the write, before the checkpoint
    commit) overwrites its own directory with the same rows -- the
    idempotent-sink idiom of :func:`run_incremental_dedup_stream`.
    Tombstones stay in the log until publish, so a delete keeps
    outranking older updates that arrive in later micro-batches
    (Iceberg's merge-on-read delete files, kept until compaction)."""

    def inner(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("overwrite").parquet(
            os.path.join(_delta_dir(state_dir), f"{batch_id:010d}")
        )

    return inner


def run_cdc_upsert_stream(
    spark: SparkSession,
    events_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Tail a directory of CDC event parquet files (C2: chunked reads via
    maxFilesPerTrigger) into the state table's delta log; drains the
    backlog with availableNow and blocks until done, then publishes.

    Publish is the single merge of the run: base + every delta through
    :func:`read_cdc_state` with tombstones compacted out (the
    ``rewrite_data_files`` step), swapped in by ``sources.lake.replace_dir``.
    The deltas live inside the directory being replaced, so the rename
    that publishes the merge also retires them. A run that applied no
    batch and left no deltas publishes nothing."""
    # C6: if a prior run died between the state renames, restore the
    # backup (with its unpublished deltas) before the stream resumes.
    recover_dir(state_dir)
    stream = _file_stream(spark, CDC_EVENT_SCHEMA, events_dir, max_files_per_trigger)
    _drain(stream.writeStream.foreachBatch(_apply_batch(state_dir)), checkpoint_dir)
    if _has_deltas(state_dir):
        replace_dir(read_cdc_state(spark, state_dir), state_dir)


FIRST_SEEN_STATE_SCHEMA = StructType([StructField("seen", LongType())])
FIRST_SEEN_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("first_event_id", LongType()),
        StructField("n_new", LongType()),
        StructField("kind", StringType()),
    ]
)


def first_seen_tracker(key, pdfs, state):
    """applyInPandasWithState body: per-key first-seen/dedup tracker across
    micro-batches -- the custom-stateful-operator escape hatch for
    semantics session_window/window can't express. Emits one row per
    (key, batch): kind='first' with the new-event count on first sight,
    kind='repeat' with n_new=0 afterwards."""
    import pandas as pd

    seen = state.get[0] if state.exists else 0
    first_id = None
    n = 0
    for pdf in pdfs:
        n += len(pdf)
        mn = int(pdf["event_id"].min())
        first_id = mn if first_id is None else min(first_id, mn)
    new = 0 if seen else n
    state.update((seen + n,))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "first_event_id": [first_id],
            "n_new": [new],
            "kind": ["first" if not seen else "repeat"],
        }
    )


def run_first_seen_stream(
    spark: SparkSession, events_dir: str, checkpoint_dir: str
) -> DataFrame:
    """File-sourced event stream -> applyInPandasWithState first-seen
    tracker; drains with availableNow (1 file per micro-batch so state
    crosses batches) and returns the appended output."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    schema = StructType(
        [StructField("event_id", LongType()), StructField("user_id", LongType())]
    )
    out = _file_stream(spark, schema, events_dir).groupBy(
        "user_id"
    ).applyInPandasWithState(
        first_seen_tracker,
        outputStructType=FIRST_SEEN_OUT_SCHEMA,
        stateStructType=FIRST_SEEN_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _drain_to_memory(out, "first_seen", "append", checkpoint_dir)


def run_streaming_dedup(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Streaming exact dedup: dropDuplicates on the content fingerprint
    across micro-batches (state = one fingerprint per distinct doc; with
    event-time bounds, dropDuplicatesWithinWatermark caps that state --
    the streaming twin of operators.dedup.dedup_keep_first)."""
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("fingerprint", StringType()),
        ]
    )
    deduped = _file_stream(spark, schema, events_dir).dropDuplicates(
        ["fingerprint"]
    )
    return _drain_to_memory(deduped, "stream_dedup", "append", checkpoint_dir)


# Event rows with an integer microsecond timestamp, the input of the
# watermarked window rollups below.
_EPOCH_EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts_epoch_us", LongType()),
        StructField("user_id", LongType()),
        StructField("value", DoubleType()),
    ]
)


def run_streaming_tumbling(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    window_secs: int = 900,
    watermark: str = "1 day",
) -> DataFrame:
    """Watermarked tumbling-window aggregation over a file-sourced event
    stream (the streaming twin of operators.windows.events_tumbling_windows
    -- same buckets, incremental state instead of a batch shuffle)."""
    stream = (
        _file_stream(spark, _EPOCH_EVENT_SCHEMA, events_dir, None)
        .withColumn("ts", F.timestamp_micros(F.col("ts_epoch_us")))
        .withWatermark("ts", watermark)
    )
    agg = (
        stream.groupBy(F.window("ts", f"{window_secs} seconds"))
        .agg(
            F.count("*").alias("n_events"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            (F.unix_micros(F.col("window.start")) / 1_000_000)
            .cast("long")
            .alias("window_start_epoch"),
            "n_events",
            "approx_users",
        )
    )
    return _drain_to_memory(agg, "stream_tumbling", "complete", checkpoint_dir)


def run_streaming_sessionization(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    gap_secs: int = 30 * 60,
    watermark: str = "1 day",
) -> DataFrame:
    """Watermarked session_window rollup over a file-sourced event stream;
    drains with availableNow into an in-memory sink and returns the result
    (complete mode keeps the full session table for assertion)."""
    stream = (
        _file_stream(spark, _EPOCH_EVENT_SCHEMA, events_dir, None)
        .withColumn("ts", F.timestamp_micros(F.col("ts_epoch_us")))
        .withWatermark("ts", watermark)
    )
    agg = (
        stream.groupBy("user_id", F.session_window("ts", f"{gap_secs} seconds"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            (F.unix_micros(F.col("session_window.start")) / 1_000_000)
            .cast("long")
            .alias("window_start_epoch"),
            "n_events",
        )
    )
    return _drain_to_memory(agg, "stream_sessions", "complete", checkpoint_dir)


DOC_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("source", StringType()),
    ]
)


def run_incremental_dedup_stream(
    spark: SparkSession,
    docs_dir: str,
    index_dir: str,
    checkpoint_dir: str,
) -> None:
    """Streaming ingestion-time dedup (the streaming twin of
    operators.dedup.incremental_dedup_stats): each micro-batch of new
    documents dedups within itself (keep lowest doc_id per fingerprint),
    anti-joins the persistent fingerprint INDEX, and appends only
    net-new fingerprints to the index.

    Exactly-once without a transactional sink: each batch writes its
    net-new rows to ``<index_dir>/batch=<id>`` with overwrite — a
    replayed batch (crash after write, before checkpoint commit)
    rewrites the same directory with the same deterministic content
    instead of double-appending. This is the idempotent-partitioned-sink
    pattern; on a real lake the body is one MERGE INTO.

    100 TB shape: only the new batch ever shuffles (fingerprint window),
    the index side contributes just its fingerprint column to the join,
    and the index grows append-only — the historical corpus is never
    rewritten."""

    def body(batch: DataFrame, batch_id: int) -> None:
        _dedup_index_body(index_dir, batch, batch_id)

    stream = _file_stream(spark, DOC_STREAM_SCHEMA, docs_dir)
    _drain(stream.writeStream.foreachBatch(body), checkpoint_dir)


def _dedup_index_body(index_dir: str, batch: DataFrame, batch_id: int) -> None:
    """The foreachBatch body of :func:`run_incremental_dedup_stream`,
    module-level so the chaos tests exercise the REAL code path (the
    torn-write test wraps it; an inline-copy would let the copy and the
    product drift)."""
    from ..functions import norm_text

    rows = batch.select(
        "doc_id",
        "source",
        F.md5(norm_text(F.col("text"))).alias("fp"),
        F.lit(batch_id).alias("batch_id"),
    )
    _write_new_fingerprints(rows, index_dir, batch_id)


def _write_new_fingerprints(rows: DataFrame, sink_dir: str, batch_id: int) -> None:
    """Replay-safe partitioned sink for fingerprint-keyed ingestion: keep
    the lowest ``doc_id`` per ``fp`` of ``rows``, drop the fingerprints
    already in the sink's other ``batch=<id>`` partitions, and overwrite
    this batch's own ``<sink_dir>/batch=<batch_id>``. A replayed batch
    (crash after the write, before its offset committed) rewrites the
    same partition with the same rows instead of appending twice; on a
    real lake this is one MERGE INTO."""
    from pyspark.sql import Window

    w = Window.partitionBy("fp").orderBy("doc_id")
    fresh = (
        rows.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    # Remove any leftover batch=<id> partition BEFORE reading the sink.
    # A kill MID-write leaves torn parquet files whose footers the sink
    # read's schema inference/file listing can still open, wedging every
    # replay until manual cleanup. Deleting first is safe by the
    # checkpoint contract: a batch id is only re-delivered if its offset
    # never committed, so anything under this partition is a failed
    # attempt's partial output.
    own_part = os.path.join(sink_dir, f"batch={batch_id}")
    shutil.rmtree(own_part, ignore_errors=True)
    if os.path.isdir(sink_dir) and any(
        name.startswith("batch=") for name in os.listdir(sink_dir)
    ):
        # Belt-and-braces: still exclude THIS batch's partition from the
        # anti-join (a replay would otherwise anti-join against its own
        # write and erase its fingerprints). `batch` is the discovered
        # partition column of batch=<id>.
        existing = (
            rows.sparkSession.read.parquet(sink_dir)
            .where(F.col("batch") != batch_id)
            .select("fp")
        )
        fresh = fresh.join(existing, "fp", "left_anti")
    # Fingerprint-keyed adaptive write: the fp window above already
    # hash-partitions the batch by fp, that partitioning flows straight
    # into the sink (an explicit repartition(k, "fp") would be elided by
    # Catalyst as redundant), and AQE sizes the exchange by BYTES
    # (advisoryPartitionSizeInBytes). A trickle batch
    # (maxFilesPerTrigger=1) coalesces to one file, while a
    # backfill-sized batch keeps ~64 MB-per-task granularity and fans
    # the write across the cluster. Multi-file partitions replay like
    # single-file ones because the whole batch=<id> dir is deleted first
    # (pinned by test_fp_sink_backfill_batch_writes_multiple_files).
    fresh.write.mode("overwrite").parquet(own_part)


def run_corpus_ingest_stream(
    spark: SparkSession,
    docs_dir: str,
    corpus_dir: str,
    checkpoint_dir: str,
) -> None:
    """Streaming corpus ingestion: the corpus_build_pipeline front half
    (quality filter -> exact dedup -> shard assignment) run
    incrementally as new document files arrive — how a 100 TB training
    corpus actually accumulates (crawl shards land daily; nobody re-runs
    the batch build from scratch).

    Per micro-batch: quality-reject first (dropped docs never shuffle),
    dedup within the batch (keep lowest doc_id per fingerprint),
    anti-join the fingerprints already IN the corpus (excluding this
    batch's own partition — the replay-safety rule the chaos tests
    pin), assign the deterministic md5 shard, and append net-new docs
    to ``<corpus_dir>/batch=<id>`` with overwrite (idempotent
    partitioned sink). The accumulated corpus is then directly readable
    for the packing/mix stages.

    The quality gate (``operators.text._quality_keep``) and the shard
    (``operators.sampling._pack_shard``) are the ones
    corpus_build_pipeline composes, so streamed ingestion converges to
    the same corpus the batch build would produce from the same
    documents — exactly, when duplicates arrive in doc_id order (crawl
    dumps ship id-ordered); under arbitrary arrival order keep-first
    retains the first-ARRIVED representative instead of the lowest id,
    which changes the kept doc_id but never the fingerprint set."""
    def body(batch: DataFrame, batch_id: int) -> None:
        _corpus_ingest_body(corpus_dir, batch, batch_id)

    stream = _file_stream(spark, DOC_STREAM_SCHEMA, docs_dir)
    _drain(stream.writeStream.foreachBatch(body), checkpoint_dir)


def _corpus_ingest_body(
    corpus_dir: str, batch: DataFrame, batch_id: int
) -> None:
    """The foreachBatch body of :func:`run_corpus_ingest_stream`,
    module-level so the chaos tests exercise the real code path: the
    shared quality gate and pack shard, then the fingerprint sink."""
    from ..functions import norm_text, tokens
    from ..operators.sampling import _pack_shard
    from ..operators.text import _punct_ratio, _quality_keep

    n_tokens = F.size(tokens(F.col("text")))
    rows = batch.filter(_quality_keep(n_tokens, _punct_ratio())).select(
        "doc_id",
        "source",
        n_tokens.cast("long").alias("n_toks"),
        _pack_shard().alias("shard"),
        F.md5(norm_text(F.col("text"))).alias("fp"),
    )
    _write_new_fingerprints(rows, corpus_dir, batch_id)


# ---------------------------------------------------------------------------
# Vector-index serving: assign an arriving embedding stream to a
# trained k-means index (the online half of operators/clustering.py)
# ---------------------------------------------------------------------------

VEC_STREAM_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ]
)


def run_vector_assign_stream(
    spark: SparkSession,
    vec_dir: str,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Serve a TRAINED k-means index over an arriving vector stream:
    each micro-batch of embeddings is assigned to its nearest centroid
    with the same broadcast-argmin projection the batch op uses
    (operators/clustering._assign), against the index materialized at
    ``index_dir`` (the model artifact a training run publishes).

    Replay safety: each micro-batch overwrites its own
    ``batch=<id>`` partition, so a batch replayed after a crash
    rewrites the identical rows instead of duplicating them -- the same
    idempotent-partitioned-sink rule as the corpus ingest stream. The
    assignment itself is stateless (pure projection against a constant
    index), which is why serving scales to any arrival rate: no
    streaming state store, no watermark, one task per input split."""

    def body(batch: DataFrame, batch_id: int) -> None:
        from ..operators.clustering import _assign
        from ..operators.similarity import _dvec

        bspark = batch.sparkSession
        cent = bspark.read.parquet(index_dir)
        assigned = _assign(
            batch.select("vec_id", _dvec(F.col("embedding")).alias("dv")),
            cent,
        )
        (
            assigned.select("vec_id", "cluster", "d2")
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"batch={batch_id}"))
        )

    stream = _file_stream(spark, VEC_STREAM_SCHEMA, vec_dir)
    _drain(stream.writeStream.foreachBatch(body), checkpoint_dir)


# ---------------------------------------------------------------------------
# Event-time watermark + append-mode windowed aggregation (late-data
# drop semantics -- the watermark half of the C3 streaming surface;
# the tumbling/sliding batch twins live in operators/windows.py)
# ---------------------------------------------------------------------------

EVENT_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("value", DoubleType()),
    ]
)

WM_DELAY_SECS = 2 * 86400    # watermark: 2 days of allowed lateness
WM_WINDOW_SECS = 3600        # 1-hour tumbling windows

# State-store partition count for the windowed aggregation. Sized to the
# STATE cardinality, not the data: open windows are bounded by
# delay/window (~48 here), so 8 state partitions is right at ANY corpus
# size -- the heavy lifting stays parallel in the map-side partial
# aggregation (per-window partials reduce BEFORE the shuffle, so the
# state exchange moves windows x map-tasks rows, never events). Measured
# at sf0.1 bench settings: 32 state partitions 4.58 s -> 8 partitions
# 3.04 s median (per-batch store open/commit overhead is linear in
# partition count, 4-5 batches per run). A deployment whose open-window
# count is large (tiny windows, huge lateness) raises this; it is the
# number of STATE shards, not the job's parallelism.
WM_STATE_PARTITIONS = 8


def run_watermark_window_stream(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Append-mode tumbling-window aggregation under an event-time
    watermark: windows are emitted exactly once, when the watermark
    (max event time seen so far minus WM_DELAY_SECS) passes their end;
    rows arriving after the watermark passed their event time are
    DROPPED by the engine. Deterministic because the staged chunk files
    arrive in a pinned order (mtime-ordered, one file per micro-batch)
    and the final watermark never lands exactly on a window boundary
    (event times carry microseconds; the delay is a whole number of
    seconds), so the <=-vs-< eviction edge cannot trigger.

    100 TB shape: the only state is one row per OPEN window (bounded by
    delay/window, not by corpus size); the aggregation is the same
    partial-combine window rollup as the batch twin; eviction is
    watermark-driven, so state never grows with history. State shards
    are sized to that bounded cardinality (WM_STATE_PARTITIONS; the
    shuffle-partitions conf is pinned around query start because a
    stream's state partitioning is fixed at first-checkpoint time)."""
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    agg = (
        _file_stream(spark, EVENT_STREAM_SCHEMA, events_dir)
        .withWatermark("ts", f"{WM_DELAY_SECS} seconds")
        .groupBy(F.window("ts", f"{WM_WINDOW_SECS} seconds").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,6)"))
            .cast("double")
            .alias("window_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_epoch"),
            "n_events",
            "window_value",
        )
    )
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(WM_STATE_PARTITIONS)
    )
    try:
        _drain(
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir),
            checkpoint_dir,
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)


# ---------------------------------------------------------------------------
# Stateful streaming dedup: exactly-once ingestion under at-least-once
# delivery (a replayed chunk must contribute nothing)
# ---------------------------------------------------------------------------

DEDUP_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def run_stream_dedup(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """File-sourced event stream -> watermarked ``dropDuplicates`` on
    (event_id, ts) -> append parquet sink: the exactly-once ingestion
    idiom for an at-least-once transport (a replayed file's rows match
    live dedup state and emit nothing). Including the event-time column
    in the dedup key is what BOUNDS the state: keys older than the
    watermark are evicted, so state holds only the last
    WM_DELAY_SECS of keys -- not the whole history -- at any corpus
    rate. Emission is immediate on first arrival (dropDuplicates in
    append mode does not wait for the watermark), so the sink holds
    exactly the distinct events."""
    deduped = (
        _file_stream(spark, DEDUP_STREAM_SCHEMA, events_dir)
        .withWatermark("ts", f"{WM_DELAY_SECS} seconds")
        .dropDuplicates(["event_id", "ts"])
    )
    _drain(
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir),
        checkpoint_dir,
    )
