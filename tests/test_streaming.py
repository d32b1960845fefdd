"""Streaming CDC upsert + sessionization: the streamed result must equal
the batch operator's result (the reference's cross-layer-consistency idiom
applied to streaming)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from apache_iceberg_with_clickhouse_olake_spark.operators.cdc import (
    apply_cdc_upsert,
    synthetic_change_events,
)
from apache_iceberg_with_clickhouse_olake_spark.sources.parquet import load_table
from apache_iceberg_with_clickhouse_olake_spark.streaming import (
    DOC_STREAM_SCHEMA,
    _corpus_ingest_body,
    _dedup_index_body,
    read_cdc_state,
    run_cdc_upsert_stream,
    run_corpus_ingest_stream,
    run_incremental_dedup_stream,
    run_streaming_sessionization,
)

CDC_COLS = ["key", "custkey", "price", "_op", "_seq", "_sync_ts_epoch"]


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_cdc_stream_matches_batch(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 2000
    )
    events = synthetic_change_events(orders)

    events_dir = str(tmp_path / "events")
    # Split the stream into 3 chunks by seq to exercise multi-batch apply
    # (order matters: later seqs must override earlier state).
    for i, cond in enumerate(
        [F.col("_seq") == 0, F.col("_seq") == 1, F.col("_seq") >= 2]
    ):
        events.filter(cond).coalesce(1).write.mode("append").parquet(events_dir)

    state_dir = str(tmp_path / "state")
    run_cdc_upsert_stream(
        spark, events_dir, state_dir, str(tmp_path / "ckpt"), 1
    )

    got = spark.read.parquet(state_dir)
    want = apply_cdc_upsert(events)
    cols = ["key", "custkey", "price", "_op", "_seq", "_sync_ts_epoch"]
    assert _rows(got, cols) == _rows(want, cols)
    # Deletes dropped, latest version won.
    assert got.filter(F.col("_op") == "d").count() == 0


def test_cdc_stream_restart_is_idempotent(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 500
    )
    events = synthetic_change_events(orders)
    events_dir = str(tmp_path / "events")
    events.coalesce(1).write.parquet(events_dir)

    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    run_cdc_upsert_stream(spark, events_dir, state_dir, ckpt, 10)
    first = _rows(spark.read.parquet(state_dir), ["key", "price"])
    files = sorted(os.listdir(state_dir))
    # Restart with the same checkpoint: no new files -> state unchanged,
    # and no delta to merge, so the publish is skipped (same file names).
    run_cdc_upsert_stream(spark, events_dir, state_dir, ckpt, 10)
    assert _rows(spark.read.parquet(state_dir), ["key", "price"]) == first
    assert sorted(os.listdir(state_dir)) == files


def test_streaming_sessionization_matches_batch(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    flat = events.select(
        "event_id",
        F.unix_micros("ts").alias("ts_epoch_us"),
        "user_id",
        "value",
    )
    events_dir = str(tmp_path / "events")
    flat.coalesce(2).write.parquet(events_dir)

    got = run_streaming_sessionization(
        spark, events_dir, str(tmp_path / "ckpt")
    )

    from apache_iceberg_with_clickhouse_olake_spark.operators.sessions import (
        sessionize,
    )

    batch = (
        sessionize(events)
        .groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            (F.min(F.unix_micros("ts")) / 1_000_000)
            .cast("long")
            .alias("window_start_epoch"),
        )
    )
    cols = ["user_id", "window_start_epoch", "n_events"]
    assert _rows(got, cols) == _rows(batch, cols)


def test_snapshot_backfill_then_cdc_tail(spark, sf_dir, tmp_path):
    """C1 (source.json:8-15): initial full snapshot as a BATCH write, then
    the continuous change stream applies on top -- final state must equal
    the batch operator applied to the full event log."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 1000
    )
    events = synthetic_change_events(orders)
    snapshot = events.filter(F.col("_seq") <= 0)  # initial load
    tail = events.filter(F.col("_seq") > 0)       # binlog tail

    state_dir = str(tmp_path / "state")
    # Phase 1: batch backfill of the snapshot (chunked reads modeled by
    # the writer's partitioning; the stream below uses maxFilesPerTrigger).
    from apache_iceberg_with_clickhouse_olake_spark.operators.cdc import (
        apply_cdc_upsert as upsert,
    )

    upsert(snapshot).write.parquet(state_dir)

    # Phase 2: stream the tail into the same state.
    events_dir = str(tmp_path / "events")
    tail.coalesce(2).write.parquet(events_dir)
    run_cdc_upsert_stream(
        spark, events_dir, state_dir, str(tmp_path / "ckpt"), 1
    )

    got = spark.read.parquet(state_dir)
    want = apply_cdc_upsert(events)
    cols = ["key", "custkey", "price", "_op", "_seq", "_sync_ts_epoch"]
    assert _rows(got, cols) == _rows(want, cols)


def test_streaming_tumbling_matches_batch(spark, sf_dir, tmp_path):
    """Streaming tumbling windows must reproduce the batch bucket counts
    (same 15-min buckets as events_tumbling_windows)."""
    from apache_iceberg_with_clickhouse_olake_spark.streaming import (
        run_streaming_tumbling,
    )

    events = load_table(spark, sf_dir, "events")
    flat = events.select(
        "event_id",
        F.unix_micros("ts").alias("ts_epoch_us"),
        "user_id",
        "value",
    )
    events_dir = str(tmp_path / "events")
    flat.repartition(2).write.parquet(events_dir)

    got = run_streaming_tumbling(spark, events_dir, str(tmp_path / "ckpt"))
    batch = (
        events.groupBy(
            (F.expr("(unix_micros(ts) div 1000000) div 900") * 900).alias(
                "window_start_epoch"
            )
        )
        .agg(F.count("*").alias("n_events"))
    )
    g = {r.window_start_epoch: r.n_events for r in got.collect()}
    b = {r.window_start_epoch: r.n_events for r in batch.collect()}
    assert g == b


def test_streaming_dedup_matches_batch(spark, sf_dir, tmp_path):
    """Streaming dropDuplicates(fingerprint) across micro-batches keeps
    exactly one row per distinct fingerprint -- the same set the batch
    dedup operator keeps."""
    from apache_iceberg_with_clickhouse_olake_spark.functions import norm_text
    from apache_iceberg_with_clickhouse_olake_spark.streaming import (
        run_streaming_dedup,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(norm_text(F.col("text"))).alias("fingerprint")
    )
    events_dir = str(tmp_path / "docs")
    docs.repartition(3).write.parquet(events_dir)

    got = run_streaming_dedup(spark, events_dir, str(tmp_path / "ckpt"))
    assert got.count() == docs.select("fingerprint").distinct().count()
    # one row per fingerprint, each a real (doc_id, fingerprint) pair
    assert got.groupBy("fingerprint").count().filter("count > 1").count() == 0


def test_replace_state_crash_recovery(spark, tmp_path):
    """A crash between the two renames leaves '<dir>.old' and no live
    dir; recover_dir must restore the backup (the checkpoint had not
    committed that batch, so it replays) and clear stale staging dirs."""
    import os

    from apache_iceberg_with_clickhouse_olake_spark.sources.lake import (
        recover_dir,
        replace_dir,
    )

    state = str(tmp_path / "state")
    df = spark.range(5).withColumnRenamed("id", "key")
    replace_dir(df, state)
    assert spark.read.parquet(state).count() == 5

    # simulate the crash window: state renamed away, new state not yet in
    os.rename(state, state + ".old")
    os.makedirs(state + ".next")  # stale staging dir from the dead write
    recover_dir(state)
    assert spark.read.parquet(state).count() == 5
    assert not os.path.exists(state + ".old")
    assert not os.path.exists(state + ".next")

    # normal path: recovery with a live state dir is a no-op
    recover_dir(state)
    assert spark.read.parquet(state).count() == 5


def test_cdc_stream_crash_after_sink_before_commit_is_exactly_once(
    spark, sf_dir, tmp_path
):
    """The C6 chaos case: kill the stream INSIDE the danger window — the
    micro-batch's delta write has landed but its checkpoint offset has
    not committed. On restart Structured Streaming replays that batch;
    the replay overwrites the batch's own delta directory, so the final
    state must equal the batch oracle exactly — no dropped and no
    double-applied changes."""
    from apache_iceberg_with_clickhouse_olake_spark.streaming import (
        CDC_EVENT_SCHEMA,
        _apply_batch,
    )

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 2000
    )
    events = synthetic_change_events(orders)
    events_dir = str(tmp_path / "events")
    for cond in [F.col("_seq") == 0, F.col("_seq") == 1, F.col("_seq") >= 2]:
        events.filter(cond).coalesce(1).write.mode("append").parquet(
            events_dir
        )

    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    inner = _apply_batch(state_dir)
    crashed = []

    def poisoned(batch, batch_id):
        inner(batch, batch_id)  # sink write fully lands first
        if batch_id == 1 and not crashed:
            crashed.append(batch_id)
            raise RuntimeError(
                "injected crash after sink write, before checkpoint commit"
            )

    q = (
        spark.readStream.schema(CDC_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
        .writeStream.foreachBatch(poisoned)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    import pytest as _pytest

    with _pytest.raises(Exception):
        q.awaitTermination()
    assert crashed == [1]
    # Prove the crash hit the danger window: the batch-1 (seq==1) rows
    # are already IN the merge-on-read state, though their offset never
    # committed.
    mid = read_cdc_state(spark, state_dir, keep_tombstones=True)
    assert mid.filter(F.col("_seq") == 1).count() > 0

    # Restart without the poison: batch 1 replays into its own delta
    # dir, then batch 2 applies, then the publish merges and compacts
    # tombstones out.
    run_cdc_upsert_stream(spark, events_dir, state_dir, ckpt, 1)
    got = spark.read.parquet(state_dir)
    want = apply_cdc_upsert(events)
    cols = ["key", "custkey", "price", "_op", "_seq", "_sync_ts_epoch"]
    assert _rows(got, cols) == _rows(want, cols)
    assert got.filter(F.col("_op") == "d").count() == 0


def test_cdc_batch_writes_only_its_own_events(spark, tmp_path):
    """A micro-batch costs the batch: applying it (twice, as a replay
    would) adds one delta holding exactly its rows and leaves the
    published base byte-for-byte alone; plain readers still see only the
    base, and the merge-on-read view equals latest-per-key over
    base + batch."""
    from apache_iceberg_with_clickhouse_olake_spark.streaming import (
        _apply_batch,
    )

    state_dir = str(tmp_path / "state")
    base = spark.range(5000).select(
        F.col("id").alias("key"),
        (F.col("id") % 97).alias("custkey"),
        (F.col("id") * 1.5).alias("price"),
        F.lit("c").alias("_op"),
        F.lit(0).cast("long").alias("_seq"),
        F.lit(0).cast("long").alias("_sync_ts_epoch"),
    )
    base.write.parquet(state_dir)

    def base_files():
        out = {}
        for name in os.listdir(state_dir):
            if name != "_delta":
                st = os.stat(os.path.join(state_dir, name))
                out[name] = (st.st_size, st.st_mtime_ns)
        return out

    before = base_files()
    # Updates to keys 4990-4999, inserts of 5000-5009, one delete.
    key = F.col("id")
    batch = spark.range(4990, 5010).select(
        key.alias("key"),
        (key % 97).alias("custkey"),
        F.when(key == 4995, F.lit(None)).otherwise(key * 2.0).alias("price"),
        F.when(key == 4995, "d").when(key < 5000, "u").otherwise("c").alias("_op"),
        F.lit(1).cast("long").alias("_seq"),
        F.lit(60).cast("long").alias("_sync_ts_epoch"),
    )
    apply = _apply_batch(state_dir)
    apply(batch, 7)
    apply(batch, 7)  # a replay of the uncommitted batch id

    assert base_files() == before
    delta = os.path.join(state_dir, "_delta")
    assert os.listdir(delta) == ["0000000007"]
    got_delta = spark.read.parquet(os.path.join(delta, "0000000007"))
    assert _rows(got_delta, CDC_COLS) == _rows(batch, CDC_COLS)
    assert _rows(spark.read.parquet(state_dir), CDC_COLS) == _rows(base, CDC_COLS)
    want = apply_cdc_upsert(base.unionByName(batch))
    assert _rows(read_cdc_state(spark, state_dir), CDC_COLS) == _rows(want, CDC_COLS)


def test_cdc_publish_crash_between_renames_recovers(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A crash between the publish's two renames leaves the state at
    '<dir>.old' with its unpublished delta log inside. The next call
    restores it, merges the deltas again and publishes the oracle
    state."""
    from apache_iceberg_with_clickhouse_olake_spark import streaming

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 2000
    )
    events = synthetic_change_events(orders)
    events_dir = str(tmp_path / "events")
    for cond in [F.col("_seq") == 0, F.col("_seq") == 1, F.col("_seq") >= 2]:
        events.filter(cond).coalesce(1).write.mode("append").parquet(
            events_dir
        )
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    real_rename = os.rename
    renames = []

    def crash_on_second_rename(src, dst):
        renames.append(dst)
        if len(renames) == 2:
            raise OSError("injected crash between the publish renames")
        real_rename(src, dst)

    monkeypatch.setattr(streaming.os, "rename", crash_on_second_rename)
    with pytest.raises(OSError, match="injected crash"):
        run_cdc_upsert_stream(spark, events_dir, state_dir, ckpt, 1)
    monkeypatch.undo()
    assert not os.path.exists(state_dir)
    assert len(os.listdir(os.path.join(state_dir + ".old", "_delta"))) == 3

    run_cdc_upsert_stream(spark, events_dir, state_dir, ckpt, 1)
    got = spark.read.parquet(state_dir)
    assert _rows(got, CDC_COLS) == _rows(apply_cdc_upsert(events), CDC_COLS)
    assert not os.path.exists(os.path.join(state_dir, "_delta"))
    assert not os.path.exists(state_dir + ".old")
    assert not os.path.exists(state_dir + ".next")


def test_incremental_dedup_stream_builds_exact_index(spark, sf_dir, tmp_path):
    """Streamed ingestion dedup: three document chunks (with duplicates
    within and across chunks) drain through the fingerprint-index
    stream; the final index must hold each distinct fingerprint exactly
    once with its FIRST-seen doc_id, and a checkpointed restart with no
    new files must not grow it."""
    from apache_iceberg_with_clickhouse_olake_spark.functions import norm_text
    from apache_iceberg_with_clickhouse_olake_spark.streaming import (
        run_incremental_dedup_stream,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", "text", "source")
    )
    docs_dir = str(tmp_path / "docs")
    # chunk 0: doc_id < 100; chunk 1: 50..200 (overlaps 0); chunk 2: rest
    for cond in [
        F.col("doc_id") < 100,
        (F.col("doc_id") >= 50) & (F.col("doc_id") < 200),
        F.col("doc_id") >= 150,
    ]:
        docs.filter(cond).coalesce(1).write.mode("append").parquet(docs_dir)

    index_dir = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    run_incremental_dedup_stream(spark, docs_dir, index_dir, ckpt)

    got = spark.read.parquet(index_dir)
    want = (
        docs.select(
            "doc_id", F.md5(norm_text(F.col("text"))).alias("fp")
        )
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    assert got.count() == want.count()
    assert got.groupBy("fp").count().filter("count > 1").count() == 0
    assert _rows(got, ["fp", "doc_id"]) == _rows(want, ["fp", "doc_id"])

    # restart with the drained checkpoint: index must not grow
    run_incremental_dedup_stream(spark, docs_dir, index_dir, ckpt)
    assert spark.read.parquet(index_dir).count() == want.count()


def test_incremental_dedup_stream_crash_replay_is_idempotent(
    spark, sf_dir, tmp_path
):
    """Chaos twin for the fingerprint-index stream: crash AFTER batch 1's
    index partition is written but BEFORE its offset commits; the replay
    overwrites the same batch=1 directory with identical content, so the
    final index must equal the batch oracle with no duplicated
    fingerprints."""
    from apache_iceberg_with_clickhouse_olake_spark.functions import norm_text
    from apache_iceberg_with_clickhouse_olake_spark.streaming import (
        DOC_STREAM_SCHEMA,
        run_incremental_dedup_stream,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text", "source")
    )
    docs_dir = str(tmp_path / "docs")
    for cond in [F.col("doc_id") < 80, (F.col("doc_id") >= 40) & (
        F.col("doc_id") < 150
    ), F.col("doc_id") >= 120]:
        docs.filter(cond).coalesce(1).write.mode("append").parquet(docs_dir)

    index_dir = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")

    # poisoned first pass: reuse the real body via a wrapper stream
    import os as _os

    from pyspark.sql import Window as _W

    crashed = []

    def poisoned(batch, batch_id):
        w = _W.partitionBy("fp").orderBy("doc_id")
        fresh = (
            batch.select(
                "doc_id",
                "source",
                F.md5(norm_text(F.col("text"))).alias("fp"),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        if _os.path.isdir(index_dir) and any(
            n.startswith("batch=") for n in _os.listdir(index_dir)
        ):
            existing = (
                batch.sparkSession.read.parquet(index_dir)
                .where(F.col("batch") != batch_id)
                .select("fp")
            )
            fresh = fresh.join(existing, "fp", "left_anti")
        (
            fresh.withColumn("batch_id", F.lit(batch_id))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(_os.path.join(index_dir, f"batch={batch_id}"))
        )
        if batch_id == 1 and not crashed:
            crashed.append(batch_id)
            raise RuntimeError("injected crash after index write")

    q = (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
        .writeStream.foreachBatch(poisoned)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    import pytest as _pytest

    with _pytest.raises(Exception):
        q.awaitTermination()
    assert crashed == [1]
    # danger window proven: batch=1 partition exists, offset uncommitted
    assert os.path.isdir(os.path.join(index_dir, "batch=1"))

    run_incremental_dedup_stream(spark, docs_dir, index_dir, ckpt)
    got = spark.read.parquet(index_dir)
    want = (
        docs.select("doc_id", F.md5(norm_text(F.col("text"))).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    assert got.groupBy("fp").count().filter("count > 1").count() == 0
    assert _rows(got, ["fp", "doc_id"]) == _rows(want, ["fp", "doc_id"])


def _stage_docs(spark, sf_dir, tmp_path, n_docs, chunks):
    """Documents with doc_id < n_docs, staged under ``tmp_path/docs`` as
    one parquet file per [lo, hi) doc_id chunk (one micro-batch each)."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < n_docs)
        .select("doc_id", "text", "source")
    )
    docs_dir = str(tmp_path / "docs")
    for lo, hi in chunks:
        docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.mode("append").parquet(docs_dir)
    return docs, docs_dir


def _fp_first(docs):
    """(fp, doc_id): each fingerprint of ``docs`` once, lowest doc_id."""
    from apache_iceberg_with_clickhouse_olake_spark.functions import norm_text

    return (
        docs.select("doc_id", F.md5(norm_text(F.col("text"))).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
    )


def _quality_kept(docs):
    """The docs the corpus layer's shared quality gate keeps."""
    from apache_iceberg_with_clickhouse_olake_spark.functions import tokens
    from apache_iceberg_with_clickhouse_olake_spark.operators.text import (
        _punct_ratio,
        _quality_keep,
    )

    return docs.filter(
        _quality_keep(F.size(tokens(F.col("text"))), _punct_ratio())
    )


def test_corpus_ingest_stream_converges_to_batch_build(
    spark, sf_dir, tmp_path
):
    """Streamed corpus ingestion (quality -> dedup -> shard, incremental)
    must converge to EXACTLY the corpus the batch build derives from the
    same documents: same kept doc_ids, same shard assignment, same token
    counts, no duplicate fingerprints — and a checkpointed restart must
    not grow it."""
    from apache_iceberg_with_clickhouse_olake_spark.functions import (
        norm_text,
        tokens,
    )
    from apache_iceberg_with_clickhouse_olake_spark.operators.sampling import (
        _pack_shard,
    )

    docs, docs_dir = _stage_docs(
        spark, sf_dir, tmp_path, 400, ((0, 150), (100, 300), (250, 400))
    )
    corpus_dir = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    run_corpus_ingest_stream(spark, docs_dir, corpus_dir, ckpt)

    got = spark.read.parquet(corpus_dir)
    # batch twin: the shared quality gate -> keep-first dedup -> the
    # shared pack shard
    from pyspark.sql import Window

    w = Window.partitionBy("fp").orderBy("doc_id")
    want = (
        _quality_kept(docs)
        .select(
            "doc_id",
            "source",
            F.size(tokens(F.col("text"))).cast("long").alias("n_toks"),
            _pack_shard().alias("shard"),
            F.md5(norm_text(F.col("text"))).alias("fp"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    cols = ["doc_id", "source", "n_toks", "shard", "fp"]
    assert got.groupBy("fp").count().filter("count > 1").count() == 0
    assert _rows(got, cols) == _rows(want, cols)

    run_corpus_ingest_stream(spark, docs_dir, corpus_dir, ckpt)
    assert spark.read.parquet(corpus_dir).count() == want.count()


# The two fingerprint-sink streams share their chaos and write-shape
# contracts: (runner, foreachBatch body, docs the sink indexes, staged
# doc range, chunks).
_FP_SINKS = {
    "dedup_index": (
        run_incremental_dedup_stream,
        _dedup_index_body,
        lambda docs: docs,
        200,
        ((0, 80), (40, 150), (120, 200)),
    ),
    "corpus_ingest": (
        run_corpus_ingest_stream,
        _corpus_ingest_body,
        _quality_kept,
        400,
        ((0, 150), (100, 300), (250, 400)),
    ),
}


@pytest.mark.parametrize("sink", list(_FP_SINKS))
def test_fp_sink_torn_write_recovers(spark, sf_dir, tmp_path, sink):
    """Chaos twin for the kill the r5 ADVICE flagged as untested: the
    process dies MID-parquet-write, leaving a TORN file (garbage bytes,
    unreadable footer) in the uncommitted batch partition — not the
    complete-file crash the existing replay test injects. The restart
    must not wedge on schema inference/footer listing touching the
    corrupt sibling: the body deletes its own batch=<id> partition
    before reading the sink, so the replay sees only committed
    partitions and converges to the batch oracle."""
    run, body, indexed, n_docs, chunks = _FP_SINKS[sink]
    docs, docs_dir = _stage_docs(spark, sf_dir, tmp_path, n_docs, chunks)
    sink_dir = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    # First pass: batch 0 commits normally; the process "dies" MID-WRITE
    # of batch 1 — at the kill instant the batch=1 partition holds a torn
    # parquet file (garbage bytes, unreadable footer, no _SUCCESS) and
    # batch 1's offset never commits. This is the realistic torn state:
    # earlier batches are always committed before a later batch starts
    # writing.
    ran = []
    torn_dir = os.path.join(sink_dir, "batch=1")

    def poisoned(batch, batch_id):
        if batch_id == 1 and not os.path.isdir(torn_dir):
            os.makedirs(torn_dir)
            with open(
                os.path.join(torn_dir, "part-torn.snappy.parquet"), "wb"
            ) as f:
                f.write(b"PAR1\x00\x13\x37garbage-not-a-footer")
            raise RuntimeError("injected kill mid-write of batch 1")
        body(sink_dir, batch, batch_id)
        ran.append(batch_id)

    q = (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
        .writeStream.foreachBatch(poisoned)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception):
        q.awaitTermination()
    assert ran == [0]
    # danger window proven: torn partition exists, batch 1 uncommitted
    assert os.path.exists(os.path.join(torn_dir, "part-torn.snappy.parquet"))

    # Restart: must read past the torn partition, rewrite batch=1, and
    # converge to the batch oracle with no duplicate fingerprints.
    run(spark, docs_dir, sink_dir, ckpt)
    got = spark.read.parquet(sink_dir)
    want = _fp_first(indexed(docs))
    assert got.groupBy("fp").count().filter("count > 1").count() == 0
    assert _rows(got, ["fp", "doc_id"]) == _rows(want, ["fp", "doc_id"])


@pytest.mark.parametrize("sink", list(_FP_SINKS))
def test_fp_sink_backfill_batch_writes_multiple_files(
    spark, sf_dir, tmp_path, sink
):
    """The departition of the sink write: the batch's fp-hash
    partitioning flows into the sink and AQE sizes it by bytes, so a
    trickle batch coalesces to one file while a backfill-sized batch
    fans across tasks instead of serializing through one core (the r6
    coalesce(1) wart). Sandbox batches are all tiny, so 'backfill-sized'
    is simulated by shrinking AQE's advisory partition size for the
    write -- the same mechanism that keeps ~64 MB tasks at production
    scale. A replay of the multi-file batch must overwrite to identical
    content (the idempotent-partitioned-sink contract survives k > 1).
    The streaming-trigger tests all ride maxFilesPerTrigger=1
    single-partition batches, so without this test the multi-file
    branch would ship driver-unexercised."""
    _, body, indexed, _, _ = _FP_SINKS[sink]
    sink_dir = str(tmp_path / "sink")
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", "source")
    )
    # batch 0: a committed trickle batch -> AQE coalesces to one file
    trickle = docs.filter(F.col("doc_id") < 40).repartition(1)
    body(sink_dir, trickle, 0)
    part0 = os.path.join(sink_dir, "batch=0")
    files0 = [f for f in os.listdir(part0) if f.endswith(".parquet")]
    assert len(files0) == 1, "trickle batch should still land one file"

    # batch 1: backfill-shaped relative to the advisory size
    # (overlapping fingerprints with batch 0) -> multi-file write
    advisory = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    min_size = spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    )
    backfill = docs.filter(F.col("doc_id") >= 20).repartition(8)
    try:
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "4096"
        )
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize", "1024"
        )
        body(sink_dir, backfill, 1)
    finally:
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory
        )
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize", min_size
        )
    part1 = os.path.join(sink_dir, "batch=1")
    files1 = [f for f in os.listdir(part1) if f.endswith(".parquet")]
    assert len(files1) > 1, (
        f"backfill batch wrote {len(files1)} file(s); the fp-keyed "
        "write should fan out once the batch outgrows the advisory size"
    )

    # Sink correctness with the multi-file partition in place: each
    # fingerprint exactly once across batches (anti-join + in-batch
    # keep-first), first-seen (= lowest) doc_id wins.
    got = spark.read.parquet(sink_dir)
    want = _fp_first(indexed(docs))
    assert got.groupBy("fp").count().filter("count > 1").count() == 0
    assert _rows(got, ["fp", "doc_id"]) == _rows(want, ["fp", "doc_id"])

    # Replay of the multi-file batch (crash-after-write, before-commit):
    # content must be byte-identical in effect — same rows, still no
    # duplicated fingerprints.
    before = _rows(spark.read.parquet(sink_dir), ["fp", "doc_id"])
    body(sink_dir, backfill, 1)
    after = _rows(spark.read.parquet(sink_dir), ["fp", "doc_id"])
    assert before == after


def test_watermark_stream_drops_late_and_emits_once(spark, sf_dir):
    """events_watermark_late_drop invariants beyond the oracle hash:
    every emitted window closed under the final watermark, no window
    emitted twice, and the held-back rows really were dropped (emitted
    totals are strictly below the all-rows batch rollup)."""
    from apache_iceberg_with_clickhouse_olake_spark.operators.registry import (
        REGISTRY,
    )
    from apache_iceberg_with_clickhouse_olake_spark.operators.streaming_queries import (
        _WM_HOLD_DAYS,
        _WM_HOLD_MOD,
    )
    from apache_iceberg_with_clickhouse_olake_spark.streaming import (
        WM_DELAY_SECS,
        WM_WINDOW_SECS,
    )

    rows = REGISTRY["events_watermark_late_drop"].fn(spark, sf_dir).collect()
    assert rows
    starts = [r["window_start_epoch"] for r in rows]
    assert len(starts) == len(set(starts))  # exactly-once emission

    events = load_table(spark, sf_dir, "events")
    es = F.unix_timestamp(F.col("ts").cast("timestamp"))
    min_es, max_es = events.agg(F.min(es), F.max(es)).first()
    wm = max_es - WM_DELAY_SECS
    t_hold = min_es + _WM_HOLD_DAYS * 86400
    assert all(s + WM_WINDOW_SECS <= wm for s in starts), (max(starts), wm)

    emitted_total = sum(r["n_events"] for r in rows)
    batch_total = events.filter(es + WM_WINDOW_SECS <= wm).count()
    held_dropped = events.filter(
        (F.col("event_id") % _WM_HOLD_MOD == 0) & (es < F.lit(t_hold))
    ).count()
    assert held_dropped > 0
    # emitted = on-time rows in closed windows; strictly fewer than the
    # all-rows batch count over the same horizon => drops really happened
    assert emitted_total < batch_total, (emitted_total, batch_total)
