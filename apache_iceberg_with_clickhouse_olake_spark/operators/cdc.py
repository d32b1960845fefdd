"""CDC ingestion / upsert-apply operators (reference core: OLake's
snapshot + binlog pipeline with merge-on-read upsert,
olake-config/source.json:8-15, olake-config/destination.json:89-91,
129-134; audit columns _olake_sync_timestamp/_olake_operation,
destination.json:129-130).

The batch surface here is the *read-side* merge-on-read equivalent: given
a change-event table (op in c/u/d, per-key sequence), the current state is
``row_number() OVER (PARTITION BY key ORDER BY seq DESC) = 1`` with
deletes dropped -- exactly what an Iceberg merge-on-read scan computes
from equality deletes. The streaming surface (foreachBatch apply) lives in
``..streaming`` and reuses :func:`apply_cdc_upsert`.

The synthetic change stream is derived deterministically from ``orders``
by key arithmetic, so the DuckDB oracle reproduces it exactly.

Scale notes: one shuffle keyed by the upsert key (uniform -> no skew);
per-key window state is O(versions per key), bounded by the CDC horizon.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import dround, dround_sql, dsum, dsum_sql
from ..sources.parquet import load_table
from .registry import query

# Audit-column base epoch: 2000-01-01 UTC, one minute per sequence step.
_EPOCH0 = 946_684_800


def synthetic_change_events(orders: DataFrame) -> DataFrame:
    """Deterministic insert/update/delete stream derived from orders:

    - seq 0 'c': initial snapshot of 80% of keys (key % 5 != 4)
    - seq 1 'c': late inserts of the remaining 20%
    - seq 1 'u': +10% price for key % 10 == 0
    - seq 2 'u': +20% price for key % 20 == 0
    - seq 3 'd': delete for key % 7 == 0
    """
    base = orders.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_totalprice").alias("price"),
    )
    snap = base.filter(F.col("key") % 5 != 4).select(
        "key", "custkey", "price", F.lit("c").alias("_op"), F.lit(0).alias("_seq")
    )
    late = base.filter(F.col("key") % 5 == 4).select(
        "key", "custkey", "price", F.lit("c").alias("_op"), F.lit(1).alias("_seq")
    )
    upd1 = base.filter(F.col("key") % 10 == 0).select(
        "key",
        "custkey",
        dround(F.col("price") * 1.1, 2).alias("price"),
        F.lit("u").alias("_op"),
        F.lit(1).alias("_seq"),
    )
    upd2 = base.filter(F.col("key") % 20 == 0).select(
        "key",
        "custkey",
        dround(F.col("price") * 1.2, 2).alias("price"),
        F.lit("u").alias("_op"),
        F.lit(2).alias("_seq"),
    )
    dele = base.filter(F.col("key") % 7 == 0).select(
        "key",
        "custkey",
        F.lit(None).cast("double").alias("price"),
        F.lit("d").alias("_op"),
        F.lit(3).alias("_seq"),
    )
    ev = snap.unionByName(late).unionByName(upd1).unionByName(upd2).unionByName(dele)
    # C5 audit columns (reference: _olake_sync_timestamp/_olake_operation).
    return ev.withColumn(
        "_sync_ts_epoch", (F.lit(_EPOCH0) + F.col("_seq") * 60).cast("long")
    )


_EVENTS_SQL = f"""
    SELECT o_orderkey AS key, o_custkey AS custkey, o_totalprice AS price,
           'c' AS _op, 0 AS _seq
    FROM orders WHERE o_orderkey % 5 != 4
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, 'c', 1
    FROM orders WHERE o_orderkey % 5 = 4
    UNION ALL
    SELECT o_orderkey, o_custkey, {dround_sql('o_totalprice * 1.1')}, 'u', 1
    FROM orders WHERE o_orderkey % 10 = 0
    UNION ALL
    SELECT o_orderkey, o_custkey, {dround_sql('o_totalprice * 1.2')}, 'u', 2
    FROM orders WHERE o_orderkey % 20 = 0
    UNION ALL
    SELECT o_orderkey, o_custkey, CAST(NULL AS DOUBLE), 'd', 3
    FROM orders WHERE o_orderkey % 7 = 0
"""

_EVENTS_WITH_TS_SQL = f"""
    SELECT *, CAST({_EPOCH0} + _seq * 60 AS BIGINT) AS _sync_ts_epoch
    FROM ({_EVENTS_SQL})
"""


def apply_cdc_upsert(events: DataFrame, key_cols: tuple[str, ...] = ("key",),
                     seq_col: str = "_seq",
                     keep_tombstones: bool = False) -> DataFrame:
    """Merge-on-read read-side apply: latest event per key wins; deletes
    drop the key. D6/C4 equivalent (destination.json:132-134).

    ``keep_tombstones=True`` retains the winning delete row instead of
    dropping it -- required when the output is an INTERMEDIATE state that
    later (possibly out-of-order) batches merge into: without the
    tombstone, an older buffered update arriving in a later micro-batch
    would resurrect the deleted key (the merge-on-read delete-file
    semantics Iceberg keeps until compaction)."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(seq_col).desc())
    latest = (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return latest if keep_tombstones else latest.filter(F.col("_op") != "d")


def _latest_sql(events_sql: str, cols: str) -> str:
    """SQL twin of :func:`apply_cdc_upsert`: ``cols`` of the latest event
    per key of ``events_sql``, deletes dropped."""
    return f"""
    SELECT {cols} FROM ({events_sql})
    QUALIFY row_number() OVER (PARTITION BY key ORDER BY _seq DESC) = 1
      AND _op != 'd'
    """


def state_rollup(state: DataFrame) -> DataFrame:
    """Live-state rollup of a CDC state: row count, distinct customers
    and revenue."""
    return state.agg(
        F.count("*").alias("live_rows"),
        F.countDistinct("custkey").alias("live_customers"),
        dsum("price", "live_revenue"),
    )


# The oracle of every op that rolls up the state the full change stream
# leaves: state_rollup over the merge-on-read apply.
_STATE_ROLLUP_SQL = f"""
    SELECT COUNT(*) AS live_rows,
           COUNT(DISTINCT custkey) AS live_customers,
           {dsum_sql('price')} AS live_revenue
    FROM ({_latest_sql(_EVENTS_SQL, 'custkey, price')})
"""


@query(
    "cdc_change_log",
    oracle=f"""
    SELECT _op,
           COUNT(*) AS events,
           COUNT(DISTINCT key) AS keys,
           MIN(_sync_ts_epoch) AS first_sync,
           MAX(_sync_ts_epoch) AS last_sync,
           {dsum_sql('COALESCE(price, 0)')} AS total_price
    FROM ({_EVENTS_WITH_TS_SQL})
    GROUP BY _op
    ORDER BY _op
    """,
    tags=("C1", "C5", "S5"),
)
def cdc_change_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-stream profile with audit columns (C5): per-op event and key
    counts plus sync-timestamp range."""
    orders = load_table(spark, sf_dir, "orders")
    ev = synthetic_change_events(orders)
    return (
        ev.groupBy("_op")
        .agg(
            F.count("*").alias("events"),
            F.countDistinct("key").alias("keys"),
            F.min("_sync_ts_epoch").alias("first_sync"),
            F.max("_sync_ts_epoch").alias("last_sync"),
            dsum(F.coalesce(F.col("price"), F.lit(0.0)), "total_price"),
        )
        .orderBy("_op")
    )


@query(
    "cdc_upsert_state",
    oracle=_latest_sql(
        _EVENTS_WITH_TS_SQL, "key, custkey, price, _op, _seq, _sync_ts_epoch"
    ),
    tags=("C4", "D6", "D9"),
)
def cdc_upsert_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Current table state after applying the full change stream -- the
    merge-on-read scan equivalent (upsert via latest-wins, deletes
    dropped). Row-identical to what Iceberg MERGE INTO would leave."""
    orders = load_table(spark, sf_dir, "orders")
    return apply_cdc_upsert(synthetic_change_events(orders))


@query("cdc_state_rollup", oracle=_STATE_ROLLUP_SQL, tags=("C4", "A1"))
def cdc_state_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-upsert consistency rollup: the reference's row-count-assertion
    idiom (iceberg-setup.sql:13,23,...) applied to the CDC result."""
    orders = load_table(spark, sf_dir, "orders")
    return state_rollup(apply_cdc_upsert(synthetic_change_events(orders)))
