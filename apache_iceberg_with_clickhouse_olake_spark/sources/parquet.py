"""Lake table access (reference ops S1/S2, scripts/iceberg-setup.sql:5-43).

The reference registers Iceberg REST-catalog tables then scans them; here a
"lake" is a directory of parquet tables (the driver's testdata layout), and
registration is ``spark.read.parquet`` + ``createOrReplaceTempView``. The
declarative read path means Catalyst gets predicate pushdown, column
pruning, and partition pruning for free on every downstream query.

Scale: ``spark.read.parquet`` on a directory is already the 100 TB path -
file listing is distributed, scans split by ``maxPartitionBytes``, and
filters/projections reach the parquet reader (see plans.assert_pushdown).

Schemas are table metadata (L3, the reference's metadata-file cache,
scripts/iceberg-setup.sql:3): each lake-table path has one in-process
record holding its layout fingerprint ``(mtime_ns, size)``, the
schema-affecting parquet confs and the schema. An inferring read (one
footer-reading Spark job) fills it, a snapshot write seeds it, and every
later read of that path is handed the schema. Invalidation rule: the
record is used only while the path's own fingerprint and the confs equal
the recorded ones; any difference replaces it. A Spark write into a dir
or a rewrite of a file changes the fingerprint; an in-place rewrite of a
file nested inside a dir by another writer does not, and is not seen
until the dir itself changes. Paths that cannot be stat'ed locally are
never recorded.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructType, TimestampNTZType

# The driver star schema (TESTDATA.md) + extension tables.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables BOUNDED at any data scale (region: 5 rows, nation: 25;
# supplier grows sub-linearly) -- always safe to broadcast. customer/part
# grow linearly with the fact tables and are deliberately NOT here: a forced
# broadcast of a scaling table OOMs executors at 100 TB, while AQE upgrades
# to broadcast at runtime whenever the built side is actually small.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S1/S2: scan one lake table (inline, no registration needed).

    The read goes through the table's metadata record (:func:`read_table`):
    the first read of a file version infers its schema from the footers,
    every later read of the same version under the same schema confs is
    handed that schema and launches no Spark job. Rewriting the path, or
    changing a schema conf, makes the next read infer again.

    events.parquet may carry TIMESTAMP(NANOS), which Spark's parquet
    reader rejects ([PARQUET_TYPE_ILLEGAL]) unless
    spark.sql.legacy.parquet.nanosAsLong is set (``session.get_spark``
    sets it); the raw longs get a microsecond timestamp rebuilt with
    exact integer division (``div`` -- a double division would lose
    precision above 2^53 ns).
    """
    df = read_table(spark, table_path(sf_dir, name))
    if name != "events":
        return df
    from pyspark.sql import functions as F

    if isinstance(df.schema["ts"].dataType, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(df.schema["ts"].dataType, TimestampNTZType):
        # A session not built by get_spark infers NTZ for timestamps not
        # adjusted to UTC (NANOS included, nanosAsLong is then ignored);
        # rebase to TIMESTAMP so unix_micros()/window() work either way.
        # Session TZ is UTC, so wall time == instant, matching both the
        # long-rebuild path and the DuckDB oracle.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Session confs that change the schema an inferring parquet read
# returns for the same files.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)


@dataclass
class _TableMeta:
    """What is known about one file version of a lake table: the schema
    an inferring read returned (or a snapshot write recorded) and
    widen_split_starved's split-count decision per parallelism. These
    are plan-time properties; no data and no file listing is kept."""

    fingerprint: tuple[int, int]
    confs: tuple
    schema: StructType | None = None
    starved: dict[int, bool] = field(default_factory=dict)


# resolved path -> its record. One entry per path: an entry is used
# only while the path's layout fingerprint and the schema confs match
# it, and a mismatch replaces it, so a rewritten table never meets a
# stale schema and the dict stays bounded by the paths read. No lock:
# an entry is used only after the path's fingerprint is checked again,
# so a lost or late update between threads costs one more inferring
# read, never a wrong schema.
_META: dict[str, _TableMeta] = {}


def _layout_fingerprint(path: str) -> tuple[int, int] | None:
    """(mtime_ns, size) of the path itself, or None when it cannot be
    stat'ed locally (a remote URI, or a missing path). Spark's writers
    create and delete ``_temporary`` inside a table dir on every write,
    and a file rewrite changes its own mtime, so either changes this --
    down to the filesystem's timestamp granularity: a rewrite that keeps
    the size inside one timestamp tick is not seen."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def _meta(spark: SparkSession, path: str) -> _TableMeta | None:
    """The record for ``path`` as it is now; None when the path has no
    local fingerprint (then nothing is recorded for it)."""
    key = os.path.realpath(path)
    fp = _layout_fingerprint(key)
    if fp is None:
        return None
    confs = tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS)
    m = _META.get(key)
    if m is None or m.fingerprint != fp or m.confs != confs:
        m = _META[key] = _TableMeta(fp, confs)
    return m


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that learns the schema once per file
    version: a recorded schema is handed to the reader
    (``spark.read.schema(s).parquet(path)``, no footer-reading job); on
    a miss the inferring read itself is returned and its schema
    recorded. Files are still listed on every read."""
    m = _meta(spark, path)
    if m is not None and m.schema is not None:
        return spark.read.schema(m.schema).parquet(path)
    df = spark.read.parquet(path)
    if m is not None:
        m.schema = df.schema
    return df


def record_schema(spark: SparkSession, path: str, schema: StructType) -> None:
    """Record the schema of a file version this process just wrote, so
    the first read of it needs no footer-reading job either. The
    written schema is recorded as is: file sources read every field as
    nullable whether the schema is inferred or supplied."""
    m = _meta(spark, path)
    if m is not None:
        m.schema = schema


def widen_split_starved(df: DataFrame, key: str, path: str) -> DataFrame:
    """Parallelism-restoring exchange for split-starved scans (r19;
    optimization guide §2.5 "input skew: one huge unsplittable file ...
    repartition immediately after the read").

    A parquet file written as ONE row group cannot split below row-group
    granularity, so a fused scan->partial-aggregate stage runs on at most
    as many tasks as the input has row groups. Every fixture table is a
    single row group (pyarrow-verified), which serializes the
    decimal-heavy partial aggregation of the raw-layer queries onto one
    core: measured at sf0.1, pricing_summary's HashAggregate build was
    2.2 s of the 2.45 s wall, ALL on one task, while the scan itself
    cost 53 ms.

    The remedy is scale-ADAPTIVE (guide §2: derive partitioning from the
    input, never a constant tuned for one mode): insert a hash exchange
    on ``key`` only when the scan's actual split count starves the
    session's parallelism. On a production layout (splits >= cores) the
    probe is False and the plan is untouched -- this never becomes a
    blanket repartition of a 100 TB fact table. The key is a
    deterministic high-cardinality column (never round-robin/rand:
    retried tasks must reproduce their partition assignment,
    SPARK-38388).

    Result-identical by construction: every downstream aggregate here is
    algebraic (count/min/max) or the exact-decimal dsum/davg forms --
    all partition-order-independent (that is their contract).
    """
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    # The decision is a field of the table's metadata record: the bench
    # rebuilds each query 5-7 times, and the split count of one file
    # version cannot change, so only the first build pays the probe.
    m = _meta(spark, path)
    starved = m.starved.get(par) if m is not None else None
    if starved is None:
        starved = df.rdd.getNumPartitions() < par
        if m is not None:
            m.starved[par] = starved
    if not starved:
        return df
    from pyspark.sql import functions as F

    return df.repartition(par, F.col(key))


def load_table_wide(
    spark: SparkSession, sf_dir: str, name: str, key: str
) -> DataFrame:
    """load_table + widen_split_starved (the agg-heavy fact-scan path)."""
    return widen_split_starved(
        load_table(spark, sf_dir, name), key, table_path(sf_dir, name)
    )


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    out: dict[str, DataFrame] = {}
    for name in names:
        path = table_path(sf_dir, name)
        if os.path.exists(path):
            out[name] = read_table(spark, path)
    return out


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """S1: register lake tables for ``spark.sql`` access (the Spark
    equivalent of the reference's CREATE TABLE ... ENGINE=Iceberg(...) block,
    scripts/iceberg-setup.sql:5-43)."""
    dfs = load_tables(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
