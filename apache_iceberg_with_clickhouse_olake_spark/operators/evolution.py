"""Lake-feature queries: schema evolution, time travel, compaction, DDL
round-trip, and the medallion write/read-back cycle -- the reference's
lakehouse recipes (BLOG_POST_COMPLETE_WALKTHROUGH.md:521-553,
scripts/iceberg-setup.sql:47-103) re-expressed over the parquet-native
lake in sources/lake.py.

These queries materialize real files under a scratch warehouse
(``_cache.scratch_dir``, removed when the op's scope drains) at run
time, then *read back* -- so the correctness gate covers the write
path (S3/S4/D5/O5), not just plan shapes. Results are pure functions of
the input tables, so DuckDB oracles state the expected post-roundtrip
answer directly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import dsum, dsum_sql
from ..sources.lake import compact, read_snapshot, snapshot_history, write_snapshot
from ..sources.parquet import load_table
from ._cache import finalize as _finalize
from ._cache import scoped as _scoped
from ._cache import scratch_dir as _scratch_dir
from .cdc import (
    _EVENTS_SQL,
    _latest_sql,
    apply_cdc_upsert,
    synthetic_change_events,
)
from .medallion import _GOLD_REAGG_SQL, build_medallion, reaggregate_gold
from .registry import query

_EVOLUTION_SPLIT_DATE = "2000-01-01"


@query(
    "schema_evolution_merge",
    oracle=f"""
    WITH merged AS (
      SELECT o_orderkey,
             CASE WHEN o_orderdate >= DATE '{_EVOLUTION_SPLIT_DATE}'
                  THEN (CASE WHEN o_custkey % 10 = 0
                             THEN 'gold' ELSE 'standard' END)
                  ELSE NULL END AS loyalty_tier
      FROM orders
    )
    SELECT COALESCE(loyalty_tier, '(pre-evolution)') AS loyalty_tier,
           COUNT(*) AS order_count
    FROM merged
    WHERE COALESCE(loyalty_tier, '') != 'standard'
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("D7", "D8", "P7", "L1"),
)
@_scoped
def schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE ADD COLUMN equivalent (blog :539-553): snapshot v1 is
    written WITHOUT loyalty_tier, v2 WITH it; the mergeSchema read sees
    both, old rows surfacing NULL. The P7 inequality filter
    (!= 'standard', blog :550) runs over the merged view."""
    orders = load_table(spark, sf_dir, "orders")
    tmp = _scratch_dir("evolution_")
    v1 = orders.filter(
        F.col("o_orderdate") < F.lit(_EVOLUTION_SPLIT_DATE).cast("date")
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    v2 = (
        orders.filter(
            F.col("o_orderdate") >= F.lit(_EVOLUTION_SPLIT_DATE).cast("date")
        )
        .select("o_orderkey", "o_custkey", "o_orderdate")
        .withColumn(
            "loyalty_tier",
            F.when(F.col("o_custkey") % 10 == 0, "gold").otherwise(
                "standard"
            ),
        )
    )
    table = f"{tmp}/orders_evolving"
    write_snapshot(v1, table)
    write_snapshot(v2, table)
    # read both versions together (mergeSchema across snapshots)
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{table}/v1", f"{table}/v2"
    )
    out = (
        merged.select(
            F.coalesce(F.col("loyalty_tier"), F.lit("(pre-evolution)")).alias(
                "loyalty_tier"
            )
        )
        .filter(F.coalesce(F.col("loyalty_tier"), F.lit("")) != "standard")
        .groupBy("loyalty_tier")
        .agg(F.count("*").alias("order_count"))
        .orderBy("loyalty_tier")
    )
    return _finalize(spark, out)


@query(
    "time_travel_counts",
    oracle=f"""
    WITH events AS (
      SELECT key, price, _op, _seq FROM ({_EVENTS_SQL})
      WHERE _op IN ('c', 'd')
    ),
    v1 AS ({_latest_sql("SELECT * FROM events WHERE _seq <= 0", "key, price")}),
    v2 AS ({_latest_sql("SELECT * FROM events", "key, price")})
    SELECT 1 AS version, COUNT(*) AS live_rows, {dsum_sql('price')} AS revenue
    FROM v1
    UNION ALL
    SELECT 2, COUNT(*), {dsum_sql('price')} FROM v2
    ORDER BY version
    """,
    tags=("L1", "L4", "D6"),
)
@_scoped
def time_travel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel (blog :521-527): snapshot v1 = initial CDC snapshot,
    v2 = state after late inserts + deletes; both versions stay readable
    and the history listing (L4) drives the per-version rollup."""
    orders = load_table(spark, sf_dir, "orders")
    ev = synthetic_change_events(orders).select("key", "price", "_op", "_seq")
    tmp = _scratch_dir("timetravel_")
    table = f"{tmp}/orders_state"
    write_snapshot(
        apply_cdc_upsert(ev.filter(F.col("_seq") <= 0)).select("key", "price"),
        table,
    )
    write_snapshot(
        apply_cdc_upsert(
            ev.filter(F.col("_op").isin("c", "d"))
        ).select("key", "price"),
        table,
    )
    parts = []
    for v in snapshot_history(spark, table):
        snap = read_snapshot(spark, table, v)
        parts.append(
            snap.agg(
                F.count("*").alias("live_rows"),
                dsum("price", "revenue"),
            ).select(F.lit(v).alias("version"), "live_rows", "revenue")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return _finalize(spark, out.orderBy("version"))


@query(
    "medallion_readback",
    oracle=_GOLD_REAGG_SQL,
    tags=("S3", "S4", "D5", "O5", "A9"),
)
@_scoped
def medallion_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full medallion write/read-back cycle: build_medallion materializes
    silver+gold parquet (sorted within partitions, O5), then the gold
    re-aggregation runs over the files READ BACK from disk -- same oracle
    as gold_reaggregate, proving the write path preserves the answers
    (the reference's cross-layer consistency, cross-database-analytics
    .sql:16-38)."""
    tmp = _scratch_dir("medallion_")
    paths = build_medallion(spark, sf_dir, tmp)
    gold = spark.read.parquet(paths["gold_order_metrics"])
    return _finalize(spark, reaggregate_gold(gold))


_UPDATE_PRICE_CUTOFF = 400000.0


@query(
    "lake_update_where",
    oracle=f"""
    SELECT CASE WHEN o_totalprice > {_UPDATE_PRICE_CUTOFF}
                THEN 'archived' ELSE o_orderstatus END AS status,
           COUNT(*) AS order_count,
           {dsum_sql('o_totalprice')} AS revenue
    FROM orders
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("D9", "L1"),
)
@_scoped
def lake_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE ... WHERE (blog :541-542) on the parquet-native lake:
    read-modify-overwrite as a NEW snapshot (v1 untouched -- the
    copy-on-write shape Iceberg's UPDATE performs), then aggregate over
    the post-update state read back from disk."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    tmp = _scratch_dir("update_")
    table = f"{tmp}/orders_state"
    write_snapshot(orders, table)
    v1 = read_snapshot(spark, table)
    updated = v1.withColumn(
        "o_orderstatus",
        F.when(
            F.col("o_totalprice") > _UPDATE_PRICE_CUTOFF, F.lit("archived")
        ).otherwise(F.col("o_orderstatus")),
    )
    write_snapshot(updated, table)
    out = (
        read_snapshot(spark, table)
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").alias("order_count"),
            dsum("o_totalprice", "revenue"),
        )
        .orderBy("status")
    )
    return _finalize(spark, out)


_LAYOUT_ROWS_PER_FILE = 10_000

_LAYOUT_ORACLE = f"""
    SELECT CAST(CEIL(COUNT(*) / {_LAYOUT_ROWS_PER_FILE}.0) AS INT) AS n_files,
           CAST(LEAST({_LAYOUT_ROWS_PER_FILE}, COUNT(*)) AS BIGINT)
               AS max_rows_per_file,
           CAST(COUNT(*) AS BIGINT) AS total_rows,
           'snappy' AS compression,
           TRUE AS dictionary_encoded,
           TRUE AS row_groups_exceed_default,
           TRUE AS metadata_readers_agree
    FROM lineitem
"""


@query("parquet_layout_roundtrip", oracle=_LAYOUT_ORACLE, tags=("S6", "D12"))
@_scoped
def parquet_layout_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical parquet layout control (S6/D12, destination.json:29-36 +
    84-87: row-group 128 MiB / page 1 MiB / dictionary on / snappy).

    Three writes, three verifications, all against the real parquet
    footers via TWO independent metadata readers (pyarrow footers AND
    DuckDB ``parquet_metadata()``/``parquet_file_metadata()``), which
    must agree or the query raises:

    * ``maxRecordsPerFile`` file-splitting is exact: a single-task write
      of N rows with a 10k cap produces ceil(N/10k) files whose max
      per-file row count is min(10k, N) -- these numbers are
      deterministic from ``COUNT(*)`` alone, so the driver oracle can
      re-derive them in pure SQL on the lineitem view.
    * a 16 KiB row-group write yields strictly more row groups than the
      default 128 MiB write (row-group sizing took effect), and
    * the snappy codec + dictionary encoding requested on the write are
      what landed in the footers.
    """
    import pyarrow.parquet as pq

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    tmp = _scratch_dir("layout_")
    limited_dir = f"{tmp}/row_limited"
    small_dir, default_dir = f"{tmp}/small_rg", f"{tmp}/default_rg"
    (
        li.coalesce(1)
        .write.option("maxRecordsPerFile", _LAYOUT_ROWS_PER_FILE)
        .option("compression", "snappy")
        .parquet(limited_dir)
    )
    # 16 KiB row groups: small enough that even the sf0.001 fixture
    # (6k rows) splits into multiple groups, so the strict
    # small > default row-group comparison holds at every test SF.
    (
        li.coalesce(1)
        .write.option("parquet.block.size", 16 * 1024)
        .option("parquet.page.size", 4 * 1024)
        .option("compression", "snappy")
        .parquet(small_dir)
    )
    li.coalesce(1).write.option("compression", "snappy").parquet(default_dir)

    def _parquet_files(d: str) -> list[str]:
        return sorted(
            os.path.join(d, f)
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    # --- reader 1: pyarrow footers ---
    limited_files = _parquet_files(limited_dir)
    pa_rows = [pq.ParquetFile(p).metadata.num_rows for p in limited_files]
    first = pq.ParquetFile(limited_files[0])
    col = first.metadata.row_group(0).column(1)  # l_returnflag
    pa_comp = str(col.compression).lower()
    pa_dict = "PLAIN_DICTIONARY" in str(col.encodings) or (
        "RLE_DICTIONARY" in str(col.encodings)
    )
    pa_rg_small = pq.ParquetFile(_parquet_files(small_dir)[0]).metadata
    pa_rg_default = pq.ParquetFile(_parquet_files(default_dir)[0]).metadata

    # --- reader 2: DuckDB parquet metadata functions ---
    import duckdb

    con = duckdb.connect()
    dd_files, dd_total = con.execute(
        "SELECT COUNT(DISTINCT file_name), SUM(num_rows) "
        f"FROM parquet_file_metadata('{limited_dir}/*.parquet')"
    ).fetchone()
    dd_comp, dd_enc = con.execute(
        "SELECT LOWER(MIN(compression)), MIN(encodings) "
        f"FROM parquet_metadata('{limited_dir}/*.parquet') "
        "WHERE path_in_schema = 'l_returnflag'"
    ).fetchone()
    dd_rg_small, dd_rg_default = (
        con.execute(
            "SELECT num_row_groups "
            f"FROM parquet_file_metadata('{d}/*.parquet')"
        ).fetchone()[0]
        for d in (small_dir, default_dir)
    )
    con.close()

    readers_agree = (
        dd_files == len(limited_files)
        and int(dd_total) == sum(pa_rows)
        and dd_comp == pa_comp
        and ("RLE_DICTIONARY" in dd_enc or "PLAIN_DICTIONARY" in dd_enc)
        == pa_dict
        and dd_rg_small == pa_rg_small.num_row_groups
        and dd_rg_default == pa_rg_default.num_row_groups
    )
    if not readers_agree:
        raise RuntimeError(
            "pyarrow and DuckDB disagree on parquet layout metadata: "
            f"files {len(limited_files)} vs {dd_files}, "
            f"rows {sum(pa_rows)} vs {dd_total}, codec {pa_comp} vs "
            f"{dd_comp}, row groups ({pa_rg_small.num_row_groups}, "
            f"{pa_rg_default.num_row_groups}) vs ({dd_rg_small}, "
            f"{dd_rg_default})"
        )
    return spark.createDataFrame(
        [
            (
                len(limited_files),
                max(pa_rows),
                sum(pa_rows),
                pa_comp,
                pa_dict,
                pa_rg_small.num_row_groups > pa_rg_default.num_row_groups,
                readers_agree,
            )
        ],
        "n_files int, max_rows_per_file long, total_rows long, "
        "compression string, dictionary_encoded boolean, "
        "row_groups_exceed_default boolean, metadata_readers_agree boolean",
    )


# The engine's session-settings contract (D13): the reference pins
# engine behavior via session SETs (scripts/iceberg-setup.sql:1-3
# partition pruning + manifest cache toggles; ClickHouse users.xml:26-33
# spill/thread/analyzer settings). These are the Spark equivalents that
# session.get_spark installs; the roundtrip query SETs them on whatever
# session the driver hands us, reads back the EFFECTIVE values, and
# restores the caller's originals -- so the oracle is a stable literal
# table regardless of the harness session's own configuration.
_SESSION_SETTINGS = (
    ("spark.sql.adaptive.advisoryPartitionSizeInBytes", "134217728"),
    ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
    ("spark.sql.adaptive.enabled", "true"),
    ("spark.sql.adaptive.skewJoin.enabled", "true"),
    ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ("spark.sql.parquet.compression.codec", "snappy"),
    ("spark.sql.session.timeZone", "UTC"),
)

_SESSION_SETTINGS_ORACLE = (
    "SELECT * FROM (VALUES "
    + ", ".join(f"('{k}', '{v}', TRUE)" for k, v in _SESSION_SETTINGS)
    + ") AS t(setting, effective, roundtrip_ok) ORDER BY setting"
)


@query(
    "session_settings_roundtrip",
    oracle=_SESSION_SETTINGS_ORACLE,
    tags=("D13",),
)
def session_settings_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-settings surface (D13): apply the engine's tuning contract
    via runtime SET, read back the effective values, restore the caller's
    originals. Mirrors the reference's session SETs
    (scripts/iceberg-setup.sql:1-3, users.xml:26-33); the Spark-side
    meaning of each key is documented in session.py."""
    saved = {k: spark.conf.get(k, None) for k, _ in _SESSION_SETTINGS}
    rows = []
    try:
        for key, target in _SESSION_SETTINGS:
            spark.conf.set(key, target)
            effective = spark.conf.get(key)
            rows.append((key, effective, effective == target))
    finally:
        for key, prev in saved.items():
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
    return spark.createDataFrame(
        sorted(rows), "setting string, effective string, roundtrip_ok boolean"
    )


_COMPACT_ORACLE = """
    SELECT CAST(16 AS INT) AS files_before,
           CAST(2 AS INT) AS files_after,
           COUNT(*) AS rows_before,
           COUNT(*) AS rows_after,
           TRUE AS rows_preserved
    FROM orders
"""


@query("lake_compaction_stats", oracle=_COMPACT_ORACLE, tags=("D11", "S6"))
@_scoped
def lake_compaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (rewrite_data_files equivalent,
    destination.json:261-264): write orders as 16 small files, compact to
    2, assert row counts survive. Returns the before/after accounting."""
    orders = load_table(spark, sf_dir, "orders")
    tmp = _scratch_dir("compact_")
    data_dir = f"{tmp}/orders_small_files"
    orders.repartition(16).write.parquet(data_dir)
    rows_before = spark.read.parquet(data_dir).count()
    files_before, files_after = compact(spark, data_dir, 2)
    rows_after = spark.read.parquet(data_dir).count()
    return spark.createDataFrame(
        [
            (files_before, files_after, rows_before, rows_after,
             rows_before == rows_after)
        ],
        "files_before int, files_after int, rows_before long, "
        "rows_after long, rows_preserved boolean",
    )


@query(
    "ddl_roundtrip",
    oracle="""
    SELECT col_name, data_type, CAST(100 AS BIGINT) AS table_rows
    FROM (VALUES ('o_orderkey', 'bigint'),
                 ('o_orderstatus', 'string'),
                 ('o_totalprice', 'double')) AS t(col_name, data_type)
    """,
    tags=("D1", "D2", "D3", "D8"),
)
def ddl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1-D3/D8 over the Spark session catalog: CREATE DATABASE, CREATE
    TABLE (CTAS from orders), DESCRIBE, DROP -- the iceberg-setup.sql:5-12
    register/describe/drop cycle against the built-in catalog."""
    orders = load_table(spark, sf_dir, "orders")
    db = "lake_ddl_check"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    try:
        orders.select("o_orderkey", "o_orderstatus", "o_totalprice").limit(
            100
        ).write.mode("overwrite").saveAsTable(f"{db}.orders_reg")
        described = spark.sql(f"DESCRIBE TABLE {db}.orders_reg").select(
            "col_name", "data_type"
        )
        rows = [tuple(r) for r in described.collect()]
        n = spark.table(f"{db}.orders_reg").count()
        return spark.createDataFrame(
            [(c, t, n) for c, t in rows],
            "col_name string, data_type string, table_rows long",
        )
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


# ---------------------------------------------------------------------------
# D4: INSERT VALUES literal seed -> lake write -> read back
# ---------------------------------------------------------------------------

_SEED_ROWS = [
    (1, "alpha", "Electronics", 199.99),
    (2, "beta", "Books", 12.50),
    (3, "gamma", "Electronics", 1499.00),
    (4, "delta", "Home", 89.95),
    (5, "epsilon", "Books", 7.25),
    (6, "zeta", "Sports", 54.10),
    (7, "eta", "Toys", 24.99),
    (8, "theta", "Home", 310.40),
    (9, "iota", "Sports", 75.00),
    (10, "kappa", "Electronics", 899.90),
]


@query(
    "seed_literal_insert",
    oracle=f"""
    WITH seed(id, name, category, price) AS (
      VALUES {', '.join(repr(r) for r in _SEED_ROWS)}
    )
    SELECT category,
           COUNT(*) AS items,
           {dsum_sql('price')} AS total_price
    FROM seed
    GROUP BY category
    ORDER BY category
    """,
    tags=("D4", "D5", "S7"),
)
@_scoped
def seed_literal_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT INTO ... VALUES literal seed (D4, mysql-init/01-setup.sql:
    74-132 idiom): createDataFrame from literal rows, write to the lake,
    read BACK from disk, aggregate -- the write path carries the values."""
    tmp = _scratch_dir("seed_")
    df = spark.createDataFrame(
        _SEED_ROWS, "id int, name string, category string, price double"
    )
    table = f"{tmp}/seed_products"
    write_snapshot(df, table)
    out = (
        read_snapshot(spark, table)
        .groupBy("category")
        .agg(
            F.count("*").alias("items"),
            dsum("price", "total_price"),
        )
        .orderBy("category")
    )
    return _finalize(spark, out)


# ---------------------------------------------------------------------------
# L2: partitioned write -> partition-pruned read
# ---------------------------------------------------------------------------

@query(
    "partition_pruning_roundtrip",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           o_orderstatus AS status,
           COUNT(*) AS order_count,
           {dsum_sql('o_totalprice')} AS revenue
    FROM orders
    WHERE year(o_orderdate) = 1995 AND o_orderstatus = 'O'
    GROUP BY 1, 2
    """,
    tags=("L2", "S1", "O5"),
)
@_scoped
def partition_pruning_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition transforms (destination.json:37-65: month(order_date) x
    identity(status)) on the parquet lake: write orders partitioned by
    (year, status), read back filtered on BOTH partition columns -- the
    scan must prune to the single matching directory (PartitionFilters,
    asserted in tests/test_plans.py) so at 100 TB the query touches
    1/(years x statuses) of the files."""
    orders = load_table(spark, sf_dir, "orders")
    tmp = _scratch_dir("partitioned_")
    part_dir = f"{tmp}/orders_partitioned"
    (
        orders.withColumn(
            "order_year", F.year("o_orderdate").cast("int")
        )
        .write.partitionBy("order_year", "o_orderstatus")
        .parquet(part_dir)
    )
    back = spark.read.parquet(part_dir)
    out = (
        back.filter(
            (F.col("order_year") == 1995) & (F.col("o_orderstatus") == "O")
        )
        .groupBy(
            "order_year", F.col("o_orderstatus").alias("status")
        )
        .agg(
            F.count("*").alias("order_count"),
            dsum("o_totalprice", "revenue"),
        )
    )
    return _finalize(spark, out)


# ---------------------------------------------------------------------------
# D10: bucketed hash index with bucket-pruned point lookup
# ---------------------------------------------------------------------------

_BUCKET_N = 16
_BUCKET_KEY = 1  # o_custkey present at every SF


@query(
    "bucket_index_lookup",
    oracle=f"""
    SELECT CAST({_BUCKET_KEY} AS BIGINT) AS custkey,
           COUNT(*) AS orders_for_key,
           {dsum_sql('o_totalprice')} AS total_spent
    FROM orders WHERE o_custkey = {_BUCKET_KEY}
    """,
    tags=("D10", "P9", "O5"),
)
@_scoped
def bucket_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10 secondary index, Spark-native: persist orders BUCKETED (+
    sorted) by o_custkey -- a precomputed hash index over the key -- then
    point-look-up one customer. The scan prunes to 1 of _BUCKET_N (16)
    buckets (SelectedBucketsCount, asserted in tests/test_plans.py), and a join
    on the bucketed key would skip its shuffle entirely. This is what
    the reference's MergeTree ORDER BY/secondary indexes buy it; at
    100 TB the bucket count scales with the cluster, not the data.

    Reference: compare-query-performance.sql point lookups;
    BLOG_POST_COMPLETE_WALKTHROUGH.md MergeTree ordering discussion."""
    orders = load_table(spark, sf_dir, "orders")
    tbl = "orders_bucketed_d10"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    (
        orders.write.bucketBy(_BUCKET_N, "o_custkey")
        .sortBy("o_custkey")
        .mode("overwrite")
        .saveAsTable(tbl)
    )
    try:
        out = (
            spark.table(tbl)
            .filter(F.col("o_custkey") == _BUCKET_KEY)
            .agg(
                F.count("*").alias("orders_for_key"),
                dsum("o_totalprice", "total_spent"),
            )
            .select(
                F.lit(_BUCKET_KEY).cast("long").alias("custkey"),
                "orders_for_key",
                "total_spent",
            )
        )
        return _finalize(spark, out)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


# ---------------------------------------------------------------------------
# Z-order data layout (multi-dimensional clustering): the public
# Delta/Iceberg OPTIMIZE ZORDER idea re-expressed as plain Spark --
# interleave the bits of two scan-predicate columns into one sort key,
# range-partition + sort the write on it, and every file ends up with a
# narrow min/max envelope on BOTH dimensions (the reference pins
# single-dimension layout via ClickHouse ORDER BY keys,
# mysql-init/01-setup.sql:17-23; z-order is the two-column analog).
# ---------------------------------------------------------------------------

_Z_BITS = 16
_Z_FILES = 8
_Z_BUCKET_SHIFT = 16  # report granularity: 11/66/649 realized
                      # buckets at sf0.001/0.01/0.1 (top half of
                      # the 32-bit z space; the realized key
                      # ranges concentrate in the low bits)


def _z_terms(shiftleft, shiftright):
    """The interleave as a sum of disjoint-bit terms (sum == OR when no
    two terms share a bit), generated once for each engine's syntax."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(shiftleft(shiftright("zx", i), 2 * i))
        terms.append(shiftleft(shiftright("zy", i), 2 * i + 1))
    return " + ".join(terms)


_Z_SPARK = _z_terms(
    lambda e, n: f"shiftleft({e}, {n})",
    lambda c, n: f"(shiftright({c}, {n}) & 1)",
)
_Z_DUCK = _z_terms(
    lambda e, n: f"({e} << {n})",
    lambda c, n: f"(({c} >> {n}) & 1)",
)


@query(
    "zorder_layout_roundtrip",
    oracle=f"""
    WITH keyed AS (
      SELECT (o_custkey & 65535) AS zx,
             (datediff('day', DATE '1970-01-01', o_orderdate) & 65535)
               AS zy,
             o_totalprice
      FROM orders
    ),
    z AS (SELECT ({_Z_DUCK}) AS z, o_totalprice FROM keyed)
    SELECT (z >> {_Z_BUCKET_SHIFT}) AS zbucket,
           COUNT(*) AS n_rows,
           CAST(SUM(z) AS BIGINT) AS z_sum,
           MIN(z) AS z_min,
           MAX(z) AS z_max,
           {dsum_sql('o_totalprice')} AS revenue
    FROM z
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("O5", "D12"),
)
@_scoped
def zorder_layout_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write orders Z-ORDERED on (custkey, orderdate), read the files
    back, and report the per-z-bucket profile FROM THE READBACK -- a
    lossy or duplicating layout rewrite breaks the count/z-sum/revenue
    checksums against the oracle's direct computation.

    Scale shape: the z key is pure per-row bit arithmetic (no shuffle to
    compute); the write is ONE range-partition shuffle on z plus a
    per-partition sort -- exactly what a sorted lake sink costs anyway
    -- and buys min/max file envelopes that are narrow in BOTH custkey
    and orderdate, so scans filtering on either dimension prune files
    (row-group stats do the pruning; tests/test_dsir_layout.py asserts
    the per-file z spans are disjoint and narrow). At 100 TB the same
    two lines run per partition of a partitioned table; nothing here is
    corpus-global except the range-boundary sample Spark already does
    for repartitionByRange."""
    orders = load_table(spark, sf_dir, "orders")
    keyed = orders.select(
        F.col("o_custkey").cast("long").bitwiseAND(65535).alias("zx_raw"),
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("zy_days"),
        "o_totalprice",
    ).select(
        F.col("zx_raw").alias("zx"),
        # bitwiseAND on BOTH engines (oracle uses & 65535): Spark %
        # returns negative remainders for negative inputs while & takes
        # the two's-complement low bits, so a %/& mix would silently
        # diverge on a negative key or pre-epoch date (r9 ADVICE).
        F.col("zy_days").bitwiseAND(65535).alias("zy"),
        "o_totalprice",
    )
    z = keyed.select(
        F.expr(_Z_SPARK).cast("long").alias("z"), "o_totalprice"
    )
    tmp = _scratch_dir("zorder_")
    (
        z.repartitionByRange(_Z_FILES, "z")
        .sortWithinPartitions("z")
        .write.parquet(f"{tmp}/orders_z")
    )
    back = spark.read.parquet(f"{tmp}/orders_z")
    out = (
        back.groupBy(
            F.shiftright(F.col("z"), _Z_BUCKET_SHIFT).alias("zbucket")
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("z").cast("long").alias("z_sum"),
            F.min("z").alias("z_min"),
            F.max("z").alias("z_max"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
        .orderBy("zbucket")
    )
    return _finalize(spark, out)
