"""The lake snapshot surface must behave identically through whichever
backend the runtime gate selects (sources/lake.py): real Iceberg when a
catalog + jar are present, versioned parquet directories otherwise.
This sandbox has no Iceberg jar, so the gate must pick ParquetBackend —
and the SAME roundtrip below runs unchanged (and must keep passing)
when an Iceberg runtime is configured."""

from __future__ import annotations

from pyspark.sql import functions as F

from apache_iceberg_with_clickhouse_olake_spark.sources.lake import (
    IcebergBackend,
    ParquetBackend,
    _backend,
    compact,
    iceberg_available,
    read_snapshot,
    snapshot_history,
    write_snapshot,
)
from apache_iceberg_with_clickhouse_olake_spark.sources.parquet import load_table


def test_gate_detects_absence_of_iceberg(spark):
    # no spark.sql.catalog.* = SparkCatalog configured in the sandbox
    assert iceberg_available(spark) is False
    assert isinstance(_backend(spark), ParquetBackend)


def test_gate_requires_loadable_class(spark, monkeypatch):
    # even with a catalog configured, the class must load on the JVM
    monkeypatch.setenv("SPARK_GRAFT_ICEBERG_CATALOG", "lakehouse")
    assert iceberg_available(spark) is False
    assert isinstance(_backend(spark), ParquetBackend)


def test_snapshot_roundtrip_backend_agnostic(spark, sf_dir, tmp_path):
    """Write two snapshots, time-travel both, list history, compact —
    asserting only on the backend-independent contract (1-based versions
    ordered by commit time, identical query results)."""
    table = str(tmp_path / "orders_state")
    orders = load_table(spark, sf_dir, "orders")
    v1_df = orders.select("o_orderkey", "o_totalprice").filter(
        F.col("o_orderkey") % 2 == 0
    )
    v2_df = orders.select("o_orderkey", "o_totalprice")

    assert write_snapshot(v1_df, table) == 1
    assert write_snapshot(v2_df, table) == 2
    assert snapshot_history(spark, table) == [1, 2]

    got_v1 = read_snapshot(spark, table, 1)
    got_v2 = read_snapshot(spark, table, 2)
    got_latest = read_snapshot(spark, table)
    assert got_v1.count() == v1_df.count()
    assert got_v2.count() == v2_df.count()
    assert got_latest.count() == v2_df.count()
    # value-level: the pinned snapshot is immutable and exact
    assert (
        got_v1.agg(F.sum("o_orderkey")).first()[0]
        == v1_df.agg(F.sum("o_orderkey")).first()[0]
    )


def test_compact_preserves_rows(spark, sf_dir, tmp_path):
    data_dir = str(tmp_path / "fragmented")
    orders = load_table(spark, sf_dir, "orders")
    orders.repartition(8).write.parquet(data_dir)
    n = spark.read.parquet(data_dir).count()
    before, after = compact(spark, data_dir, 1)
    assert before >= 8
    assert after <= 2
    assert spark.read.parquet(data_dir).count() == n


def test_iceberg_backend_identifier_mapping():
    import re

    be = IcebergBackend("lakehouse")
    ident = be._ident("/tmp/x/orders_state")
    # readable basename + path-hash suffix, stable across calls
    assert re.fullmatch(
        r"lakehouse\.lake\.orders_state_[0-9a-f]{8}", ident
    ), ident
    assert be._ident("/tmp/x/orders_state/") == ident  # trailing-/ immune
    assert re.fullmatch(
        r"lakehouse\.lake\.weird_name_v2_[0-9a-f]{8}",
        be._ident("/tmp/x/weird-name.v2/"),
    )


def test_identifier_distinguishes_equal_basenames():
    # callers create table_dirs under fresh mkdtemp roots with constant
    # basenames and clean up with rmtree (which never drops an Iceberg
    # catalog table): equal basenames under different roots MUST map to
    # different tables or every rerun appends to the previous run's
    # snapshots and the oracles drift from the second run on
    from apache_iceberg_with_clickhouse_olake_spark.sources.lake import (
        _table_name_for_path,
    )

    a = _table_name_for_path("/tmp/run_aaa/orders_state")
    b = _table_name_for_path("/tmp/run_bbb/orders_state")
    assert a != b
    assert a.startswith("orders_state_") and b.startswith("orders_state_")


def test_pick_snapshot_id_version_contract():
    import pytest

    from apache_iceberg_with_clickhouse_olake_spark.sources.lake import (
        _pick_snapshot_id,
    )

    ids = [901, 317, 555]  # commit-time order, ids not monotonic
    assert _pick_snapshot_id(ids, None) == 555  # latest
    assert _pick_snapshot_id(ids, 1) == 901
    assert _pick_snapshot_id(ids, 3) == 555
    for bad in (0, 4, -1):
        with pytest.raises(FileNotFoundError):
            _pick_snapshot_id(ids, bad)
    with pytest.raises(FileNotFoundError):
        _pick_snapshot_id([], None)


def test_catalog_selection_precedence():
    from apache_iceberg_with_clickhouse_olake_spark.sources.lake import (
        _catalog_from_confs,
    )

    confs = [
        ("spark.sql.catalog.lakehouse",
         "org.apache.iceberg.spark.SparkCatalog"),
        ("spark.sql.catalog.other", "com.example.SomethingElse"),
        ("spark.sql.shuffle.partitions", "32"),
    ]
    assert _catalog_from_confs(confs, None) == "lakehouse"
    assert _catalog_from_confs(confs, "forced") == "forced"  # env wins
    assert _catalog_from_confs(
        [("spark.sql.catalog.other", "com.example.X")], None
    ) is None
    assert _catalog_from_confs([], None) is None


def test_module_compact_is_parquet_native(spark, sf_dir, tmp_path, monkeypatch):
    # compact() operates on RAW parquet dirs written outside the backend;
    # with an Iceberg catalog configured it must NOT route to
    # IcebergBackend (which would resolve a nonexistent catalog table)
    monkeypatch.setenv("SPARK_GRAFT_ICEBERG_CATALOG", "lakehouse")
    data_dir = str(tmp_path / "raw_dir")
    load_table(spark, sf_dir, "orders").repartition(4).write.parquet(data_dir)
    n = spark.read.parquet(data_dir).count()
    before, after = compact(spark, data_dir, 1)
    assert before >= 4 and after <= 2
    assert spark.read.parquet(data_dir).count() == n


def test_iceberg_sql_statements_pinned():
    """The exact SQL the IcebergBackend issues, as pure units (no jar
    needed): the .snapshots metadata read, namespace creation, the
    .files stats reads, and the rewrite_data_files procedure call —
    mirroring the reference's time-travel / compaction walkthrough
    (BLOG_POST_COMPLETE_WALKTHROUGH.md:521-553)."""
    from apache_iceberg_with_clickhouse_olake_spark.sources.lake import (
        _create_namespace_sql,
        _files_count_sql,
        _files_stats_sql,
        _rewrite_files_sql,
        _rewrite_target_size,
        _snapshots_sql,
    )

    ident = "lakehouse.lake.orders_state_0a1b2c3d"
    assert (
        _snapshots_sql(ident)
        == "SELECT snapshot_id FROM lakehouse.lake.orders_state_0a1b2c3d"
        ".snapshots ORDER BY committed_at"
    )
    assert (
        _create_namespace_sql("lakehouse")
        == "CREATE NAMESPACE IF NOT EXISTS lakehouse.lake"
    )
    assert (
        _files_stats_sql(ident)
        == "SELECT COUNT(*), COALESCE(SUM(file_size_in_bytes), 0) "
        "FROM lakehouse.lake.orders_state_0a1b2c3d.files"
    )
    assert (
        _files_count_sql(ident)
        == "SELECT COUNT(*) FROM lakehouse.lake.orders_state_0a1b2c3d.files"
    )
    # size targeting: ~target_files outputs, floored at 1 MiB
    assert _rewrite_target_size(100 * 1024 * 1024, 4) == 25 * 1024 * 1024 + 1
    assert _rewrite_target_size(10, 4) == 1024 * 1024
    assert _rewrite_target_size(100, 0) == 1024 * 1024
    assert _rewrite_files_sql("lakehouse", ident, 12345678) == (
        "CALL lakehouse.system.rewrite_data_files("
        "table => 'lake.orders_state_0a1b2c3d', "
        "options => map('min-input-files', '1', "
        "'target-file-size-bytes', '12345678'))"
    )


def test_iceberg_backend_full_surface_when_jar_present(
    spark, sf_dir, tmp_path
):
    """Runs the COMPLETE IcebergBackend surface against a real catalog —
    write_snapshot (create + evolving append), VERSION AS OF reads of
    both snapshots, .snapshots history, rewrite_data_files compaction —
    mirroring BLOG_POST_COMPLETE_WALKTHROUGH.md:521-553. Skipped (not
    passed) while no Iceberg runtime jar is on the JVM classpath, so the
    branch is verified with zero new work the moment one appears."""
    import pytest

    if not iceberg_available(spark):
        pytest.skip("no Iceberg runtime jar / catalog in this session")

    from apache_iceberg_with_clickhouse_olake_spark.sources.lake import (
        _iceberg_catalog,
    )

    be = IcebergBackend(_iceberg_catalog(spark))
    table = str(tmp_path / "orders_state")
    orders = load_table(spark, sf_dir, "orders")
    v1_df = orders.select("o_orderkey", "o_totalprice").filter(
        F.col("o_orderkey") % 2 == 0
    )
    # D7: second snapshot evolves the schema with an added column
    v2_df = orders.select(
        "o_orderkey", "o_totalprice", F.lit("r5").alias("batch_tag")
    )

    assert be.write_snapshot(v1_df, table) == 1
    assert be.write_snapshot(v2_df, table) == 2
    assert be.snapshot_history(spark, table) == [1, 2]

    got_v1 = be.read_snapshot(spark, table, 1)
    assert got_v1.count() == v1_df.count()
    assert "batch_tag" not in got_v1.columns  # time travel predates D7
    got_latest = be.read_snapshot(spark, table)
    assert got_latest.count() == v1_df.count() + v2_df.count()
    assert "batch_tag" in got_latest.columns

    before, after = be.compact(spark, table, 1)
    assert before >= 2 and after <= before
    # compaction rewrites files, never rows
    assert be.read_snapshot(spark, table).count() == got_latest.count()


def test_compact_crash_recovery(spark, sf_dir, tmp_path):
    """A crash between compact's two renames leaves '<dir>.old' and no
    live dir; the next compact call must restore the backup (the
    compacted copy never became visible, so no rows are lost) and clear
    stale staging dirs before swapping."""
    import os

    data_dir = str(tmp_path / "frag")
    load_table(spark, sf_dir, "orders").repartition(4).write.parquet(data_dir)
    n = spark.read.parquet(data_dir).count()

    # simulate the crash window: data renamed away, compacted copy not in
    os.rename(data_dir, data_dir + ".old")
    os.makedirs(data_dir + ".next")  # stale staging from the dead run

    before, after = compact(spark, data_dir, 1)
    assert before >= 4 and after <= 2
    assert spark.read.parquet(data_dir).count() == n
    assert not os.path.exists(data_dir + ".old")
    assert not os.path.exists(data_dir + ".next")
