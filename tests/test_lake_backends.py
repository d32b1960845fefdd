"""The lake snapshot surface (sources/lake.py): versioned parquet
directories with a 1-based, commit-ordered version contract, time-travel
reads, compaction to a file count, and crash recovery of the directory
swap that compaction and the CDC publish share."""

from __future__ import annotations

from pyspark.sql import functions as F

from apache_iceberg_with_clickhouse_olake_spark.sources.lake import (
    compact,
    read_snapshot,
    snapshot_history,
    write_snapshot,
)
from apache_iceberg_with_clickhouse_olake_spark.sources.parquet import load_table


def test_snapshot_roundtrip_backend_agnostic(spark, sf_dir, tmp_path):
    """Write two snapshots, time-travel both, list history — asserting
    on the version contract (1-based versions ordered by commit time,
    identical query results)."""
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


def test_pick_snapshot_id_version_contract(spark, tmp_path):
    """``version`` picks a 1-based position in commit order; None is the
    latest; anything outside the history raises FileNotFoundError naming
    the version and the count, instead of a Spark path error."""
    import pytest

    table = str(tmp_path / "t")
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, table)
    for n in (1, 2, 3):
        write_snapshot(spark.range(n), table)

    assert read_snapshot(spark, table).count() == 3  # latest
    assert read_snapshot(spark, table, 1).count() == 1
    assert read_snapshot(spark, table, 3).count() == 3
    for bad in (0, 4, -1):
        with pytest.raises(FileNotFoundError, match=rf"v{bad} \(3 snapshots\)"):
            read_snapshot(spark, table, bad)


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
