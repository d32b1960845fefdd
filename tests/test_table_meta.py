"""The per-file-version metadata record behind every lake-table read
(sources/parquet.py ``read_table``): a read of a known file version is
handed its schema and launches no Spark job, the schema is exactly what
an inferring read reports, and a rewrite or a schema-conf change is
never answered from the old record."""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pa_pq
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType, TimestampType

from apache_iceberg_with_clickhouse_olake_spark.sources import parquet as pq
from apache_iceberg_with_clickhouse_olake_spark.sources.lake import (
    read_snapshot,
    write_snapshot,
)


def _jobs_during(spark, build):
    """(result of ``build()``, Spark jobs it launched), counted under a
    job group of its own."""
    sc = spark.sparkContext
    group = f"table-meta-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "table meta test")
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_of_each_fixture_table_runs_no_job(spark, sf_dir):
    for name in pq.TABLES:
        path = pq.table_path(sf_dir, name)
        if not os.path.exists(path):
            continue
        pq.load_table(spark, sf_dir, name)
        df, jobs = _jobs_during(spark, lambda: pq.load_table(spark, sf_dir, name))
        assert jobs == 0, f"{name}: {jobs} jobs building a known table"
        raw, jobs = _jobs_during(spark, lambda: pq.read_table(spark, path))
        assert jobs == 0
        assert raw.schema == spark.read.parquet(path).schema
        if name == "events":
            assert isinstance(df.schema["ts"].dataType, TimestampType)
        else:
            assert df.schema == raw.schema


def test_spark_rewrite_with_added_column_is_seen(spark, tmp_path):
    sf = str(tmp_path)
    path = pq.table_path(sf, "t")
    spark.range(0, 50).write.parquet(path)
    pq.load_table(spark, sf, "t")
    assert pq.load_table(spark, sf, "t").columns == ["id"]

    spark.range(0, 50).withColumn("extra", F.col("id") * 2).write.mode(
        "overwrite"
    ).parquet(path)
    got = pq.load_table(spark, sf, "t")
    assert got.schema == spark.read.parquet(path).schema
    assert got.agg(F.sum("extra")).first()[0] == 2 * sum(range(50))


def test_single_file_rewrite_with_added_column_is_seen(spark, tmp_path):
    sf = str(tmp_path)
    path = pq.table_path(sf, "t")
    pa_pq.write_table(pa.table({"id": list(range(20))}), path)
    pq.load_table(spark, sf, "t")
    assert pq.load_table(spark, sf, "t").columns == ["id"]

    pa_pq.write_table(
        pa.table({"id": list(range(20)), "label": ["x"] * 20}), path
    )
    got = pq.load_table(spark, sf, "t")
    assert got.schema == spark.read.parquet(path).schema
    assert got.filter(F.col("label") == "x").count() == 20


def test_schema_conf_change_is_not_answered_from_the_record(spark, tmp_path):
    sf = str(tmp_path)
    pa_pq.write_table(
        pa.table({"b": pa.array([b"ab", b"cd"], type=pa.binary())}),
        pq.table_path(sf, "t"),
    )
    conf = "spark.sql.parquet.binaryAsString"
    assert spark.conf.get(conf, None) is None
    pq.load_table(spark, sf, "t")
    assert isinstance(pq.load_table(spark, sf, "t").schema["b"].dataType, BinaryType)
    spark.conf.set(conf, "true")
    try:
        got = pq.load_table(spark, sf, "t")
        assert isinstance(got.schema["b"].dataType, StringType)
        assert sorted(r.b for r in got.collect()) == ["ab", "cd"]
    finally:
        spark.conf.unset(conf)
    assert isinstance(pq.load_table(spark, sf, "t").schema["b"].dataType, BinaryType)


def test_nanos_events_read_as_timestamps(spark, tmp_path):
    """TIMESTAMP(NANOS) reads through the session's nanosAsLong conf;
    load_table rebuilds exact microsecond timestamps from the longs."""
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    sf = str(tmp_path)
    ns = [1_600_000_000_123_456_789, 1_700_000_000_000_000_999]
    pa_pq.write_table(
        pa.table({"event_id": [1, 2], "ts": pa.array(ns, type=pa.timestamp("ns"))}),
        pq.table_path(sf, "events"),
    )
    got = pq.load_table(spark, sf, "events")
    assert isinstance(got.schema["ts"].dataType, TimestampType)
    micros = got.orderBy("event_id").select(F.unix_micros("ts")).collect()
    assert [r[0] for r in micros] == [n // 1000 for n in ns]


def test_snapshot_reads_use_the_schema_the_write_recorded(spark, sf_dir, tmp_path):
    """An evolution roundtrip: v2 adds a column, v3 drops back to v1's
    columns. Each version's read is handed the schema its write
    recorded -- no job at build -- and it equals the mergeSchema read's;
    with the record cleared the inferring read matches too."""
    table = str(tmp_path / "orders_snap")
    orders = pq.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    frames = (
        orders,
        orders.withColumn("price_band", F.floor(F.col("o_totalprice") / 100_000)),
        orders.filter(F.col("o_orderkey") % 2 == 0),
    )
    assert [write_snapshot(df, table) for df in frames] == [1, 2, 3]

    def check(v, want_jobs):
        path = os.path.join(table, f"v{v}")
        got, jobs = _jobs_during(spark, lambda: read_snapshot(spark, table, v))
        assert jobs == want_jobs, f"v{v}: {jobs} jobs at build"
        merged = spark.read.option("mergeSchema", "true").parquet(path)
        assert got.schema == merged.schema
        assert got.count() == frames[v - 1].count()
        assert got.agg(F.sum("o_orderkey")).first()[0] == (
            frames[v - 1].agg(F.sum("o_orderkey")).first()[0]
        )

    for v in (1, 2, 3):
        check(v, 0)
    assert "price_band" in read_snapshot(spark, table, 2).columns

    for v in (1, 2, 3):
        pq._META.pop(os.path.realpath(os.path.join(table, f"v{v}")), None)
    for v in (1, 2, 3):
        check(v, 1)  # the inferring read's footer job
        check(v, 0)
