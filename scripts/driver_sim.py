"""Driver simulation: run every __spark_entry__ query at sf0.01 vs DuckDB oracle.

Mirrors the grading driver with tests/oracle_utils.assert_match (schema,
dtype drift, row count and order-insensitive values). Prints
MATCH/MISMATCH/ERROR per query name; name queries on the command line to
run only those.
"""
from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

from apache_iceberg_with_clickhouse_olake_spark.sources.parquet import (
    TABLES,
    table_path,
)
from tests.oracle_utils import assert_match, spark_result

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> int:
    import __spark_entry__ as e

    from apache_iceberg_with_clickhouse_olake_spark.session import (
        default_parallelism,
    )

    # A raw builder on purpose, not session.get_spark: the grading
    # driver builds its own session, and only a raw one proves that path.
    cpus = default_parallelism()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("driver-sim")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    n = e.entry(spark).count()
    print(f"entry: {n} rows", flush=True)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(SF_DIR, t)}')"
        )

    qs = e.queries()
    oracles = e.oracle_sql()
    only = sys.argv[1:]
    match = mismatch = err = rows_only = 0
    for name in sorted(qs):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = qs[name](spark, SF_DIR)
            if name not in oracles:
                rows = spark_result(df)[1]
                print(f"ROWSONLY  {name}: {len(rows)} rows ({time.time()-t0:.1f}s)", flush=True)
                rows_only += 1
                continue
            try:
                assert_match(df, con, oracles[name], name=name)
            except AssertionError as exc:
                print(f"MISMATCH  {exc}", flush=True)
                mismatch += 1
                continue
            print(f"MATCH     {name} ({time.time()-t0:.1f}s)", flush=True)
            match += 1
        except Exception:
            print(f"ERROR     {name}:\n{traceback.format_exc()}", flush=True)
            err += 1
    print(f"\nsummary: {match} match, {mismatch} mismatch, {err} error, {rows_only} rows-only")
    return 1 if (mismatch or err) else 0


if __name__ == "__main__":
    raise SystemExit(main())
