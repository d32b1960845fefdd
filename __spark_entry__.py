"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash; ``scripts/driver_sim.py`` runs the same
check locally).

All real content lives in ``apache_iceberg_with_clickhouse_olake_spark``;
this module only delegates to the central operator registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from apache_iceberg_with_clickhouse_olake_spark.operators import registry  # noqa: E402

_SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (orders_by_status, compare-query-performance.sql:16-23)
    on /root/testdata/sf0.001; driver checks rows>0."""
    from apache_iceberg_with_clickhouse_olake_spark.operators.analytics import (
        orders_by_status,
    )

    return orders_by_status(spark, _SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return registry.all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query (omitted => rows-only check)."""
    return registry.all_oracles()
