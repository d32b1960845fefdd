"""Medallion (raw -> silver -> gold) ETL pattern.

Reference: scripts/iceberg-setup.sql:47-103 -- silver is a column-pruned,
renamed, type-shaped projection of bronze orders; gold is a pre-aggregated
KPI table grouped by (order_month, status); downstream queries re-aggregate
gold (A9) and must reproduce raw answers (the reference's cross-layer
consistency checks, cross-database-analytics.sql:16-38).

Spark-first shape: each layer is a DataFrame transformation; materialization
is a parquet write partitioned/sorted the way the reference clusters its
tables (MergeTree ORDER BY (order_month, status), iceberg-setup.sql:89-90 ->
sortWithinPartitions on write).

Scale: gold is tiny (months x statuses) regardless of input size; silver is
a narrow projection that parallelizes embarrassingly. The one shuffle is the
gold groupBy, with map-side partial aggregation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import (
    davg,
    davg_sql,
    dround,
    dround_sql,
    dsum,
    dsum_sql,
    nullif_,
)
from ..sources.parquet import load_table
from .registry import query

_GOLD_SQL_INNER = f"""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           o_orderstatus AS status,
           COUNT(DISTINCT o_custkey) AS user_count,
           COUNT(*) AS order_count,
           {dsum_sql('o_totalprice')} AS gross_revenue
    FROM orders
    GROUP BY 1, 2
"""


def build_silver(orders: DataFrame) -> DataFrame:
    """Silver shaping (iceberg-setup.sql:66-75): rename, prune to the hot
    columns, derive the date bucket."""
    return orders.select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderstatus").alias("status"),
        F.trunc("o_orderdate", "month").alias("order_month"),
        F.col("o_orderdate").alias("order_date"),
        F.col("o_totalprice").alias("total_amount"),
    )


def build_gold(silver: DataFrame) -> DataFrame:
    """Gold KPI materialization (iceberg-setup.sql:92-101): month x status
    pre-aggregate with exact distinct users and null-safe avg."""
    return (
        silver.groupBy("order_month", "status")
        .agg(
            F.countDistinct("user_id").alias("user_count"),
            F.count("*").alias("order_count"),
            dsum("total_amount", "gross_revenue"),
        )
        .withColumn(
            "avg_order_value",
            dround(
                F.col("gross_revenue") / nullif_(F.col("order_count"), 0), 2
            ),
        )
    )


def write_layer(df: DataFrame, warehouse: str, name: str,
                sort_cols: tuple[str, ...] = ()) -> str:
    """Materialize a layer as parquet, sorted within partitions (the
    MergeTree ORDER BY equivalent, O5). S3 lake write; Iceberg:
    ``writeTo(catalog.ns.tbl).append()``."""
    path = os.path.join(warehouse, name)
    out = df.sortWithinPartitions(*sort_cols) if sort_cols else df
    out.write.mode("overwrite").parquet(path)
    return path


def build_medallion(spark: SparkSession, sf_dir: str, warehouse: str) -> dict[str, str]:
    """End-to-end medallion build: bronze (as-is parquet) -> silver -> gold."""
    orders = load_table(spark, sf_dir, "orders")
    silver = build_silver(orders)
    gold = build_gold(silver)
    return {
        "silver_orders": write_layer(
            silver, warehouse, "silver_orders", ("order_month", "status")
        ),
        # gold is bounded (months x statuses) at ANY corpus scale, so one
        # file is the right layout: single scan task, no listing overhead
        "gold_order_metrics": write_layer(
            gold.coalesce(1),
            warehouse,
            "gold_order_metrics",
            ("order_month", "status"),
        ),
    }


# ---------------------------------------------------------------------------
# Gold as a query (what the reference INSERTs, iceberg-setup.sql:92-101)
# ---------------------------------------------------------------------------

@query(
    "gold_order_metrics",
    oracle=f"""
    SELECT order_month, status, user_count, order_count, gross_revenue,
           {dround_sql('gross_revenue / NULLIF(order_count, 0)')} AS avg_order_value
    FROM ({_GOLD_SQL_INNER})
    ORDER BY order_month, status
    """,
    tags=("A8", "A6", "A7", "S4"),
)
def gold_order_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    # not widened (r19): A/B 0.960->1.214 s -- the countDistinct Expand
    # over an extra exchange loses to the 150k-row single-task build
    orders = load_table(spark, sf_dir, "orders")
    return (
        build_gold(build_silver(orders))
        .orderBy("order_month", "status")
    )


# ---------------------------------------------------------------------------
# A9: re-aggregation of pre-aggregates (gold query pattern)
# cross-database-analytics.sql:32-38, compare-query-performance.sql:36-44
# ---------------------------------------------------------------------------

def reaggregate_gold(gold: DataFrame) -> DataFrame:
    """Status-level re-aggregation of the gold KPI table: SUM of counts
    and of sums, plus the mean monthly revenue."""
    return (
        gold.groupBy("status")
        .agg(
            F.sum("order_count").alias("total_orders"),
            F.sum("user_count").alias("total_user_slots"),
            dsum("gross_revenue", "total_revenue"),
            davg("gross_revenue", "avg_monthly_revenue"),
        )
        .orderBy(F.col("total_orders").desc(), "status")
    )


_GOLD_REAGG_SQL = f"""
    SELECT status,
           CAST(SUM(order_count) AS BIGINT) AS total_orders,
           CAST(SUM(user_count) AS BIGINT) AS total_user_slots,
           {dsum_sql('gross_revenue')} AS total_revenue,
           {davg_sql('gross_revenue')} AS avg_monthly_revenue
    FROM ({_GOLD_SQL_INNER})
    GROUP BY status
    ORDER BY total_orders DESC, status
"""


@query("gold_reaggregate", oracle=_GOLD_REAGG_SQL, tags=("A9",))
def gold_reaggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUM-of-counts / SUM-of-sums over the KPI table -- validates correct
    partial->final aggregation semantics of the gold layer."""
    # not widened (r19): A/B 0.829->1.040 s, see gold_order_metrics
    orders = load_table(spark, sf_dir, "orders")
    return reaggregate_gold(build_gold(build_silver(orders)))


# ---------------------------------------------------------------------------
# Cross-layer consistency check (reference test pattern #2, SURVEY.md §5)
# ---------------------------------------------------------------------------

@query(
    "layer_consistency",
    oracle=f"""
    WITH raw AS (
      SELECT o_orderstatus AS status, COUNT(*) AS raw_orders,
             {dsum_sql('o_totalprice')} AS raw_revenue
      FROM orders GROUP BY 1
    ),
    gold AS (
      SELECT status, CAST(SUM(order_count) AS BIGINT) AS gold_orders,
             {dsum_sql('gross_revenue')} AS gold_revenue
      FROM ({_GOLD_SQL_INNER}) GROUP BY status
    )
    SELECT r.status, r.raw_orders, g.gold_orders,
           (r.raw_orders = g.gold_orders
            AND r.raw_revenue = g.gold_revenue) AS layers_match
    FROM raw r JOIN gold g ON r.status = g.status
    ORDER BY r.status
    """,
    tags=("A9", "test-pattern"),
)
def layer_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same aggregation against raw and gold must agree -- the reference's
    core correctness assertion, as a query returning match flags."""
    orders = load_table(spark, sf_dir, "orders")
    raw = orders.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count("*").alias("raw_orders"),
        dsum("o_totalprice", "raw_revenue"),
    )
    gold = (
        build_gold(build_silver(orders))
        .groupBy("status")
        .agg(
            F.sum("order_count").alias("gold_orders"),
            dsum("gross_revenue", "gold_revenue"),
        )
    )
    return (
        raw.join(gold, "status")
        .select(
            "status",
            "raw_orders",
            "gold_orders",
            (
                (F.col("raw_orders") == F.col("gold_orders"))
                & (F.col("raw_revenue") == F.col("gold_revenue"))
            ).alias("layers_match"),
        )
        .orderBy("status")
    )
