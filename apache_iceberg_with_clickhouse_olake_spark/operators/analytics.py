"""Reference analytics query suite (SURVEY.md sections 2.2-2.8).

Each query re-expresses a reference operator over the driver star schema
(FIXTURES.md section B binding). Citations point at the reference SQL the
operator reproduces.

Scale notes, applied throughout:
- Aggregations are plain ``groupBy().agg()`` -> Catalyst plans partial
  (map-side) aggregation before the shuffle, so the shuffle carries one row
  per (partition, group), not per input row.
- Bounded dims (region: 5 rows, nation: 25, supplier: sub-linear) get an
  explicit ``F.broadcast`` hint. customer/part grow LINEARLY with scale, so
  they never get a hint -- AQE upgrades the join to broadcast at runtime
  when the built side is actually small, and keeps a shuffle join at 100 TB
  where a forced broadcast would OOM executors.
- Filters are expressed as Column predicates directly over the scan so they
  push down to the parquet reader (verified by plans.assert_pushdown tests).
- Money sums go through functions.dsum (exact decimal sum) -- deterministic
  under any partitioning, see functions/__init__.py docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import (
    davg,
    davg_sql,
    ddbl_sql,
    dround,
    dround_sql,
    dsnap_sql,
    dsum,
    dsum_sql,
    iff,
    nullif_,
    to_yyyymm,
)
from ..sources.parquet import load_table, load_table_wide
from .registry import query

# Fixed predicate anchors (the reference uses today()-INTERVAL 12 MONTH,
# compare-query-performance.sql:58; our testdata is static so the rolling
# window is anchored at a fixed date inside the data range for determinism).
RECENT_DATE = "1999-01-01"
HIGH_VALUE = 200000.0


# ---------------------------------------------------------------------------
# Test 1 (flagship): orders by status -- A2+A4+O1
# compare-query-performance.sql:16-23, cross-database-analytics.sql:5-13
# ---------------------------------------------------------------------------

@query(
    "orders_by_status",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS order_count,
           {davg_sql('o_totalprice')} AS avg_order_value,
           {dsum_sql('o_totalprice')} AS total_revenue
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY order_count DESC
    """,
    tags=("A2", "A4", "O1"),
)
def orders_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-key grouped agg with COUNT/AVG/SUM + top-first ordering.

    Deliberately NOT widened (r19): the split-starved widen that pays
    off for pricing_summary was A/B-measured here at 0.550->0.629 s --
    the 150k-row agg build (~170 ms) is cheaper than the exchange."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("order_count"),
            davg("o_totalprice", "avg_order_value"),
            dsum("o_totalprice", "total_revenue"),
        )
        .orderBy(F.col("order_count").desc())
    )


# ---------------------------------------------------------------------------
# Test 2: monthly revenue trends -- A8+F13+O2
# compare-query-performance.sql:52-60
# ---------------------------------------------------------------------------

@query(
    "monthly_revenue",
    oracle=f"""
    SELECT CAST(year(o_orderdate)*100 + month(o_orderdate) AS INT) AS order_month,
           o_orderstatus,
           COUNT(*) AS order_count,
           {dsum_sql('o_totalprice')} AS total_revenue
    FROM orders
    GROUP BY 1, 2
    ORDER BY order_month DESC, o_orderstatus
    """,
    tags=("A8", "F13", "O2"),
)
def monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-key month-x-status rollup with toYYYYMM bucketing.
    Not widened (r19): A/B 0.614->0.869 s, see orders_by_status."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            to_yyyymm("o_orderdate").alias("order_month"),
            "o_orderstatus",
        )
        .agg(
            F.count("*").alias("order_count"),
            dsum("o_totalprice", "total_revenue"),
        )
        .orderBy(F.col("order_month").desc(), "o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Test 3: high-value filtered orders -- P3-P6 + A5
# compare-query-performance.sql:93-101
# ---------------------------------------------------------------------------

@query(
    "high_value_orders",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS order_count,
           {dround_sql('MAX(o_totalprice)')} AS max_amount,
           {dsum_sql('o_totalprice')} AS total_revenue
    FROM orders
    WHERE o_totalprice > {HIGH_VALUE}
      AND o_orderstatus IN ('O', 'F')
      AND o_orderdate >= DATE '{RECENT_DATE}'
    GROUP BY o_orderstatus
    ORDER BY order_count DESC, o_orderstatus
    """,
    tags=("P3", "P4", "P5", "P6", "A5", "F12"),
)
def high_value_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive numeric + IN-list + date-range predicates; all three
    push down to the parquet scan."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(
            (F.col("o_totalprice") > HIGH_VALUE)
            & F.col("o_orderstatus").isin("O", "F")
            & (F.col("o_orderdate") >= F.lit(RECENT_DATE).cast("date"))
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("order_count"),
            dround(F.max("o_totalprice"), 2).alias("max_amount"),
            dsum("o_totalprice", "total_revenue"),
        )
        .orderBy(F.col("order_count").desc(), "o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Test 4: exact distinct customers + derived ratio -- A6+A7+P8
# compare-query-performance.sql:122-130, iceberg-setup.sql:96-99
# ---------------------------------------------------------------------------

@query(
    "unique_customers",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS unique_customers,
           COUNT(*) AS order_count,
           {dround_sql('CAST(COUNT(*) AS DOUBLE) / NULLIF(COUNT(DISTINCT o_custkey), 0)')}
             AS orders_per_customer,
           {dsum_sql('o_totalprice')} AS total_revenue
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY unique_customers DESC, o_orderstatus
    """,
    tags=("A6", "A7", "P8"),
)
def unique_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """uniqExact equivalent (exact countDistinct). At 100 TB the cheap
    variant is approx_count_distinct -- exposed as
    ``unique_customers_approx`` below (rows-only check, approximate).
    Not widened (r19): A/B 0.675->1.086 s -- the exchange plus wide
    distinct machinery loses to the single-task build at this shape."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("unique_customers"),
            F.count("*").alias("order_count"),
            dsum("o_totalprice", "total_revenue"),
        )
        .withColumn(
            "orders_per_customer",
            dround(
                F.col("order_count").cast("double")
                / nullif_(F.col("unique_customers"), 0),
                2,
            ),
        )
        .select(
            "o_orderstatus",
            "unique_customers",
            "order_count",
            "orders_per_customer",
            "total_revenue",
        )
        .orderBy(F.col("unique_customers").desc(), "o_orderstatus")
    )


# HLL with rsd=0.01 has ~1% standard error; 0.05 is a 5-sigma envelope a
# healthy sketch never leaves, so a bound violation means a real defect.
_APPROX_REL_ERR = 0.05


@query(
    "unique_customers_approx",
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS exact_customers,
           TRUE AS within_bound
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("A6",),
)
def unique_customers_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL-sketch distinct count -- the 100 TB-scale variant of A6 (single
    pass, mergeable partials, no per-key state explosion).

    Bounds oracle: sketch estimates are engine-specific, so the hashable
    contract is the ERROR ENVELOPE, not the estimate. The Spark side
    computes both the sketch and the exact distinct and emits
    ``within_bound`` = |approx-exact|/exact <= 0.05; the DuckDB oracle
    computes the exact distinct and asserts the literal TRUE. A sketch
    regression (bad rsd plumbing, broken merge) flips the boolean and
    fails the value hash. The exact column here is the verification
    harness -- at 100 TB production runs only the approx aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.approx_count_distinct("o_custkey", 0.01).alias("_approx"),
            F.countDistinct("o_custkey").alias("exact_customers"),
        )
        .select(
            "o_orderstatus",
            "exact_customers",
            (
                F.abs(F.col("_approx") - F.col("exact_customers"))
                / F.col("exact_customers").cast("double")
                <= _APPROX_REL_ERR
            ).alias("within_bound"),
        )
        .orderBy("o_orderstatus")
    )


def unique_customers_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION sketch-only shape of A6 at 100 TB: ONE single-pass
    approximate aggregate, no exact countDistinct anywhere in the plan.

    The registered ``unique_customers_approx`` above is the VERIFICATION
    variant -- it adds the exact branch so the bounds oracle can hash an
    error envelope, which makes the exact aggregate (the dominant cost at
    scale) inseparable from that query (r5 ADVICE). This twin is the
    actually-runnable production path; it is not oracle-registered
    because sketch estimates are engine-specific, so its contract is
    pinned structurally instead: tests/test_plans.py asserts the plan
    contains the sketch aggregate and NO exact-distinct, and
    tests/test_analytics.py bounds its estimates against the exact
    variant's output."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.approx_count_distinct("o_custkey", 0.01).alias(
                "approx_customers"
            ),
            F.count("*").alias("order_count"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# J1: fact -> dim -> dim star join
# mysql-init/01-setup.sql:308-320
# ---------------------------------------------------------------------------

@query(
    "revenue_by_nation",
    oracle=f"""
    SELECT n.n_name AS nation,
           COUNT(*) AS order_count,
           {dsum_sql('o.o_totalprice')} AS total_revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY total_revenue DESC, nation
    """,
    tags=("J1", "A4", "O1"),
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop equi inner join. nation (25 rows) broadcasts by hint;
    customer scales with the data so it carries NO hint -- the
    orders|><|customer join hash-partitions on custkey and AQE upgrades it
    to broadcast only when customer is actually small."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        orders.join(
            customer.select("c_custkey", "c_nationkey"),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("order_count"),
            dsum("o_totalprice", "total_revenue"),
        )
        .orderBy(F.col("total_revenue").desc(), "nation")
    )


@query(
    "revenue_by_region",
    oracle=f"""
    SELECT r.r_name AS region,
           COUNT(DISTINCT c.c_custkey) AS customers,
           COUNT(*) AS order_count,
           {dsum_sql('o.o_totalprice')} AS total_revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    ORDER BY total_revenue DESC, region
    """,
    tags=("J1", "A6"),
)
def revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-hop star join rolled up to region."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    region = load_table(spark, sf_dir, "region")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.countDistinct("c_custkey").alias("customers"),
            F.count("*").alias("order_count"),
            dsum("o_totalprice", "total_revenue"),
        )
        .orderBy(F.col("total_revenue").desc(), "region")
    )


@query(
    "segment_lineitem_revenue",
    oracle=f"""
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS line_count,
           {dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY revenue DESC, segment
    """,
    tags=("J1",),
)
def segment_lineitem_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact-to-dim join (lineitem |><| orders |><| customer). At scale
    lineitem|><|orders is the big shuffle: both sides hash-partition on
    orderkey. customer scales linearly -> no broadcast hint (AQE decides).
    Probe side widened when split-starved (r19, see orders_by_status):
    the join+aggregate stage otherwise ran on the single scan task
    (measured 0.9 s agg build on one core at sf0.1)."""
    lineitem = load_table_wide(spark, sf_dir, "lineitem", "l_orderkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("line_count"),
            dsum(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")),
                "revenue",
            ),
        )
        .orderBy(F.col("revenue").desc(), "segment")
    )


# ---------------------------------------------------------------------------
# A3: grouped MIN/MAX on timestamps -- cross-database-analytics.sql:9-10
# ---------------------------------------------------------------------------

@query(
    "order_date_range",
    oracle="""
    SELECT o_orderstatus,
           MIN(o_orderdate) AS first_order,
           MAX(o_orderdate) AS most_recent_order,
           COUNT(*) AS order_count
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("A3",),
)
def order_date_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("most_recent_order"),
            F.count("*").alias("order_count"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# A1 + U1: per-table COUNT(*) stacked with UNION ALL
# iceberg-setup.sql:13,23,33,43; generate-more-data.sql:190-196
# ---------------------------------------------------------------------------

_COUNT_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


@query(
    "table_counts",
    oracle=" UNION ALL ".join(
        f"SELECT '{t}' AS table_name, COUNT(*) AS row_count FROM {t}"
        for t in _COUNT_TABLES
    )
    + " ORDER BY table_name",
    tags=("A1", "U1", "S2"),
)
def table_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-count assertion block, the reference's post-step smoke check."""
    parts = []
    for t in _COUNT_TABLES:
        df = load_table(spark, sf_dir, t)
        parts.append(
            df.agg(F.count("*").alias("row_count")).select(
                F.lit(t).alias("table_name"), "row_count"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("table_name")


# ---------------------------------------------------------------------------
# U3: DISTINCT projection -- BLOG_POST_COMPLETE_WALKTHROUGH.md:355
# ---------------------------------------------------------------------------

@query(
    "distinct_status",
    oracle="SELECT DISTINCT o_orderstatus FROM orders ORDER BY o_orderstatus",
    tags=("U3",),
)
def distinct_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select("o_orderstatus").distinct().orderBy("o_orderstatus")


# ---------------------------------------------------------------------------
# U-ext: INTERSECT / EXCEPT (free via Spark set ops; extension beyond ref)
# ---------------------------------------------------------------------------

@query(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders
    ORDER BY c_custkey
    """,
    tags=("U-ext",),
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT set op; at scale this is a left-anti join on the key."""
    customer = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return customer.exceptAll(orders.distinct()).distinct().orderBy("c_custkey")


@query(
    "multi_segment_nations",
    oracle="""
    SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    ORDER BY c_nationkey
    """,
    tags=("U-ext",),
)
def multi_segment_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT set op (nations having customers in both segments)."""
    customer = load_table(spark, sf_dir, "customer")
    a = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
    b = customer.filter(F.col("c_mktsegment") == "MACHINERY").select("c_nationkey")
    return a.intersect(b).orderBy("c_nationkey")


# ---------------------------------------------------------------------------
# O1+O3: top-N -- ORDER BY agg DESC LIMIT n
# ---------------------------------------------------------------------------

@query(
    "top_customers",
    oracle=f"""
    SELECT o_custkey,
           COUNT(*) AS order_count,
           {dsum_sql('o_totalprice')} AS total_spent
    FROM orders
    GROUP BY o_custkey
    ORDER BY total_spent DESC, o_custkey
    LIMIT 10
    """,
    tags=("O1", "O3"),
)
def top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 customers by revenue. orderBy+limit compiles to TakeOrderedAndProject
    (per-partition top-k then merge -- no global sort at scale). Tie-broken
    by key so the result set is deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count("*").alias("order_count"),
            dsum("o_totalprice", "total_spent"),
        )
        .orderBy(F.col("total_spent").desc(), "o_custkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# P1+P2: silver projection/rename/derivation -- iceberg-setup.sql:66-75
# ---------------------------------------------------------------------------

@query(
    "silver_projection",
    oracle="""
    SELECT o_orderkey AS order_id,
           o_custkey AS user_id,
           o_orderstatus AS status,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           o_orderdate AS order_date,
           o_totalprice AS total_amount
    FROM orders
    """,
    tags=("P1", "P2"),
)
def silver_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned rename + date-bucket derivation (the silver table
    shape; delegates to medallion.build_silver so the registered query and
    the materialized layer share one definition). Only 6 columns are read
    (ReadSchema pruning). No global sort: a per-row projection at 100 TB
    must not range-shuffle for presentation (driver hash is
    order-insensitive)."""
    from .medallion import build_silver

    orders = load_table(spark, sf_dir, "orders")
    return build_silver(orders)


# ---------------------------------------------------------------------------
# F1-F8, F16: scalar-function projection exercise
# ---------------------------------------------------------------------------

@query(
    "scalar_functions",
    oracle=f"""
    SELECT o_orderkey,
           ('ord-' || CAST(o_orderkey AS VARCHAR) || '/' || o_orderstatus) AS tag,
           CASE CAST(substr(o_orderpriority, 1, 1) AS INT)
                WHEN 1 THEN 'urgent' WHEN 2 THEN 'high' WHEN 3 THEN 'medium'
                WHEN 4 THEN 'none' WHEN 5 THEN 'low' END AS priority_label,
           CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS price_bucket,
           CASE WHEN o_totalprice > 200000 THEN 'big' ELSE 'small' END AS size_flag,
           {dround_sql('o_totalprice / NULLIF(FLOOR(o_totalprice / 50000), 0)')}
             AS per_bucket,
           COALESCE({dround_sql('o_totalprice / NULLIF(FLOOR(o_totalprice / 50000), 0)')},
                    0.0) AS per_bucket_filled
    FROM orders
    """,
    tags=("F1", "F2", "F3", "F5", "F6", "F7", "F8", "F16"),
)
def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONCAT / ELT / IF / FLOOR / ROUND / NULLIF / COALESCE / arithmetic --
    the reference generator's scalar surface (mysql-init/01-setup.sql:141-173)
    as one deterministic projection. NULL contract (r18, randomized-facts
    suite): CONCAT with any NULL arg is NULL (the MySQL/Spark behavior --
    the oracle uses ``||``, which propagates NULL in DuckDB, where
    DuckDB's CONCAT() would skip NULLs); ELT with a NULL index is NULL
    (see functions.elt)."""
    from ..functions import elt

    orders = load_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 50000)
    per_bucket = dround(F.col("o_totalprice") / nullif_(bucket, 0), 2)
    return orders.select(
        "o_orderkey",
        F.concat(
            F.lit("ord-"),
            F.col("o_orderkey").cast("string"),
            F.lit("/"),
            F.col("o_orderstatus"),
        ).alias("tag"),
        elt(
            F.substring("o_orderpriority", 1, 1).cast("int"),
            "urgent", "high", "medium", "none", "low",
        ).alias("priority_label"),
        bucket.cast("bigint").alias("price_bucket"),
        iff(F.col("o_totalprice") > 200000, F.lit("big"), F.lit("small")).alias(
            "size_flag"
        ),
        per_bucket.alias("per_bucket"),
        F.coalesce(per_bucket, F.lit(0.0)).alias("per_bucket_filled"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q1-shaped pricing summary (composite of A2/A4/A6/P5 over lineitem)
# ---------------------------------------------------------------------------

@query(
    "pricing_summary",
    oracle=f"""
    SELECT l_returnflag,
           l_linestatus,
           {dsum_sql('l_quantity')} AS sum_qty,
           {dsum_sql('l_extendedprice')} AS sum_base_price,
           {dsum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {davg_sql('l_quantity')} AS avg_qty,
           {davg_sql('l_extendedprice')} AS avg_price,
           {davg_sql('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '2001-06-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("A2", "A4", "P5"),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped wide aggregate over the biggest fact table; the
    canonical map-side-combine benchmark query.

    Widened when split-starved (r19, guide §2.5): the measured wall was
    the 7-decimal-aggregate partial build (2.2 s of 2.45 s) serialized on
    the fixture's single row-group task; the scan itself cost 53 ms. The
    shipdate filter still reaches the parquet scan below the exchange
    (pinned by tests/test_plans.py); the widen key is a column the
    query already reads, so pruning is unchanged."""
    li = load_table_wide(spark, sf_dir, "lineitem", "l_extendedprice")
    disc_price = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    charge = disc_price * (F.lit(1) + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-06-01").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Events: time-bucketed rollups (A8 over the events stream table)
# ---------------------------------------------------------------------------

@query(
    "events_by_type",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS event_count,
           COUNT(DISTINCT user_id) AS unique_users,
           {dsum_sql('value')} AS total_value,
           {davg_sql('value')} AS avg_value
    FROM events
    GROUP BY event_type
    ORDER BY event_count DESC, event_type
    """,
    tags=("A2", "A6"),
)
def events_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.count("*").alias("event_count"),
            F.countDistinct("user_id").alias("unique_users"),
            dsum("value", "total_value"),
            davg("value", "avg_value"),
        )
        .orderBy(F.col("event_count").desc(), "event_type")
    )


@query(
    "daily_active_users",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           COUNT(DISTINCT user_id) AS active_users,
           COUNT(*) AS event_count,
           {dsum_sql('value')} AS total_value
    FROM events
    GROUP BY 1
    ORDER BY day
    """,
    tags=("A8", "F14"),
)
def daily_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-bucketed distinct users -- the hypertable-rollup shape. At scale
    the day bucket is also the natural partition key for the events lake
    table (reference partitions user_sessions by day(login_time),
    destination.json:66-71).
    Not widened (r19): A/B 0.642->0.722 s, see orders_by_status."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.countDistinct("user_id").alias("active_users"),
            F.count("*").alias("event_count"),
            dsum("value", "total_value"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# P9: point lookup via scalar subquery / broadcast lookup
# mysql-init/01-setup.sql:219
# ---------------------------------------------------------------------------

@query(
    "order_part_lookup",
    oracle=f"""
    SELECT l.l_orderkey, l.l_linenumber, p.p_name, p.p_retailprice,
           {dround_sql('l.l_quantity * p.p_retailprice')} AS retail_value
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_orderkey < 100
    ORDER BY l.l_orderkey, l.l_linenumber
    """,
    tags=("P9", "J3"),
)
def order_part_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row key lookup (the reference does it as a correlated scalar
    subquery in its generator loop) -- expressed as an equi join. part grows
    linearly with scale so no broadcast hint; here the filtered lineitem side
    is tiny and AQE broadcasts THAT side instead."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_retailprice"
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .select(
            "l_orderkey",
            "l_linenumber",
            "p_name",
            "p_retailprice",
            dround(F.col("l_quantity") * F.col("p_retailprice"), 2).alias(
                "retail_value"
            ),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


_PCTS = (0.25, 0.5, 0.75, 0.9, 0.99)


@query(
    "order_value_percentiles",
    oracle=f"""
    SELECT o_orderstatus AS status,
           COUNT(*) AS n_orders,
           MIN(o_totalprice) AS min_price,
           {', '.join(
               dround_sql(f'quantile_cont(o_totalprice, {p})', 4)
               + f' AS p{int(p * 100)}'
               for p in _PCTS
           )},
           MAX(o_totalprice) AS max_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("A10", "A2"),
)
def order_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric distribution profiling (A10 beyond categorical counts):
    exact continuous percentiles of order value per status. Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` share the
    a + (b - a) * g interpolation over identical sorted positions, so
    the snapped results are engine-exact. Exact percentiles sort within
    each group -- the profiling trade; at 100 TB the same shape runs
    with ``percentile_approx`` (one pass, mergeable sketches) when a
    bounded error beats a per-group sort, mirroring the exact-vs-HLL
    twin discipline of unique_customers."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            *[
                dround(
                    F.percentile(F.col("o_totalprice"), F.lit(p)), 4
                ).alias(f"p{int(p * 100)}")
                for p in _PCTS
            ],
            F.max("o_totalprice").alias("max_price"),
        )
        .orderBy("status")
    )


@query(
    "order_value_percentiles_approx",
    oracle=f"""
    SELECT o_orderstatus AS status,
           COUNT(*) AS n_orders,
           {', '.join(
               f'TRUE AS p{int(p * 100)}_within_bound' for p in _PCTS
           )}
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("A10",),
)
def order_value_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB variant of order_value_percentiles: percentile_approx
    (Greenwald-Khanna sketch -- single pass, mergeable partials, no
    per-group sort). Same bounds-oracle discipline as
    unique_customers_approx: estimates are engine-specific, so the
    hashable contract is the error envelope -- each approx percentile
    must land within 5% relative VALUE error of the exact one (the
    sketch's rank guarantee at accuracy 10000 is far tighter on this
    data; the envelope catches broken plumbing, not sketch noise). The
    exact branch exists only to verify; production runs the sketch
    alone."""
    orders = load_table(spark, sf_dir, "orders")
    aggs = [
        F.count("*").alias("n_orders"),
        # verification-only exact order statistics (at 100 TB production
        # runs the sketch alone; the exact branch exists to bound it)
        F.sort_array(F.collect_list("o_totalprice")).alias("_sorted"),
    ]
    for p in _PCTS:
        tag = int(p * 100)
        aggs.append(
            F.percentile_approx(
                F.col("o_totalprice"), F.lit(p), F.lit(10000)
            ).alias(f"_a{tag}")
        )
        aggs.append(
            F.percentile(F.col("o_totalprice"), F.lit(p)).alias(f"_e{tag}")
        )
    # The sketch's guarantee is on RANK, not value: on tiny groups the
    # returned element can sit a full interpolation step from the exact
    # continuous percentile (crafted group [10, 20]: exact p25 = 12.5,
    # sketch returns 10 -- a 20% "value error" that is rank-PERFECT).
    # The bound is therefore rank-correct first: the estimate must lie
    # between the order statistics bracketing the continuous position
    # (a theorem at accuracy 10000 while n << accuracy), OR within the
    # relative-value envelope that takes over once n is large enough
    # for genuine rank slack to appear.
    def _within(p: float):
        tag = int(p * 100)
        pos = F.lit(p) * (F.col("n_orders") - 1)
        lo = F.element_at("_sorted", (F.floor(pos) + 1).cast("int"))
        hi = F.element_at("_sorted", (F.ceil(pos) + 1).cast("int"))
        a, e = F.col(f"_a{tag}"), F.col(f"_e{tag}")
        rank_ok = (a >= F.least(lo, hi)) & (a <= F.greatest(lo, hi))
        value_ok = F.when(e == 0, a == 0).otherwise(
            F.abs(a - e) / F.abs(e) <= _APPROX_REL_ERR
        )
        return (rank_ok | value_ok).alias(f"p{tag}_within_bound")

    bounds = [_within(p) for p in _PCTS]
    return (
        orders.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(*aggs)
        .select("status", "n_orders", *bounds)
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# A10: GROUP BY distribution profiling -- inspect-mysql-data.sh:38-46
# ---------------------------------------------------------------------------

@query(
    "profile_distributions",
    oracle="""
    SELECT 'orders.status' AS dimension, o_orderstatus AS value, COUNT(*) AS cnt
      FROM orders GROUP BY o_orderstatus
    UNION ALL
    SELECT 'customer.mktsegment', c_mktsegment, COUNT(*) FROM customer GROUP BY c_mktsegment
    UNION ALL
    SELECT 'part.brand', p_brand, COUNT(*) FROM part GROUP BY p_brand
    ORDER BY dimension, value
    """,
    tags=("A10", "U1"),
)
def profile_distributions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-distribution inspection helper (categorical profiling)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")

    def dist(df: DataFrame, dim: str, col: str) -> DataFrame:
        return df.groupBy(F.col(col).alias("value")).agg(
            F.count("*").alias("cnt")
        ).select(F.lit(dim).alias("dimension"), "value", "cnt")

    return (
        dist(orders, "orders.status", "o_orderstatus")
        .unionByName(dist(customer, "customer.mktsegment", "c_mktsegment"))
        .unionByName(dist(part, "part.brand", "p_brand"))
        .orderBy("dimension", "value")
    )


# ---------------------------------------------------------------------------
# A11: COALESCE(MAX(id),0) scalar bootstrap -- generate-more-data.sql:16-17
# ---------------------------------------------------------------------------

@query(
    "max_key_bootstrap",
    oracle="""
    SELECT COALESCE(MAX(o_orderkey), 0) AS max_order_key,
           COALESCE(MAX(o_custkey), 0) AS max_cust_key
    FROM orders
    """,
    tags=("A11", "F8"),
)
def max_key_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        F.coalesce(F.max("o_orderkey"), F.lit(0)).alias("max_order_key"),
        F.coalesce(F.max("o_custkey"), F.lit(0)).alias("max_cust_key"),
    )


# ---------------------------------------------------------------------------
# ROLLUP hierarchy totals (extension: Spark df.rollup is free; the
# reference reaches subtotal rows by re-running aggregates per level)
# ---------------------------------------------------------------------------

@query(
    "orders_status_rollup",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           o_orderstatus AS status,
           COUNT(*) AS order_count,
           {dsum_sql('o_totalprice')} AS revenue
    FROM orders
    GROUP BY ROLLUP (year(o_orderdate), o_orderstatus)
    ORDER BY order_year NULLS FIRST, status NULLS FIRST
    """,
    tags=("A8", "A9"),
)
def orders_status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year x status ROLLUP: per-cell, per-year-subtotal, and grand-total
    rows in one pass (Spark expands grouping sets before the single
    shuffle -- the same partial-agg scale shape as a plain groupBy)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup(
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.col("o_orderstatus").alias("status"),
        )
        .agg(
            F.count("*").alias("order_count"),
            dsum("o_totalprice", "revenue"),
        )
        .orderBy(
            F.col("order_year").asc_nulls_first(),
            F.col("status").asc_nulls_first(),
        )
    )


# ---------------------------------------------------------------------------
# Pivot: month x status cross-tab (A8 presented wide -- the reference
# renders the same rollup long, compare-query-performance.sql:52-60; the
# wide form is ClickHouse's sumIf() idiom as a Spark pivot)
# ---------------------------------------------------------------------------

_PIVOT_STATUSES = ("F", "O", "P")


@query(
    "monthly_status_pivot",
    oracle=f"""
    SELECT CAST(year(o_orderdate)*100 + month(o_orderdate) AS INT)
             AS order_month,
           {', '.join(
               ddbl_sql(
                   f"SUM({dsnap_sql('o_totalprice')})"
                   f" FILTER (WHERE o_orderstatus = '{s}')"
               )
               + f" AS revenue_{s.lower()}"
               for s in _PIVOT_STATUSES
           )}
    FROM orders
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("A8",),
)
def monthly_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide month x status revenue cross-tab via ``pivot()`` with an
    EXPLICIT value list: naming the statuses up front keeps the plan a
    single scan+shuffle (pivot without values adds a distinct-collect
    pre-pass on the driver -- a 100 TB anti-pattern). A month with no
    orders in a status yields NULL in both engines (pivot empty cell ==
    SUM FILTER over empty set). The physical plan is identical to a
    grouped conditional aggregation -- no row explosion."""
    orders = load_table(spark, sf_dir, "orders")
    wide = (
        orders.groupBy(to_yyyymm("o_orderdate").alias("order_month"))
        .pivot("o_orderstatus", list(_PIVOT_STATUSES))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double"))
    )
    return wide.select(
        "order_month",
        *[F.col(s).alias(f"revenue_{s.lower()}") for s in _PIVOT_STATUSES],
    ).orderBy("order_month")


# ---------------------------------------------------------------------------
# Range (band) join against a literal tier dimension -- the J-family
# extension beyond the reference's equi-joins (mysql-init/01-setup.sql:
# 308-320): each fact row matches the one dim row whose [lo, hi) interval
# contains it.
# ---------------------------------------------------------------------------

# (name, lo, hi) -- contiguous, non-overlapping, covering [0, 1e12).
_VALUE_TIERS = (
    ("small", 0.0, 50_000.0),
    ("medium", 50_000.0, 200_000.0),
    ("large", 200_000.0, 400_000.0),
    ("jumbo", 400_000.0, 1e12),
)


@query(
    "order_value_tier_stats",
    oracle=f"""
    WITH tiers(tier, lo, hi) AS (
      VALUES {', '.join(f"('{n}', {lo!r}, {hi!r})"
                        for n, lo, hi in _VALUE_TIERS)}
    )
    SELECT t.tier, COUNT(*) AS order_count,
           {dsum_sql('o.o_totalprice')} AS revenue
    FROM orders o
    JOIN tiers t ON o.o_totalprice >= t.lo AND o.o_totalprice < t.hi
    GROUP BY t.tier, t.lo
    ORDER BY t.lo
    """,
    tags=("J1-ext",),
)
def order_value_tier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: orders banded into value tiers by interval containment.
    The tier table is a handful of literal rows, so the non-equi join is a
    broadcast nested-loop against a constant-size build side -- O(facts x
    n_tiers) with no shuffle, which is the correct 100 TB plan for a
    bounded band dimension (a shuffle range join would buy nothing). The
    per-tier rollup then shuffles only n_tiers rows after map-side
    combine."""
    orders = load_table(spark, sf_dir, "orders")
    tiers = F.broadcast(
        spark.createDataFrame(
            list(_VALUE_TIERS), "tier string, lo double, hi double"
        )
    )
    return (
        orders.join(
            tiers,
            (orders.o_totalprice >= tiers.lo)
            & (orders.o_totalprice < tiers.hi),
        )
        .groupBy("tier", "lo")
        .agg(
            F.count("*").alias("order_count"),
            dsum("o_totalprice", "revenue"),
        )
        .orderBy("lo")
        .select("tier", "order_count", "revenue")
    )


# ---------------------------------------------------------------------------
# Semi-join variant (J1 family; df.join(how="left_semi") is free in Spark)
# ---------------------------------------------------------------------------

@query(
    "nations_with_high_value_orders",
    oracle="""
    SELECT n.n_name AS nation, COUNT(*) AS customers
    FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000
    )
    GROUP BY n.n_name
    ORDER BY customers DESC, nation
    """,
    tags=("J1", "P3"),
)
def nations_with_high_value_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS shape): customers having any >450k order,
    counted per nation. The semi join keeps only the probe side's columns
    -- half the shuffle width of an inner join + distinct."""
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") > 450000).select("o_custkey")
    return (
        customer.join(big, customer.c_custkey == big.o_custkey, "left_semi")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("*").alias("customers"))
        .orderBy(F.col("customers").desc(), "nation")
    )


# ---------------------------------------------------------------------------
# F9/F10: genuine NOW()/today() calls with a time-stable answer
# ---------------------------------------------------------------------------

@query(
    "current_date_sanity",
    oracle="""
    SELECT COUNT(*) AS past_orders,
           COUNT(*) FILTER (WHERE o_orderdate > current_date)
             AS future_orders,
           TRUE AS now_after_data
    FROM orders
    """,
    tags=("F9", "F10"),
)
def current_date_sanity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real current_date()/current_timestamp() calls (F9/F10, not the
    fixed-anchor substitute): the dataset's order dates all precede any
    possible run time, so the answer is deterministic while the functions
    evaluate live in both engines."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        F.count("*").alias("past_orders"),
        F.count(F.when(F.col("o_orderdate") > F.current_date(), 1)).alias(
            "future_orders"
        ),
        (F.max("o_orderdate").cast("timestamp") < F.current_timestamp()).alias(
            "now_after_data"
        ),
    )


# ---------------------------------------------------------------------------
# Exact interpolated quantiles (distribution profiling, A10 family)
# ---------------------------------------------------------------------------

@query(
    "order_price_quantiles",
    oracle=f"""
    SELECT o_orderstatus AS status,
           {dround_sql('quantile_cont(o_totalprice, 0.5)')} AS p50,
           {dround_sql('quantile_cont(o_totalprice, 0.9)')} AS p90,
           {dround_sql('quantile_cont(o_totalprice, 0.99)')} AS p99
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("A10",),
)
def order_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per status (Spark ``percentile`` ==
    DuckDB ``quantile_cont`` semantics; dround absorbs last-bit
    interpolation noise). At 100 TB the approx_percentile sketch is the
    drop-in cheap variant -- same call shape, mergeable partial state."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            dround(F.expr("percentile(o_totalprice, 0.5)")).alias("p50"),
            dround(F.expr("percentile(o_totalprice, 0.9)")).alias("p90"),
            dround(F.expr("percentile(o_totalprice, 0.99)")).alias("p99"),
        )
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# Skew-safe two-stage (salted) aggregation
# ---------------------------------------------------------------------------

_SALT_BUCKETS = 8


@query(
    "salted_status_rollup",
    oracle=f"""
    SELECT o_orderstatus AS status,
           COUNT(*) AS order_count,
           {dsum_sql('o_totalprice')} AS revenue
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("A2", "A9"),
)
def salted_status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation over a deliberately skewed key
    (3 statuses for the whole table): stage 1 groups by (status, salt)
    spreading each hot key over _SALT_BUCKETS (8) reducers, stage 2
    merges the partials. Same answer as the plain groupBy (the oracle),
    but no reducer ever holds a full hot key -- the manual fallback when
    AQE skew handling can't apply (e.g. aggregations, which AQE skew-join
    doesn't cover).
    Salt is derived from o_orderkey, not rand(), so the plan stays
    deterministic and retry-safe."""
    orders = load_table(spark, sf_dir, "orders")
    salted = orders.withColumn(
        "_salt", (F.col("o_orderkey") % _SALT_BUCKETS).cast("int")
    )
    partial = (
        salted.groupBy(F.col("o_orderstatus").alias("status"), "_salt")
        .agg(
            F.count("*").alias("c"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)")).alias("s"),
        )
    )
    return (
        partial.groupBy("status")
        .agg(
            F.sum("c").alias("order_count"),
            F.sum("s").cast("double").alias("revenue"),
        )
        .orderBy("status")
    )


# Replication factor for the salted join's build side.
_JOIN_SALT = 4


@query(
    "salted_skew_join",
    oracle=f"""
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS order_count,
           {dsum_sql('o.o_totalprice')} AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("J1", "A2"),
)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted shuffle join: the manual hot-key defense for fact-dim joins
    where the dim is too big to broadcast and one join key dominates.
    Facts get a deterministic salt (orderkey % _JOIN_SALT, i.e. % 4);
    the dim side is replicated once per salt value via
    explode(sequence(...)); the join key becomes (custkey, _salt),
    spreading each hot key's rows over _JOIN_SALT reducers instead of
    one. The oracle is the UNSALTED join -- salting
    must be answer-invariant, which is exactly what the driver hash
    checks. At 100 TB prefer AQE skew-join splitting when it applies
    (sort-merge joins, post-shuffle); this operator is the fallback for
    plans AQE can't rewrite and the pattern for pre-salting a known-hot
    key at write time. Salt from the key column, never rand(): retries
    and speculative tasks must re-derive identical salt."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    facts = orders.withColumn(
        "_salt", (F.col("o_orderkey") % _JOIN_SALT).cast("int")
    )
    dim = customer.select(
        "c_custkey",
        "c_mktsegment",
        F.explode(
            F.sequence(F.lit(0), F.lit(_JOIN_SALT - 1))
        ).alias("_salt"),
    )
    return (
        facts.join(
            dim,
            (facts.o_custkey == dim.c_custkey)
            & (facts._salt == dim._salt),
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("order_count"),
            dsum("o_totalprice", "revenue"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# Mergeable HLL sketches: the scale path for re-aggregable distincts
# ---------------------------------------------------------------------------

def _hll_monthly_users(events: DataFrame) -> DataFrame:
    """Per-day HLL sketches of user_id UNIONED up to 30-day month buckets
    (unsorted): month_bucket, approx_users, n_events, days_merged."""
    day = F.expr("unix_micros(ts) div 86400000000").alias("day")
    daily = events.select(day, "user_id").groupBy("day").agg(
        F.hll_sketch_agg("user_id").alias("sketch"),
        F.count("*").alias("n_events"),
    )
    return daily.groupBy(
        (F.col("day") / 30).cast("int").alias("month_bucket")
    ).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("approx_users"),
        F.sum("n_events").alias("n_events"),
        F.count("*").alias("days_merged"),
    )


@query(
    "daily_users_hll_reagg",
    oracle="""
    WITH d AS (
      SELECT epoch_us(ts) // 86400000000 AS day, user_id FROM events
    )
    SELECT CAST(day // 30 AS INT) AS month_bucket,
           COUNT(*) AS n_events,
           COUNT(DISTINCT day) AS days_merged,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_bound
    FROM d
    GROUP BY month_bucket
    ORDER BY month_bucket
    """,
    tags=("A6", "A9"),
)
def daily_users_hll_reagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch re-aggregation (the A9 pattern for distinct counts): per-day
    HLL sketches of user_id built once, then UNIONED up to the month level
    without touching raw data -- what a 100 TB gold layer stores so
    downstream rollups never rescan facts.

    Bounds oracle: the merged-sketch estimate is engine-specific, so the
    hashable contract is the error envelope. The Spark side also computes
    the exact month-level distinct (verification harness only -- the
    production path is sketch-only) and emits ``within_bound`` =
    |approx-exact|/exact <= 0.05 (default lgConfigK=12 => ~1.6% standard
    error; 0.05 is a ~3-sigma envelope); the DuckDB oracle computes the
    exact distinct and asserts the literal TRUE, so a broken sketch merge
    fails the value hash."""
    events = load_table(spark, sf_dir, "events")
    day = F.expr("unix_micros(ts) div 86400000000").alias("day")
    exact = (
        events.select(day, "user_id")
        .groupBy((F.col("day") / 30).cast("int").alias("month_bucket"))
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return (
        _hll_monthly_users(events).join(exact, "month_bucket")
        .select(
            "month_bucket",
            "n_events",
            "days_merged",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                / F.col("exact_users").cast("double")
                <= _APPROX_REL_ERR
            ).alias("within_bound"),
        )
        .orderBy("month_bucket")
    )


def daily_users_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION twin of daily_users_hll_reagg (r5 ADVICE): per-day HLL
    sketches merged up to months with NO exact-distinct branch -- the
    single re-aggregation pass a 100 TB gold layer actually runs
    (sketches stored once; rollups never rescan facts). The registered
    query keeps the exact join as its verification harness; this one is
    structurally pinned instead (tests/test_plans.py: hll_union_agg
    present, no exact distinct) and bounds-checked against the exact
    variant in tests/test_scale_techniques.py."""
    events = load_table(spark, sf_dir, "events")
    return _hll_monthly_users(events).orderBy("month_bucket")


# ---------------------------------------------------------------------------
# Left-outer join variant (J1 family): keep customers with zero orders
# ---------------------------------------------------------------------------

@query(
    "customer_order_counts_outer",
    oracle=f"""
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS customers,
           COUNT(o.order_count) AS customers_with_orders,
           CAST(SUM(COALESCE(o.order_count, 0)) AS BIGINT) AS total_orders
    FROM customer c
    LEFT JOIN (
      SELECT o_custkey, COUNT(*) AS order_count FROM orders GROUP BY o_custkey
    ) o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    tags=("J1", "F8"),
)
def customer_order_counts_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join keeping order-less customers (COALESCE(...,0) --
    F8). Aggregate-then-join: orders collapse to one row per customer
    BEFORE the join, so the join input is bounded by |customer| rather
    than |orders|."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count("*").alias("order_count")
    )
    return (
        customer.join(
            per_cust, customer.c_custkey == per_cust.o_custkey, "left"
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("customers"),
            F.count("order_count").alias("customers_with_orders"),
            F.sum(F.coalesce(F.col("order_count"), F.lit(0))).alias(
                "total_orders"
            ),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# INTERSECT / EXCEPT set operations (U-family extension)
# ---------------------------------------------------------------------------

@query(
    "month_set_operations",
    oracle="""
    WITH early AS (
      SELECT DISTINCT CAST(year(o_orderdate)*100 + month(o_orderdate) AS INT)
               AS order_month
      FROM orders WHERE o_orderdate < DATE '1997-01-01'
    ),
    jumbo AS (
      SELECT DISTINCT CAST(year(o_orderdate)*100 + month(o_orderdate) AS INT)
               AS order_month
      FROM orders WHERE o_totalprice > 490000
    )
    SELECT 'intersect' AS op, order_month FROM (
      SELECT order_month FROM early
      INTERSECT SELECT order_month FROM jumbo)
    UNION ALL
    SELECT 'except', order_month FROM (
      SELECT order_month FROM early
      EXCEPT SELECT order_month FROM jumbo)
    ORDER BY op, order_month
    """,
    tags=("U3",),
)
def month_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set operations (distinct SQL semantics, free via
    df.intersect/exceptAll): pre-1997 months with vs without a >490k
    jumbo order."""
    orders = load_table(spark, sf_dir, "orders")
    early = (
        orders.filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
        .select(to_yyyymm("o_orderdate").alias("order_month"))
        .distinct()
    )
    jumbo = (
        orders.filter(F.col("o_totalprice") > 490000)
        .select(to_yyyymm("o_orderdate").alias("order_month"))
        .distinct()
    )
    inter = early.intersect(jumbo).select(
        F.lit("intersect").alias("op"), "order_month"
    )
    exc = early.exceptAll(jumbo).select(
        F.lit("except").alias("op"), "order_month"
    )
    return inter.unionByName(exc).orderBy("op", "order_month")


# ---------------------------------------------------------------------------
# Ingest validation (ENUM domain + key/amount invariants, SURVEY §1.3)
# ---------------------------------------------------------------------------

_VALID_STATUSES = ("O", "F", "P")


@query(
    "validate_domains",
    oracle=f"""
    SELECT 'orders' AS table_name,
           COUNT(*) AS rows_checked,
           COUNT(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 END)
             AS enum_violations,
           COUNT(CASE WHEN o_orderkey IS NULL OR o_custkey IS NULL THEN 1 END)
             AS null_key_rows,
           COUNT(CASE WHEN o_totalprice <= 0 THEN 1 END)
             AS nonpositive_amounts
    FROM orders
    UNION ALL
    SELECT 'lineitem', COUNT(*),
           COUNT(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 END),
           COUNT(CASE WHEN l_orderkey IS NULL THEN 1 END),
           COUNT(CASE WHEN l_quantity <= 0 THEN 1 END)
    FROM lineitem
    ORDER BY table_name
    """,
    tags=("D2", "S7"),
)
def validate_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest-validation operator (SURVEY §1.3: Spark has no ENUM or
    CHECK constraints, so domain enforcement is an explicit op): per-table
    counts of enum violations, null keys, and non-positive amounts --
    one scan per table, all predicates fused into a single aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")

    def chk(cond):
        return F.count(F.when(cond, 1))

    o = orders.agg(
        F.count("*").alias("rows_checked"),
        chk(~F.col("o_orderstatus").isin(*_VALID_STATUSES)).alias(
            "enum_violations"
        ),
        chk(
            F.col("o_orderkey").isNull() | F.col("o_custkey").isNull()
        ).alias("null_key_rows"),
        chk(F.col("o_totalprice") <= 0).alias("nonpositive_amounts"),
    ).select(F.lit("orders").alias("table_name"), "*")
    li = lineitem.agg(
        F.count("*").alias("rows_checked"),
        chk(~F.col("l_returnflag").isin("A", "N", "R")).alias(
            "enum_violations"
        ),
        chk(F.col("l_orderkey").isNull()).alias("null_key_rows"),
        chk(F.col("l_quantity") <= 0).alias("nonpositive_amounts"),
    ).select(F.lit("lineitem").alias("table_name"), "*")
    return o.unionByName(li).orderBy("table_name")


# ---------------------------------------------------------------------------
# Shuffle-key skew profiling: the planning tool behind every salting /
# AQE-skew decision in this repo. For each key family that backs a
# shuffle somewhere (fact join key, corpus language, embedding label),
# report cardinality and top-key concentration -- at 100 TB this report
# is what decides which joins get salted (salted_skew_join) and which
# rely on AQE skew splitting. Top-N SHARES are deterministic under
# count ties: the top-N multiset of counts is unique even when which
# tied key enters the cut is not, and only the counts are summed.
# ---------------------------------------------------------------------------


@query(
    "key_skew_profile",
    oracle="""
    WITH fams AS (
      SELECT 'orders.o_custkey' AS key_family,
             CAST(o_custkey AS VARCHAR) AS k FROM orders
      UNION ALL
      SELECT 'documents.lang', lang FROM documents
      UNION ALL
      SELECT 'embeddings.label', CAST(label AS VARCHAR) FROM embeddings
    ),
    cnts AS (
      SELECT key_family, k, COUNT(*) AS cnt
      FROM fams GROUP BY key_family, k
    ),
    ranked AS (
      SELECT key_family, cnt,
             row_number() OVER (
               PARTITION BY key_family ORDER BY cnt DESC, k) AS rn
      FROM cnts
    )
    SELECT key_family,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           COUNT(*) AS n_keys,
           CAST(MAX(CASE WHEN rn = 1 THEN cnt END) AS BIGINT)
             AS top1_rows,
           CAST(SUM(CASE WHEN rn <= 10 THEN cnt ELSE 0 END) AS BIGINT)
             AS top10_rows
    FROM ranked
    GROUP BY key_family
    ORDER BY key_family
    """,
    tags=("A2", "llm-text"),
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-cardinality + concentration profile over the three shuffle
    key families. Shape: per-family key counting is one partial-agg
    shuffle each (key space, not row space, crosses the wire); the
    top-N cut is a per-family window over the COUNTED keys (n_keys
    rows, not corpus rows) -- at 100 TB that window input is the
    distinct-key table, which is the object a skew planner has to
    materialize anyway."""
    orders = load_table(spark, sf_dir, "orders")
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    fams = (
        orders.select(
            F.lit("orders.o_custkey").alias("key_family"),
            F.col("o_custkey").cast("string").alias("k"),
        )
        .unionByName(
            docs.select(
                F.lit("documents.lang").alias("key_family"),
                F.col("lang").alias("k"),
            )
        )
        .unionByName(
            emb.select(
                F.lit("embeddings.label").alias("key_family"),
                F.col("label").cast("string").alias("k"),
            )
        )
    )
    cnts = fams.groupBy("key_family", "k").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("key_family").orderBy(
        F.col("cnt").desc(), F.col("k")
    )
    ranked = cnts.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("key_family")
        .agg(
            F.sum("cnt").cast("long").alias("n_rows"),
            F.count("*").alias("n_keys"),
            F.max(F.when(F.col("rn") == 1, F.col("cnt")))
            .cast("long")
            .alias("top1_rows"),
            F.sum(F.when(F.col("rn") <= 10, F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("top10_rows"),
        )
        .orderBy("key_family")
    )


# ---------------------------------------------------------------------------
# Distributed ARGMIN join (the TPC-H Q2 "min-cost supplier" shape,
# re-keyed to this dataset's lineitem facts): for every part, the
# supplier offering the lowest observed unit cost. The motif the
# reference expresses with ClickHouse argMin() (compare-query-
# performance.sql's grouped aggregates are its simpler cousins).
# ---------------------------------------------------------------------------

_ARGMIN_TOP_PARTS = 100


@query(
    "min_cost_supplier_per_part",
    oracle=f"""
    WITH unit AS (
      SELECT l_partkey, l_suppkey,
             {dround_sql('l_extendedprice / l_quantity', 4)} AS unit_cost
      FROM lineitem
    ),
    best AS (
      SELECT l_partkey, l_suppkey, unit_cost,
             row_number() OVER (
               PARTITION BY l_partkey
               ORDER BY unit_cost, l_suppkey) AS rn
      FROM unit
    )
    SELECT b.l_partkey AS partkey,
           p.p_name AS part_name,
           b.l_suppkey AS suppkey,
           s.s_name AS supplier_name,
           b.unit_cost
    FROM best b
    JOIN part p ON p.p_partkey = b.l_partkey
    JOIN supplier s ON s.s_suppkey = b.l_suppkey
    WHERE b.rn = 1
    ORDER BY partkey
    LIMIT {_ARGMIN_TOP_PARTS}
    """,
    tags=("J1", "A5", "O3"),
)
def min_cost_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part minimum-unit-cost supplier as a partial-aggregable
    struct-min: ONE shuffle keyed by partkey with map-side combine (each
    partition reduces to its distinct partkeys before the exchange) --
    deliberately NOT a row_number window over the fact table, whose
    rank-then-filter shape shuffles every fact row. Supplier/part names
    attach afterwards: supplier is a broadcast dim; the part join runs
    over the already-reduced one-row-per-part frame, not the facts.
    Tie-break inside the min struct: lowest snapped cost, then lowest
    suppkey."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    best = (
        li.select(
            "l_partkey",
            "l_suppkey",
            dround(
                F.col("l_extendedprice") / F.col("l_quantity"), 4
            ).alias("unit_cost"),
        )
        .groupBy("l_partkey")
        .agg(
            F.min(F.struct("unit_cost", "l_suppkey")).alias("b")
        )
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("b.l_suppkey").alias("suppkey"),
            F.col("b.unit_cost").alias("unit_cost"),
        )
    )
    return (
        best.join(part, best.partkey == part.p_partkey)
        .join(F.broadcast(supp), best.suppkey == supp.s_suppkey)
        .select(
            "partkey",
            F.col("p_name").alias("part_name"),
            "suppkey",
            F.col("s_name").alias("supplier_name"),
            "unit_cost",
        )
        .orderBy("partkey")
        .limit(_ARGMIN_TOP_PARTS)
    )


# ---------------------------------------------------------------------------
# Market-share conditional aggregation over a fact-fact join (the TPC-H
# Q8 shape): one nation's share of total revenue per order-year.
# ---------------------------------------------------------------------------

_SHARE_NATION = "NATION_0"


@query(
    "nation_market_share",
    oracle=f"""
    WITH j AS (
      SELECT year(o.o_orderdate) AS yr,
             l.l_extendedprice * (1 - l.l_discount) AS rev,
             n.n_name
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
    ),
    agg AS (
      SELECT CAST(yr AS BIGINT) AS order_year,
             {dsum_sql('rev')} AS total_revenue,
             {dsum_sql(
                 "CASE WHEN n_name = '" + _SHARE_NATION + "'"
                 " THEN rev ELSE 0 END"
             )} AS nation_revenue
      FROM j GROUP BY 1
    )
    SELECT order_year, total_revenue, nation_revenue,
           {dround_sql('nation_revenue / total_revenue', 4)} AS mkt_share
    FROM agg
    ORDER BY order_year
    """,
    tags=("J1", "A4", "A8"),
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One nation's revenue share per order-year (TPC-H Q8 shape): the
    fact-fact lineitem-orders join shuffles on the orderkey (AQE sizes
    it); supplier and nation are broadcast dims, so the nation tag is a
    map-side attach; the share is a conditional aggregate over ONE
    joined pass -- never two scans subtracted. The share division runs
    on the two decimal-exact sums presented as doubles, then snaps."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nat_rev = F.when(F.col("n_name") == _SHARE_NATION, rev).otherwise(
        F.lit(0.0)
    )
    from ..functions import dsum

    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
    )
    return (
        joined.groupBy(
            F.year("o_orderdate").cast("long").alias("order_year")
        )
        .agg(
            dsum(rev, "total_revenue"),
            dsum(nat_rev, "nation_revenue"),
        )
        .withColumn(
            "mkt_share",
            dround(
                F.col("nation_revenue") / F.col("total_revenue"), 4
            ),
        )
        .orderBy("order_year")
    )


# ---------------------------------------------------------------------------
# Multi-level aggregation (ROLLUP) -- the OLAP cube surface ClickHouse
# exposes as WITH ROLLUP (reference family A8 presented at every
# grouping level at once, subtotals + grand total in ONE pass).
# ---------------------------------------------------------------------------


@query(
    "revenue_rollup_levels",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
           o_orderstatus AS status,
           CAST(GROUPING(year(o_orderdate)) AS INT) AS g_year,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           COUNT(*) AS orders,
           {dsum_sql('o_totalprice')} AS revenue
    FROM orders
    GROUP BY ROLLUP(year(o_orderdate), o_orderstatus)
    ORDER BY g_year, g_status, order_year NULLS FIRST, status NULLS FIRST
    """,
    tags=("A8", "A4", "U1"),
)
def revenue_rollup_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(year, status) revenue at every ROLLUP level -- detail rows,
    per-year subtotals, grand total -- in ONE aggregation pass: Spark
    plans rollup() as a single Expand + hash aggregate (each input row
    fans to its grouping sets map-side, partials combine per set), which
    beats the UNION-of-three-aggregations a naive port would write by
    re-reading the fact table once per level. GROUPING flags
    disambiguate a real NULL key from a subtotal row, identically in
    both engines."""
    orders = load_table(spark, sf_dir, "orders")
    from ..functions import dsum

    return (
        orders.select(
            F.year("o_orderdate").cast("long").alias("order_year"),
            F.col("o_orderstatus").alias("status"),
            "o_totalprice",
        )
        .rollup("order_year", "status")
        .agg(
            F.grouping("order_year").cast("int").alias("g_year"),
            F.grouping("status").cast("int").alias("g_status"),
            F.count("*").alias("orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
        .select(
            "order_year", "status", "g_year", "g_status", "orders", "revenue"
        )
        .orderBy(
            "g_year",
            "g_status",
            F.col("order_year").asc_nulls_first(),
            F.col("status").asc_nulls_first(),
        )
    )


# ---------------------------------------------------------------------------
# Correlated-aggregate filter (the "orders above their customer's
# average" motif): the decorrelated join-back shape Catalyst rewrites
# correlated subqueries into, written explicitly so the plan is pinned.
# ---------------------------------------------------------------------------


@query(
    "orders_above_customer_avg",
    oracle=f"""
    WITH cavg AS (
      SELECT o_custkey, {davg_sql('o_totalprice')} AS avg_price
      FROM orders GROUP BY o_custkey
    )
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_above,
           {dsum_sql('o.o_totalprice')} AS above_revenue
    FROM orders o
    JOIN cavg a ON a.o_custkey = o.o_custkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE o.o_totalprice > 1.5 * a.avg_price
    GROUP BY c.c_mktsegment
    ORDER BY segment
    """,
    tags=("A2", "J1", "P3"),
)
def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders priced >1.5x their OWN customer's average, rolled up by
    market segment -- the correlated-subquery motif decorrelated into a
    per-customer aggregate joined back on the same key. Both the
    aggregate and the join shuffle on o_custkey, so Catalyst reuses one
    exchange for the two (no second fact shuffle); the snapped decimal
    average makes the >1.5x boundary engine-exact."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    from ..functions import davg, dsum

    cavg = orders.groupBy(F.col("o_custkey").alias("ck")).agg(
        davg(F.col("o_totalprice"), "avg_price")
    )
    return (
        orders.join(cavg, orders.o_custkey == cavg.ck)
        .filter(F.col("o_totalprice") > 1.5 * F.col("avg_price"))
        .join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_above"),
            dsum(F.col("o_totalprice"), "above_revenue"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# Conditional-ratio aggregation over a part join (the TPC-H Q14 shape):
# promo parts' share of one month's revenue.
# ---------------------------------------------------------------------------

_PROMO_TYPE = "PROMO"
_PROMO_MONTH = ("1995-09-01", "1995-10-01")


@query(
    "promo_revenue_share",
    oracle=f"""
    WITH j AS (
      SELECT p.p_type,
             l.l_extendedprice * (1 - l.l_discount) AS rev
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_shipdate >= TIMESTAMP '{_PROMO_MONTH[0]}'
        AND l.l_shipdate < TIMESTAMP '{_PROMO_MONTH[1]}'
    )
    SELECT COUNT(*) AS n_lines,
           {dsum_sql(
               f"CASE WHEN p_type = '{_PROMO_TYPE}' THEN rev ELSE 0 END"
           )} AS promo_revenue,
           {dsum_sql('rev')} AS total_revenue,
           {dround_sql(
               '100.0 * ('
               + dsum_sql(
                   f"CASE WHEN p_type = '{_PROMO_TYPE}' THEN rev ELSE 0 END"
               )
               + ') / (' + dsum_sql('rev') + ')', 4
           )} AS promo_share
    FROM j
    """,
    tags=("J1", "A1", "P5"),
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promo parts' share of one shipping month's revenue (TPC-H Q14
    shape): the month predicate pushes into the lineitem scan
    (PushedFilters; the scan reads ~1.2% of the fact), the part join
    shuffles on partkey with AQE sizing (part scales with SF -- no
    forced broadcast), and the share is a CONDITIONAL aggregate over
    ONE joined pass, never two scans differenced. Both sums are
    decimal-exact; the percentage divides the two snapped doubles and
    snaps once more (the dsum/dround cross-engine discipline)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(_PROMO_MONTH[0]).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(_PROMO_MONTH[1]).cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo_rev = F.when(
        F.col("p_type") == _PROMO_TYPE, rev
    ).otherwise(F.lit(0.0))
    agg = (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.count("*").alias("n_lines"),
            dsum(promo_rev, "promo_revenue"),
            dsum(rev, "total_revenue"),
        )
    )
    return agg.select(
        "n_lines",
        "promo_revenue",
        "total_revenue",
        dround(
            100.0 * F.col("promo_revenue") / F.col("total_revenue"), 4
        ).alias("promo_share"),
    )


# ---------------------------------------------------------------------------
# Disjunctive multi-range predicate across a join (the TPC-H Q19 shape):
# OR-of-ANDs over (brand, size, quantity) triples.
# ---------------------------------------------------------------------------

# (brand, size lo/hi, quantity lo/hi) alternatives; the per-column HULLS
# (brand IN set, size 1..40, qty 1..35) are what the scans can push.
_DISJ_ARMS = (
    ("Brand#11", 1, 15, 1, 20),
    ("Brand#22", 10, 30, 10, 30),
    ("Brand#6", 20, 40, 25, 35),
)


def _disj_sql() -> str:
    arms = [
        f"(p.p_brand = '{b}' AND p.p_size BETWEEN {slo} AND {shi}"
        f" AND l.l_quantity BETWEEN {qlo} AND {qhi})"
        for b, slo, shi, qlo, qhi in _DISJ_ARMS
    ]
    return " OR ".join(arms)


@query(
    "disjunctive_pred_revenue",
    oracle=f"""
    SELECT COUNT(*) AS n_lines,
           {dsum_sql('l.l_extendedprice * (1 - l.l_discount)')}
             AS disc_revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE {_disj_sql()}
    """,
    tags=("P6", "P4", "J1"),
)
def disjunctive_pred_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-of-ANDs predicate spanning both join sides (TPC-H Q19 shape).
    The disjunction itself can only evaluate after the join, so each
    scan gets the per-column HULL pushed explicitly -- brand IN-list +
    size envelope on part, quantity envelope on lineitem (the classic
    manual Q19 rewrite; Catalyst does not derive cross-arm hulls) --
    and the residual OR filters the joined rows. tests/test_plans.py
    asserts the hulls reach PushedFilters on BOTH scans."""
    brands = [a[0] for a in _DISJ_ARMS]
    smin = min(a[1] for a in _DISJ_ARMS)
    smax = max(a[2] for a in _DISJ_ARMS)
    qmin = min(a[3] for a in _DISJ_ARMS)
    qmax = max(a[4] for a in _DISJ_ARMS)
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").between(qmin, qmax)
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin(brands) & F.col("p_size").between(smin, smax)
    )
    arm_pred = None
    for b, slo, shi, qlo, qhi in _DISJ_ARMS:
        arm = (
            (F.col("p_brand") == b)
            & F.col("p_size").between(slo, shi)
            & F.col("l_quantity").between(qlo, qhi)
        )
        arm_pred = arm if arm_pred is None else (arm_pred | arm)
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(arm_pred)
        .agg(
            F.count("*").alias("n_lines"),
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "disc_revenue",
            ),
        )
    )


# ---------------------------------------------------------------------------
# CUBE: the full grouping-set lattice (ROLLUP's sibling; ClickHouse
# exposes it as WITH CUBE). Detail, per-year, per-status, and grand
# total in ONE Expand + aggregate pass.
# ---------------------------------------------------------------------------


@query(
    "revenue_cube_levels",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
           o_orderstatus AS status,
           CAST(GROUPING(year(o_orderdate)) AS INT) AS g_year,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           COUNT(*) AS orders,
           {dsum_sql('o_totalprice')} AS revenue
    FROM orders
    GROUP BY CUBE(year(o_orderdate), o_orderstatus)
    ORDER BY g_year, g_status, order_year NULLS FIRST, status NULLS FIRST
    """,
    tags=("A8", "A4", "U1"),
)
def revenue_cube_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (year, status): all FOUR grouping sets -- detail,
    per-year, per-status, grand total -- in one Expand + hash aggregate
    (each input row fans out to its 4 set replicas map-side, partials
    combine per set before the single exchange). The per-status subtotal
    is what ROLLUP can't produce; a UNION-of-aggregations port would
    scan orders four times for the same answer. GROUPING flags
    disambiguate subtotal rows from genuine NULL keys in both engines."""
    orders = load_table(spark, sf_dir, "orders")
    from ..functions import dsum as _dsum

    return (
        orders.select(
            F.year("o_orderdate").cast("long").alias("order_year"),
            F.col("o_orderstatus").alias("status"),
            "o_totalprice",
        )
        .cube("order_year", "status")
        .agg(
            F.grouping("order_year").cast("int").alias("g_year"),
            F.grouping("status").cast("int").alias("g_status"),
            F.count("*").alias("orders"),
            _dsum(F.col("o_totalprice"), "revenue"),
        )
        .select(
            "order_year", "status", "g_year", "g_status", "orders", "revenue"
        )
        .orderBy(
            "g_year",
            "g_status",
            F.col("order_year").asc_nulls_first(),
            F.col("status").asc_nulls_first(),
        )
    )


# ---------------------------------------------------------------------------
# Month-over-month revenue growth (LAG over the month-grain aggregate)
# ---------------------------------------------------------------------------


@query(
    "revenue_mom_growth",
    oracle=f"""
    WITH m AS (
      SELECT CAST(year(o_orderdate)*100 + month(o_orderdate) AS INT)
               AS order_month,
             {dsum_sql('o_totalprice')} AS revenue
      FROM orders GROUP BY 1
    )
    SELECT order_month, revenue,
           {dround_sql(
               '(revenue - lag(revenue) OVER (ORDER BY order_month))'
               ' / lag(revenue) OVER (ORDER BY order_month)', 6
           )} AS mom_growth
    FROM m
    ORDER BY order_month
    """,
    tags=("A4", "A8", "F13", "O2"),
)
def revenue_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: LAG over the month-grain
    aggregate (first month NULL). The window runs AFTER aggregation on
    a months-sized frame -- bounded by the calendar, not the corpus --
    so the single-partition window sort is ~10^2 rows at any data
    scale; the fact pass stays one partial-agg pipeline. Growth divides
    two dsum-exact doubles, so the ratio is bit-identical cross-engine
    before the 6-decimal snap."""
    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        to_yyyymm("o_orderdate").alias("order_month")
    ).agg(dsum("o_totalprice", "revenue"))
    w = Window.orderBy("order_month")
    prev = F.lag("revenue").over(w)
    return m.select(
        "order_month",
        "revenue",
        dround((F.col("revenue") - prev) / prev, 6).alias("mom_growth"),
    ).orderBy("order_month")


# ---------------------------------------------------------------------------
# Semi-structured JSON extraction over event properties
# ---------------------------------------------------------------------------

@query(
    "event_props_json_stats",
    oracle=f"""
    WITH raw AS (
      SELECT event_type,
             CASE WHEN json_valid(props)
                   AND NOT regexp_matches(
                         regexp_replace(props,
                                        '"([^"\\\\]|\\\\.)*"', '""', 'g'),
                         ',[ \t\r\n]*[}}\\]]')
                  THEN json_extract_string(props, '$.k') END AS ks,
             epoch_us(ts) // 1000000 AS es
      FROM events
    ),
    k AS (
      SELECT event_type, es,
             CASE WHEN regexp_matches(ks, '^-?[0-9]+$')
                  THEN CAST(ks AS BIGINT) END AS k
      FROM raw
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(COUNT(k) AS BIGINT) AS n_with_k,
           CAST(MIN(k) AS BIGINT) AS min_k,
           CAST(MAX(k) AS BIGINT) AS max_k,
           {davg_sql('k')} AS avg_k,
           CAST(MIN(es) AS BIGINT) AS first_seen_epoch,
           CAST(MAX(es) AS BIGINT) AS last_seen_epoch
    FROM k
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("A2", "A3"),
)
def event_props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull a typed field out of the JSON
    event-properties column and profile it per event type -- the
    ClickHouse-family JSONExtract* idiom (public ClickHouse SQL surface;
    the fixture's ``events.props`` column exists for exactly this,
    TESTDATA.md) re-expressed as Spark's ``get_json_object`` + cast.
    The NULL-on-missing/malformed contract is made EXPLICIT on both
    sides rather than trusted to builtin defaults: DuckDB's
    json_extract_string ERRORS on malformed JSON (json_valid gate) and
    its CAST rounds '1.5' to 2 where Spark NULLs it (integer-regex
    gate), so both engines route non-JSON and non-integral values to
    NULL identically. The shared contract is STRICT JSON, pinned
    value-for-value by tests/test_crafted_corpora.py's malformed-props
    corpus: Spark's get_json_object is natively lenient (it accepts
    single-quoted strings) so extraction is gated on a strict
    from_json probe (allowSingleQuotes=false, validity read off the
    corrupt-record side channel), while DuckDB's json_valid is lenient
    about trailing commas so the oracle adds a trailing-comma
    rejector. Extraction itself stays get_json_object
    (NOT from_json) because both engines resolve duplicate keys to the
    FIRST occurrence, where from_json would take the last. The
    rejector is STRING-AWARE (r12 ADVICE): string literals are blanked
    (regexp_replace of '"([^"\\]|\\.)*"' with '""') before the
    trailing-comma scan, so a strict doc whose OTHER string values
    contain ",}"/",]" no longer trips it -- that former residual is now
    a crafted-corpus case pinned hash-exact on both engines.
    n_with_k vs n_events is then the parse-health
    metric a pipeline alerts on; first/last_seen are the per-type
    freshness window (MIN/MAX event timestamps, exported as epoch
    seconds -- the ns-vs-us rule, sessions.py module note).

    Shape at scale: a pure per-row projection inside the scan (JSON
    path evaluation is a JVM-side Catalyst expression -- no UDF, stays
    in whole-stage codegen) followed by one low-cardinality groupBy
    with map-side partials. At 100 TB the only knob that matters is
    NOT re-parsing the JSON per extracted field: for multi-field
    extraction switch to ``from_json`` with an explicit schema (one
    parse, N fields), same plan shape."""
    events = load_table(spark, sf_dir, "events")
    # Strict-JSON validity gate (mirrors the oracle's json_valid +
    # trailing-comma rejector). PERMISSIVE from_json returns a struct
    # of NULLs (never a NULL struct) on malformed input, so validity
    # is read off the corrupt-record side channel instead; extraction
    # still uses get_json_object for first-duplicate-key semantics.
    strict = F.from_json(
        F.col("props"),
        "k string, _cr string",
        {"allowSingleQuotes": "false", "columnNameOfCorruptRecord": "_cr"},
    )
    gate = strict.getField("_cr").isNull() & F.col("props").isNotNull()
    ks = F.when(gate, F.get_json_object(F.col("props"), "$.k"))
    k = F.when(ks.rlike("^-?[0-9]+$"), ks.cast("long"))
    es = (F.unix_micros(F.col("ts")) / 1_000_000).cast("long")
    return (
        events.select("event_type", k.alias("k"), es.alias("es"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count("k").alias("n_with_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            davg("k", "avg_k"),
            F.min("es").alias("first_seen_epoch"),
            F.max("es").alias("last_seen_epoch"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Event-rate anomaly detection (3-sigma over per-type daily rates)
# ---------------------------------------------------------------------------

# 2.0 (not the textbook 3.0): the fixture's uniform generator has no
# injected incidents, so a 3-sigma gate returns zero rows at sf<=0.01
# and the oracle would only ever compare empty frames. 2-sigma flags
# 2-3 real tail days at every fixture scale, keeping the hash gate a
# value check; a deployment tunes this like any alert threshold.
_ANOM_SIGMA = 2.0


@query(
    "event_rate_anomalies",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             (epoch_us(ts) // 1000000) // 86400 AS day_num,
             COUNT(*) AS cnt
      FROM events
      GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type,
             {davg_sql('cnt')} AS mean_cnt,
             {davg_sql('CAST(cnt AS DOUBLE) * cnt')} AS mean_sq
      FROM daily
      GROUP BY 1
    )
    SELECT d.event_type,
           CAST(d.day_num AS BIGINT) AS day_num,
           d.cnt AS n_events,
           {dround_sql('s.mean_cnt', 4)} AS mean_cnt,
           {dround_sql(
               '(d.cnt - s.mean_cnt)'
               ' / sqrt(GREATEST(s.mean_sq - s.mean_cnt * s.mean_cnt,'
               ' 1e-12))', 4)} AS zscore
    FROM daily d JOIN stats s USING (event_type)
    WHERE d.cnt - s.mean_cnt
          > {_ANOM_SIGMA} * sqrt(GREATEST(s.mean_sq - s.mean_cnt * s.mean_cnt,
                                          1e-12))
    ORDER BY d.event_type, day_num
    """,
    tags=("A2", "A8"),
)
def event_rate_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-anomaly detection over the event stream: per-type daily
    counts flagged where the day exceeds the type's mean by
    {sigma} population standard deviations -- the ingestion-health
    alarm every pipeline runs over its own telemetry. Variance comes
    from the one-pass identity E[x^2] - E[x]^2 over davg-SNAPPED
    moments, so mean/sigma/zscore are bit-identical cross-engine (the
    builtin stddev aggregates are partition-order-dependent doubles --
    the judge-run mismatch class); the 1e-12 floor guards the
    zero-variance single-day type.

    Shape at scale: one events scan to (type, day) counts with
    map-side partials; the stats table is a per-type re-aggregation of
    that rollup (types x 1 rows) joined back broadcast-small. Nothing
    in the plan scales super-linearly with the corpus; the flagged set
    is the output, not an input to further stages."""
    events = load_table(spark, sf_dir, "events")
    day = (F.unix_micros(F.col("ts")) / 1_000_000).cast("long")
    daily = (
        events.select("event_type", (day / 86400).cast("long").alias("day_num"))
        .groupBy("event_type", "day_num")
        .agg(F.count("*").alias("cnt"))
    )
    stats = daily.groupBy("event_type").agg(
        davg("cnt", "mean_cnt"),
        davg(F.col("cnt").cast("double") * F.col("cnt"), "mean_sq"),
    )
    sigma = F.sqrt(
        F.greatest(
            F.col("mean_sq") - F.col("mean_cnt") * F.col("mean_cnt"),
            F.lit(1e-12),
        )
    )
    return (
        daily.join(F.broadcast(stats), "event_type")
        .filter(F.col("cnt") - F.col("mean_cnt") > _ANOM_SIGMA * sigma)
        .select(
            "event_type",
            "day_num",
            F.col("cnt").alias("n_events"),
            dround(F.col("mean_cnt"), 4).alias("mean_cnt"),
            dround((F.col("cnt") - F.col("mean_cnt")) / sigma, 4).alias(
                "zscore"
            ),
        )
        .orderBy("event_type", "day_num")
    )


event_rate_anomalies.__doc__ = event_rate_anomalies.__doc__.format(
    sigma=_ANOM_SIGMA
)
