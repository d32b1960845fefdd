"""Seeded RANDOM star-schema sweep through the full oracle parity check
(r17 VERDICT item 5: extend the randomized-corpus suite to the
relational families).

test_randomized_corpora.py covers documents/embeddings/events; the
orders/lineitem family's tie-breaks and boundary predicates were until
now pinned only by the FIXED TPC-H-ish fixtures -- which carry zero
duplicate totalprices, zero boundary-exact dates, zero orphan foreign
keys and zero NULLs. This suite generates a star schema from seeds and
deliberately salts the cases where engines legitimately diverge unless
the op pinned them down:

- top-k / rank ties: o_totalprice drawn from a small pool so
  duplicate-value cliques cross LIMIT and dense_rank boundaries (and a
  same-customer clique so per-customer top-n windows tie); same-decile
  FLOOR(price/10000) collisions for the dense-rank op;
- boundary predicates: order/ship timestamps EXACTLY ON every date
  cutoff the ops' oracles name (1995-09-01 .. 2001-06-01), one
  microsecond before midnight, intra-day times (the real fixtures are
  midnight-only), exact 30/90-day ship lags on the lag-bucket edges,
  totalprices exactly on the 50k/200k/400k tier edges, and group
  quantity sums landing exactly on the HAVING > 300/100 thresholds;
- degenerate groups: 1-row groups, 0-lineitem orders, customers
  without orders, a supplier with no lineitems;
- referential orphans: orders whose custkey matches no customer,
  lineitems whose orderkey matches no order, a nation pointing at a
  missing region (outer-join and anti-join paths must agree);
- NULLs the fixtures never carry -- salted ONLY in columns that are
  group keys, filter inputs, or aggregate inputs (c_acctbal,
  c_mktsegment, o_orderstatus, o_orderpriority, p_type, l_tax), never
  in window/top-k ORDER BY keys: Spark defaults ASC NULLS FIRST while
  DuckDB defaults NULLS LAST, so a NULL ordering key under a LIMIT is
  a quarantine-lane contract upstream of these ops (the same rule the
  events suite applies to NULL ts).

Every op runs through the SAME assert_match used by the driver mirror,
over multiple seeds.
"""

from __future__ import annotations

import datetime
import os
import random

import duckdb
import pytest

from apache_iceberg_with_clickhouse_olake_spark.operators import registry
from tests.oracle_utils import assert_match

# This seeded sweep (hundreds of Spark+DuckDB cases) would be the
# largest block of the default suite's wall, so it is opt-in:
#
#     SPARK_GRAFT_FULL_TESTS=1 python -m pytest tests/test_randomized_facts.py
#
# The author of a change that touches an operator or the lake read path
# runs it before the change lands and records passed/failed/wall in
# CHANGES.md. The crafted-corpora suite (fixed pathological cases) and
# the full 238-query oracle mirror stay in the default run.
# One fixed seed over a handful of headline queries stays in the default
# run (test_randomized_facts_smoke): every table read goes through the
# same lake-table path, so bit-exactness over a generated star schema is
# checked on every change, not only when the sweep runs.
_FULL_SWEEP = pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_FULL_TESTS"),
    reason="seeded randomized sweep: opt in with SPARK_GRAFT_FULL_TESTS=1",
)

registry._load_all()

# Two stable anchors and a third seed. Fixture params bind at import,
# so the committed tuple IS what the sweep re-tests; replacing the third
# seed is how a change probes a new corpus neighborhood.
SEEDS = (401, 502, 1901)

_STATUSES = ("O", "F", "P")
_PRIORITIES = (
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
)
_SEGMENTS = (
    "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY",
)
_BRANDS = tuple(f"Brand#{i}" for i in range(1, 21))
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_RETFLAGS = ("A", "N", "R")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

# Every date literal any relational oracle names (extracted r18); each
# seed lands orders exactly ON each cutoff midnight and 1 us before it.
_CUTOFFS = (
    datetime.datetime(1995, 9, 1),
    datetime.datetime(1995, 10, 1),
    datetime.datetime(1997, 1, 1),
    datetime.datetime(1997, 7, 1),
    datetime.datetime(1998, 1, 1),
    datetime.datetime(1998, 7, 1),
    datetime.datetime(1999, 1, 1),
    datetime.datetime(1999, 4, 1),
    datetime.datetime(1999, 7, 1),
    datetime.datetime(2000, 1, 1),
    datetime.datetime(2000, 7, 1),
    datetime.datetime(2001, 1, 1),
    datetime.datetime(2001, 6, 1),
)

_N_CUSTOMERS = 30
_ORDERLESS_CUSTKEYS = range(26, 31)     # customers with no orders
_LONELY_SUPPKEY = 8                     # supplier with no lineitems


def _rand_ts(rng: random.Random) -> datetime.datetime:
    """Mostly midnight-only (like the real fixtures), sometimes with an
    intra-day time (date-truncation consistency)."""
    base = datetime.datetime(1995, 1, 1) + datetime.timedelta(
        days=rng.randint(0, 2400)
    )
    if rng.random() < 0.3:
        base += datetime.timedelta(
            seconds=rng.randint(0, 86399), microseconds=rng.randint(0, 999999)
        )
    return base


def _gen_dims(rng: random.Random):
    regions = [(i, _REGIONS[i]) for i in range(5)]
    nations = [
        (i, f"NATION_{i}", rng.randint(0, 4)) for i in range(11)
    ]
    nations.append((11, "NATION_11", 9))  # orphan regionkey

    customers = []
    for k in range(1, _N_CUSTOMERS + 1):
        acct = rng.choice(
            [0.0, -100.0, 5000.0, 5000.0, None,
             round(rng.uniform(-999.0, 9999.0), 2)]
        )
        seg = rng.choice(_SEGMENTS + (None,))
        customers.append(
            (k, f"Customer#{k:03d}", rng.randint(0, 11), acct, seg)
        )
    customers.append(  # orphan nationkey
        (_N_CUSTOMERS + 1, "Customer#orphan", 99, 100.0, "BUILDING")
    )

    suppliers = [
        (
            k,
            f"Supplier#{k:02d}",
            rng.randint(0, 11),
            rng.choice([0.0, 2500.0, 2500.0,
                        round(rng.uniform(-999.0, 9999.0), 2)]),
        )
        for k in range(1, 9)
    ]

    parts = []
    sizes = [rng.randint(1, 12) for _ in range(3)]  # tie pool
    prices = [round(rng.uniform(100.0, 2000.0), 2) for _ in range(3)]
    for k in range(1, 15):
        ptype = rng.choice(_PTYPES + (None,)) if k > 4 else _PTYPES[k - 1]
        # k=4 guarantees a PROMO part and k=5 a SMALL-typed one per seed
        if k == 4:
            ptype = "PROMO"
        if k == 5:
            ptype = "SMALL"
        parts.append(
            (
                k,
                f"part {k} {rng.choice(['green', 'red', 'blue'])}",
                rng.choice(_BRANDS[:5]),
                ptype,
                rng.choice(sizes + [rng.randint(1, 50)]),
                rng.choice(prices + [round(rng.uniform(100.0, 2000.0), 2)]),
            )
        )
    return regions, nations, customers, suppliers, parts


def _gen_orders(rng: random.Random) -> list[tuple]:
    rows: list[tuple] = []
    # duplicate-value pool crossing every tier edge and threshold the
    # oracles name, plus random fill
    price_pool = [
        50000.0, 200000.0, 400000.0, 450000.0, 490000.0,
        200000.0, 450000.0,  # cross-customer cliques
        round(rng.uniform(1000.0, 499000.0), 2),
    ]
    decile_pair = 10000.0 * rng.randint(2, 40)

    def add(orderkey, custkey, ts, price=None, status="?", prio="?"):
        rows.append(
            (
                orderkey,
                custkey,
                rng.choice(_STATUSES + (None,)) if status == "?" else status,
                rng.choice(price_pool) if price is None else price,
                ts,
                rng.choice(_PRIORITIES + (None,)) if prio == "?" else prio,
            )
        )

    def cust(rng):
        return rng.randint(1, _N_CUSTOMERS - len(_ORDERLESS_CUSTKEYS))

    k = 0
    for _ in range(80):  # bulk
        k += 1
        add(k, cust(rng), _rand_ts(rng))
    for c in _CUTOFFS:  # boundary-exact and 1 us before midnight
        k += 1
        add(k, cust(rng), c)
        k += 1
        add(k, cust(rng), c - datetime.timedelta(microseconds=1))
    # same-customer totalprice clique: per-customer top-n ties
    tie_cust = cust(rng)
    tie_price = round(rng.uniform(10000.0, 400000.0), 2)
    for _ in range(3):
        k += 1
        add(k, tie_cust, _rand_ts(rng), price=tie_price)
    # post-2001 orders with same-decile FLOOR(price/10000) collisions
    for off in (0.0, 9999.99, 1.0):
        k += 1
        add(
            k,
            cust(rng),
            datetime.datetime(2001, rng.randint(1, 8), rng.randint(1, 28)),
            price=decile_pair + off,
        )
    # orphan custkeys (outer-join / anti-join paths)
    for _ in range(3):
        k += 1
        add(k, 900 + rng.randint(1, 50), _rand_ts(rng))
    return rows


def _gen_lineitems(rng: random.Random, orders: list[tuple]) -> list[tuple]:
    rows: list[tuple] = []
    qty_pool = [1.0, 25.0, 50.0]
    price_pool = [round(rng.uniform(100.0, 90000.0), 2) for _ in range(3)]

    def add(okey, ln, shipts, qty=None, pk=None, flag="?"):
        rows.append(
            (
                okey,
                rng.randint(1, 14) if pk is None else pk,
                rng.randint(1, 7),  # never the lonely supplier
                ln,
                rng.choice(qty_pool + [float(rng.randint(1, 50))])
                if qty is None
                else qty,
                rng.choice(price_pool + [round(rng.uniform(100.0, 90000.0), 2)]),
                rng.choice([0.0, 0.05, 0.1]),
                rng.choice([0.0, 0.04, 0.08, None]),
                rng.choice(_RETFLAGS) if flag == "?" else flag,
                rng.choice(("F", "O")),
                shipts,
            )
        )

    okeys = [r[0] for r in orders]
    skip = set(rng.sample(okeys, 6))  # 0-lineitem orders
    special = iter(sorted(set(okeys) - skip))

    # exact HAVING-threshold quantity groups: sum == 300 (excluded by
    # > 300 on both engines), == 301, == 100
    for target, splits in ((300.0, (100.0, 100.0, 100.0)),
                           (301.0, (150.0, 151.0)),
                           (100.0, (50.0, 50.0))):
        okey = next(special)
        skip.add(okey)
        odate = next(o[4] for o in orders if o[0] == okey)
        for i, qv in enumerate(splits, start=1):
            add(okey, i, odate + datetime.timedelta(days=rng.randint(1, 20)),
                qty=qv)
    # exact ship-lag bucket edges: 30 and 90 days, and 1 s short of 30
    for days, secs in ((30, 0), (90, 0), (29, 86399)):
        okey = next(special)
        odate = next(o[4] for o in orders if o[0] == okey)
        add(okey, 9, odate + datetime.timedelta(days=days, seconds=secs))
    # shipdates exactly on the 1998/1999 window edges
    add(next(special), 9, datetime.datetime(1998, 1, 1))
    add(next(special), 9, datetime.datetime(1999, 1, 1))
    # promo-window lineitem (Sept 1995) on the guaranteed PROMO part
    add(next(special), 9, datetime.datetime(1995, 9, rng.randint(1, 30)),
        pk=4)
    # guaranteed returns inside the returned-items window
    for _ in range(3):
        add(next(special), 9,
            datetime.datetime(1999, rng.choice((7, 8, 9, 10, 11, 12)),
                              rng.randint(1, 28)),
            flag="R")

    for o in orders:  # bulk: 1-4 items per remaining order
        if o[0] in skip:
            continue
        for ln in range(1, rng.randint(2, 5)):
            add(
                o[0],
                ln,
                o[4] + datetime.timedelta(
                    days=rng.randint(0, 120), seconds=rng.randint(0, 86399)
                ),
            )
    for i in range(3):  # orphan lineitems (no parent order)
        add(9001 + i, 1, _rand_ts(rng))
    return rows


def _write_facts(spark, tmp_path_factory, seed: int) -> str:
    d = str(tmp_path_factory.mktemp(f"facts{seed}") / "sf")
    rng = random.Random(seed)
    regions, nations, customers, suppliers, parts = _gen_dims(rng)
    orders = _gen_orders(random.Random(seed + 7))
    lineitems = _gen_lineitems(random.Random(seed + 13), orders)
    frames = {
        "region": (regions, "r_regionkey int, r_name string"),
        "nation": (nations, "n_nationkey int, n_name string, n_regionkey int"),
        "customer": (
            customers,
            "c_custkey long, c_name string, c_nationkey int,"
            " c_acctbal double, c_mktsegment string",
        ),
        "supplier": (
            suppliers,
            "s_suppkey long, s_name string, s_nationkey int,"
            " s_acctbal double",
        ),
        "part": (
            parts,
            "p_partkey long, p_name string, p_brand string, p_type string,"
            " p_size int, p_retailprice double",
        ),
        "orders": (
            orders,
            "o_orderkey long, o_custkey long, o_orderstatus string,"
            " o_totalprice double, o_orderdate timestamp,"
            " o_orderpriority string",
        ),
        "lineitem": (
            lineitems,
            "l_orderkey long, l_partkey long, l_suppkey long,"
            " l_linenumber int, l_quantity double, l_extendedprice double,"
            " l_discount double, l_tax double, l_returnflag string,"
            " l_linestatus string, l_shipdate timestamp",
        ),
    }
    for t, (data, schema) in frames.items():
        spark.createDataFrame(data, schema).coalesce(1).write.parquet(
            f"{d}/{t}.parquet"
        )
    return d


def _duck(facts_dir: str):
    con = duckdb.connect()
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem",
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{facts_dir}/{t}.parquet/*.parquet')"
        )
    return con


@pytest.fixture(scope="module", params=SEEDS)
def facts_dir(request, spark, tmp_path_factory):
    return _write_facts(spark, tmp_path_factory, request.param)


@pytest.fixture(scope="module")
def facts_duck(facts_dir):
    con = _duck(facts_dir)
    yield con
    con.close()


@pytest.fixture(scope="module")
def smoke_facts(spark, tmp_path_factory):
    d = _write_facts(spark, tmp_path_factory, SEEDS[0])
    con = _duck(d)
    yield d, con
    con.close()


# Relational / aggregate / ordering / window / medallion / cdc ops that
# read ONLY star-schema tables (verified via load_table source scan) and
# carry an oracle. The evolution family (DDL/layout round-trips) is
# excluded: those ops pin engine-artifact behavior, not data-shape
# behavior, and each writes temp warehouse dirs per call.
_FACT_QUERIES = (
    "brand_size_supplier_counts",
    "cdc_change_log",
    "cdc_state_rollup",
    "cdc_upsert_state",
    "current_date_sanity",
    "custdist_histogram",
    "customer_order_counts_outer",
    "customer_order_gaps",
    "customers_without_orders",
    "disjunctive_pred_revenue",
    "distinct_status",
    "forecast_revenue_change",
    "gold_order_metrics",
    "gold_reaggregate",
    "heavy_red_part_suppliers",
    "high_value_orders",
    "idle_rich_customers",
    "important_part_share",
    "intra_region_revenue",
    "large_quantity_orders",
    "late_exists_order_priority",
    "layer_consistency",
    "lonely_late_supplier",
    "max_key_bootstrap",
    "min_cost_supplier_per_part",
    "month_set_operations",
    "monthly_revenue",
    "monthly_status_pivot",
    "multi_segment_nations",
    "nation_market_share",
    "nation_trade_volume",
    "nations_with_high_value_orders",
    "order_date_range",
    "order_part_lookup",
    "order_price_quantiles",
    "order_value_dense_rank",
    "order_value_percentiles",
    "order_value_percentiles_approx",
    "order_value_tier_stats",
    "orders_above_customer_avg",
    "orders_by_status",
    "orders_status_rollup",
    "pricing_summary",
    "product_profit_by_nation",
    "profile_distributions",
    "promo_revenue_share",
    "returned_items_ranking",
    "revenue_by_nation",
    "revenue_by_region",
    "revenue_cube_levels",
    "revenue_mom_growth",
    "revenue_rollup_levels",
    "running_monthly_revenue",
    "salted_skew_join",
    "salted_status_rollup",
    "scalar_functions",
    "segment_lineitem_revenue",
    "ship_lag_priority_counts",
    "shipping_priority_topk",
    "silver_projection",
    "small_qty_part_revenue",
    "top_customers",
    "top_orders_per_customer",
    "top_supplier_revenue",
    "unique_customers",
    "unique_customers_approx",
    "validate_domains",
)


# Headline queries of the reference comparison suite, for the always-on
# smoke.
_SMOKE_QUERIES = (
    "orders_by_status",
    "monthly_revenue",
    "high_value_orders",
    "pricing_summary",
    "segment_lineitem_revenue",
    "revenue_by_nation",
)


@pytest.mark.parametrize("name", _SMOKE_QUERIES)
def test_randomized_facts_smoke(spark, smoke_facts, name):
    facts_dir, duck = smoke_facts
    spec = registry.REGISTRY[name]
    assert_match(spec.fn(spark, facts_dir), duck, spec.oracle, name)


@_FULL_SWEEP
@pytest.mark.parametrize("name", _FACT_QUERIES)
def test_randomized_facts_oracle_parity(spark, facts_dir, facts_duck, name):
    spec = registry.REGISTRY[name]
    assert_match(spec.fn(spark, facts_dir), facts_duck, spec.oracle, name)


@_FULL_SWEEP
def test_generator_covers_the_named_hazards(spark, facts_dir):
    """The salted constructs must actually exist per seed, or the sweep
    silently stops exercising the branches it was built for."""
    orders = spark.read.parquet(f"{facts_dir}/orders.parquet")
    li = spark.read.parquet(f"{facts_dir}/lineitem.parquet")
    from pyspark.sql import functions as F

    dup_prices = (
        orders.groupBy("o_totalprice").count().filter("count >= 3").count()
    )
    assert dup_prices >= 2, "expected totalprice cliques"
    per_cust_dupes = (
        orders.groupBy("o_custkey", "o_totalprice")
        .count()
        .filter("count >= 3")
        .count()
    )
    assert per_cust_dupes >= 1, "expected a same-customer price clique"
    boundary = orders.filter(
        F.col("o_orderdate").isin([c for c in _CUTOFFS])
    ).count()
    # >= : the bulk generator is midnight-granular and can land on a
    # cutoff by chance too
    assert boundary >= len(_CUTOFFS)
    orderless = (
        spark.read.parquet(f"{facts_dir}/customer.parquet")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .count()
    )
    assert orderless >= len(_ORDERLESS_CUSTKEYS)
    orphan_li = li.join(
        orders, li.l_orderkey == orders.o_orderkey, "left_anti"
    ).count()
    assert orphan_li >= 3
    assert li.filter(F.col("l_suppkey") == _LONELY_SUPPKEY).count() == 0
    sums = {
        r["s"]
        for r in li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("s"))
        .collect()
    }
    assert {300.0, 301.0, 100.0} <= sums
