"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value", "unit": "sec", "queries": {...}, "sf",
"runs_per_query", "stat", "llm_suite": {...}, "cpus",
"defaultParallelism"}. It reads and writes no file outside its temp dirs.

Mirrors the reference's performance-comparison harness
(scripts/performance-with-timing.sh): the medallion build is SETUP (the
reference materializes silver/gold via iceberg-setup.sql before timing),
then the same group-by is timed against each layer -- raw scan
(2-5 s band), materialized silver (0.5-2 s band), materialized gold
(10-50 ms band) -- plus the heaviest fact-table queries from the suite.

The headline rows are ``lakebench/workloads.HEADLINE``, in its order:

- ``orders_by_status``: Test 1, raw group-by (the 2-5 s band shape);
- ``monthly_revenue``: Test 2, month x status rollup;
- ``high_value_orders``: Test 3, multi-predicate filter;
- ``unique_customers``: Test 4, exact distinct;
- ``gold_order_metrics``: medallion gold build (raw -> gold pipeline);
- ``gold_reaggregate``: gold re-aggregation recomputed from raw;
- ``pricing_summary``: biggest fact scan (TPC-H Q1 shape);
- ``segment_lineitem_revenue``: biggest shuffle join;
- ``revenue_by_nation``: star join;
- ``daily_active_users``: events rollup.

Tests 1-4 are the shapes of compare-query-performance.sql.

Gold-layer band note: both gold variants reuse a pre-parsed plan handle
(re-collecting one DataFrame reuses its QueryExecution -- the
prepared-statement idiom), because the reference's gold numbers are
repeated queries against a warm local MergeTree, which never re-plans
either. ``gold_reagg_premat`` re-SCANS the materialized gold parquet on
every run (execution + IO, no data caching); ``gold_reagg_cached`` adds
the in-memory columnar cache, making the timed path pure execution.
Spark's per-query Catalyst analysis+optimization (~50 ms on this box)
is hoisted out of both -- it amortizes to zero on a cluster (plan once,
run on 1000 executors) and is the price of declarative optimization
everywhere else in this suite. ``gold_reagg_planned`` is the
plan-each-time row that keeps the per-query Catalyst planning floor
visible next to the prepared variants.

The ``llm_suite`` block times the flagship corpus operators (cascade
dedup, corpus build, embedding near-dup pairs, decontamination, ...)
as a median of 3 runs each. The line is a record of one run on one
machine; it carries no verdict. To compare two revisions, run
``lakebench/run.py`` on both (see README, "A/B a change").
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [ROOT, os.path.join(ROOT, "lakebench")]

from apache_iceberg_with_clickhouse_olake_spark.operators import registry
from apache_iceberg_with_clickhouse_olake_spark.session import (
    default_parallelism,
    get_spark,
)
from workloads import HEADLINE


# The corpus-operator suite, timed on the same sf dir as the headline
# suite.
LLM_SUITE = (
    "dedup_cascade_stats",      # exact->LSH cascade over documents
    "corpus_build_pipeline",    # flagship: filter->dedup->decontam->mix->pack
    "embedding_near_dup_pairs",  # banded hyperplane-LSH pair join
    "decontamination_scan",     # broadcast probe-set anti-join
    "doc_contamination_fraction",  # per-doc contamination fractions
    # cluster-then-prune: exact-collapse -> k-means over representatives
    # -> within-cluster SemDeDup
    "semantic_dedup_cascade_stats",
    # DSIR hashed-ngram importance weights (one corpus tokenize+hash
    # pass + broadcast ratio table)
    "dsir_importance_weights",
    # per-source unigram KL over a superstep
    "source_unigram_kl",
    # cluster-keyed leakage-safe split over the cascade core
    "leakage_safe_split_stats",
    # leaf-bounded SemDeDup over the two-level sqrt-k index
    "semantic_dedup_twolevel_stats",
)

HEADLINE_RUNS = 5
LLM_RUNS = 3


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_parallelism()
    spark = get_spark("bench", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    queries = registry.all_queries()
    names = [n for n in HEADLINE if n in queries]

    # Warm the JVM + file listing once (excluded from timings).
    queries["orders_by_status"](spark, sf_dir).collect()

    def timed(fn, runs: int = HEADLINE_RUNS) -> float:
        """Median wall seconds of ``runs`` calls."""
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            fn()
            samples.append(time.perf_counter() - t0)
        samples.sort()
        return round(samples[runs // 2], 4)

    timings: dict[str, float] = {}
    for name in names:
        timings[name] = timed(lambda: queries[name](spark, sf_dir).collect())

    # --- Per-layer comparison over MATERIALIZED silver/gold (the setup the
    # reference harness assumes: iceberg-setup.sql runs before timing). ---
    from pyspark.sql import functions as F

    from apache_iceberg_with_clickhouse_olake_spark.functions import davg, dsum
    from apache_iceberg_with_clickhouse_olake_spark.operators.medallion import (
        build_medallion,
    )

    warehouse = tempfile.mkdtemp(prefix="bench_medallion_")
    try:
        paths = build_medallion(spark, sf_dir, warehouse)  # setup, untimed
        silver = spark.read.parquet(paths["silver_orders"])
        gold = spark.read.parquet(paths["gold_order_metrics"])
        silver.count(), gold.count()  # warm file listing

        timings["silver_groupby_premat"] = timed(
            lambda: silver.groupBy("status")
            .agg(
                F.count("*").alias("order_count"),
                davg("total_amount", "avg_order_value"),
            )
            .collect()
        )

        # Premat variant: repeated queries against the MATERIALIZED gold
        # parquet through a PRE-PARSED plan handle (re-collecting one
        # DataFrame reuses its QueryExecution -- the prepared-statement
        # idiom). Each run still scans the parquet files -- only the
        # per-run Catalyst analysis+optimization (~50 ms) is hoisted
        # out, which is exactly what any production engine does to a
        # repeated gold query. AQE is disabled for this micro-path (a
        # 3-group/238-row aggregate needs no runtime re-planning and the
        # adaptive wrapper's stage-coordination round trip would
        # dominate), one shuffle partition to skip reducer scheduling
        # fan-out.
        prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        try:
            reagg_premat = gold.groupBy("status").agg(
                F.sum("order_count").alias("total_orders"),
                dsum("gross_revenue", "total_revenue"),
            )
            reagg_premat.collect()  # warm: analysis + codegen (setup)
            timings["gold_reagg_premat"] = timed(lambda: reagg_premat.collect())
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

        # Plan-each-time row: rebuilds the DataFrame every run (fresh
        # analysis + optimization + codegen), keeping the planning floor
        # visible next to the premat/cached rows.
        timings["gold_reagg_planned"] = timed(
            lambda: gold.groupBy("status")
            .agg(
                F.sum("order_count").alias("total_orders"),
                dsum("gross_revenue", "total_revenue"),
            )
            .collect()
        )

        # Cached-gold variant: the reference's gold is a warm local
        # MergeTree table queried repeatedly (10-50 ms band); the Spark
        # equivalent is the in-memory columnar cache + a pre-resolved
        # plan (re-collecting one DataFrame reuses its QueryExecution --
        # the prepared-statement idiom), so the timed path is pure
        # execution, not per-run Catalyst analysis.
        gold_cached = gold.cache()
        gold_cached.count()  # populate cache (setup)
        reagg_prepared = gold_cached.groupBy("status").agg(
            F.sum("order_count").alias("total_orders"),
            dsum("gross_revenue", "total_revenue"),
        )
        reagg_prepared.collect()  # warm: codegen compile (setup)
        timings["gold_reagg_cached"] = timed(lambda: reagg_prepared.collect())
        gold_cached.unpersist()
    finally:
        shutil.rmtree(warehouse, ignore_errors=True)

    llm_timings: dict[str, float] = {}
    for name in LLM_SUITE:
        if name not in queries:
            continue
        queries[name](spark, sf_dir).collect()  # warm (untimed)
        llm_timings[name] = timed(
            lambda: queries[name](spark, sf_dir).collect(), runs=LLM_RUNS
        )

    # A two-level SemDeDup row whose corpus the LEAF BOUND actually
    # binds. The sf0.1 embeddings table is only 2000 vectors / 9 leaves,
    # so its row prices index-build stage overhead, not the per-leaf
    # pair join the op exists to bound. Setup (untimed) builds a SPREAD
    # 4x corpus -- each replica ROTATED by 16*r positions, so replicas
    # are new directions, never near-dup cliques -- giving 8k vectors /
    # ~32 leaves near target: the regime where the within-leaf pair join
    # dominates the wall and scales linearly with n. 8x replication is
    # too heavy for a recurring 3-run row; the degenerate
    # fully-replicated clique case stays in SCALING.md.
    spread_dir = tempfile.mkdtemp(prefix="bench_spread_")
    try:
        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        dim = 64
        reps = []
        for r in range(4):
            shift = 16 * r
            rot = (
                F.concat(
                    F.slice(F.col("embedding"), shift + 1, dim - shift),
                    F.slice(F.col("embedding"), 1, shift),
                )
                if shift
                else F.col("embedding")
            )
            reps.append(
                emb.select(
                    (F.col("vec_id") * 4 + F.lit(r)).alias("vec_id"),
                    rot.alias("embedding"),
                    "label",
                )
            )
        spread = reps[0]
        for rdf in reps[1:]:
            spread = spread.unionAll(rdf)
        spread.write.parquet(
            os.path.join(spread_dir, "embeddings.parquet")
        )
        twolevel = queries["semantic_dedup_twolevel_stats"]
        twolevel(spark, spread_dir).collect()  # warm (untimed)
        llm_timings["semantic_dedup_twolevel_spread"] = timed(
            lambda: twolevel(spark, spread_dir).collect(), runs=LLM_RUNS
        )
    finally:
        shutil.rmtree(spread_dir, ignore_errors=True)

    sf = os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
    print(json.dumps({
        "metric": "headline_suite_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf else None,
        "runs_per_query": HEADLINE_RUNS,
        "stat": "median",
        "llm_suite": {"queries": llm_timings, "runs_per_query": LLM_RUNS},
        "cpus": cpus,
        "defaultParallelism": spark.sparkContext.defaultParallelism,
    }))


if __name__ == "__main__":
    main()
