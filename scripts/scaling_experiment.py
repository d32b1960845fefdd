"""Scaling harness: registered queries on tables replicated k-fold.

Usage (from the repository root)::

    python3 scripts/scaling_experiment.py [fact] [corpus] [skew]

Each named suite (all three by default) runs on a copy of the sf0.1
testdata in which some tables are replicated with shifted keys; every
other table is byte-copied:

- ``fact``: orders, lineitem and events k-fold, k = 1, 2, 4, 8 (facts
  grow, dimensions do not);
- ``corpus``: documents and embeddings k-fold, k = 1, 2, 4, 8 (every
  replica is an exact near-duplicate: the adversarial case for pair ops);
- ``skew``: only the hot rows, documents with lang = 'en' and embeddings
  with label = 2, 8-fold (one reducer key family holds most rows).

Each query runs once to warm it (codegen, file listing, Python workers),
then three times into Spark's no-op sink, every run through lakebench's
``spark_probe.OpRunner``. One JSON line per (suite, k, query) gives the
medians of the three runs and whether the layers of all three added up
to their wall; skew lines add the straggler ratio. A suite with more than
one scale ends with one JSON line of largest-k/1x ratios. The script
writes nothing in the repository: replicas live in a temporary directory.
``SCALING.md``/``SCALING.json`` are the 32-core record of the earlier
version of this harness.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "lakebench")]

from spark_probe import OpRunner, Tracer  # noqa: E402

from apache_iceberg_with_clickhouse_olake_spark.operators import registry  # noqa: E402
from apache_iceberg_with_clickhouse_olake_spark.session import get_spark  # noqa: E402
from apache_iceberg_with_clickhouse_olake_spark.sources.parquet import (  # noqa: E402
    TABLES,
    table_path,
)

BASE = "/root/testdata/sf0.1"

FACT_QUERIES = (
    # scan, grouped-aggregate and join headliners over the three facts
    "orders_by_status",
    "monthly_revenue",
    "unique_customers",
    "pricing_summary",
    "segment_lineitem_revenue",
    "daily_active_users",
    "salted_skew_join",
    "events_sliding_windows",
    # range-shuffle layout write over orders
    "zorder_layout_roundtrip",
    # partial-aggregated argmin, fact-fact share, one-Expand rollup,
    # watermarked append stream over events
    "min_cost_supplier_per_part",
    "nation_market_share",
    "revenue_rollup_levels",
    "events_watermark_late_drop",
    # conditional-ratio join, hull-pushdown disjunction, exactly-once
    # streaming dedup
    "promo_revenue_share",
    "disjunctive_pred_revenue",
    "streaming_dedup_exactly_once",
    # semi/anti joins: each correlated predicate is a pre-join reduction
    # of the fact, so wall must track one fact pass
    "shipping_priority_topk",
    "late_exists_order_priority",
    "returned_items_ranking",
    "top_supplier_revenue",
    "large_quantity_orders",
    "lonely_late_supplier",
    "idle_rich_customers",
    # multi-join TPC-H shapes reduced before the fact shuffles, the CUBE
    # lattice and the scan-bound Q6 yardstick
    "forecast_revenue_change",
    "product_profit_by_nation",
    "ship_lag_priority_counts",
    "custdist_histogram",
    "small_qty_part_revenue",
    "intra_region_revenue",
    "nation_trade_volume",
    "brand_size_supplier_counts",
    "revenue_cube_levels",
    # LAG window, scalar-threshold share, aggregate-gated semi-join
    "revenue_mom_growth",
    "important_part_share",
    "heavy_red_part_suppliers",
    # events: scan-side JSON projection, bounded-fan-out range join,
    # sessionized bigrams, rollup-and-join-back anomalies
    "event_props_json_stats",
    "events_interval_bucket_join",
    "session_event_bigrams",
    "event_rate_anomalies",
)

CORPUS_QUERIES = (
    # one op per heavy LLM-pipeline family: near-dup joins,
    # decontamination, packing, per-row scoring
    "minhash_lsh_candidates",
    "simhash_neardup_pairs",
    "dedup_cluster_sizes",
    "dedup_cascade_stats",
    "decontamination_scan",
    "sequence_packing_stats",
    "unigram_logprob_quality",
    "text_token_stats",
    "embedding_near_dup_pairs",
    "embedding_dedup_cascade_stats",
    "corpus_build_pipeline",
    "doc_repetition_stats",
    "pii_redaction_stats",
    "crossdoc_ngram_repetition",
    "doc_contamination_fraction",
    "quality_threshold_sweep",
    "dedup_keep_best_quality",
    "corpus_mixture_weights",
    # iterative clustering, within-cluster semantic dedup (replica
    # cliques land in one cluster), vocabulary-bounded BPE, sampling
    "embedding_kmeans_profile",
    "semantic_dedup_stats",
    "semantic_dedup_cascade_stats",
    "bpe_learn_merges",
    "stratified_quota_sample",
    # one corpus pass plus broadcast tables: DSIR, resampling, mining
    "dsir_importance_weights",
    "dsir_resample_counts",
    "hard_negative_mining",
    # per-iteration corpus passes and vocabulary-bounded pair stages
    "embedding_power_iteration",
    "bpe_heldout_compression",
    "vocab_edit_distance_pairs",
    "key_skew_profile",
    # token-pass LM scoring, corpus-law fits, deflated power iteration
    "bigram_logprob_quality",
    "zipf_slope_top_terms",
    "vocab_growth_curve",
    "embedding_pca_top2",
    # candidate-bounded sketch calibration, BM25, RRF, fertility
    "minhash_estimate_calibration",
    "bm25_topk_search",
    "rrf_hybrid_search",
    "tokenizer_fertility_by_lang",
    # fingerprint posting lists grow with k (the adversarial case); PQ
    # assignment is a joinless per-row argmin
    "winnowing_fingerprints",
    "winnowing_neardup_pairs",
    "pq_codebook_stats",
    # containment over the bounded LSH stream, source-novelty rollup
    "shingle_containment_pairs",
    "source_ngram_novelty",
    # KL over one tokenize, sampled embedding evals, centroid outliers
    "source_unigram_kl",
    "ann_dim_truncation_recall",
    "embedding_sign_hamming_topk",
    "knn_label_purity",
    "label_centroid_outliers",
    # vocabulary-capped PMI pair space
    "term_cooccurrence_pmi",
    # leakage scan over the shared LSH pair stream
    "train_test_leakage_scan",
    # the count-min sketch is a bounded d x w aggregation
    "countmin_heavy_hitters",
    # cascade core over distinct docs, source matrix over the pair stream
    "leakage_safe_split_stats",
    "cross_source_dup_matrix",
    # sqrt-k two-level k-means against the linear-k op above
    "embedding_kmeans_twolevel_profile",
    # asymmetric banded-LSH pair stream (corpus x probes)
    "embedding_decontamination_scan",
    # leaf-bounded SemDeDup: replica cliques tie to one leaf seed
    "semantic_dedup_twolevel_stats",
    # filtered ANN, balanced sampling, soft dedup, incremental assign,
    # temperature sweep
    "ann_filtered_topk",
    "ann_filtered_recall",
    "cluster_balanced_sample_stats",
    "soft_dedup_weights_stats",
    "ann_index_incremental_assign",
    "mixture_temperature_sweep",
    # one fingerprint-keyed window, linear in corpus tokens
    "chunk_dedup_stats",
    # two-level index build plus bounded leaf probes
    "ann_twolevel_filtered_recall",
    "ann_twolevel_probe_sweep",
    "ann_twolevel_batch_recall",
    # joinless PQ encode/score scan with bounded top-k heads
    "pq_adc_topk_recall",
    # one corpus pass per pick plus broadcast argmin
    "greedy_kcenter_sample",
    # one tokenize rollup to #sources rows: flat by construction
    "data_constrained_epochs",
    # one tokenize pass plus a broadcast percentile grid
    "curriculum_difficulty_bins",
    "curriculum_phase_plan",
    # IVF-PQ: the 2-probe broadcast prunes the ADC scan
    "ann_ivfpq_topk_recall",
    # banded-LSH pair stream, Jaccard-gated at the end
    "paraphrase_mining_pairs",
)

SKEW_QUERIES = (
    # shuffles keyed on label, lang or fingerprint meet the hot key
    "dedup_cascade_stats",
    "dedup_cluster_sizes",
    "embedding_near_dup_pairs",
    "embedding_dedup_cascade_stats",
    "corpus_build_pipeline",
    # the hot label concentrates one k-means cluster
    "semantic_dedup_stats",
    # the centroid build keys by (label, dim)
    "label_centroid_outliers",
    # the hot label is the label-filtered scan's and one leaf's worst case
    "ann_filtered_topk",
    "cluster_balanced_sample_stats",
)

# suite -> (queries, {table: (key, hot-row predicate or None)}, scales)
SUITES = {
    "fact": (
        FACT_QUERIES,
        {"orders": ("o_orderkey", None), "lineitem": ("l_orderkey", None),
         "events": ("event_id", None)},
        (1, 2, 4, 8),
    ),
    "corpus": (
        CORPUS_QUERIES,
        {"documents": ("doc_id", None), "embeddings": ("vec_id", None)},
        (1, 2, 4, 8),
    ),
    "skew": (
        SKEW_QUERIES,
        {"documents": ("doc_id", "lang = 'en'"),
         "embeddings": ("vec_id", "label = 2")},
        (8,),
    ),
}

FIELDS = ("wall_ms", "cpu_ms", "jobs", "tasks", "executor_run_ms", "shuffle_bytes")

# A straggler shows only in a stage that reads a shuffle (a hot reducer
# key) and runs long enough that one GC pause is not the max.
MIN_MEDIAN_TASK_MS = 50.0


def replicate(spark, base: str, out: str, k: int, tables: dict) -> str:
    """Copy ``base`` to ``out``: each table in ``tables`` gets k - 1
    replicas of its hot rows (all rows when the predicate is None), the
    key shifted past the table's maximum per replica; replica 0 is the
    table itself. Every other table is byte-copied."""
    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        src, dst = table_path(base, t), table_path(out, t)
        if t not in tables:
            shutil.copy(src, dst)
            continue
        key, hot = tables[t]
        df = spark.read.parquet(src)
        off = df.agg({key: "max"}).first()[0] + 1
        rows = df if hot is None else df.filter(hot)
        union = df
        for i in range(1, k):
            union = union.unionByName(rows.withColumn(key, rows[key] + i * off))
        union.write.parquet(dst)
    return out


def stragglers(runner: OpRunner, group: str, min_tasks: int) -> tuple[float | None, int]:
    """Worst max/median task run time over the eligible stages of one
    job group, and how many stages were eligible: at least ``min_tasks``
    tasks, shuffle read, and a median task of ``MIN_MEDIAN_TASK_MS``."""
    store = runner.store
    stages = store.stages()
    sids = {s for j in store.jobs() if j.get("jobGroup") == group
            for s in j["stageIds"] if s in stages}
    worst, eligible = None, 0
    for sid in sorted(sids):
        st = stages[sid]
        if st["numTasks"] < min_tasks or not st["shuffleReadBytes"]:
            continue
        summary = store._get(f"/stages/{sid}/0/taskSummary?quantiles=0.5,1.0")  # noqa: SLF001
        med, hi = summary["executorRunTime"]
        if med < MIN_MEDIAN_TASK_MS:
            continue
        eligible += 1
        worst = max(worst or 0.0, hi / med)
    return worst, eligible


def measure(runner: OpRunner, name: str, sf_dir: str, skew: bool = False) -> dict:
    """One warm run, then the medians of three traced runs of ``name``
    into the no-op sink. With ``skew``, also the median of the runs'
    worst straggler ratios and the most eligible stages in any run; the
    task bar is the session's shuffle partition count."""
    spark = runner.spark
    fn = registry.all_queries()[name]

    def sink():
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    min_tasks = int(spark.conf.get("spark.sql.shuffle.partitions"))
    runs, worsts, eligible = [], [], []
    for i in range(4):
        runner.run(name, sink, collect=False)
        if i == 0:
            continue  # the warm run
        runs.append(runner.records[-1])
        if skew:
            group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
            worst, n = stragglers(runner, group, min_tasks)
            eligible.append(n)
            if worst is not None:
                worsts.append(worst)
    rec = {"op": name}
    rec.update((f, round(statistics.median(r[f] for r in runs), 1)) for f in FIELDS)
    rec["layers_ok"] = all(r["layers_ok"] for r in runs)
    if skew:
        rec["straggler"] = round(statistics.median(worsts), 2) if worsts else None
        rec["eligible_stages"] = max(eligible)
    return rec


def ratios(suite: str, recs: list[dict]) -> dict:
    """Largest-k/1x wall and CPU ratio per query, and the worst of each."""
    lo, hi = min(r["k"] for r in recs), max(r["k"] for r in recs)
    by = {(r["k"], r["op"]): r for r in recs}
    out = {"suite": suite, "ratio": f"{hi}x/{lo}x"}
    for f in ("wall_ms", "cpu_ms"):
        per = {op: round(by[hi, op][f] / by[lo, op][f], 2)
               for k, op in by if k == lo}
        worst = max(per, key=per.get)
        out[f] = per
        out[f"worst_{f}"] = {"op": worst, "ratio": per[worst]}
    return out


def main(suites: list[str]) -> int:
    spark = get_spark("scaling", extra_conf={
        # A fixed set of JIT compiler threads: EngineCpu reads each one's
        # CPU clock and fails if one ends during an op.
        "spark.driver.extraJavaOptions": "-XX:-UseDynamicNumberOfCompilerThreads",
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    # One runner per session: runners number their job groups from 1.
    runner = OpRunner(spark, Tracer("scaling", enabled=True))
    try:
        with tempfile.TemporaryDirectory(prefix="scaling_") as root:
            for suite in suites or list(SUITES):
                names, tables, scales = SUITES[suite]
                recs = []
                for k in scales:
                    sf_dir = replicate(spark, BASE, os.path.join(root, f"{suite}_x{k}"),
                                       k, tables)
                    for name in names:
                        rec = {"suite": suite, "k": k,
                               **measure(runner, name, sf_dir, skew=suite == "skew")}
                        recs.append(rec)
                        print(json.dumps(rec), flush=True)
                    shutil.rmtree(sf_dir)
                if len(scales) > 1:
                    print(json.dumps(ratios(suite, recs)), flush=True)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
