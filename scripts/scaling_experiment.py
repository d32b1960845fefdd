"""Scaling experiment: replicate the sf0.1 fact tables k-fold (k = 1, 2,
4, 8) with shifted keys, run the headline queries at each scale, and
write SCALING.md. Near-linear wall-clock growth demonstrates the plans
have no super-linear stage (the local[32] proxy for the 1000-executor
question: no driver-side loops, no all-pairs joins, shuffles keyed and
partial-aggregated).

Usage: python scripts/scaling_experiment.py
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from apache_iceberg_with_clickhouse_olake_spark.operators import registry
from apache_iceberg_with_clickhouse_olake_spark.session import get_spark

BASE = "/root/testdata/sf0.1"
FACTS = ("orders", "lineitem", "events")
DIMS = (
    "region", "nation", "customer", "supplier", "part",
    "documents", "embeddings",
)
QUERIES = (
    "orders_by_status",
    "monthly_revenue",
    "unique_customers",
    "pricing_summary",
    "segment_lineitem_revenue",
    "daily_active_users",
    "salted_skew_join",
    "events_sliding_windows",
    # r9: z-order layout write -- reads orders (a replicated fact); the
    # range shuffle + per-partition sort must track the fact volume
    "zorder_layout_roundtrip",
    # r9 late additions over the fact tables: the Q2 argmin (struct-min
    # partial agg keyed by partkey), the Q8 fact-fact market share, the
    # one-Expand ROLLUP, and the real watermarked append stream (events
    # replicate -> more chunks of state, same bounded-window argument)
    "min_cost_supplier_per_part",
    "nation_market_share",
    "revenue_rollup_levels",
    "events_watermark_late_drop",
    # r10 additions over the facts: the Q14 conditional-ratio join, the
    # Q19 hull-pushdown disjunction, and the watermarked dropDuplicates
    # exactly-once ingestion (events replicate -> more chunk rows
    # through the same bounded dedup state)
    "promo_revenue_share",
    "disjunctive_pred_revenue",
    "streaming_dedup_exactly_once",
    # r10 semi/anti-join suite: every correlated predicate is a
    # pre-join reduction of the replicated fact (Q4's EXISTS -> per-
    # orderkey max, Q21's EXISTS+NOT EXISTS -> one per-orderkey
    # distinct-count pass, Q22's NOT EXISTS -> anti join on the pruned
    # key set), so wall time must track the single fact pass
    "shipping_priority_topk",
    "late_exists_order_priority",
    "returned_items_ranking",
    "top_supplier_revenue",
    "large_quantity_orders",
    "lonely_late_supplier",
    "idle_rich_customers",
    # r10 late additions: the multi-join TPC-H shapes (Q5/Q7/Q9 carry
    # the same-nation / two-nation / part-slice reductions before the
    # fact shuffles; Q12/Q13/Q16/Q17 are pre-join-reduced conditional
    # aggregates), the CUBE lattice (one Expand, 4 grouping sets), and
    # the Q6 pure scan-filter aggregate as the scan-bound yardstick
    "forecast_revenue_change",
    "product_profit_by_nation",
    "ship_lag_priority_counts",
    "custdist_histogram",
    "small_qty_part_revenue",
    "intra_region_revenue",
    "nation_trade_volume",
    "brand_size_supplier_counts",
    "revenue_cube_levels",
    # close-out additions: the LAG window over the bounded month grain,
    # the Q11 scalar-threshold share (per-part agg consumed twice, one
    # fact pass), and the Q20 aggregate-gated semi-join
    "revenue_mom_growth",
    "important_part_share",
    "heavy_red_part_suppliers",
    # r11 additions over the events fact: JSON extraction is a pure
    # scan-side projection (must track the scan), and the bucketized
    # range join's fan-out is windows x overlap -- constant -- so the
    # join must track the single events pass
    "event_props_json_stats",
    "events_interval_bucket_join",
    # the transition mining rides sessionization's one user-keyed
    # shuffle; the anomaly scan is rollup + per-type re-agg join-back
    "session_event_bigrams",
    "event_rate_anomalies",
)
KEY_COLS = {
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
}

# LLM-pipeline section: the documents corpus replicates instead of the
# facts (the 100 TB object of a training-data pipeline), covering each
# heavy LLM op family: blocked near-dup joins, shingle decontamination,
# windowed packing, per-row scoring.
CORPUS_QUERIES = (
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
    # r8 additions: iterative clustering (broadcast-centroid k-means),
    # cluster-bounded semantic dedup (quadratic only WITHIN clusters --
    # the fully-replicated corpus is its adversarial case, since every
    # replica clique lands in one cluster), vocabulary-bounded BPE
    # training (corpus pass + type-table iterations), and the two-pass
    # derived-rate stratified sampler.
    "embedding_kmeans_profile",
    "semantic_dedup_stats",
    "semantic_dedup_cascade_stats",
    "bpe_learn_merges",
    "stratified_quota_sample",
    # r9 additions: DSIR weights (one tokenize+hash pass + broadcast
    # ratio table -- should scale with the corpus pass), Gumbel-top-k
    # resampling on top of it, hard-negative mining (broadcast anchors,
    # partial-aggregable struct-max -- the replication multiplies the
    # streamed side only), and the z-order layout write (range shuffle +
    # per-partition sort).
    "dsir_importance_weights",
    "dsir_resample_counts",
    "hard_negative_mining",
    # r9 late additions over the corpus: hash-exact power iteration
    # (per-iteration corpus pass), train/held-out BPE, deletion-blocked
    # typo mining (vocabulary-bounded pair stage), and the key-skew
    # profiler itself
    "embedding_power_iteration",
    "bpe_heldout_compression",
    "vocab_edit_distance_pairs",
    "key_skew_profile",
    # r10 additions over the corpus: bigram LM scoring (one tokenize
    # pass + observed-bigram-keyed joins), the Zipf/Heaps corpus-law
    # fits, and the deflated two-component power iteration (2x the
    # per-iteration corpus pass)
    "bigram_logprob_quality",
    "zipf_slope_top_terms",
    "vocab_growth_curve",
    "embedding_pca_top2",
    # r10 late additions: sketch calibration (the LSH pair join PLUS
    # exact re-scoring of every candidate -- its cost must track the
    # candidate count, not the corpus square), BM25 (postings filtered
    # at the scan; replication multiplies postings linearly), RRF
    # (two candidate lists fused -- near-flat by construction), and the
    # per-language fertility projection pass
    "minhash_estimate_calibration",
    "bm25_topk_search",
    "rrf_hybrid_search",
    "tokenizer_fertility_by_lang",
    # winnowing: the replicated corpus is its adversarial case (every
    # fingerprint's posting list multiplies by k, pair enumeration by
    # k^2, bounded only by the stop-gram df cap) -- measured, not
    # asserted; the production path collapses exact replicas first
    # (dedup cascade) exactly as for minhash. PQ assignment is a
    # joinless per-row argmin over broadcast-literal codebooks.
    "winnowing_fingerprints",
    "winnowing_neardup_pairs",
    "pq_codebook_stats",
    # close-out additions: containment scoring of the bounded LSH
    # candidate stream, and the two-aggregate source-novelty rollup
    # (exchange carries distinct (source, shingle) pairs only)
    "shingle_containment_pairs",
    "source_ngram_novelty",
    # r11 additions: the KL superstep (one tokenize into a corpus-
    # independent (source, term) frame; marginals re-aggregate it), the
    # three sampled embedding evals (corpus x sample scoring -- must
    # track the corpus pass, never the square), and the centroid
    # outlier pass ((label, dim)-keyed build + broadcast distance scan)
    "source_unigram_kl",
    "ann_dim_truncation_recall",
    "embedding_sign_hamming_topk",
    "knn_label_purity",
    "label_centroid_outliers",
    # PMI's pair space is vocabulary-capped (V^2 regardless of corpus),
    # so the doc-keyed self-join must track the corpus pass
    "term_cooccurrence_pmi",
    # leakage scan = the shared LSH pair stream + split-flag key joins;
    # the replicated corpus is its adversarial case like every pair op
    "train_test_leakage_scan",
    # the CMS sketch IS a bounded d x w aggregation -- its wall must
    # track the single token pass at any corpus size
    "countmin_heavy_hitters",
    # r13 additions: the cluster-safe split runs the cascade core
    # (rep-graph LSH + propagation, cost tracks DISTINCT docs) plus
    # corpus-pass split projections; the source matrix re-groups the
    # shared pair stream -- both must track the replication-flat
    # cascade/pair-op family, never the raw corpus square
    "leakage_safe_split_stats",
    "cross_source_dup_matrix",
    # r14 addition: the sqrt-k two-level k-means (r13 VERDICT item 4)
    # -- its assignment work is ~2n*sqrt(n/target)*dim vs the linear-k
    # op's n*(n/target)*dim, so its 8x/1x wall ratio must undercut
    # embedding_kmeans_profile's as n grows (authoring-time A/B in the
    # static section below; recurring row here keeps the claim honest)
    "embedding_kmeans_twolevel_profile",
    # r14 addition: the semantic decontamination scan rides the
    # asymmetric banded-LSH pair stream (corpus x probes); the
    # fully-replicated corpus multiplies its band collisions like
    # every pair op -- quadratic-INTERMEDIATE, bounded output
    # (distinct contaminated ids). Authoring-time focused measurement:
    # 1.99 -> 2.32 s, ratio 1.17 against the replica-quadratic
    # candidate growth (the train_test_leakage_scan behavior class).
    "embedding_decontamination_scan",
    # r14 addition: leaf-bounded SemDeDup over the two-level index --
    # on the fully-replicated corpus every replica clique ties to one
    # leaf seed, so its within-leaf pair work shares the direct
    # semantic_dedup_stats yardstick's adversarial quadratic class
    # (authoring-time: 6.71 -> 36.43 s, ratio 5.4, fixed plan); the
    # production answer is the same cascade/cap discipline.
    "semantic_dedup_twolevel_stats",
    # r15 additions (authoring-time focused 1x -> 8x medians): the
    # filtered-ANN pair rides the linear-k index build whose n*k work
    # grows with the corpus (topk 2.28 -> 3.66 s, ratio 1.61; recall
    # 3.11 -> 4.57, 1.47); the balanced sample adds one leaf-keyed
    # window over the two-level index (2.60 -> 3.22, 1.24); soft dedup
    # is one fingerprint window + rollup (0.40 -> 0.55, 1.38, vs 8x
    # rows); the incremental assign is index build on 7/8 of the
    # corpus + a delta-only pass (1.97 -> 3.30, 1.68); the temperature
    # sweep is one tokenize rollup + a literal grid (0.48 -> 0.48,
    # flat by construction).
    "ann_filtered_topk",
    "ann_filtered_recall",
    "cluster_balanced_sample_stats",
    "soft_dedup_weights_stats",
    "ann_index_incremental_assign",
    "mixture_temperature_sweep",
    # r15 late: chunk-level exact dedup -- one fingerprint-keyed window
    # over (doc_id, source, fp) rows, linear in corpus tokens
    # (authoring-time focused: 1.03 -> 0.82 s at 8x, ratio 0.8 --
    # sub-second fixed overheads dominate at this scale)
    "chunk_dedup_stats",
    # r16: the filtered two-level recall eval -- two-level index build
    # (sqrt-k assignment) + bounded leaf probe on the approx side, one
    # broadcast-query filtered scan with a top-k head on the exact
    # side; both track the corpus pass, never a pair square
    # (authoring-time focused: 4.85 -> 5.87 s at 8x, ratio 1.21)
    "ann_twolevel_filtered_recall",
    # r16: the two-level width sweep (one leaf pass at the widest
    # probe serves every width; authoring-time focused: 4.04 -> 4.54 s
    # at 8x, ratio 1.12) and the batch recall eval (index built once,
    # B=8 queries probed in one pass; the n*B exact eval side is the
    # only corpus-tracking stage; 3.67 -> 4.38 s, ratio 1.19)
    "ann_twolevel_probe_sweep",
    "ann_twolevel_batch_recall",
    # r16: PQ ADC search + rerank -- one joinless encode/score scan
    # (codebook + query ride as literals) with bounded top-k heads;
    # wall must track the corpus pass (authoring-time focused:
    # 9.09 -> 10.91 s at 8x, ratio 1.20; the 1x floor is the 4x8
    # argmin-struct codegen, amortized at scale)
    # r18 stage audit RE-ATTRIBUTION: the ~9 s "codegen floor" was in
    # fact DRIVER-side py4j expression construction (~52k gateway
    # calls building the literal tree; cProfile put 8.8 s of the
    # 11.2 s wall inside _pq_adc_scored's Column loops, execution
    # itself sub-second). Shared persisted corpus/scored/truth frames
    # (one encode scan for both heads) + the SQL-string expression
    # build cut it to 2.12 s at 1x / 2.05 s at 8x (3-run medians,
    # answers bit-identical, plan pins green).
    "pq_adc_topk_recall",
    # r16: greedy k-center -- one corpus pass per pick (running
    # min-distance + 1-row broadcast center) + the joinless broadcast
    # argmin assignment; fixed-stage overheads dominate at this scale
    # (authoring-time focused: 2.62 -> 2.45 s at 8x, ratio 0.94)
    "greedy_kcenter_sample",
    # r16: the epoch planner -- one tokenize rollup to #sources rows,
    # then literal arithmetic; flat by construction (authoring-time
    # focused: 0.66 -> 0.54 s at 8x, ratio 0.82)
    "data_constrained_epochs",
    # r16 late: the curriculum pair -- one tokenize pass + a 3-double
    # exact-percentile agg broadcast back for map-side binning; the
    # phase plan adds only a <= 4-row grid join (authoring-time
    # focused, interleaved x8/x1/x8/x1 to kill the cold-first-op
    # order effect: bins 2.31-2.51 -> 3.20-3.42 s, ratio ~1.37;
    # the naive first measurement read x1 = 6.0 s because the first
    # op on a fresh corpus pays the Python-worker/codegen warmup --
    # recorded here as the protocol trap it is)
    "curriculum_difficulty_bins",
    "curriculum_phase_plan",
    # r17: IVF-PQ serving recall -- centroid build is one (label, dim)
    # rollup, the 2-probe broadcast prunes the ADC scan to ~2/L of the
    # corpus, and the joinless constant-folded encode amortizes its
    # codegen floor at scale exactly like flat pq_adc (authoring-time
    # focused: 11.23 -> 12.48 s at 8x, ratio 1.11; the 1x floor is the
    # same 4x8 argmin-struct codegen class as pq_adc_topk_recall's)
    # r18 stage audit: same re-attribution as pq_adc_topk_recall (the
    # floor was driver-side py4j construction, not codegen); after the
    # shared-frame persists + SQL-string build: 2.81 s at 1x /
    # 2.95 s at 8x (3-run medians, bit-identical, plan pins green).
    "ann_ivfpq_topk_recall",
    # r17: paraphrase mining rides the banded-LSH pair stream, so the
    # fully-replicated corpus is its adversarial case like every pair
    # op (replica cliques collide in every band; the Jaccard gate then
    # drops them at the END, after the pair work) -- quadratic
    # INTERMEDIATE, bounded output (authoring-time focused: 1.75 ->
    # 3.58 s at 8x, ratio 2.0, the embedding_near_dup_pairs class; the
    # production path collapses exact replicas first, same cascade
    # discipline as minhash/winnowing)
    "paraphrase_mining_pairs",
)

# Skew suite: ONE label/language replicated k-fold (zipf-ish hot key)
# while the rest of the corpus stays 1x — the straggler stress for every
# op whose shuffle keys involve label/lang/fingerprint. Measured per
# query: wall time AND the worst per-task max/median executorRunTime
# across its stages (straggler ratio; 1.0 = perfectly balanced).
SKEW_QUERIES = (
    "dedup_cascade_stats",
    "dedup_cluster_sizes",
    "embedding_near_dup_pairs",
    "embedding_dedup_cascade_stats",
    "corpus_build_pipeline",
    # r8: the hot-label replication concentrates one k-means cluster --
    # exactly the reducer-key skew the within-cluster pair join must
    # survive.
    "semantic_dedup_stats",
    # r11: the centroid build keys by (label, dim) -- the 64-dim fanout
    # is exactly what spreads a hot label across reducers; measured,
    # not asserted.
    "label_centroid_outliers",
    # r15: filtered search keys its probe fetch on cluster and its
    # predicate on label -- the hot label (49% of rows after 8x) is
    # the worst case for the label-filtered list scan; the balanced
    # sample's leaf windows must survive one coarse cluster holding
    # half the corpus (leaves still cap at ~target by construction).
    "ann_filtered_topk",
    "cluster_balanced_sample_stats",
)
SKEW_K = 8


def build_scale(spark, root: str, k: int) -> str:
    out = os.path.join(root, f"x{k}")
    os.makedirs(out, exist_ok=True)
    for t in DIMS:
        src = os.path.join(BASE, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(dst):
            shutil.copy(src, dst)
    for t in FACTS:
        dst = os.path.join(out, f"{t}.parquet")
        if os.path.exists(dst):
            continue
        if t == "events":
            # nanos timestamps: read as raw longs; the scaled copy keeps
            # the long column, which load_table converts on read.
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(BASE, f"{t}.parquet"))
        key = KEY_COLS[t]
        off = df.agg(F.max(key)).first()[0] + 1
        parts = [
            df.withColumn(key, F.col(key) + F.lit(i * off)) for i in range(k)
        ]
        union = parts[0]
        for p in parts[1:]:
            union = union.unionByName(p)
        union.write.parquet(dst)
    return out


def build_corpus_scale(spark, root: str, k: int) -> str:
    """Replicate documents AND embeddings k-fold with shifted ids (the
    adversarial fully-duplicated corpus); all other tables copied
    as-is."""
    replicated = {"documents": "doc_id", "embeddings": "vec_id"}
    out = os.path.join(root, f"docs_x{k}")
    os.makedirs(out, exist_ok=True)
    for t in DIMS + FACTS:
        if t in replicated:
            continue
        src = os.path.join(BASE, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(dst):
            shutil.copy(src, dst)
    for t, key in replicated.items():
        dst = os.path.join(out, f"{t}.parquet")
        if os.path.exists(dst):
            continue
        df = spark.read.parquet(os.path.join(BASE, f"{t}.parquet"))
        off = df.agg(F.max(key)).first()[0] + 1
        parts = [
            df.withColumn(key, F.col(key) + F.lit(i * off))
            for i in range(k)
        ]
        union = parts[0]
        for p in parts[1:]:
            union = union.unionByName(p)
        union.write.parquet(dst)
    return out


def build_skew_corpus(spark, root: str, k: int) -> str:
    """Replicate ONLY the hottest key k-fold: documents with lang='en'
    (41% of the base corpus -> ~85% after 8x) and embeddings with
    label=2 (~11% -> ~49%), ids shifted per replica. Everything else
    copies as-is. This is the adversarial zipf shape: one reducer key
    family holds most of the data."""
    out = os.path.join(root, f"skew_x{k}")
    os.makedirs(out, exist_ok=True)
    for t in DIMS + FACTS:
        if t in ("documents", "embeddings"):
            continue
        src = os.path.join(BASE, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(dst):
            shutil.copy(src, dst)
    hot_preds = {
        "documents": ("doc_id", F.col("lang") == "en"),
        "embeddings": ("vec_id", F.col("label") == 2),
    }
    for t, (key, pred) in hot_preds.items():
        dst = os.path.join(out, f"{t}.parquet")
        if os.path.exists(dst):
            continue
        df = spark.read.parquet(os.path.join(BASE, f"{t}.parquet"))
        off = df.agg(F.max(key)).first()[0] + 1
        hot = df.filter(pred)
        parts = [df] + [
            hot.withColumn(key, F.col(key) + F.lit(i * off))
            for i in range(1, k)
        ]
        union = parts[0]
        for p in parts[1:]:
            union = union.unionByName(p)
        union.write.parquet(dst)
    return out


def _rest_json(spark, path: str):
    import json as _json
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    if not base:
        return None
    app = spark.sparkContext.applicationId
    try:
        with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app}{path}", timeout=10
        ) as r:
            return _json.load(r)
    except Exception:
        return None


def _completed_stage_ids(spark) -> set[int]:
    stages = _rest_json(spark, "/stages?status=COMPLETE") or []
    return {s["stageId"] for s in stages}


def _task_skew(
    spark, stage_ids: set[int], wall_ms: float
) -> tuple[float | None, float | None, int, int]:
    """Straggler measurement over the given stages, scoped to what the
    suite actually tests — REDUCER-KEY skew:

    - Eligible stages: >= 8 tasks, >= 50 ms median executorRunTime, AND
      nonzero shuffle-read bytes. A hot reducer key can only manifest in
      a stage that READS a shuffle; map/scan stages see input-file
      layout (a fixture property at this corpus size: single-row-group
      ~600 KB files cannot split), not keys.
    - The headline ("material") ratio is the worst max/median among
      eligible stages whose absolute excess (max - median) is also
      >= 5% of the query's wall time: on ms-scale stages a 50-100 ms
      excess is one GC pause / JIT blip, not a straggler — observed
      bouncing a 60 ms-median stage between ratio 1.0 and 2.3 across
      back-to-back runs while query wall time never moved.

    Returns (worst_material, worst_eligible, eligible_count, seen_count).
    seen_count == 0 means the REST API yielded nothing — a measurement
    FAILURE that must surface as unmeasured, never as a perfect 1.0 (r5
    ADVICE). seen_count > 0 with eligible_count == 0 is the different,
    healthy outcome 'no shuffle-read stage was slow enough to evaluate'
    (warm-JIT medians at this corpus size often sit under 50 ms). The
    unscoped eligible worst is published alongside the headline so the
    scoping hides nothing."""
    worst_any, measured, seen = None, 0, 0
    worst_material = None
    for sid in sorted(stage_ids):
        summary = _rest_json(
            spark, f"/stages/{sid}/0/taskSummary?quantiles=0.0,0.5,1.0"
        )
        if not summary:
            continue
        rt = summary.get("executorRunTime")
        if not rt or len(rt) != 3:
            continue
        seen += 1
        lo, med, hi = rt
        if med < 50.0:
            continue
        stage = _rest_json(spark, f"/stages/{sid}/0") or {}
        if stage.get("numCompleteTasks", 0) < 8:
            continue
        if not stage.get("shuffleReadBytes", 0):
            continue
        measured += 1
        ratio = hi / med
        worst_any = max(worst_any or 1.0, ratio)
        if (hi - med) >= 0.05 * wall_ms:
            worst_material = max(worst_material or 1.0, ratio)
    return (
        None if worst_material is None else round(worst_material, 2),
        None if worst_any is None else round(worst_any, 2),
        measured,
        seen,
    )


def _run_to_sink(df) -> None:
    """Execute the full plan into Spark's no-op sink. This is the honest
    scaling measurement: every operator (including output materialization)
    runs on the executors, but the timing excludes hauling the result set
    into the single Python driver — pair-enumeration ops emit ~1M rows at
    8x, and a driver-side collect() there measures the exact anti-pattern
    (driver as a funnel) a cluster pipeline avoids by writing to a sink."""
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    spark = get_spark("scaling")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.all_queries()
    root = tempfile.mkdtemp(prefix="scaling_")
    rows = []

    def timed(name: str, sf_dir: str) -> float:
        """Warm run (untimed), then MEDIAN of 3 timed runs. The warm run
        absorbs one-time costs the ratio math must not see (codegen
        compile, Python-UDF worker spawn, file listing) -- those inflated
        x1 baselines up to 2-4x in earlier single-run revisions and made
        8x/1x ratios look sub-linear for free. The median absorbs the
        opposite failure: a single timed run occasionally lands on a GC
        pause / page-cache eviction glitch (observed 7x outliers), which
        on an x1 cell again fabricates sub-linearity."""
        _run_to_sink(qs[name](spark, sf_dir))
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            _run_to_sink(qs[name](spark, sf_dir))
            samples.append(time.perf_counter() - t0)
        samples.sort()
        return samples[1]

    # Section gate: SPARK_GRAFT_SCALING_SECTIONS="skew" re-measures only
    # the skew suite and reuses the fact/corpus tables from the existing
    # SCALING.json (a full three-suite run is ~40 min; iterating on the
    # skew measurement must not require repeating it).
    sections = set(
        os.environ.get(
            "SPARK_GRAFT_SCALING_SECTIONS", "fact,corpus,skew"
        ).split(",")
    )

    try:
        for k in (1, 2, 4, 8) if "fact" in sections else ():
            sf_dir = build_scale(spark, root, k)
            # warm listing
            qs["orders_by_status"](spark, sf_dir).collect()
            timings = {}
            for name in QUERIES:
                timings[name] = timed(name, sf_dir)
            rows.append((k, timings))
            print(k, {n: round(v, 2) for n, v in timings.items()}, flush=True)
        corpus_rows = []
        for k in (1, 2, 4, 8) if "corpus" in sections else ():
            sf_dir = build_corpus_scale(spark, root, k)
            # warm file listing AND the Python UDF workers (first
            # pandas_udf call pays worker-pool spawn, ~5 s once per JVM --
            # excluded from timings like the JVM warmup above)
            qs["text_token_stats"](spark, sf_dir).collect()
            qs["simhash_fingerprints"](spark, sf_dir).collect()
            timings = {}
            for name in CORPUS_QUERIES:
                timings[name] = timed(name, sf_dir)
            corpus_rows.append((k, timings))
            print(
                "docs", k, {n: round(v, 2) for n, v in timings.items()},
                flush=True,
            )
        # Skew suite: one skewed corpus at SKEW_K, timed + per-task
        # straggler ratio per query (REST status API; the warm run is
        # excluded by diffing completed-stage ids around the timed run).
        if "skew" not in sections:
            raise NotImplementedError(
                "SPARK_GRAFT_SCALING_SECTIONS must include 'skew' -- "
                "only fact/corpus are reusable from a prior run"
            )
        skew_dir = build_skew_corpus(spark, root, SKEW_K)
        qs["text_token_stats"](spark, skew_dir).collect()
        skew_stats = {}
        for name in SKEW_QUERIES:
            _run_to_sink(qs[name](spark, skew_dir))  # warm
            # Median of 3 measured runs -- same discipline as timed():
            # the per-stage max/median ratio is an EXTREME statistic, and
            # on sub-second stages a single run's worst ratio swings
            # +-0.5 with GC/JIT/scheduler jitter (observed: the same
            # stage measuring 1.0 and 1.9 in back-to-back runs). The
            # median of per-run worsts reports the reproducible
            # straggler, not the unluckiest scheduling event.
            runs = []
            for _ in range(3):
                before = _completed_stage_ids(spark)
                t0 = time.perf_counter()
                _run_to_sink(qs[name](spark, skew_dir))
                sec = time.perf_counter() - t0
                after = _completed_stage_ids(spark)
                material, any_r, n_stages, n_seen = _task_skew(
                    spark, after - before, sec * 1000.0
                )
                # eligible stages measured but none with material excess
                # is itself a MEASURED statement ("no stage's straggler
                # cost >= 5% of wall") and contributes the 1.0 floor --
                # unlike n_seen == 0, which stays unmeasured (the
                # r5-ADVICE distinction).
                if material is None and n_stages > 0:
                    material = 1.0
                runs.append((sec, material, any_r, n_stages, n_seen))
            secs = sorted(r[0] for r in runs)

            def _median(vals):
                vals = sorted(v for v in vals if v is not None)
                return vals[len(vals) // 2] if vals else None

            skew_stats[name] = {
                "sec": round(secs[1], 3),
                # headline: median-of-3 of the per-run worst MATERIAL
                # ratio (shuffle-read stage, excess >= 5% of wall);
                # None = no eligible stage (or unmeasured, see below)
                "worst_task_skew_max_over_median": _median(
                    r[1] for r in runs
                ),
                # transparency: the unscoped worst over ALL eligible
                # shuffle-read stages, jitter included
                "worst_any_stage_ratio": _median(r[2] for r in runs),
                "stages_measured": max(r[3] for r in runs),
                # REST API health: stages whose task summary was fetched
                # at all. 0 here = measurement failure (UNMEASURED);
                # >0 with stages_measured 0 = "no eligible stage",
                # a healthy measured outcome at this corpus size.
                "stages_seen": max(r[4] for r in runs),
                "runs_measured": sum(1 for r in runs if r[3] > 0),
            }
            print("skew", name, skew_stats[name], flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    import json

    def _section(names, section_rows):
        table = {}
        for name in names:
            ts = [dict(r[1])[name] for r in section_rows]
            table[name] = {
                "x1": round(ts[0], 3),
                "x2": round(ts[1], 3),
                "x4": round(ts[2], 3),
                "x8": round(ts[3], 3),
                "ratio_8x_over_1x": round(ts[-1] / ts[0], 2),
            }
        worst_name = max(names, key=lambda n: table[n]["ratio_8x_over_1x"])
        return table, worst_name, table[worst_name]["ratio_8x_over_1x"]

    prev_json = {}
    if "fact" not in sections or "corpus" not in sections:
        with open("SCALING.json") as f:
            prev_json = json.load(f)
    if "fact" in sections:
        fact_table, fact_worst_name, fact_worst = _section(QUERIES, rows)
    else:
        fs = prev_json["fact_suite"]
        fact_table = fs["queries"]
        fact_worst_name = fs["worst_query"]
        fact_worst = fs["worst_ratio_8x_over_1x"]
    if "corpus" in sections:
        corpus_table, corpus_worst_name, corpus_worst = _section(
            CORPUS_QUERIES, corpus_rows
        )
    else:
        cs = prev_json["corpus_suite"]
        corpus_table = cs["queries"]
        corpus_worst_name = cs["worst_query"]
        corpus_worst = cs["worst_ratio_8x_over_1x"]
    cascade_ratio = corpus_table["dedup_cascade_stats"]["ratio_8x_over_1x"]
    vec_cascade_ratio = corpus_table["embedding_dedup_cascade_stats"][
        "ratio_8x_over_1x"
    ]
    sem_direct = corpus_table.get("semantic_dedup_stats", {})
    sem_cascade = corpus_table.get("semantic_dedup_cascade_stats", {})

    lines = [
        "# SCALING — headline queries vs replicated fact-table size",
        "",
        "Fact tables (orders/lineitem/events) replicated k-fold with",
        "shifted keys on top of sf0.1; dims fixed (the realistic shape:",
        "facts grow, dims don't). local[32], times in seconds, warm run",
        "then median of 3, full plan executed into the no-op sink",
        "(executor-side materialization; no driver-side collect in the",
        "timed path).",
        "Machine-readable twin of every number here: SCALING.json.",
        "",
        "| query | 1x | 2x | 4x | 8x | 8x/1x |",
        "|---|---|---|---|---|---|",
    ]
    # A name absent from a REUSED section table (sections gate: the
    # query joined the suite after that section's last full run) is
    # skipped here -- its numbers live in the static authoring-time
    # record until the next full regen picks up the recurring row.
    for name in QUERIES:
        if name not in fact_table:
            continue
        t = fact_table[name]
        lines.append(
            f"| {name} | {t['x1']:.2f} | {t['x2']:.2f} | {t['x4']:.2f} "
            f"| {t['x8']:.2f} | {t['ratio_8x_over_1x']:.1f} |"
        )
    # Verdict sentences are DERIVED from the measured numbers -- the
    # prose must never assert a conclusion the table above contradicts.
    if fact_worst <= 2.0:
        fact_verdict = (
            "far below 8 (linear would be 8): flat-to-sublinear "
            "wall-clock at 8x the data means the extra input splits land "
            "on cores that were idle at 1x — exactly the executor-scaling "
            "behavior the 100 TB design relies on (more data -> more "
            "splits -> more parallel tasks; no super-linear stage, no "
            "driver-side bottleneck)."
        )
    elif fact_worst <= 8.5:
        # <= 8.0 is at-or-below linear; the extra 0.5 is an explicit
        # run-to-run noise margin, and the prose says so rather than
        # calling a above-8 measurement "linear".
        fact_verdict = (
            "approximately linear within measurement noise (8 would be "
            "exactly linear; values up to 8.5 are inside the observed "
            "run-to-run jitter): cores are saturated and wall-clock "
            "tracks input size; no super-linear stage appears."
        )
    else:
        fact_verdict = (
            "ABOVE LINEAR — a super-linear stage (all-pairs join, skewed "
            "reducer, or driver bottleneck) appears at this scale and "
            "needs investigation before trusting the 100 TB story."
        )
    lines += [
        "",
        f"**Worst FACT-TABLE 8x/1x ratio: {fact_worst:.1f}**",
        f"({fact_worst_name}) — {fact_verdict}",
        "Every (query, scale) cell is warm-run-then-timed, so one-time",
        "codegen/UDF-spawn/listing costs never inflate the 1x baseline.",
        "This statement is scoped to the fact-table",
        "suite above; the replicated-corpus suite below is measured and",
        "scoped separately because its adversarial construction grows",
        "OUTPUT quadratically for pair-enumeration ops.",
        "",
        "## LLM-pipeline ops vs replicated documents corpus",
        "",
        "Documents AND embeddings replicated k-fold with shifted ids",
        "(replicas are exact near-dups — the adversarial case for dedup",
        "ops, since every LSH band bucket and decontamination probe hits",
        "all k copies).",
        "",
        "| query | 1x | 2x | 4x | 8x | 8x/1x |",
        "|---|---|---|---|---|---|",
    ]
    for name in CORPUS_QUERIES:
        if name not in corpus_table:
            continue
        t = corpus_table[name]
        lines.append(
            f"| {name} | {t['x1']:.2f} | {t['x2']:.2f} | {t['x4']:.2f} "
            f"| {t['x8']:.2f} | {t['ratio_8x_over_1x']:.1f} |"
        )
    lines += [
        "",
        f"**Worst CORPUS 8x/1x ratio: {corpus_worst:.1f}**",
        f"({corpus_worst_name}). Replicating the corpus k-fold grows",
        "every duplicate group k-fold, so ops that ENUMERATE near-dup",
        "pairs (minhash candidates, simhash pairs, embedding near-dup",
        "pairs) and the edge sets under cluster propagation have OUTPUT",
        "growing k^2 (64x rows at 8x input) — a wall-clock ratio above 8",
        "on those reflects quadratic output, not a broken plan (blocking",
        "keeps all joins bucket-local; nothing all-pairs). Per-row-output",
        "ops (scan/score/pack) stay at-or-below linear.",
        "",
        "The production answer to quadratic pair output is the cascade,",
        "and it is now measured, not asserted: dedup_cascade_stats runs",
        "exact dedup FIRST (each replica group collapses to one",
        "representative), then MinHash-LSH pairing over representatives",
        f"only — its 8x/1x ratio is {cascade_ratio:.1f}, tracking the",
        "DISTINCT-document count (constant here) plus the linear exact-",
        "dedup shuffle, while the direct pair-enumeration ops above it",
        "grow with the replica-pair count. The embedding twin",
        "(embedding_dedup_cascade_stats: quantized-fingerprint exact",
        "dedup, then banded LSH pairing over representatives) measures",
        f"{vec_cascade_ratio:.1f} against the direct",
        "embedding_near_dup_pairs' replica-quadratic growth. On a real",
        "corpus the cascade is the shape to run: pair enumeration never",
        "sees an exact-duplicate clique.",
        "",
        "The semantic-dedup pair (r8) is the same lesson at its",
        "starkest, because SemDeDup's within-cluster join scores EVERY",
        "surviving pair (no banding): the direct semantic_dedup_stats",
        "concentrates all k replicas of a vector into one k-means",
        "cluster, so its pair work grows k^2"
        + (
            f" (measured {sem_direct.get('ratio_8x_over_1x', 0):.1f}x"
            f" wall at 8x)"
            if sem_direct
            else ""
        )
        + ", while semantic_dedup_cascade_stats collapses each clique",
        "to one representative first and stays flat"
        + (
            f" ({sem_cascade.get('ratio_8x_over_1x', 0):.1f}x)."
            if sem_cascade
            else "."
        )
        + " The direct op is kept REGISTERED deliberately: it is the",
        "adversarial yardstick the cascade is measured against, and on",
        "a real (non-fully-replicated) corpus its within-cluster",
        "quadratic is bounded by the cluster-size knob k (and by the",
        "max_cluster_pair_members cap for callers that want the direct",
        "shape in production, clustering.py).",
        "",
        "## r12 residue audit — the 1.8-2.2 corpus ratios, measured",
        "",
        "The r11 sub-2x stragglers were stage-audited (REST stage",
        "metrics + intermediate-cardinality counts, this round):",
        "",
        "- embedding_kmeans_profile (was 2.2): the r11 'plan",
        "  construction' attribution was WRONG and is retracted -- a",
        "  checkpointed-centroid variant (collapsed Lloyd lineage) was",
        "  built and measured NO faster (5.38 vs 5.16 s at 8x). The",
        "  stage audit found the truth: the two assignment scans",
        "  carried 23.1 s of the op's 23.9 s executor CPU (n*k*dim",
        "  distance folds; k grows with n by the corpus-derived-k rule)",
        "  on only EIGHT tasks at 8x and ONE at 1x -- the persisted",
        "  vector frame inherited file-count partitioning. Fix shipped:",
        "  _kmeans_state_frames repartitions to defaultParallelism",
        "  before the persist; re-measured 8x/1x = 1.2 (2.90 s vs",
        "  2.47 s), oracles unchanged (6-query targeted sim MATCH).",
        "- minhash_estimate_calibration (was 2.0) and",
        "  train_test_leakage_scan (was 1.8): both ride the shared LSH",
        "  candidate stream, whose cardinality on the fully-replicated",
        "  corpus grew 284 -> 158,176 pairs (557x) at 8x -- every",
        "  replica pair is a candidate. Walls re-measured 1.2x and",
        "  1.5x against that 557x intermediate: the plans are",
        "  emphatically sublinear in the true work driver; the r11",
        "  ratios were absolute-small-number epoch noise, and the class",
        "  is quadratic-INTERMEDIATE (bounded output), cascade-shaped",
        "  in production like everything else in this section.",
        "- winnowing_neardup_pairs (was 1.9): OUTPUT rows grew 271 ->",
        "  28,332 (105x) at 8x -- replicas share every fingerprint, so",
        "  this op belongs to the documented quadratic-OUTPUT class",
        "  (same as shingle_containment_pairs); its wall ratio (1.9 in",
        "  the audit epoch, 2-3 across epochs) prices 105x more output",
        "  rows, not a plan defect. The production shape collapses",
        "  exact replicas first (cascade) so the pair stage never sees",
        "  the clique.",
        "- lonely_late_supplier (read 2.7 in one epoch): the double",
        "  countDistinct made Catalyst Expand-triple every lineitem row",
        "  before the orderkey shuffle. Re-planned as an explicit",
        "  two-level aggregate (distinct (orderkey, suppkey) pairs",
        "  first, then plain counts): A/B-measured 1.7x faster at both",
        "  1x and 8x (2.03->1.20 s, 2.83->1.73 s medians, identical",
        "  results), shipped in relational.py.",
        "",
        "## r13 persist-site audit — the k-means cache bug class, swept",
        "",
        "The r12 k-means fix defined a bug class (a persisted frame",
        "inheriting file-count partitioning serializes its hottest",
        "consumer stage); r12 VERDICT item 4 asked for a sweep of every",
        "persist/cache call site. All 14 sites audited; verdicts:",
        "",
        "| site | partitioning source | verdict |",
        "|---|---|---|",
        "| clustering _kmeans_state_frames | explicit repartition"
        " (r12 fix) | OK |",
        "| clustering semantic stats/capped/apply (3) | inherits the"
        " r12 repartition | OK |",
        "| clustering cascade reps assignment | fp-window shuffle +"
        " internal repartition | OK |",
        "| clustering cascade fingerprint frame g | WAS file-count:"
        " every _vec_fp/_dvec on ONE task | FIXED r13 (_fp_vectors) |",
        "| clustering _ann_ivf_frame assigned | inherits the r12"
        " repartition | OK |",
        "| linalg PI/PCA vector frame (2) | WAS file-count: every"
        " iterated corpus pass on ONE task | FIXED r13 (_pi_vectors) |",
        "| linalg PCA defl | narrow over the fixed emb | OK |",
        "| tokenizer symbols (3) | groupBy(word) shuffle | OK |",
        "",
        "Pinned by tests/test_plans.py::test_persisted_corpus_frames_",
        "run_at_full_parallelism on the REAL builders: >=",
        "defaultParallelism partitions AND the heavy projection above",
        "the exchange (the cache-build pass itself must run wide).",
        "Wall effect MEASURED, not asserted: a focused idle A/B",
        "(2 whole-process runs per revision, 1x/8x corpus, 3-run",
        "medians) shows every delta inside the +-1-3 s process noise",
        "of these iterative ops (PI x1 post {4.67, 4.50} vs pre",
        "{3.16, 4.44}; PCA x8 post {10.56, 9.77} vs pre {8.78,",
        "12.45}; cascade x8 post {3.28, 3.77} vs pre {2.79, 3.52}) --",
        "unlike k-means (n*k*dim CPU-bound, an 8x wall win), PI/PCA",
        "passes are n*dim over <=40k fixture vectors, so serialized-",
        "task cost and 32-task scheduling overhead trade within noise.",
        "Shipped because it is plan-correct at 100 TB (a cached",
        "training frame's partition count must come from an explicit",
        "exchange or the scan's own input splits, never from however",
        "many files a small upstream wrote) and measured to cost",
        "nothing at fixture scale.",
        "",
        "## r13 new ops — measured at authoring time, in the suite",
        "",
        "leakage_safe_split_stats and cross_source_dup_matrix joined",
        "CORPUS_QUERIES this round; their authoring-time focused",
        "measurement (same protocol): split 4.55 -> 4.14 s (ratio",
        "0.91 -- rides the cascade core, cost tracks DISTINCT docs);",
        "matrix 1.90 -> 2.60 s (ratio 1.37 against a quadratic",
        "candidate blow-up on the fully-replicated corpus -- the same",
        "sublinear-in-true-work behavior as train_test_leakage_scan's",
        "1.5x against 557x candidates). Recurring rows above.",
        "",
        "## r14: two-level sqrt-k k-means — crossover measured, not",
        "asserted",
        "",
        "embedding_kmeans_twolevel_profile (the extreme-n refinement of",
        "the linear-k rule; r13 VERDICT item 4) joined CORPUS_QUERIES",
        "this round. Its authoring-time A/B vs embedding_kmeans_profile",
        "(same protocol: warm + median-of-3 into the noop sink, idle",
        "machine, calib 113.6 ms epoch) measured the crossover the flop",
        "arithmetic predicts (linear-k assignment is n*(n/target)*dim",
        "folds -- wall grows ~n^2 once k leaves the k=8 floor; the",
        "two-level scheme is ~2n*sqrt(n/target)*dim -- wall ~n^1.5):",
        "",
        "| corpus | n | linear-k (k) | two-level (k1) | two-level vs linear |",
        "|---|---|---|---|---|",
        "| x1 | 2,000 | 1.72 s (8) | 2.13 s (3) | 0.8x (slower) |",
        "| x8 | 16,000 | 2.35 s (64) | 2.22 s (8) | parity (1.06x) |",
        "| x32 | 64,000 | 15.78 s (256) | 5.76 s (16) | **2.7x faster** |",
        "| x64 | 128,000 | 47.16 s (512) | 9.30 s (23) | **5.1x faster** |",
        "",
        "These are FIXED-plan numbers: the first authoring-time pass",
        "measured the two-level side at 3.5/5.2/6.7/13.1 s (git",
        "history), then the audit found the seed-array join's",
        "AQE-coalesced output serializing every fine-frame consumer",
        "onto ONE task (12.7 vs 1.3 s for the same 268k-pair cos stage",
        "-- the r12 k-means cache bug class in AQE-coalesced-join",
        "clothing). The fix is the established discipline: an explicit",
        "AQE-exempt repartition on the (cluster, sub) leaf key, which",
        "also co-partitions exactly what every consumer joins/groups",
        "on; pinned by a partition-count assert in tests/test_plans.py.",
        "",
        "Honest read, both directions: BELOW the crossover the",
        "two-level variant still loses slightly (extra level-2 stages",
        "dominate sub-second assignment work), so the linear-k rule",
        "remains the registered default at fixture scale. ABOVE it the",
        "linear-k wall bends quadratic exactly as predicted (x32 -> x64",
        "doubles n, wall grows 3.0x) while the two-level wall grows",
        "1.6x on the same doubling -- at n = 1e9 (100 TB embeddings)",
        "linear-k means 4M broadcast centroids and is simply",
        "infeasible; two-level means k1 ~ 2000 coarse + per-cluster",
        "sub-seeding and stays the shape of the registered op. The",
        "flop-count claim is pinned executable by",
        "tests/test_r14_ops.py::test_twolevel_kmeans_does_less_",
        "assignment_work; both ops are hash-exact against unrolled",
        "DuckDB oracles, so the A/B compares identical semantics.",
        "",
        "The family's pruning stage is measured on the same fixed",
        "plan: semantic_dedup_twolevel_stats (SemDeDup within",
        "(cluster, sub) leaves) reads 6.71 -> 36.43 s (ratio 5.4) on",
        "the fully-replicated corpus -- the SAME adversarial",
        "concentration class as the direct semantic_dedup_stats",
        "yardstick (every replica clique ties to one leaf seed), NOT a",
        "plan defect; on spread-out data leaves track density at",
        "~target vectors. Production discipline unchanged: cascade's",
        "exact-collapse first, or the hash cap for hard bounds.",
        "",
        "## r15 new ops — measured at authoring time, in the suite",
        "",
        "Six ops joined CORPUS_QUERIES this round; authoring-time",
        "focused measurement (same protocol: warm + median-of-3, 1x vs",
        "8x fully-replicated corpus, idle machine):",
        "",
        "| op | 1x | 8x | ratio | why |",
        "|---|---|---|---|---|",
        "| ann_filtered_topk | 2.28 s | 3.66 s | 1.61 | linear-k index"
        " build (n*k assignment grows with k = n/target) + payload"
        " join; probe stays n_probes/k |",
        "| ann_filtered_recall | 3.11 s | 4.57 s | 1.47 | adds one"
        " filtered brute-force pass (linear) to the probe above |",
        "| cluster_balanced_sample_stats | 2.60 s | 3.22 s | 1.24 |"
        " two-level index (~n^1.5 assignment) + ONE leaf-keyed window"
        " (leaves stay ~target rows by construction) |",
        "| soft_dedup_weights_stats | 0.40 s | 0.55 s | 1.38 | one"
        " fingerprint-keyed window + source rollup; no pairs, no"
        " collapse |",
        "| ann_index_incremental_assign | 1.97 s | 3.30 s | 1.68 |"
        " index build on the 7/8 base + a DELTA-only assignment pass"
        " (the point: re-clustering is I full passes; the delta pass"
        " is |delta|*k*dim) |",
        "| mixture_temperature_sweep | 0.48 s | 0.48 s | 1.00 | one"
        " tokenize rollup to #sources rows; the tau grid multiplies a"
        " source-cardinality frame, never the corpus |",
        "",
        "All six track the corpus pass (or the index build whose k",
        "grows by the linear-k rule), never a pair square: worst",
        "authoring-time ratio 1.68x wall on 8x data (the recurring",
        "rows above re-measure each round; the full r15 sweep read",
        "1.8 for the filtered top-k -- same class, same epoch).",
        "",
        "## r16 new ops — measured at authoring time, in the suite",
        "",
        "Six ops joined CORPUS_QUERIES this round; authoring-time",
        "focused measurement (same protocol: warm + median-of-3, 1x vs",
        "8x fully-replicated corpus, idle machine):",
        "",
        "| op | 1x | 8x | ratio | why |",
        "|---|---|---|---|---|",
        "| ann_twolevel_filtered_recall | 4.85 s | 5.87 s | 1.21 |"
        " two-level index build + bounded leaf probe + one filtered"
        " brute-force pass -- all corpus-pass class |",
        "| ann_twolevel_probe_sweep | 4.04 s | 4.54 s | 1.12 | one"
        " leaf pass at the widest probe serves every width (the grid"
        " is a 4-row broadcast range join) |",
        "| ann_twolevel_batch_recall | 3.67 s | 4.38 s | 1.19 | index"
        " built once for B=8 queries; only the EVAL's exact side pays"
        " n*B cosines |",
        "| pq_adc_topk_recall | 9.09 s | 10.91 s | 1.20 | joinless"
        " encode/ADC scan (codebook+query as literals); 1x floor is"
        " the 4x8 argmin-struct codegen |",
        "| greedy_kcenter_sample | 2.62 s | 2.45 s | 0.94 | one"
        " corpus pass per pick (running min-dist + 1-row broadcast"
        " center) + joinless argmin assignment |",
        "| data_constrained_epochs | 0.66 s | 0.54 s | 0.82 | one"
        " tokenize rollup to #sources rows, then literal arithmetic |",
        "",
        "Same round, the pair-join FLOP cut: _cos_pre extends the",
        "_embed_candidate_pairs precomputed-norm discipline (one",
        "64-dim fold per VECTOR below the join, one dot fold per PAIR",
        "instead of three) to the whole semantic-dedup family and the",
        "decontamination/eval rescoring joins, and the loop-invariant",
        "QUERY norm now rides the broadcast row on every exact-scan",
        "eval side (two folds per scanned row, not three). Measured on",
        "the 8k-vector spread corpus: semantic_dedup_twolevel_stats",
        "26.7 -> 8.7 s (3.1x), bit-identical values (all affected",
        "oracles MATCH, crafted zero-norm suite green). The recurring",
        "corpus rows above re-price the family this round.",
        "",
        "## r18 stage audit — the PQ-family 9 s constant, re-attributed",
        "",
        "cProfile on the warm registered op put 8.8 s of",
        "pq_adc_topk_recall's 11.2 s wall INSIDE _pq_adc_scored's",
        "Python expression loops: ~52k py4j gateway round-trips",
        "building the literal encode tree (every F.lit / - / * is a",
        "JVM call). Execution of the encode scan itself is",
        "sub-second, so the r16/r17 'argmin-struct codegen floor'",
        "diagnosis was wrong -- the wall was DRIVER-side plan",
        "construction, invisible to stage metrics because it happens",
        "before any job starts. Fixes, all answers bit-identical:",
        "(1) shared persisted frames per op -- the repartitioned",
        "corpus, the (vec_id, adc_dist) encode output (one scan for",
        "both top-k heads + the scanned count), and the (vec_id,",
        "true_dist) truth frame (exact top-k and the broadcast-",
        "restricted re-rank); (2) the expression tree built as ONE",
        "SQL string per projection (selectExpr/F.expr), same shape,",
        "same folds, query-to-codeword table pre-folded in Python",
        "(same IEEE ops in the same order Catalyst folded them).",
        "Measured 3-run medians: pq_adc_topk_recall 8.96 -> 2.12 s",
        "(1x) / 2.05 s (8x); ann_ivfpq_topk_recall 9.89 -> 2.81 s",
        "(1x) / 2.95 s (8x). Same fix applied to pq_codebook_stats",
        "and the SQL-side LSH _bucket (8 planes x 64 literals, ~0.9 s",
        "of construction at each of four ANN call sites). The",
        "recurring corpus rows above re-price the family this round.",
        "",
        "## Skew suite — zipf-hot key, per-task straggler ratio",
        "",
        f"One hot key replicated {SKEW_K}x while the rest stays 1x",
        "(documents: lang='en' -> ~85% of rows; embeddings: label=2 ->",
        "~49%). For each query: wall time on the skewed corpus and the",
        "worst per-task max/median executorRunTime, scoped to what the",
        "suite tests — REDUCER-KEY skew. Eligible stages have >= 8",
        "tasks, >= 50 ms median, and nonzero shuffle-read bytes (a hot",
        "key can only manifest in a stage that reads a shuffle; scan",
        "stages see input-file layout, which at this corpus size is a",
        "fixture property — single-row-group ~600 KB files cannot",
        "split). The HEADLINE column additionally requires the excess",
        "(max - median) to be >= 5% of query wall time: a 50-100 ms",
        "excess on a 60 ms-median stage is one GC pause (observed",
        "bouncing ratio 1.0 <-> 2.3 across back-to-back runs), not a",
        "straggler; 'none' means stages were measured and no straggler",
        "cost >= 5% of wall. The unscoped 'any stage' column publishes",
        "the jitter-included worst so the scoping hides nothing. All",
        "numbers are medians of 3 measured runs. Keys here are",
        "content-derived (fingerprint, band hash, shard hash), so a hot",
        "LABEL must not become a hot PARTITION; the cascade ops",
        "additionally collapse the replicas before any pair join.",
        "",
        "| query | sec | material straggler (headline) | any stage "
        "(jitter incl.) | shuffle stages |",
        "|---|---|---|---|---|",
        *[
            f"| {n} | {s['sec']:.2f} "
            + (
                f"| {s['worst_task_skew_max_over_median']:.1f} "
                if s["worst_task_skew_max_over_median"] is not None
                else (
                    "| no eligible stage "
                    if s["stages_seen"] > 0
                    else "| UNMEASURED "
                )
            )
            + (
                f"| {s['worst_any_stage_ratio']:.1f} "
                if s["worst_any_stage_ratio"] is not None
                else "| - "
            )
            + f"| {s['stages_measured']} |"
            for n, s in skew_stats.items()
        ],
        "",
    ]
    # A query whose stages couldn't be measured (REST API down, no
    # qualifying stage) is EXCLUDED from the max and called out loudly —
    # never folded in as a perfect 1.0 (r5 ADVICE).
    _skews = [
        s["worst_task_skew_max_over_median"]
        for s in skew_stats.values()
        if s["worst_task_skew_max_over_median"] is not None
    ]
    _unmeasured = sorted(
        n
        for n, s in skew_stats.items()
        if s["worst_task_skew_max_over_median"] is None
        and s["stages_seen"] == 0
    )
    _no_eligible = sorted(
        n
        for n, s in skew_stats.items()
        if s["worst_task_skew_max_over_median"] is None
        and s["stages_seen"] > 0
    )
    skew_worst = max(_skews) if _skews else None
    _any_worst = max(
        (
            s["worst_any_stage_ratio"]
            for s in skew_stats.values()
            if s["worst_any_stage_ratio"] is not None
        ),
        default=None,
    )
    if skew_worst is not None:
        lines.append(
            f"**Worst material task-skew ratio: {skew_worst:.1f}**"
            " (a ratio near 1 means no straggler whose cost is"
            " noticeable at query level; AQE skew-join splitting plus"
            " content-hash keys absorb the hot label)."
            + (
                f" Unscoped any-stage worst incl. jitter: {_any_worst:.1f}."
                if _any_worst is not None
                else ""
            )
        )
    else:
        lines.append(
            "**Worst task-skew ratio: UNMEASURED** — no query produced a"
            " qualifying stage (REST status API unreachable?); the skew"
            " claim is NOT established by this run."
        )
    if _unmeasured and skew_worst is not None:
        lines.append(
            f"Unmeasured (excluded from the max): {', '.join(_unmeasured)}."
        )
    if _no_eligible:
        lines.append(
            "No eligible stage (every shuffle-read stage finished under "
            "the 50 ms-median bar — nothing slow enough for a hot key "
            f"to skew): {', '.join(_no_eligible)}."
        )
    # Static measured-decision record (r7): regenerating this file must
    # not erase the span shuffle-key A/B/C, which was a one-off
    # instrumented measurement (REST stage metrics over three plan
    # variants), not part of the recurring suites above.
    lines += [
        "",
        "## Shuffle-key shape for repeated_span_examples — measured"
        " A/B/C (r7)",
        "",
        "The r6 review suggested halving this query's shuffle bytes by",
        "grouping on `md5(span)` and carrying the span text as a",
        "`first()` exemplar. Measured at sf0.1 (32 cores, REST stage",
        "metrics over the exact query plans, outputs verified identical",
        "in all three variants):",
        "",
        "| variant | shuffle write bytes | vs raw-key | wall |",
        "|---|---|---|---|",
        "| raw span as group key (shipped) | 15.4 MB | 1.0x | 2.0 s |",
        "| md5 key + first(span) exemplar | 30.9 MB | **2.01x** | - |",
        "| hash-only 2-pass, winners broadcast-joined back over a"
        " re-scan | 20.9 MB | **1.36x** | 6.2 s |",
        "",
        "The intuition fails because the span must still cross the",
        "shuffle as aggregation payload in the exemplar variant — the",
        "32-byte hex key is pure addition on top of it — and an 8-token",
        "span (~40-50 B) is barely longer than a 16-byte binary hash",
        "plus per-row overhead, so even the payload-free two-pass loses",
        "once its second tokenize+explode scan and winner join-back",
        "shuffles are counted. Span-as-key is the minimal-shuffle shape",
        "for this operator at any corpus scale whose spans are O(tens",
        "of bytes); the suggestion was tried, measured, and reverted",
        "rather than shipped on intuition.",
    ]
    with open("SCALING.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    with open("SCALING.json", "w") as f:
        json.dump(
            {
                "sf_base": 0.1,
                "scales": [1, 2, 4, 8],
                "fact_suite": {
                    "queries": fact_table,
                    "worst_ratio_8x_over_1x": fact_worst,
                    "worst_query": fact_worst_name,
                },
                "corpus_suite": {
                    "queries": corpus_table,
                    "worst_ratio_8x_over_1x": corpus_worst,
                    "worst_query": corpus_worst_name,
                    "cascade_ratio_8x_over_1x": cascade_ratio,
                    "embedding_cascade_ratio_8x_over_1x": vec_cascade_ratio,
                    "corpus_build_ratio_8x_over_1x": corpus_table[
                        "corpus_build_pipeline"
                    ]["ratio_8x_over_1x"],
                },
                "skew_suite": {
                    "hot_keys": {
                        "documents": "lang='en' replicated 8x (~85% of rows)",
                        "embeddings": "label=2 replicated 8x (~49% of rows)",
                    },
                    "queries": skew_stats,
                    "worst_task_skew_max_over_median": skew_worst,
                    "worst_any_stage_ratio": _any_worst,
                    "unmeasured_queries": _unmeasured,
                    "no_eligible_stage_queries": _no_eligible,
                },
            },
            f,
            indent=2,
        )
        f.write("\n")
    print("wrote SCALING.md + SCALING.json")


if __name__ == "__main__":
    main()
