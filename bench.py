"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value", "unit": "sec", "queries": {...}, "sf"}.

Mirrors the reference's performance-comparison harness
(scripts/performance-with-timing.sh): the medallion build is SETUP (the
reference materializes silver/gold via iceberg-setup.sql before timing),
then the same group-by is timed against each layer -- raw scan
(2-5 s band), materialized silver (0.5-2 s band), materialized gold
(10-50 ms band) -- plus the heaviest fact-table queries from the suite
(compare-query-performance.sql Tests 1-4 shapes).

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
everywhere else in this suite. ``gold_reagg_planned`` (added r6) is the
plan-each-time row that keeps the per-query Catalyst planning floor
visible next to the prepared variants.

Also published per run (added r6): an ``llm_suite`` block timing the
flagship corpus operators (cascade dedup, corpus build, embedding
near-dup pairs, decontamination) with the same median+IQR+delta
treatment, and a machine-state ``context`` fingerprint with a fixed
CPU-calibration loop (see BENCH_NOTES.md for the cross-round
comparison rule).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from apache_iceberg_with_clickhouse_olake_spark.operators import registry
from apache_iceberg_with_clickhouse_olake_spark.session import (
    default_parallelism,
    get_spark,
)

def _env_fingerprint() -> dict:
    """Machine-state snapshot published with every bench artifact, so a
    cross-round delta can be attributed (or not) to environment drift:
    r5's +29% total on unchanged queries had no such evidence and was
    flagged as regression-until-attributed by the r5 verdict. Captures
    CPU frequency/governor (absent on this VM -- recorded as null),
    PSI CPU pressure, page-cache state, and load."""
    ctx: dict = {
        "loadavg_1m": round(os.getloadavg()[0], 2),
        "cpus": os.cpu_count(),
    }

    def _read(path: str) -> str | None:
        try:
            with open(path) as f:
                return f.read().strip()
        except OSError:
            return None

    ctx["cpufreq_governor"] = _read(
        "/sys/devices/system/cpu/cpu0/cpufreq/scaling_governor"
    )
    cur = _read("/sys/devices/system/cpu/cpu0/cpufreq/scaling_cur_freq")
    ctx["cpufreq_cur_mhz"] = round(int(cur) / 1000) if cur else None
    # PSI: "some avg10=X avg60=Y avg300=Z total=N" -- avg10/avg60 capture
    # contention during (and just before) this run.
    psi = _read("/proc/pressure/cpu")
    if psi:
        first = psi.splitlines()[0].split()
        ctx["psi_cpu"] = {
            k: float(v)
            for k, v in (p.split("=") for p in first[1:])
            if k.startswith("avg")
        }
    meminfo = _read("/proc/meminfo")
    if meminfo:
        want = {"MemAvailable", "Cached", "Buffers"}
        for line in meminfo.splitlines():
            key = line.split(":")[0]
            if key in want:
                ctx[f"{key.lower()}_mb"] = round(
                    int(line.split()[1]) / 1024
                )
    bogo = None
    cpuinfo = _read("/proc/cpuinfo")
    if cpuinfo:
        for line in cpuinfo.splitlines():
            if line.lower().startswith("bogomips"):
                bogo = float(line.split(":")[1])
                break
    ctx["bogomips"] = bogo
    # Fixed CPU-bound calibration: wall time of a deterministic Python
    # loop. Identical work every round, so a shift here IS machine-speed
    # drift (sandbox throttling, noisy neighbor) and scales any
    # cross-round query delta before calling it a regression.
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(2_000_000):
            acc += i * i
        best = min(best, time.perf_counter() - t0)
    ctx["calib_spin_ms"] = round(best * 1000, 1)
    return ctx


def _load_prev_artifact(here: str) -> tuple[dict | None, str | None]:
    """Newest usable BENCH_r*.json record, walking backward.

    The driver wraps bench stdout as {"parsed": <dict|null>, "tail":
    <last 2000 chars>}. When "parsed" is null because the JSON line
    outgrew the tail (r6 lost exactly its 12-char '{"metric": "'
    prefix), reconstruct it from the tail before falling back to an
    older round -- otherwise a single overlong round would silently
    shift every later delta's baseline."""
    import glob

    for path in sorted(
        glob.glob(os.path.join(here, "BENCH_r*.json")), reverse=True
    ):
        try:
            with open(path) as f:
                raw = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        if not isinstance(raw, dict):
            continue
        rec = raw.get("parsed")
        if rec is None:
            tail = raw.get("tail")
            if isinstance(tail, str) and tail.strip():
                last = tail.strip().splitlines()[-1]
                for cand in (last, '{"metric": "' + last):
                    try:
                        rec = json.loads(cand)
                        break
                    except json.JSONDecodeError:
                        continue
        if rec is None and "value" in raw and "queries" in raw:
            rec = raw  # a bare (non-driver-wrapped) bench record
        if isinstance(rec, dict) and isinstance(
            rec.get("value"), (int, float)
        ):
            return rec, os.path.basename(path)
    return None, None


# Wide-band ops (r14 VERDICT item 4): names whose SAME-CODE envelope
# span exceeds ~25% of their median, applied from the measured
# envelope data (BENCH_NOTES.md). The dual gate judges in-span deltas
# on these "wide_band" instead of regression/improvement -- such
# deltas are resolvable only from interleaved whole-process repeats
# (scripts/ab_dsir.py shape), never from one in-probe sample.
#
# r16 (r15 ADVICE): the tag is NOT a permanent exemption. Two rules:
# (1) Escape hatch -- a reading whose raw AND machine-normalized
#     values both land OUTSIDE the op's measured same-code ABSOLUTE
#     band (band_s, widened 15%/-15% for the 16-sample tail) still
#     flags as regression/improvement: the band explains within-band
#     noise, never a reading beyond anything same-code ever produced.
#     (The first r16 formulation scaled span_frac off the PREVIOUS
#     round's single in-probe sample -- which sits anywhere inside the
#     band, so a legitimate band-top reading false-flagged; absolute
#     bounds are sample-point-independent.)
# (2) Sunset -- membership must be re-confirmed from the latest
#     same-code envelope sessions under the two-observation rule
#     (BENCH_NOTES close-out); a tag whose last confirming observation
#     is two rounds stale is dropped at close-out, not carried.
# band_s = [min, max] seconds over the r16 same-code envelope
# sessions; span_frac = the largest relative span observed;
# confirmed = the round of the latest observation.
# All nine r16 tags RE-CONFIRMED at r17 under the tighter 7-run-median
# instrument (r16 VERDICT item 4): every tag still shows >= 25% span in
# at least one same-code session, so none hit the retirement line.
# Bands below are min/max over the r17 16-run envelope (sessions A/B at
# rev 02a9d4c; A contains one visibly ambient run, calib 160.9).
WIDE_BAND = {
    "embedding_near_dup_pairs": {
        "band_s": [0.844, 1.276],
        "span_frac": 0.44,
        "confirmed": 18,
        "evidence": (
            "r13 ~57%; r15 27%/26%; r16 42%/107%; r17 7-run 37%/51%; "
            "r18 7-run 39%/44%"
        ),
    },
    "leakage_safe_split_stats": {
        "band_s": [3.049, 4.203],
        "span_frac": 0.38,
        "confirmed": 18,
        "evidence": (
            "r14 ~35%; r15 33%/19%; r16 37%/52%; r17 7-run 37%/33%; r18 "
            "7-run 19%/38%"
        ),
    },
    "semantic_dedup_cascade_stats": {
        "band_s": [3.020, 4.089],
        "span_frac": 0.26,
        "confirmed": 18,
        "evidence": (
            "r15 84%/55%; r16 48%/151%; r17 7-run 23%/50%; r18 7-run "
            "18%/26% -- RETIREMENT CANDIDATE at r19: one session under "
            "the line two rounds running; retire if both r19 spans land "
            "under 25%"
        ),
    },
    "doc_contamination_fraction": {
        "band_s": [1.406, 1.905],
        "span_frac": 0.31,
        "confirmed": 18,
        "evidence": (
            "r15 45%/45%; r16 48%/159%; r17 7-run 29%/46%; r18 7-run "
            "22%/31%"
        ),
    },
    "dedup_cascade_stats": {
        "band_s": [1.479, 1.925],
        "span_frac": 0.29,
        "confirmed": 18,
        "evidence": (
            "r15 33%/38%; r16 41%/83%; r17 7-run 50%/66%; r18 7-run "
            "29%/29%"
        ),
    },
    "source_unigram_kl": {
        "band_s": [0.553, 0.925],
        "span_frac": 0.67,
        "confirmed": 18,
        "evidence": (
            "r15 45%/25%; r16 37%/16%; r17 7-run 32%/34% (the r16 "
            "0.80/0.90 flag adjudication lives in BENCH_NOTES r17); r18 "
            "7-run 29%/67% (the 0.925 max sat in B3, a normal-total "
            "run -- op-intrinsic tail, the tag's reason to exist)"
        ),
    },
    "corpus_build_pipeline": {
        "band_s": [1.145, 1.671],
        "span_frac": 0.41,
        "confirmed": 18,
        "evidence": (
            "r15 single post-fix 63%; r16 33%/41%; r17 7-run 40%/40%; "
            "r18 7-run 31%/41%"
        ),
    },
    "dsir_importance_weights": {
        "band_s": [2.318, 3.359],
        "span_frac": 0.37,
        "confirmed": 18,
        "evidence": (
            "r15 24%/25%; r16 25%/37% + one in-band in-probe flag; r17 "
            "7-run 38%/30%; r18 7-run 34%/37%"
        ),
    },
    # semantic_dedup_twolevel_stats RETIRED r18 (the first sunset-rule
    # retirement): r17 7-run spans 21%/26%, r18 7-run spans 23%/24% --
    # both r18 sessions under the 25% line (medians 3.285/3.954). The
    # op re-enters the normal dual gate; history preserved here so a
    # re-widening has its record.
    "semantic_dedup_twolevel_spread": {
        "band_s": [6.237, 11.468],
        "span_frac": 0.73,
        "confirmed": 18,
        "evidence": (
            "ADMITTED r18 on the three-round straddle record (the "
            "committed third-straddle decision): r16 36%/24%, r17 "
            "28%/19%, r18 12%/73% -- never both-sessions >= 25% in "
            "one round, but 4 of 6 session spans >= 24% and the r18 "
            "B-session max (11.47 s) landed inside the session-MIN "
            "total run, so the variance is op-intrinsic on the "
            "setup-built spread corpus, not ambient; the suite's "
            "largest row gates against its measured band from now on"
        ),
    },
}


HEADLINE = (
    "orders_by_status",       # Test 1: raw group-by (the 2-5 s band shape)
    "monthly_revenue",        # Test 2: month x status rollup
    "high_value_orders",      # Test 3: multi-predicate filter
    "unique_customers",       # Test 4: exact distinct
    "gold_order_metrics",     # medallion gold build (raw -> gold pipeline)
    "gold_reaggregate",       # gold re-agg recomputed from raw
    "pricing_summary",        # biggest fact scan (TPC-H Q1 shape)
    "segment_lineitem_revenue",  # biggest shuffle join
    "revenue_by_nation",      # star join
    "daily_active_users",     # events rollup
)


# --- LLM-pipeline suite (r5 verdict item 5): the corpus operators
# only appeared in SCALING.md, which is re-measured sporadically and
# carries no delta_vs_prev -- a regression in the flagship pipeline
# could hide between re-measurements. Same median+IQR+delta treatment
# as the headline suite, on the same sf dir. Module-level (hoisted r17)
# so the envelope-staleness check in tests/test_bench_gates.py can
# resolve the benched modules without executing main().
LLM_SUITE = (
    "dedup_cascade_stats",      # exact->LSH cascade over documents
    "corpus_build_pipeline",    # flagship: filter->dedup->decontam->mix->pack
    "embedding_near_dup_pairs",  # banded hyperplane-LSH pair join
    "decontamination_scan",     # broadcast probe-set anti-join
    # r7: the decision-side contamination op (per-doc fractions) --
    # a new name, so the llm delta/verdict blocks (intersection-
    # based) simply skip it until both rounds carry it
    "doc_contamination_fraction",
    # r8: the cluster-then-prune flagship (exact-collapse -> k-means
    # over representatives -> within-cluster SemDeDup) -- new name,
    # same intersection-skip on its first round
    "semantic_dedup_cascade_stats",
    # r9: the data-selection flagship (DSIR hashed-ngram importance
    # weights; one corpus tokenize+hash pass + broadcast ratio
    # table) -- new name, intersection-skip on its first round
    "dsir_importance_weights",
    # r11: the corpus-drift flagship (per-source unigram KL over a
    # localCheckpoint superstep; marginals are re-aggregations of
    # one tokenize pass) -- new name, intersection-skip on its
    # first round
    "source_unigram_kl",
    # r13: the eval-integrity flagship (cluster-keyed leakage-safe
    # split over the cascade core; straddle structurally 0) -- new
    # name, intersection-skip on its first round
    "leakage_safe_split_stats",
    # r15 (r14 VERDICT item 5): the production-scale answer to the
    # suite's most expensive op (semantic_dedup_cascade_stats) --
    # leaf-bounded SemDeDup over the two-level sqrt-k index; until
    # now only the sporadic scaling suite measured it -- new name,
    # intersection-skip on its first round
    "semantic_dedup_twolevel_stats",
)


def main() -> None:
    # AMBIENT machine state, sampled BEFORE any Spark work: loadavg and
    # the calibration spin taken here measure the machine the bench is
    # about to run on. (Until r11 the fingerprint was sampled at the
    # END of the run, so loadavg_1m recorded the bench's OWN local[32]
    # load -- 3-5 on a perfectly idle box -- and four consecutive
    # rounds were misread as "taken under ambient load". The end-of-run
    # sample is still published as *_end for transparency.)
    ctx_ambient = _env_fingerprint()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_parallelism()
    spark = get_spark("bench", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    queries = registry.all_queries()
    names = [n for n in HEADLINE if n in queries]

    # Warm the JVM + file listing once (excluded from timings).
    queries["orders_by_status"](spark, sf_dir).collect()

    iqrs: dict[str, float] = {}

    def timed(
        fn,
        runs: int = 5,
        name: str | None = None,
        iqr_sink: dict[str, float] | None = None,
    ) -> float:
        """Median of N runs, recording the interquartile spread alongside:
        on a shared box per-query medians still wander +-30% run-to-run,
        so the spread is published with the number -- a cross-round delta
        smaller than the IQR is noise, not regression (round 3's recorded
        "45% regression" was exactly this artifact; round 5's "+29%" was
        cross-session machine drift, see BENCH_NOTES.md -- scale deltas
        by the context.calib_spin_ms ratio first)."""
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            fn()
            samples.append(time.perf_counter() - t0)
        samples.sort()
        if name is not None:
            sink = iqrs if iqr_sink is None else iqr_sink
            sink[name] = round(
                samples[(3 * runs) // 4] - samples[runs // 4], 4
            )
        return round(samples[runs // 2], 4)

    timings: dict[str, float] = {}
    for name in names:
        timings[name] = timed(
            lambda: queries[name](spark, sf_dir).collect(), name=name
        )

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
            .collect(),
            name="silver_groupby_premat",
        )

        # Premat variant: repeated queries against the MATERIALIZED gold
        # parquet through a PRE-PARSED plan handle (re-collecting one
        # DataFrame reuses its QueryExecution -- the prepared-statement
        # idiom; the r4 verdict's suggested fix for the premat band gap).
        # Each run still scans the parquet files -- only the per-run
        # Catalyst analysis+optimization (~50 ms, the floor that put the
        # old plan-each-time variant at ~65-75 ms) is hoisted out, which
        # is exactly what any production engine does to a repeated gold
        # query. AQE is disabled for this micro-path (a 3-group/238-row
        # aggregate needs no runtime re-planning and the adaptive
        # wrapper's stage-coordination round trip would dominate), one
        # shuffle partition to skip reducer scheduling fan-out.
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
            timings["gold_reagg_premat"] = timed(
                lambda: reagg_premat.collect(), name="gold_reagg_premat"
            )
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

        # Plan-each-time row (r5 ADVICE): with both gold variants now on
        # pre-parsed handles, nothing in the suite showed the per-query
        # Catalyst planning floor any more, and historical comparisons
        # against the old ~65-75 ms plan-each-time numbers went
        # apples-to-oranges. This row rebuilds the DataFrame every run
        # (fresh analysis + optimization + codegen), keeping the
        # planning floor visible next to the premat/cached rows.
        timings["gold_reagg_planned"] = timed(
            lambda: gold.groupBy("status")
            .agg(
                F.sum("order_count").alias("total_orders"),
                dsum("gross_revenue", "total_revenue"),
            )
            .collect(),
            name="gold_reagg_planned",
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
        timings["gold_reagg_cached"] = timed(
            lambda: reagg_prepared.collect(), name="gold_reagg_cached"
        )
        gold_cached.unpersist()
    finally:
        shutil.rmtree(warehouse, ignore_errors=True)

    llm_timings: dict[str, float] = {}
    llm_iqrs: dict[str, float] = {}
    llm_runs_by_query: dict[str, int] = {}
    for name in LLM_SUITE:
        if name not in queries:
            continue
        queries[name](spark, sf_dir).collect()  # warm (untimed)
        # r17 (r16 VERDICT item 4): wide-band-tagged ops are judged on
        # process-repeat medians only, so give them a 7-run median
        # instead of 3 -- the 3-run median of an op whose same-code
        # span is 40-80% is a coin flip, and the per-round delta gate
        # had stopped binding on ~80% of the suite. Untagged ops stay
        # at 3 (the heavy multi-stage ops the original comment priced).
        runs = 7 if name in WIDE_BAND else 3
        llm_runs_by_query[name] = runs
        llm_timings[name] = timed(
            lambda: queries[name](spark, sf_dir).collect(),
            runs=runs,
            name=name,
            iqr_sink=llm_iqrs,
        )

    # r16 (r15 VERDICT item 4): a two-level SemDeDup row whose corpus
    # the LEAF BOUND actually binds. The sf0.1 embeddings table is only
    # 2000 vectors / 9 leaves, so the 7.4 s sf0.1 row prices index-
    # build stage overhead, not the per-leaf pair join the op exists to
    # bound. Setup (untimed) builds a SPREAD 4x corpus -- each replica
    # ROTATED by 16*r positions, so replicas are new directions, never
    # near-dup cliques -- giving 8k vectors / ~32 leaves near target:
    # the regime where the within-leaf pair join dominates the wall
    # and scales linearly with n (authoring-time ~20 s of the ~25 s
    # wall on local[32], index build 5.6 s; the same-session
    # precomputed-norm change then cut the row to ~8.7 s -- the pair
    # stage is exactly what this row prices). 8x replication priced
    # the same regime at 49 s/run pre-cut -- too heavy for a recurring
    # 3-run row; the degenerate fully-replicated clique case stays in
    # SCALING.md where it is already measured.
    from pyspark.sql import functions as SF

    spread_dir = tempfile.mkdtemp(prefix="bench_spread_")
    try:
        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        dim = 64
        reps = []
        for r in range(4):
            shift = 16 * r
            rot = (
                SF.concat(
                    SF.slice(SF.col("embedding"), shift + 1, dim - shift),
                    SF.slice(SF.col("embedding"), 1, shift),
                )
                if shift
                else SF.col("embedding")
            )
            reps.append(
                emb.select(
                    (SF.col("vec_id") * 4 + SF.lit(r)).alias("vec_id"),
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
        name = "semantic_dedup_twolevel_spread"
        queries["semantic_dedup_twolevel_stats"](
            spark, spread_dir
        ).collect()  # warm (untimed)
        # 7-run median iff the spread row itself is tagged (admitted
        # to WIDE_BAND at r18 after its third straddle). r19: dropped
        # the underlying-op disjunct ("semantic_dedup_twolevel_stats"
        # in WIDE_BAND) -- constant-False since that key's r18
        # retirement, and the spread row's own admission now carries
        # the 7-run requirement.
        runs = 7 if name in WIDE_BAND else 3
        llm_runs_by_query[name] = runs
        llm_timings[name] = timed(
            lambda: queries["semantic_dedup_twolevel_stats"](
                spark, spread_dir
            ).collect(),
            runs=runs,
            name=name,
            iqr_sink=llm_iqrs,
        )
    finally:
        shutil.rmtree(spread_dir, ignore_errors=True)

    total = round(sum(timings.values()), 4)
    sf = os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")

    # Per-query deltas vs the newest recorded round, so a regression (or
    # noise masquerading as one) is visible in the artifact itself
    # instead of requiring a cross-file diff.
    here = os.path.dirname(os.path.abspath(__file__))
    ctx = _env_fingerprint()
    # loadavg: the headline value is the AMBIENT pre-run sample (the
    # end-of-run one records the bench's own local[32] load); calib:
    # the headline value STAYS the end-of-run sample because every
    # prior round's artifact was sampled there, and the pre-run spin on
    # an idle box runs on cold CPU clocks (~2.5x slower than the hot
    # post-run clocks) -- swapping the normalization basis mid-series
    # would corrupt calib_ratio_prev_over_now. Both samples publish.
    ctx["loadavg_1m_end"] = ctx["loadavg_1m"]
    ctx["loadavg_1m"] = ctx_ambient["loadavg_1m"]
    ctx["calib_spin_ms_ambient"] = ctx_ambient["calib_spin_ms"]
    # Same-code envelope (r9 VERDICT item 5): BENCH_ENVELOPE.json holds
    # the controlled N-run min/max of the headline total measured on
    # this round's code on an idle machine (written at round close-out,
    # see BENCH_NOTES.md). A run whose total lands OUTSIDE the envelope
    # is machine-annotated as ambient-suspect right in the artifact --
    # three driver rounds (r6/r8/r9) needed companion prose to make
    # that attribution; now the artifact carries it itself.
    envelope = None
    try:
        with open(os.path.join(here, "BENCH_ENVELOPE.json")) as f:
            env_file = json.load(f)
        if env_file.get("sf") == float(
            os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
        ):
            envelope = env_file
    except (OSError, json.JSONDecodeError, ValueError):
        envelope = None
    if envelope:
        lo, hi = envelope["total_min"], envelope["total_max"]
        slack = 0.03 * hi  # min/max of a few runs; allow 3% beyond
        ctx["same_code_envelope"] = {
            "total_min": lo,
            "total_max": hi,
            "runs": envelope.get("runs"),
            "code_rev": envelope.get("code_rev"),
            "observed_total": total,
            "within": bool(lo - slack <= total <= hi + slack),
        }
    prev, prev_name = _load_prev_artifact(here)
    # Prev-round IQRs: newer compact artifacts don't inline them, so
    # pull from the committed detail sidecar (read BEFORE this run
    # overwrites it); the reconstructed r6 artifact still inlines them.
    detail_path = os.path.join(here, "BENCH_DETAIL.json")
    try:
        with open(detail_path) as f:
            detail_book = json.load(f)
    except (OSError, json.JSONDecodeError):
        detail_book = {}
    delta_vs_prev = None
    delta_detail = None
    # Same-scale runs only: a dev run at sf0.001 must not "improve" on
    # the prior round's sf0.1 numbers.
    if prev is not None and prev.get("sf") == (float(sf) if sf else None):
        prev_q = prev.get("queries", {})
        prev_detail = detail_book.get(str(sf), {})
        # Totals compare the INTERSECTION of query names only (r6
        # ADVICE): a row added this round would otherwise read as a
        # spurious whole-suite "regression" of exactly its own runtime.
        # Rows unique to either side are named in the artifact instead
        # of silently polluting a sum.
        shared = sorted(set(timings) & set(prev_q))
        shared_now = round(sum(timings[n] for n in shared), 4)
        shared_prev = round(sum(prev_q[n] for n in shared), 4)
        # Machine-speed-normalized delta (BENCH_NOTES.md rule): scale
        # this run's totals by calib_prev/calib_now before differencing,
        # so machine drift (r5's "+29%") can never masquerade as a code
        # regression again.
        prev_calib = prev.get("context", {}).get("calib_spin_ms")
        now_calib = ctx.get("calib_spin_ms")
        ratio = (prev_calib / now_calib) if prev_calib and now_calib else None
        prev_iqr = prev.get("iqr") or prev_detail.get("iqr") or {}

        # Automated per-query noise/regression verdict (the
        # BENCH_NOTES.md rule, made executable). r8 VERDICT refinement:
        # a verdict requires BOTH the raw delta AND the machine-
        # normalized delta to clear the wider of the two rounds' IQRs,
        # in the same direction. The calibration spin is pure-CPU, so
        # uniform scaling over-corrects scan/shuffle-bound queries --
        # r8's artifact flagged pricing_summary "regression +0.612s
        # normalized" on a raw delta of -0.01s (the query does not get
        # 30% faster because the CPU did). A real code regression moves
        # both numbers; calibration drift moves only the normalized one
        # and machine drift moves only the raw one -- either alone is
        # "noise".
        # r9 ADVICE: the dual gate can classify a genuine code
        # regression as "noise" when a same-direction machine speedup
        # offsets the raw delta -- so the RAW/NORMALIZED PAIR is
        # emitted for EVERY row in the sidecar (delta_detail.queries /
        # .llm_suite below), not just flagged ones, keeping an offset
        # regression visible to the next round's review.
        def delta_pair(now_t, prev_t):
            return {
                "raw": round(now_t - prev_t, 4),
                "norm": round(now_t * (ratio if ratio else 1.0) - prev_t, 4),
            }

        def judge(now_t, prev_t, iqr_now, iqr_prev, name=None):
            # r15 (r14 VERDICT item 4): ops whose SAME-CODE envelope
            # span exceeds ~25% of their median are judged only on
            # process-repeat medians -- a single in-probe sample's
            # delta is noise BY MEASUREMENT and kept generating
            # llm_regressions flags that then needed manual A/B
            # exoneration (embedding_near_dup_pairs r13,
            # leakage_safe_split_stats r14). The raw/norm delta pair
            # still publishes in the sidecar for every row.
            if name in WIDE_BAND:
                raw = now_t - prev_t
                band = WIDE_BAND[name]
                norm_t = now_t * (ratio if ratio else 1.0)
                lo, hi = band["band_s"]
                # r16 escape hatch (absolute form): the measured
                # same-code band bounds what noise can explain -- a
                # reading beyond it in raw AND normalized terms is a
                # real move and MUST flag.
                if now_t > hi * 1.15 and norm_t > hi * 1.15:
                    return (
                        f"regression ({now_t:.3f}s raw /"
                        f" {norm_t:.3f}s normalized, both beyond the"
                        f" measured same-code band max {hi:.3f}s+15%)"
                    )
                if now_t < lo * 0.85 and norm_t < lo * 0.85:
                    return (
                        f"improvement ({now_t:.3f}s raw /"
                        f" {norm_t:.3f}s normalized, both below the"
                        f" measured same-code band min {lo:.3f}s-15%)"
                    )
                return (
                    f"wide_band (raw {raw:+.3f}s; reading {now_t:.3f}s"
                    f" inside the measured band [{lo:.2f}, {hi:.2f}]s;"
                    f" process-repeat-only: {band['evidence']};"
                    f" last confirmed r{band['confirmed']})"
                )
            raw = now_t - prev_t
            norm = now_t * (ratio if ratio else 1.0) - prev_t
            gate = max(iqr_now, iqr_prev, 0.01)
            if raw > gate and norm > gate:
                return (
                    f"regression (raw +{raw:.3f}s, norm +{norm:.3f}s"
                    f" > iqr {gate:.3f})"
                )
            if raw < -gate and norm < -gate:
                return (
                    f"improvement (raw {raw:.3f}s, norm {norm:.3f}s"
                    f" < -iqr {gate:.3f})"
                )
            return "noise"

        verdicts = {
            n: judge(
                timings[n], prev_q[n],
                iqrs.get(n, 0.0), prev_iqr.get(n, 0.0), name=n,
            )
            for n in shared
        }
        prev_llm = (prev.get("llm_suite") or {}).get("queries", {})
        prev_llm_iqr = (
            (prev.get("llm_suite") or {}).get("iqr")
            or (prev_detail.get("llm_suite") or {}).get("iqr")
            or {}
        )
        llm_shared = sorted(set(llm_timings) & set(prev_llm))
        llm_verdicts = {
            n: judge(
                llm_timings[n], prev_llm[n],
                llm_iqrs.get(n, 0.0), prev_llm_iqr.get(n, 0.0), name=n,
            )
            for n in llm_shared
        }
        # Compact block for stdout (the driver records only the last
        # 2000 chars of it -- r6's artifact lost its parse to exactly
        # this); full per-query deltas + verdicts go to the sidecar.
        delta_vs_prev = {
            "prev_file": prev_name,
            "total": round(shared_now - shared_prev, 4),
            "total_basis": "shared_queries_only",
            "new_queries": sorted(set(timings) - set(prev_q)),
            "dropped_queries": sorted(set(prev_q) - set(timings)),
            "regressions": sorted(
                n for n, v in verdicts.items() if v.startswith("regression")
            ),
            "improvements": sorted(
                n for n, v in verdicts.items() if v.startswith("improvement")
            ),
            "llm_regressions": sorted(
                n for n, v in llm_verdicts.items()
                if v.startswith("regression")
            ),
        }
        # Third gate (r9 VERDICT item 5): if this run's total fell
        # outside the same-code controlled envelope, the machine -- not
        # the code -- moved; flagged rows are annotated ambient-suspect
        # in the artifact itself rather than silently standing.
        env = ctx.get("same_code_envelope")
        if env is not None:
            delta_vs_prev["envelope"] = (
                "within" if env["within"] else (
                    "outside_high (ambient-suspect: total "
                    f"{env['observed_total']} vs same-code max "
                    f"{env['total_max']})"
                    if env["observed_total"] > env["total_max"]
                    else "outside_low (faster than same-code min "
                    f"{env['total_min']})"
                )
            )
        if ratio:
            delta_vs_prev["calib_ratio_prev_over_now"] = round(ratio, 4)
            delta_vs_prev["total_machine_normalized"] = round(
                shared_now * ratio - shared_prev, 4
            )
        delta_detail = dict(
            delta_vs_prev,
            shared_total_now=shared_now,
            shared_total_prev=shared_prev,
            queries={n: delta_pair(timings[n], prev_q[n]) for n in shared},
            verdicts=verdicts,
            llm_suite={
                n: delta_pair(llm_timings[n], prev_llm[n])
                for n in llm_shared
            },
            llm_suite_verdicts=llm_verdicts,
            verdict_basis=(
                "raw_AND_machine_normalized_delta_vs_max_iqr"
                if ratio
                else "raw_delta_vs_max_iqr (no calib in prev artifact)"
            ),
        )

    # Full-fidelity record -> committed sidecar, keyed by sf so dev runs
    # at other scales never clobber the round-of-record entry.
    detail_book[str(sf)] = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf else None,
        "runs_per_query": 5,
        "stat": "median",
        "iqr": iqrs,
        "llm_suite": {
            "queries": llm_timings,
            "iqr": llm_iqrs,
            "runs_per_query": 3,
            # r17 (r16 VERDICT item 4): wide-band-tagged ops run a
            # 7-sample median; per-op counts recorded here.
            "runs_by_query": llm_runs_by_query,
        },
        "delta_vs_prev": delta_detail,
        "context": ctx,
    }
    try:
        with open(detail_path, "w") as f:
            json.dump(detail_book, f, indent=1, sort_keys=True)
    except OSError:
        pass

    # The ONE stdout JSON line the driver records. It MUST stay under
    # the driver's 2000-char tail or the artifact's "parsed" goes null
    # (r6's did, at 2012 chars). Optional keys shed until it fits.
    compact = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf else None,
        "runs_per_query": 5,
        "stat": "median",
        "llm_suite": {
            "queries": llm_timings,
            "runs_per_query": 3,
            # tagged ops use a 7-run median (full map in the detail
            # sidecar's runs_by_query)
            "runs_per_query_tagged": 7,
        },
        "delta_vs_prev": delta_vs_prev,
        "detail_file": "BENCH_DETAIL.json",
        "context": {
            k: ctx.get(k)
            for k in ("calib_spin_ms", "loadavg_1m", "loadavg_1m_end")
            if k in ctx
        },
    }
    line = json.dumps(compact)
    for shed in (
        ("delta_vs_prev", "dropped_queries"),
        ("delta_vs_prev", "new_queries"),
        ("delta_vs_prev", "improvements"),
        ("context",),
        ("delta_vs_prev",),
    ):
        if len(line) <= 1900:
            break
        node = compact
        for k in shed[:-1]:
            node = node.get(k) or {}
        node.pop(shed[-1], None)
        line = json.dumps(compact)
    print(line)


if __name__ == "__main__":
    main()
