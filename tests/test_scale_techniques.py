"""Scale-technique demonstrations the registry queries can't carry:
bucketed co-located joins (shuffle elimination), dynamic partition
pruning, runtime bloom-filter join pruning, arbitrary stateful
streaming via applyInPandasWithState, sketch/recall floors, and the
SemDeDup pair-work cap."""

from __future__ import annotations

from pyspark.sql import functions as F

from apache_iceberg_with_clickhouse_olake_spark.sources.parquet import load_table
from apache_iceberg_with_clickhouse_olake_spark.streaming import (
    run_first_seen_stream,
)


def test_bucketed_join_eliminates_shuffle(spark, sf_dir, tmp_path):
    """Tables bucketed on the join key join WITHOUT an exchange on either
    side -- the co-located-join layout that kills the biggest shuffle of a
    repeated 100 TB fact-dim join."""
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    try:
        (
            orders.select("o_orderkey", "o_custkey", "o_totalprice")
            .write.bucketBy(8, "o_custkey")
            .sortBy("o_custkey")
            .mode("overwrite")
            .saveAsTable("b_orders")
        )
        (
            customer.select("c_custkey", "c_nationkey")
            .write.bucketBy(8, "c_custkey")
            .sortBy("c_custkey")
            .mode("overwrite")
            .saveAsTable("b_customer")
        )
        joined = spark.table("b_orders").join(
            spark.table("b_customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        # Disable broadcast so the join layout (not size) decides the plan.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = joined._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, (
            "bucketed join still shuffles:\n" + plan
        )
        # And the answer matches the unbucketed join.
        got = joined.count()
        want = orders.join(
            customer, orders.o_custkey == customer.c_custkey
        ).count()
        assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_apply_in_pandas_with_state_streaming(spark, sf_dir, tmp_path):
    """applyInPandasWithState: custom per-key state across micro-batches
    (the escape hatch for operators session_window/window can't express).
    Two micro-batches of the same users: batch 1 emits kind='first',
    batch 2 kind='repeat' with n_new=0."""
    events = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 50)
        .select("event_id", "user_id")
    )
    events_dir = str(tmp_path / "ev")
    events.repartition(2).write.parquet(events_dir)

    got = run_first_seen_stream(
        spark, events_dir, str(tmp_path / "ckpt")
    ).toPandas()
    assert (got[got.kind == "first"].n_new > 0).all()
    assert (got[got.kind == "repeat"].n_new == 0).all()
    firsts = set(got[got.kind == "first"].user_id)
    repeats = set(got[got.kind == "repeat"].user_id)
    assert repeats and repeats <= firsts


def test_hll_sketch_reagg_accuracy(spark, sf_dir):
    """Merged per-day HLL sketches must estimate monthly distinct users
    within the 5% envelope. The query itself now carries the bound check
    (``within_bound``, oracle-hashed); this test independently recomputes
    the exact counts so the in-query ``exact_users`` column can't drift."""
    from apache_iceberg_with_clickhouse_olake_spark.operators.analytics import (
        daily_users_hll_reagg,
    )

    rows = daily_users_hll_reagg(spark, sf_dir).collect()
    assert rows and all(r.within_bound for r in rows)
    events = load_table(spark, sf_dir, "events")
    exact = {
        r.month_bucket: r.exact
        for r in events.select(
            F.expr("cast((unix_micros(ts) div 86400000000) / 30 as int)").alias(
                "month_bucket"
            ),
            "user_id",
        )
        .groupBy("month_bucket")
        .agg(F.countDistinct("user_id").alias("exact"))
        .collect()
    }
    assert {r.month_bucket: r.exact_users for r in rows} == exact


def test_decontamination_scales_to_1k_probes(spark, sf_dir):
    """The shingle-hash equi-join must stay fast with a benchmark-suite-
    sized probe set: 1000 probe n-grams against the corpus in seconds
    (the contains() theta-join it replaced was O(corpus x probes))."""
    from apache_iceberg_with_clickhouse_olake_spark.functions import (
        md5_int60,
        tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_probe_tokens = 6
    # ~1000+ probes: several 6-token windows drawn from every corpus doc
    probes = (
        docs.select(F.col("doc_id").alias("src_id"), toks.alias("t"))
        .filter(F.size("t") >= n_probe_tokens + 20)
        .select(
            "src_id",
            "t",
            F.explode(F.array(F.lit(1), F.lit(7), F.lit(13))).alias("off"),
        )
        .select(
            (F.col("src_id") * 100 + F.col("off")).alias("probe_id"),
            md5_int60(
                F.concat_ws(
                    " ", F.slice(F.col("t"), F.col("off"), n_probe_tokens)
                )
            ).alias("h"),
        )
    )
    n_probes = probes.count()
    assert n_probes >= 1000
    shingles = (
        docs.select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= n_probe_tokens)
        .select(
            "doc_id",
            "t",
            F.explode(
                F.sequence(F.lit(1), F.size("t") - (n_probe_tokens - 1))
            ).alias("i"),
        )
        .select(
            "doc_id",
            md5_int60(
                F.concat_ws(
                    " ", F.slice(F.col("t"), F.col("i"), n_probe_tokens)
                )
            ).alias("h"),
        )
    )
    joined = (
        shingles.join(F.broadcast(probes), "h")
        .groupBy("probe_id")
        .agg(F.countDistinct("doc_id").alias("contaminated_docs"))
    )
    # scale property asserted on the PLAN, not wall-clock (a time bound
    # is machine-load flakiness): the probe side must broadcast into a
    # hash equi-join; a cartesian/NLJ would be the O(corpus x probes)
    # theta-join this op replaced
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    hits = joined.count()
    # every probe is drawn from a real doc, so each must hit >= 1 doc
    # (distinct probe hashes can be fewer than probes if windows collide)
    assert hits >= n_probes * 0.8


def test_embed_lsh_planes_match_similarity_planes():
    # _embed_lsh_udf derives its own +-1 hyperplanes (executors must not
    # import the full similarity module); they must stay identical to
    # similarity._plane's md5 seeding, which the DuckDB oracle also
    # re-derives from hex-digit parity
    import numpy as np

    from apache_iceberg_with_clickhouse_olake_spark.operators import _embed_lsh_udf as u
    from apache_iceberg_with_clickhouse_olake_spark.operators import similarity as s

    mat = u.plane_matrix()
    for p in range(u.N_BANDS * u.PLANES_PER_BAND):
        assert np.array_equal(mat[p], np.array(s._plane(p), dtype=np.int64))


def test_embed_band_values_batch_split_invariant():
    # pandas_udf batch boundaries are runtime-dependent (Arrow batch
    # size, partitioning); band signatures must not depend on them
    import numpy as np

    from apache_iceberg_with_clickhouse_olake_spark.operators import _embed_lsh_udf as u

    rng = np.random.default_rng(7)
    v = rng.standard_normal((50, u.DIM)).astype(np.float32)
    whole = u.band_values(v)
    for split in (1, 7, 49):
        parts = np.vstack([u.band_values(v[:split]), u.band_values(v[split:])])
        assert np.array_equal(whole, parts), f"split at {split} diverged"
    # and appending rows never changes earlier rows' signatures
    assert np.array_equal(u.band_values(v[:10]), whole[:10])


def test_ann_multiprobe_recall_floor(spark, sf_dir):
    """A banding/bucketing change must not silently degrade search
    quality: multi-probe recall must dominate single-bucket recall and
    stay strictly positive, at a measured extra candidate cost (the
    probe-sweep op itself records the exact numbers)."""
    from apache_iceberg_with_clickhouse_olake_spark.operators.similarity import (
        ann_probe_sweep_recall,
    )

    rows = {
        r.method: r for r in ann_probe_sweep_recall(spark, sf_dir).collect()
    }
    multi, single = rows["multi_probe"], rows["single_bucket"]
    assert multi.mean_recall_at_k >= single.mean_recall_at_k
    assert multi.mean_recall_at_k > 0.0
    # multi-probe explores Hamming-1 neighbors, so its candidate set
    # must strictly contain the single-bucket one on average
    assert multi.avg_candidates > single.avg_candidates


def test_embedding_neardup_recall_floors(spark, sf_dir):
    """Ground-truth recall of the 16x8 banding, per similarity bin (see
    embedding_neardup_recall_eval): near 1 at the real near-dup
    operating point, high in the mid bin; the low bin is the documented
    deliberate miss rate at the boundary threshold and gets no floor.
    A hyperplane/banding regression moves these measured numbers."""
    from apache_iceberg_with_clickhouse_olake_spark.operators.similarity import (
        embedding_neardup_recall_eval,
    )

    rows = {
        r.cos_bin: r
        for r in embedding_neardup_recall_eval(spark, sf_dir).collect()
    }
    assert set(rows) == {"[0.3,0.5)", "[0.5,0.8)", "[0.8,1.0]"}
    assert rows["[0.8,1.0]"].recall >= 0.95
    assert rows["[0.5,0.8)"].recall >= 0.70
    # recall must be monotone in similarity -- the defining LSH property
    assert (
        rows["[0.3,0.5)"].recall
        <= rows["[0.5,0.8)"].recall
        <= rows["[0.8,1.0]"].recall
    )


def test_config_sweep_floors_at_cos05_operating_point(spark, sf_dir):
    """The sweep's reason to exist (r5 verdict item 6): a user targeting
    a cos~0.5 near-dup threshold can pick a config with MEASURED >=0.9
    recall in the [0.5,0.8) bin. b64r08 (512-bit budget) is the
    recommendation; the production default b16r08 documents its mid-band
    gap; and the fixed-budget coarse configs (b64r02) demonstrate the
    cost axis -- background collision near 1 means bucket joins
    degenerate toward all-pairs."""
    from apache_iceberg_with_clickhouse_olake_spark.operators.similarity import (
        embedding_neardup_config_sweep,
    )

    rows = {
        (r.config, r.cos_bin): r
        for r in embedding_neardup_config_sweep(spark, sf_dir).collect()
    }
    mid = "[0.5,0.8)"
    bg = "<0.3"
    # the measured >=0.9-recall-at-0.5 recommendation
    assert rows[("b64r08", mid)].collision_rate >= 0.9
    # its background cost stays a fraction of the pair space
    assert rows[("b64r08", bg)].collision_rate <= 0.5
    # the production default's documented mid-band miss
    assert rows[("b16r08", mid)].collision_rate < 0.9
    # fixed 128-bit budget, coarser bands: recall bought with a
    # background blowup (the curve's cost axis)
    assert rows[("b64r02", mid)].collision_rate >= 0.9
    assert rows[("b64r02", bg)].collision_rate >= 0.8
    # background cost orders by bits-per-band at fixed budget
    assert (
        rows[("b16r08", bg)].collision_rate
        <= rows[("b32r04", bg)].collision_rate
        <= rows[("b64r02", bg)].collision_rate
    )


def test_sketch_only_production_twins_bounds(spark, sf_dir):
    """The sketch-only twins (r5 ADVICE: the registered bounds-oracle
    variants fuse an exact countDistinct the production path must not
    pay) estimate within the documented envelope of the exact answers."""
    from apache_iceberg_with_clickhouse_olake_spark.operators.analytics import (
        _APPROX_REL_ERR,
        daily_users_hll_reagg,
        daily_users_hll_sketch,
        unique_customers,
        unique_customers_sketch,
    )

    exact = {
        r.o_orderstatus: r.unique_customers
        for r in unique_customers(spark, sf_dir).collect()
    }
    for r in unique_customers_sketch(spark, sf_dir).collect():
        assert (
            abs(r.approx_customers - exact[r.o_orderstatus])
            / exact[r.o_orderstatus]
            <= _APPROX_REL_ERR
        )
    exact_m = {
        r.month_bucket: r.exact_users
        for r in daily_users_hll_reagg(spark, sf_dir).collect()
    }
    for r in daily_users_hll_sketch(spark, sf_dir).collect():
        assert (
            abs(r.approx_users - exact_m[r.month_bucket])
            / exact_m[r.month_bucket]
            <= _APPROX_REL_ERR
        )


def test_configurable_banding_contains_default_pairs(spark, sf_dir):
    """The sweep's recommendation must be RUNNABLE, not just readable:
    embedding_near_dup_pairs_with_config runs the production pair op at
    any sweep config. Structural invariant: an 8-bit band matches iff
    both of its 4-bit halves match, so the b32r04 re-slicing of the
    same 128 planes collides on a SUPERSET of the default b16r08's
    pairs — containment pins that the config plumbing (plane prefix,
    band packing, first-matching-band loop bound) is wired right."""
    from apache_iceberg_with_clickhouse_olake_spark.operators.similarity import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_with_config,
    )

    default = {
        (r.vec_a, r.vec_b)
        for r in embedding_near_dup_pairs(spark, sf_dir).collect()
    }
    coarse = {
        (r.vec_a, r.vec_b)
        for r in embedding_near_dup_pairs_with_config(
            spark, sf_dir, n_bands=32, planes_per_band=4
        ).collect()
    }
    assert default, "default banding found no pairs -- fixture broke"
    assert default <= coarse
    # the explicit default-config call is exactly the registered op
    explicit = {
        (r.vec_a, r.vec_b)
        for r in embedding_near_dup_pairs_with_config(
            spark, sf_dir
        ).collect()
    }
    assert explicit == default


def test_sweep_band_values_consistent_with_production_banding():
    """The sweep's (16,8) slice must be BIT-IDENTICAL to the production
    band_values output (same planes, same packing) — otherwise the
    sweep measures a different banding than the one it claims to sweep.
    Also pins the structural containment at the bit level: an 8-bit
    band match implies both 4-bit halves match in the b32r04 slice."""
    import numpy as np

    from apache_iceberg_with_clickhouse_olake_spark.operators import (
        _embed_lsh_udf as u,
    )

    rng = np.random.default_rng(13)
    v = rng.standard_normal((40, u.DIM)).astype(np.float32)
    sweep = u.sweep_band_values(v)
    prod = u.band_values(v)
    i_168 = u.SWEEP_CONFIGS.index((16, 8))
    off = u.SWEEP_OFFSETS[i_168]
    assert np.array_equal(sweep[:, off:off + 16], prod)
    # bit-level containment: rows whose 8-bit band b matches must match
    # on both corresponding 4-bit bands of the b32r04 slice
    i_324 = u.SWEEP_CONFIGS.index((32, 4))
    off4 = u.SWEEP_OFFSETS[i_324]
    b324 = sweep[:, off4:off4 + 32]
    for a in range(5):
        for b in range(a + 1, 10):
            for band in range(16):
                if prod[a, band] == prod[b, band]:
                    assert b324[a, 2 * band] == b324[b, 2 * band]
                    assert b324[a, 2 * band + 1] == b324[b, 2 * band + 1]
    # the configurable-UDF path (non-default config) packs identically
    # to the sweep's slice for the same (bands, bits)
    vq = np.floor(v.astype(np.float64) * u.QUANT + 0.5).astype(np.int64)
    bits = (vq @ u._SWEEP_PLANES[:128].T) >= 0
    vals = np.zeros((v.shape[0], 32), dtype=np.int32)
    for j in range(32):
        for k in range(4):
            vals[:, j] |= bits[:, j * 4 + k].astype(np.int32) << k
    assert np.array_equal(vals, b324)


def _brute_skyline(rows):
    """O(n^2) strict-Pareto reference: keep (q, t) rows no other row
    strictly dominates (>= in both dims, > in at least one)."""
    out = []
    for i, (qi, ti, di) in enumerate(rows):
        dominated = any(
            (qj >= qi and tj >= ti and (qj > qi or tj > ti))
            for j, (qj, tj, dj) in enumerate(rows)
            if j != i
        )
        if not dominated:
            out.append((qi, ti, di))
    return sorted(out)


def test_pareto_frontier_matches_bruteforce_on_tie_heavy_frames(spark):
    """The two-phase skyline's risky surface is dominance ties: equal
    ratios, equal token counts, duplicated frontier points, and
    dominated chains that phase 1 may or may not prune depending on
    partition placement. Pin phase-1 soundness + phase-2 exactness
    against a brute-force reference, across partition layouts."""
    from apache_iceberg_with_clickhouse_olake_spark.operators.curation import (
        pareto_frontier,
    )

    cases = [
        # duplicated frontier point (both copies must survive)
        [(0.5, 100, 1), (0.5, 100, 2), (0.3, 200, 3), (0.6, 50, 4)],
        # equal-ratio chain: only the longest of each ratio survives
        [(0.4, 10, 1), (0.4, 20, 2), (0.4, 30, 3), (0.2, 40, 4)],
        # equal-token column: only the highest ratio survives
        [(0.1, 99, 1), (0.2, 99, 2), (0.3, 99, 3)],
        # dominated chain spanning ratios (transitivity path)
        [(0.9, 10, 1), (0.8, 10, 2), (0.7, 10, 3), (0.6, 500, 4)],
        # single row / total order / anti-chain
        [(0.5, 5, 1)],
        [(0.9, 90, 1), (0.8, 80, 2), (0.7, 70, 3)],
        [(0.7, 10, 1), (0.5, 20, 2), (0.3, 30, 3)],
        # pseudo-random mix with many collisions
        [
            (round(0.1 * ((i * 7) % 5), 4), 10 * ((i * 13) % 7) + 10, i)
            for i in range(40)
        ],
    ]
    for rows in cases:
        want = _brute_skyline(rows)
        for n_parts in (1, 3, 8):
            df = spark.createDataFrame(
                [(float(q), int(t), int(d)) for q, t, d in rows],
                "stopword_ratio double, n_tokens long, doc_id long",
            ).repartition(n_parts)
            got = sorted(
                (r["stopword_ratio"], r["n_tokens"], r["doc_id"])
                for r in pareto_frontier(df).collect()
            )
            assert got == want, (n_parts, rows, got, want)


def test_layout_unlocks_scan_parallelism(spark, sf_dir, tmp_path):
    """Physical layout, not split config, gates scan-stage parallelism:
    a parquet row group (or file) is processed whole by one task, so
    the driver fixtures -- one file, ONE row group -- run every
    scan+partial-agg on a single core no matter how finely the planner
    splits byte ranges (measured at sf0.1: the pricing_summary map
    stage burns ~2.2 s of CPU in one effective task while 31 splits
    sit empty; BENCH_NOTES.md r7 layout note). Re-laying the same rows
    through the engine's S6 layout controls (maxRecordsPerFile here --
    deterministic at any fixture size; parquet.block.size equivalently
    at real sizes, both pinned by parquet_layout_roundtrip) fans the
    identical scan across cores. A 100 TB table written by our sinks
    (128 MiB groups) presents ~800k independently scannable units."""
    import os

    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    src = f"{sf_dir}/lineitem.parquet"
    assert pq.ParquetFile(src).num_row_groups == 1
    li = spark.read.parquet(src).select(
        "l_returnflag", "l_linestatus", "l_quantity"
    )
    out = str(tmp_path / "li_rg")
    (
        li.coalesce(1)
        .write.option("maxRecordsPerFile", 1000)
        .option("compression", "snappy")
        .parquet(out)
    )
    n_files = len([p for p in os.listdir(out) if p.endswith(".parquet")])
    assert n_files >= 4

    def nonempty_scan_tasks(df):
        return (
            df.select(F.spark_partition_id().alias("pid"))
            .groupBy("pid")
            .count()
            .count()
        )

    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # identical fine-split config for both reads
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(32 * 1024))
        fixture = spark.read.parquet(src).select("l_returnflag", "l_quantity")
        relaid = spark.read.parquet(out).select("l_returnflag", "l_quantity")
        assert relaid.count() == fixture.count()
        # same splits, same rows: layout alone decides effective fan-out
        assert nonempty_scan_tasks(fixture) == 1
        assert nonempty_scan_tasks(relaid) >= 4
        # and the re-laid table is the same table to every query
        a = sorted(
            fixture.groupBy("l_returnflag").count().collect(),
            key=lambda r: r["l_returnflag"],
        )
        b = sorted(
            relaid.groupBy("l_returnflag").count().collect(),
            key=lambda r: r["l_returnflag"],
        )
        assert [tuple(r) for r in a] == [tuple(r) for r in b]
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_pareto_frontier_matches_bruteforce_on_seeded_random_frames(spark):
    """Seeded-random frames with forced collisions (tiny value domains)
    across partition layouts -- the randomized companion to the crafted
    tie cases above. Seeds are fixed so a failure reproduces exactly."""
    import random

    from apache_iceberg_with_clickhouse_olake_spark.operators.curation import (
        pareto_frontier,
    )

    for seed in (7, 19, 41):
        rng = random.Random(seed)
        rows = [
            (round(rng.choice([0.0, 0.1, 0.2, 0.3]) + rng.choice([0.0, 0.05]), 4),
             rng.randrange(1, 8) * 10,
             i)
            for i in range(rng.randrange(30, 80))
        ]
        want = _brute_skyline(rows)
        for n_parts in (2, 7):
            df = spark.createDataFrame(
                [(float(q), int(t), int(d)) for q, t, d in rows],
                "stopword_ratio double, n_tokens long, doc_id long",
            ).repartition(n_parts)
            got = sorted(
                (r["stopword_ratio"], r["n_tokens"], r["doc_id"])
                for r in pareto_frontier(df).collect()
            )
            assert got == want, (seed, n_parts, got, want)


def test_mixture_ops_on_degenerate_zero_token_groups(spark, tmp_path):
    """The mixture family's NULL-guard branches never fire on the real
    fixtures (no all-empty group exists), so pin them on a crafted
    corpus: one group with only empty/whitespace texts must get NULL
    shares from corpus_mixture_weights and a target_permille of 0 (not
    the keep-everything cap LEAST() would silently produce from a NULL
    factor) from mixture_plan_apply -- verified against the SAME DuckDB
    oracles the driver runs, on the crafted parquet."""
    import duckdb

    from apache_iceberg_with_clickhouse_olake_spark.operators import registry
    from tests.oracle_utils import assert_match

    registry._load_all()
    rows = [
        (1, "the quick brown fox jumps", "en", "web", 25),
        (2, "the slow red fox naps", "en", "web", 21),
        (3, "", "zz", "junk", 0),
        (4, "   ", "zz", "junk", 3),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "deg")
    docs.coalesce(1).write.parquet(f"{d}/documents.parquet")
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{d}/documents.parquet/*.parquet')"
        )
        for name in ("corpus_mixture_weights", "mixture_plan_apply"):
            spec = registry.REGISTRY[name]
            assert_match(spec.fn(spark, d), con, spec.oracle, name=name)
        out = {
            (r["source"], r["lang"]): r
            for r in registry.REGISTRY["mixture_plan_apply"].fn(spark, d).collect()
        }
        assert out[("junk", "zz")]["target_permille"] == 0
        assert out[("junk", "zz")]["sampled_docs"] == 0
        assert out[("web", "en")]["target_permille"] > 0
    finally:
        con.close()


def test_semantic_pair_cap_bounds_cluster_work(spark, monkeypatch):
    """The in-code scale guard for the direct SemDeDup shape (r11
    VERDICT item 4): a pathological 40-replica cluster drops 39 members
    uncapped but EXACTLY cap-1 with max_cluster_pair_members=8 -- only
    the hash-ranked cap survivors ever enter the pair join, so
    per-cluster pair work is bounded at cap*(cap-1)/2 no matter how
    skewed the clustering gets. The plan carries the rank filter BELOW
    the self-join (work is cut before pairing, not after)."""
    from apache_iceberg_with_clickhouse_olake_spark.operators import clustering
    from apache_iceberg_with_clickhouse_olake_spark.operators.clustering import (
        _semantic_dropped,
    )

    n, cap = 40, 8
    assigned = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0], 0) for i in range(n)]
        + [(100, [1.0, 0.0, 0.0], 1), (101, [0.0, 1.0, 0.0], 1),
           (102, [0.0, 0.0, 1.0], 1)],
        "vec_id long, dv array<double>, cluster int",
    )
    uncapped = _semantic_dropped(assigned).count()
    assert uncapped == n - 1
    capped_df = _semantic_dropped(assigned, max_cluster_pair_members=cap)
    assert capped_df.count() == cap - 1
    # r19: the pair scoring is one FlatMapGroupsInPandas kernel (no
    # self-join any more); the rank filter must sit BELOW it in the
    # plan tree (children print after parents), so only the cap
    # survivors ever reach the kernel -- work is still cut before
    # pairing, not after. r20: the salted member frame is a superstep
    # (the lineage cut hides the filter from the optimized plan), so
    # the pin bypasses the cut; the only joins the salt machinery adds
    # below the kernel are the broadcast count/total attaches, never a
    # pair self-join.
    monkeypatch.setattr(
        clustering, "_superstep", lambda df, eager=False: df
    )
    plan = (
        _semantic_dropped(assigned, max_cluster_pair_members=cap)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    kernel_at = plan.index("FlatMapGroupsInPandas")
    assert "row_number" in plan[kernel_at:], plan
    below = plan[kernel_at:]
    joins = below.count("Join")
    assert joins == below.count("rightHint=(strategy=broadcast)"), plan
    assert "Join" not in plan[:kernel_at], plan


def test_semantic_cap_binds_on_fixture_and_members_stay_full(spark, sf_dir):
    """The registered capped query (semantic_dedup_capped_stats) must
    genuinely exercise the cap on fixture data: 500 vectors / k=8 means
    some cluster exceeds _SEMDEDUP_CAP=32 by pigeonhole, so at least one
    row shows n_pair_members < n_members (cap bound) while n_members
    still totals the full corpus (the rollup never loses uncapped
    members)."""
    from apache_iceberg_with_clickhouse_olake_spark.operators.clustering import (
        _SEMDEDUP_CAP,
        semantic_dedup_capped_stats,
    )

    rows = semantic_dedup_capped_stats(spark, sf_dir).collect()
    assert sum(r.n_members for r in rows) == 500
    assert all(r.n_pair_members <= _SEMDEDUP_CAP for r in rows)
    assert all(r.n_pair_members <= r.n_members for r in rows)
    assert any(r.n_members > r.n_pair_members for r in rows)
    # members beyond the cap neither drop nor get dropped
    assert all(r.n_dropped <= r.n_pair_members for r in rows)
    assert all(r.n_kept + r.n_dropped == r.n_members for r in rows)


def test_semantic_direct_variant_is_tagged_benchmark_yardstick():
    """No caller can mistake the exact all-pairs variant for the
    production path: the registry entry carries the benchmark-yardstick
    tag (the cascade, the production shape, must NOT)."""
    from apache_iceberg_with_clickhouse_olake_spark.operators import registry

    registry._load_all()
    assert "benchmark-yardstick" in registry.REGISTRY[
        "semantic_dedup_stats"
    ].tags
    assert "benchmark-yardstick" not in registry.REGISTRY[
        "semantic_dedup_cascade_stats"
    ].tags


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir):
    """Dynamic partition pruning, demonstrated executably: a fact table
    partitioned on the join key joined to a dimension with a selective
    predicate gets a runtime `dynamicpruningexpression` in its
    PartitionFilters -- at 100 TB this is the difference between
    scanning every date partition and scanning only the ones the dim
    filter selects, with zero query rewrite (Catalyst injects the
    pruning subquery and reuses the join's own broadcast). Catalog
    tables, not raw paths: DPP's benefit estimate needs relation sizes,
    which the catalog supplies. The dim filter must be one Catalyst
    considers likely-selective (EqualTo/In/Like -- probed: a bare
    boolean-attribute filter does NOT trigger the rule), hence the
    month_num = 3 equality."""
    spark.sql("DROP TABLE IF EXISTS dpp_orders")
    spark.sql("DROP TABLE IF EXISTS dpp_months")
    orders = load_table(spark, sf_dir, "orders")
    try:
        (
            orders.withColumn(
                "om", F.date_format("o_orderdate", "yyyy-MM")
            )
            .write.partitionBy("om")
            .saveAsTable("dpp_orders")
        )
        (
            orders.select(
                F.date_format("o_orderdate", "yyyy-MM").alias("om")
            )
            .distinct()
            .withColumn(
                "month_num", F.substring("om", 6, 2).cast("int")
            )
            .write.saveAsTable("dpp_months")
        )
        fact = spark.table("dpp_orders")
        dim = spark.table("dpp_months").filter(F.col("month_num") == 3)
        j = fact.join(dim, "om").agg(
            F.count("*").alias("n"), F.sum("o_totalprice").alias("s")
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan
        # and the pruned answer is the filtered answer
        want = (
            orders.filter(
                F.date_format("o_orderdate", "yyyy-MM").endswith("-03")
            ).count()
        )
        assert j.collect()[0]["n"] == want
    finally:
        spark.sql("DROP TABLE IF EXISTS dpp_orders")
        spark.sql("DROP TABLE IF EXISTS dpp_months")


def test_runtime_bloom_filter_prunes_shuffle_join_rows(spark, sf_dir, tmp_path):
    """Runtime bloom-filter join pruning, demonstrated executably: when
    a shuffle join's build side carries a selective filter, Catalyst
    injects a BloomFilterAggregate on the build side and a
    might_contain probe into the APPLICATION side's scan -- at 100 TB
    the fact rows that would never match die before the shuffle instead
    of crossing the wire. Thresholds are lowered because the trigger is
    byte-based (the fixture fact is far below the 10 GiB application-
    side default); the mechanism, not the threshold, is what the test
    pins. Broadcast is disabled so the join actually shuffles -- with a
    broadcastable dim DPP/broadcast is the better plan and the bloom
    rule correctly stays out."""
    fact_dir = str(tmp_path / "bloom_fact")
    dim_dir = str(tmp_path / "bloom_dim")
    load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice"
    ).write.parquet(fact_dir)
    load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    ).write.parquet(dim_dir)
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        fact = spark.read.parquet(fact_dir)
        dim = spark.read.parquet(dim_dir).filter(F.col("s_nationkey") == 3)
        j = fact.join(
            dim, fact.l_suppkey == dim.s_suppkey
        ).agg(F.sum("l_extendedprice").alias("s"))
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan.lower(), plan
        # bloom filters never drop true matches: answer equals unfiltered
        got = j.collect()[0]["s"]
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold"
        )
        want = fact.join(
            dim, fact.l_suppkey == dim.s_suppkey
        ).agg(F.sum("l_extendedprice").alias("s")).collect()[0]["s"]
        assert got == want
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
