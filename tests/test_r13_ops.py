"""Semantic invariants of the round-13 operators (value-level
correctness is oracle-checked by the driver/driver_sim; these pin the
algebraic properties that survive fixture regeneration)."""

from __future__ import annotations

from apache_iceberg_with_clickhouse_olake_spark.operators import registry
from apache_iceberg_with_clickhouse_olake_spark.sources.datagen import (
    N_USERS,
    ORDERS_PER_USER,
)

registry._load_all()
_Q = {name: spec.fn for name, spec in registry.REGISTRY.items()}


def test_order_count_distribution_is_a_single_spike(spark, sf_dir):
    """generate_orders deals every user exactly ORDERS_PER_USER orders
    with globally-unique order ids (reference mysql-init/01-setup.sql:
    186-239): the distribution collapses to ONE row covering all user
    ids -- any second row is generator drift. The product fan-out is
    hash-assigned, so it can only be bounded, never pinned exactly."""
    rows = _Q["order_count_distribution"](spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["orders_per_user"] == ORDERS_PER_USER
    assert r["n_users"] == N_USERS
    assert (r["min_user_id"], r["max_user_id"]) == (1, N_USERS)
    assert r["users_with_unique_ids"] == N_USERS
    assert 1 <= r["max_products_per_user"] <= ORDERS_PER_USER


def test_capped_semdedup_never_drops_more_than_uncapped(spark, sf_dir):
    """The cap can only REMOVE members from the pair join, so per
    cluster the capped variant's n_dropped is <= the uncapped
    benchmark-yardstick's (degraded recall, bounded work -- the
    documented trade, made executable)."""
    capped = {
        r["cluster"]: r
        for r in _Q["semantic_dedup_capped_stats"](spark, sf_dir).collect()
    }
    uncapped = {
        r["cluster"]: r
        for r in _Q["semantic_dedup_stats"](spark, sf_dir).collect()
    }
    assert set(capped) == set(uncapped)
    # the cap must genuinely engage on this fixture (pigeonhole: mean
    # cluster size > _SEMDEDUP_CAP at every SF -- clustering.py): at
    # least one cluster contributes fewer pair members than it has,
    # so the per-cluster <= bound below exercises the capped branch,
    # never the cap-is-a-no-op degenerate. (r13 ADVICE: the previous
    # any(<)-or-all(==) assertion here was a tautology of the loop.)
    assert any(
        capped[c]["n_pair_members"] < capped[c]["n_members"]
        for c in capped
    )
    for c in capped:
        assert capped[c]["n_members"] == uncapped[c]["n_members"]
        assert capped[c]["n_dropped"] <= uncapped[c]["n_dropped"]


def test_leakage_safe_split_never_straddles(spark, sf_dir):
    """The cluster-keyed split's straddle count is structurally zero
    (split is a function of cluster id) WHEN propagation converged --
    and the op's own convergence indicator must read 0 on the fixture
    (test_cc_rounds_converged_on_fixture pins the same fact via a
    fifth round; this pins that the in-band column agrees). Docs
    conserve; every split label is one of the three."""
    rows = _Q["leakage_safe_split_stats"](spark, sf_dir).collect()
    from apache_iceberg_with_clickhouse_olake_spark.sources.parquet import (
        load_table,
    )

    total = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == total
    assert {r["split"] for r in rows} <= {"train", "val", "test"}
    for r in rows:
        assert r["propagation_label_changes"] == 0
        assert r["clusters_straddling"] == 0
        assert r["naive_clusters_straddling"] >= 0
        assert r["n_clusters"] <= r["n_docs"]


def test_cross_source_matrix_conserves_pair_stream(spark, sf_dir):
    """The matrix is a re-grouping of the SAME verified pair stream
    minhash_lsh_candidates emits: cell totals must conserve both the
    candidate and near-dup counts, and cells are canonically ordered."""
    rows = _Q["cross_source_dup_matrix"](spark, sf_dir).collect()
    vp = _Q["minhash_lsh_candidates"](spark, sf_dir)
    n_cand = vp.count()
    n_near = vp.filter("near_dup").count()
    assert sum(r["candidate_pairs"] for r in rows) == n_cand
    assert sum(r["near_dup_pairs"] for r in rows) == n_near
    for r in rows:
        assert r["source_a"] <= r["source_b"]
        assert 0 <= r["near_dup_pairs"] <= r["candidate_pairs"]


def test_degree_histogram_conserves_corpus_and_handshake(spark, sf_dir):
    """The histogram must sum to the corpus (degree-0 rows keep the
    never-matched mass visible) and obey the handshake lemma: the
    degree-weighted sum equals twice the verified near-dup pair count
    of the same stream (minhash_lsh_candidates)."""
    from apache_iceberg_with_clickhouse_olake_spark.sources.parquet import (
        load_table,
    )

    rows = _Q["neardup_degree_histogram"](spark, sf_dir).collect()
    total = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == total
    n_near = _Q["minhash_lsh_candidates"](spark, sf_dir).filter(
        "near_dup"
    ).count()
    assert sum(r["degree"] * r["n_docs"] for r in rows) == 2 * n_near
    assert all(r["degree"] >= 0 for r in rows)


def test_source_fair_threshold_keeps_top_quartile_per_source(spark, sf_dir):
    """The per-source cut keeps AT LEAST a quarter of every source's
    SCOREABLE docs (>= on the p75 cut can only add ties, never drop
    below the quantile mass), and never more than all of it; docs
    conserve. Zero-token docs carry a NULL score -- they count in
    n_docs but can never be kept, so the floor is based on the
    non-NULL-score population, and an all-NULL source (NULL src_cut)
    legitimately keeps 0 (r13 ADVICE: the old n_docs // 4 floor would
    break if the fixture gained many empty docs)."""
    from pyspark.sql import functions as F

    from apache_iceberg_with_clickhouse_olake_spark.operators.text import (
        tokens,
    )
    from apache_iceberg_with_clickhouse_olake_spark.sources.parquet import (
        load_table,
    )

    rows = _Q["quality_source_fair_threshold"](spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    total = docs.count()
    scoreable = {
        r["source"]: r["n"]
        for r in docs.groupBy("source")
        .agg(
            F.count(
                F.when(F.size(tokens(F.col("text"))) > 0, 1)
            ).alias("n")
        )
        .collect()
    }
    assert sum(r["n_docs"] for r in rows) == total
    for r in rows:
        n_scoreable = scoreable[r["source"]]
        assert 0 <= r["kept_source_fair"] <= r["n_docs"]
        assert 0 <= r["kept_global"] <= r["n_docs"]
        if r["src_cut"] is None:
            assert n_scoreable == 0
            assert r["kept_source_fair"] == 0
        else:
            # p75 cut with >= keeps at least the top quarter of the
            # scoreable docs (ties only add)
            assert r["kept_source_fair"] >= n_scoreable // 4
            if n_scoreable > 0:
                assert r["kept_source_fair"] > 0
        assert r["global_cut"] == rows[0]["global_cut"]


def test_cc_rounds_converged_on_fixture(spark, sf_dir, monkeypatch):
    """_CC_ROUNDS=4 min-label-propagation rounds are claimed sufficient
    for fixture near-dup graphs ('tiny diameters', dedup.py docstring)
    -- made executable: a FIFTH round must not change a single label.
    If the fixture ever grows a dup chain with diameter > 4, this fails
    loudly instead of the engine and its unrolled oracle agreeing on an
    identically-under-propagated labeling (hash-exactness would hide
    semantic non-convergence, since both sides run the same round
    count)."""
    from apache_iceberg_with_clickhouse_olake_spark.operators import dedup
    from apache_iceberg_with_clickhouse_olake_spark.operators._cache import (
        cache_scope,
    )

    def labels_at(rounds: int) -> dict:
        monkeypatch.setattr(dedup, "_CC_ROUNDS", rounds)
        with cache_scope():
            _, _, labels = dedup._cascade_rep_labels(spark, sf_dir)
            return {r["doc_id"]: r["label"] for r in labels.collect()}

    assert labels_at(4) == labels_at(5)
