"""Property tests for the r9 additions: DSIR importance resampling
(distribution-shift semantics), hard-negative mining (argmax contract),
and the z-order layout (file-envelope narrowness -- the physical
property the roundtrip rollup can't see)."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from apache_iceberg_with_clickhouse_olake_spark.operators import registry
from apache_iceberg_with_clickhouse_olake_spark.sources.parquet import load_table

registry._load_all()
_Q = {name: spec.fn for name, spec in registry.REGISTRY.items()}


# ---------------------------------------------------------------------------
# DSIR
# ---------------------------------------------------------------------------


def test_dsir_resample_upsamples_target_lang(spark, sf_dir):
    """The entire point of DSIR: the selected set's target-language share
    must exceed the corpus share (weights favor target-like n-grams, and
    'en' documents ARE maximally target-like by construction)."""
    rows = {r["lang"]: r for r in
            _Q["dsir_resample_counts"](spark, sf_dir).collect()}
    sel_total = sum(r["selected_docs"] for r in rows.values())
    doc_total = sum(r["total_docs"] for r in rows.values())
    assert sel_total > 0
    en_sel = rows["en"]["selected_docs"] / sel_total
    en_all = rows["en"]["total_docs"] / doc_total
    assert en_sel > en_all, (en_sel, en_all)
    for r in rows.values():
        assert 0 <= r["selected_docs"] <= r["total_docs"], r


def test_dsir_weights_rank_target_docs_higher(spark, sf_dir):
    """Mean importance weight of target-language docs must exceed the
    non-target mean, and the top slate must be en-dominated."""
    top = _Q["dsir_importance_weights"](spark, sf_dir).collect()
    assert len(top) > 0
    ws = [r["weight"] for r in top]
    assert ws == sorted(ws, reverse=True)
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    en_frac_corpus = docs.filter(F.col("lang") == "en").count() / n_docs
    en_frac_top = sum(1 for r in top if r["lang"] == "en") / len(top)
    # the top slate must over-represent the target language vs the
    # corpus (0.7 vs ~0.44 at sf0.001; sharper at larger SFs)
    assert en_frac_top > en_frac_corpus + 0.1, (en_frac_top, en_frac_corpus)
    for r in top:
        assert r["n_feats"] > 0
        assert abs(r["weight"]) < 1e6  # finite, sane magnitude


# ---------------------------------------------------------------------------
# Hard negatives
# ---------------------------------------------------------------------------


def test_hard_negative_is_true_cross_label_argmax(spark, sf_dir):
    """Every mined negative must carry a different label than its
    anchor, and re-deriving the argmax with an independent formulation
    (window rank over the scored pairs) must agree row-for-row."""
    from apache_iceberg_with_clickhouse_olake_spark.operators.similarity import (
        _HN_QUERIES,
        _cos,
        _dvec,
    )
    from apache_iceberg_with_clickhouse_olake_spark.functions import dround
    from pyspark.sql import Window

    got = {r["qid"]: r for r in
           _Q["hard_negative_mining"](spark, sf_dir).collect()}
    for r in got.values():
        assert r["neg_label"] != r["qlabel"], r
        assert r["cos_sim"] is not None and -1.001 <= r["cos_sim"] <= 1.001

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _dvec(F.col("embedding")).alias("v")
    )
    q = (
        emb.orderBy("vec_id").limit(_HN_QUERIES)
        .select(F.col("vec_id").alias("qid"),
                F.col("label").alias("qlabel"),
                F.col("v").alias("qv"))
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("qlabel"))
        .select("qid", "vec_id", "label",
                dround(_cos(F.col("v"), F.col("qv")), 6).alias("cs"))
        .filter(F.col("cs").isNotNull())
    )
    w = Window.partitionBy("qid").orderBy(F.col("cs").desc(), "vec_id")
    want = {
        r["qid"]: r
        for r in scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1).collect()
    }
    assert got.keys() == want.keys()
    for qid, r in got.items():
        assert (r["neg_id"], r["cos_sim"]) == (
            want[qid]["vec_id"], want[qid]["cs"]), (r, want[qid])


# ---------------------------------------------------------------------------
# Z-order layout
# ---------------------------------------------------------------------------


def _z_frame(spark, sf_dir):
    from apache_iceberg_with_clickhouse_olake_spark.operators.evolution import (
        _Z_SPARK,
    )

    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            (F.col("o_custkey").cast("long") % 65536).alias("zx"),
            (F.datediff(
                F.col("o_orderdate"), F.lit("1970-01-01").cast("date")
            ).cast("long") % 65536).alias("zy"),
        )
        .select(F.expr(_Z_SPARK).cast("long").alias("z"))
    )


def _file_spans(d):
    import pyarrow.parquet as pq

    spans = []
    for f in sorted(os.listdir(d)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(d, f)).metadata
        mins, maxs = [], []
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(0).statistics
            mins.append(st.min)
            maxs.append(st.max)
        spans.append((min(mins), max(maxs)))
    return spans


def test_zorder_files_have_narrow_disjoint_z_envelopes(spark, sf_dir):
    """The layout property itself: a range-partitioned sorted write
    produces per-file z envelopes that are pairwise disjoint and sum to
    at most the global span, while an unsorted round-robin write of the
    same rows produces massively overlapping envelopes. This is what
    makes min/max pruning effective on BOTH z-dimensions."""
    from apache_iceberg_with_clickhouse_olake_spark.operators.evolution import (
        _Z_FILES,
    )

    z = _z_frame(spark, sf_dir)
    lo, hi = z.agg(F.min("z"), F.max("z")).first()
    global_span = hi - lo
    sorted_dir = tempfile.mkdtemp(prefix="ztest_sorted_")
    shuffled_dir = tempfile.mkdtemp(prefix="ztest_rr_")
    try:
        (
            z.repartitionByRange(_Z_FILES, "z")
            .sortWithinPartitions("z")
            .write.mode("overwrite").parquet(sorted_dir)
        )
        z.repartition(_Z_FILES).write.mode("overwrite").parquet(shuffled_dir)

        spans = sorted(_file_spans(sorted_dir))
        assert len(spans) >= 2
        # pairwise disjoint (range partitioning) ...
        for (a_lo, a_hi), (b_lo, b_hi) in zip(spans, spans[1:]):
            assert a_hi <= b_lo, (spans,)
        # ... so the spans tile the range instead of each covering it
        zsum = sum(h - l for l, h in spans)
        assert zsum <= global_span
        rr = _file_spans(shuffled_dir)
        rr_sum = sum(h - l for l, h in rr)
        assert rr_sum > 2 * global_span, (rr_sum, global_span)
    finally:
        import shutil

        shutil.rmtree(sorted_dir, ignore_errors=True)
        shutil.rmtree(shuffled_dir, ignore_errors=True)


def test_zorder_key_interleaves_both_dimensions(spark, sf_dir):
    """Bit-exactness of the interleave: reconstruct (zx, zy) from z by
    de-interleaving in Python and compare against the source columns."""
    from apache_iceberg_with_clickhouse_olake_spark.operators.evolution import (
        _Z_SPARK,
    )

    orders = load_table(spark, sf_dir, "orders")
    rows = (
        orders.select(
            (F.col("o_custkey").cast("long") % 65536).alias("zx"),
            (F.datediff(
                F.col("o_orderdate"), F.lit("1970-01-01").cast("date")
            ).cast("long") % 65536).alias("zy"),
        )
        .withColumn("z", F.expr(_Z_SPARK).cast("long"))
        .limit(500)
        .collect()
    )
    assert rows
    for r in rows:
        x = sum(((r["z"] >> (2 * i)) & 1) << i for i in range(16))
        y = sum(((r["z"] >> (2 * i + 1)) & 1) << i for i in range(16))
        assert (x, y) == (r["zx"], r["zy"]), r


# ---------------------------------------------------------------------------
# Power iteration
# ---------------------------------------------------------------------------


def test_power_iteration_rayleigh_is_monotone_and_unit_norm(spark, sf_dir):
    """True invariants of power iteration on a PSD gram matrix,
    independent of the fixture's (near-isotropic) eigen-gap: the
    Rayleigh quotient v'(X'X)v must be non-decreasing across
    iterations, every iterate must be (snap-tolerance) unit-norm, and
    the op must be run-to-run deterministic."""
    import numpy as np

    from apache_iceberg_with_clickhouse_olake_spark.operators.linalg import (
        _pi_frame,
    )
    from apache_iceberg_with_clickhouse_olake_spark.operators._cache import (
        cache_scope,
    )

    X = np.array(
        [
            r["dv"]
            for r in load_table(spark, sf_dir, "embeddings")
            .selectExpr(
                "transform(embedding, x -> cast(x as double)) AS dv"
            )
            .collect()
        ]
    )
    G = X.T @ X
    rayleighs = []
    for iters in (1, 2, 3):
        with cache_scope():
            v = np.array(
                [
                    r["component"]
                    for r in _pi_frame(spark, sf_dir, iters=iters)
                    .orderBy("dim")
                    .collect()
                ]
            )
        assert abs(np.linalg.norm(v) - 1.0) < 1e-2  # 4-dp snapped iterate
        rayleighs.append(float(v @ G @ v))
    assert rayleighs == sorted(rayleighs), rayleighs

    a = _Q["embedding_power_iteration"](spark, sf_dir).collect()
    b = _Q["embedding_power_iteration"](spark, sf_dir).collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]


# ---------------------------------------------------------------------------
# Typo mining (inject -> detect roundtrip)
# ---------------------------------------------------------------------------


def test_vocab_edit_pairs_recover_injected_typos(spark, sf_dir):
    """Every mined pair is true distance-1, and the md5-chosen deletion
    twin of at least one frequent word is recovered as its partner."""
    from apache_iceberg_with_clickhouse_olake_spark.functions import tokens
    from apache_iceberg_with_clickhouse_olake_spark.operators.text import (
        _TYPO_MIN_FREQ,
        _TYPO_MIN_LEN,
    )

    rows = _Q["vocab_edit_distance_pairs"](spark, sf_dir).collect()
    assert rows

    def lev1(a, b):
        if len(a) > len(b):
            a, b = b, a
        if len(a) == len(b):
            return sum(x != y for x, y in zip(a, b)) == 1
        if len(b) - len(a) != 1:
            return False
        for i in range(len(b)):
            if b[:i] + b[i + 1:] == a:
                return True
        return False

    for r in rows:
        assert lev1(r["w1"], r["w2"]), r

    import hashlib

    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .filter(F.length("word") >= _TYPO_MIN_LEN)
        .groupBy("word")
        .count()
        .filter(F.col("count") >= _TYPO_MIN_FREQ)
        .collect()
    )
    partners = {
        frozenset((r["w1"], r["w2"])) for r in rows
    }
    recovered = 0
    for r in wf:
        w = r["word"]
        h = int(hashlib.md5(f"typo-{w}".encode()).hexdigest()[:15], 16)
        p = h % len(w)
        twin = w[:p] + w[p + 1:]
        if frozenset((w, twin)) in partners:
            recovered += 1
    assert recovered > 0, "no injected typo recovered in the top pairs"
