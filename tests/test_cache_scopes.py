"""Lifecycle semantics of the scoped resource registry: an operator
that raises mid-build must not pin resources for later queries, and
nested composition must never release a caller's live resources. Each
tracked kind is covered: persisted frames, supersteps and scratch
directories."""

from __future__ import annotations

import os

import pytest

from apache_iceberg_with_clickhouse_olake_spark.operators._cache import (
    cache_scope,
    finalize,
    persist_tracked,
    release_caches,
    scoped,
    scratch_dir,
    superstep,
)


def _is_cached(df) -> bool:
    return df.storageLevel.useMemory or df.storageLevel.useDisk


def _holds_blocks(cut) -> bool:
    """Is the superstep's checkpointed RDD (its LogicalRDD leaf, the
    handle ``superstep`` tracks) still a persistent RDD?"""
    rdd_id = cut._jdf.logicalPlan().rdd().id()
    return rdd_id in cut.sparkSession.sparkContext._jsc.getPersistentRDDs()


def test_exception_in_scope_releases_its_caches(spark):
    df = spark.range(10)
    with pytest.raises(RuntimeError):
        with cache_scope():
            persist_tracked(df)
            tmp = scratch_dir("scope_raise_")
            assert _is_cached(df)
            assert os.path.isdir(tmp)
            raise RuntimeError("mid-build failure")
    assert not _is_cached(df)
    assert not os.path.exists(tmp)


def test_nested_scope_cannot_release_outer_caches(spark):
    outer = spark.range(5)
    inner = spark.range(7)
    with cache_scope():
        persist_tracked(outer)
        outer_dir = scratch_dir("scope_outer_")
        with cache_scope():
            persist_tracked(inner)
            inner_dir = scratch_dir("scope_inner_")
            # the inner op's mid-op release (the streaming trainer
            # idiom) must drain only ITS scope
            release_caches()
            assert not _is_cached(inner)
            assert not os.path.exists(inner_dir)
            assert _is_cached(outer)
            assert os.path.isdir(outer_dir)
        assert _is_cached(outer)
        assert os.path.isdir(outer_dir)
    assert not _is_cached(outer)
    assert not os.path.exists(outer_dir)


def test_finalize_releases_current_scope_even_on_failed_collect(spark):
    from pyspark.sql import functions as F

    df = spark.range(4)
    with cache_scope():
        persist_tracked(df)
        bad = df.select(
            F.assert_true(F.col("id") < 2).alias("x")
        )
        with pytest.raises(Exception):
            finalize(spark, bad)
        assert not _is_cached(df)


def test_scoped_decorator_wraps_a_query_fn(spark):
    captured = {}

    @scoped
    def op(spark, sf_dir):
        df = spark.range(3)
        captured["df"] = persist_tracked(df)
        captured["dir"] = tmp = scratch_dir("scope_op_")
        df.write.parquet(f"{tmp}/t")
        return finalize(spark, spark.read.parquet(f"{tmp}/t"))

    out = op(spark, "unused")
    assert out.count() == 3
    assert not _is_cached(captured["df"])
    assert not os.path.exists(captured["dir"])
    # the finalized frame is rebuilt from local rows: still valid here,
    # after the directory it was read from is gone
    assert sorted(r.id for r in out.collect()) == [0, 1, 2]


@pytest.mark.parametrize("eager", [False, True])
def test_superstep_is_released_when_its_scope_drains(spark, eager):
    with cache_scope():
        cut = superstep(spark.range(6), eager=eager)
        assert _holds_blocks(cut)
        assert cut.count() == 6
    assert not _holds_blocks(cut)
    with pytest.raises(RuntimeError):
        with cache_scope():
            cut = superstep(spark.range(6), eager=eager)
            assert _holds_blocks(cut)
            raise RuntimeError("mid-build failure")
    assert not _holds_blocks(cut)


def test_inner_drain_leaves_outer_superstep_readable(spark):
    with cache_scope():
        outer = superstep(spark.range(5), eager=True)
        with cache_scope():
            inner = superstep(spark.range(7), eager=True)
            release_caches()
            assert not _holds_blocks(inner)
        assert _holds_blocks(outer)
        assert outer.count() == 5
    assert not _holds_blocks(outer)


def test_finalized_rows_outlive_the_superstep_they_read(spark):
    from pyspark.sql import functions as F

    with cache_scope():
        cut = superstep(
            spark.range(8).withColumn("g", F.col("id") % 2), eager=True
        )
        out = finalize(spark, cut.groupBy("g").count().orderBy("g"))
        assert not _holds_blocks(cut)
        # a released checkpoint has no lineage to recompute from ...
        with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID"):
            cut.count()
    # ... so only the finalized rows outlive it
    assert [tuple(r) for r in out.collect()] == [(0, 4), (1, 4)]
