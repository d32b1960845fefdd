"""Every registered query vs its DuckDB oracle on sf0.001 -- the in-repo
mirror of the driver's correctness gate (SURVEY.md §5)."""

from __future__ import annotations

import os
import tempfile

import pytest

from apache_iceberg_with_clickhouse_olake_spark.operators import registry
from tests.oracle_utils import assert_match

registry._load_all()
_ORACLE_NAMES = sorted(
    name for name, spec in registry.REGISTRY.items() if spec.oracle is not None
)
_ROWS_ONLY_NAMES = sorted(
    name for name, spec in registry.REGISTRY.items() if spec.oracle is None
)


@pytest.fixture
def scratch_root(tmp_path, monkeypatch):
    """A per-test ``tempfile`` root: every scratch dir a query makes
    lands here, so the test can check the query removed it again."""
    root = tmp_path / "scratch"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    return root


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.parametrize("name", _ORACLE_NAMES)
def test_query_matches_oracle(spark, duck, sf_dir, scratch_root, name):
    spec = registry.REGISTRY[name]
    before = _persistent_rdd_ids(spark)
    df = spec.fn(spark, sf_dir)
    assert_match(df, duck, spec.oracle, name=name)
    assert not os.listdir(scratch_root)
    # ids, not counts: the ContextCleaner may free older RDDs meanwhile
    assert not _persistent_rdd_ids(spark) - before


@pytest.mark.parametrize("name", _ROWS_ONLY_NAMES)
def test_rows_only_query_runs(spark, sf_dir, scratch_root, name):
    spec = registry.REGISTRY[name]
    before = _persistent_rdd_ids(spark)
    df = spec.fn(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
    assert not os.listdir(scratch_root)
    assert not _persistent_rdd_ids(spark) - before


def test_entry_contract(spark):
    import __spark_entry__ as e

    out = e.entry(spark)
    assert out.count() > 0
    qs, oracles = e.queries(), e.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 85
    # oracle coverage must stay near-total: only inherently oracle-less
    # ops (physical-layout stats, Python hashing, approx estimators) may
    # be rows-only
    assert len(qs) - len(oracles) <= 5
