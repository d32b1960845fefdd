"""The scaling harness, ``scripts/scaling_experiment.py``: its suites name
registered queries, ``replicate`` builds each suite's table shape, and
``measure`` reports the medians of ``OpRunner`` runs."""

from __future__ import annotations

import filecmp
import importlib.util
import os
import sys

import pytest

from apache_iceberg_with_clickhouse_olake_spark.operators import registry
from apache_iceberg_with_clickhouse_olake_spark.sources.parquet import (
    TABLES,
    table_path,
)

SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts",
    "scaling_experiment.py",
)

# Per suite, the replicated tables and the rows each replica repeats
# (None: all of them).
HOT_ROWS = {
    "fact": {"orders": None, "lineitem": None, "events": None},
    "corpus": {"documents": None, "embeddings": None},
    "skew": {"documents": "lang = 'en'", "embeddings": "label = 2"},
}


@pytest.fixture
def scaling(monkeypatch):
    # The script puts lakebench/ first on sys.path; keep that to this test.
    monkeypatch.setattr(sys, "path", list(sys.path))
    spec = importlib.util.spec_from_file_location("scaling_experiment", SCRIPT)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_every_suite_query_is_registered(scaling):
    registry.all_queries()
    sizes = {}
    for suite, (names, _, _) in scaling.SUITES.items():
        assert len(set(names)) == len(names), suite
        assert [n for n in names if n not in registry.REGISTRY] == [], suite
        sizes[suite] = len(names)
    assert sizes == {"fact": 39, "corpus": 73, "skew": 9}


@pytest.mark.parametrize("suite", sorted(HOT_ROWS))
def test_replicate_repeats_hot_rows_and_copies_the_rest(
    scaling, spark, sf_dir, tmp_path, suite
):
    _, tables, _ = scaling.SUITES[suite]
    assert set(tables) == set(HOT_ROWS[suite])
    out = scaling.replicate(spark, sf_dir, str(tmp_path / suite), 2, tables)
    for t in TABLES:
        src, dst = table_path(sf_dir, t), table_path(out, t)
        if t not in tables:
            assert filecmp.cmp(src, dst, shallow=False), t
            continue
        key = tables[t][0]
        base = spark.read.parquet(src)
        hot = base if HOT_ROWS[suite][t] is None else base.filter(HOT_ROWS[suite][t])
        got = spark.read.parquet(dst)
        assert got.count() == base.count() + hot.count(), t
        # Replica keys are shifted past every original key.
        keys = [df.select(key).distinct().count() for df in (got, base, hot)]
        assert keys[0] == keys[1] + keys[2], t


def test_ratios_name_the_worst_query_per_measure(scaling):
    recs = [
        {"k": 1, "op": "a", "wall_ms": 100.0, "cpu_ms": 200.0},
        {"k": 1, "op": "b", "wall_ms": 100.0, "cpu_ms": 100.0},
        {"k": 8, "op": "a", "wall_ms": 300.0, "cpu_ms": 200.0},
        {"k": 8, "op": "b", "wall_ms": 100.0, "cpu_ms": 400.0},
    ]
    out = scaling.ratios("fact", recs)
    assert out["ratio"] == "8x/1x"
    assert out["worst_wall_ms"] == {"op": "a", "ratio": 3.0}
    assert out["worst_cpu_ms"] == {"op": "b", "ratio": 4.0}


def test_measure_reports_the_medians_of_three_runs(scaling, spark, sf_dir):
    class Runner(scaling.OpRunner):
        # Job groups of its own: every OpRunner numbers its groups
        # lakebench-1, -2, ..., so two of them on this shared session
        # (tests/test_op_profile.py has the other) count each other's jobs.
        def group(self, name):
            g = f"scaling-test-{len(self.records)}"
            self.spark.sparkContext.setJobGroup(g, name)
            return g

    runner = Runner(spark, scaling.Tracer("scaling-test", enabled=True))
    sc = spark.sparkContext
    try:
        rec = scaling.measure(runner, "orders_by_status", sf_dir, skew=True)
    finally:
        # OpRunner leaves its last job group set on the shared session.
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(runner.records) == 4  # the warm run, then three measured
    assert set(rec) == {"op", *scaling.FIELDS, "layers_ok", "straggler",
                        "eligible_stages"}
    assert rec["op"] == "orders_by_status"
    assert rec["wall_ms"] > 0
    assert rec["cpu_ms"] > 0
    assert rec["eligible_stages"] >= 0
