"""The one profiler, ``scripts/op_profile.py``: one traced ``OpRunner``
record per named query, in order, whose layers add up to its wall."""

from __future__ import annotations

import importlib.util
import os
import sys

SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts",
    "op_profile.py",
)


def test_profile_prints_one_layered_record_per_query(spark, sf_dir, monkeypatch):
    # The script puts lakebench/ first on sys.path; keep that to this test.
    monkeypatch.setattr(sys, "path", list(sys.path))
    spec = importlib.util.spec_from_file_location("op_profile", SCRIPT)
    op_profile = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(op_profile)

    names = ["orders_by_status", "dsir_importance_weights"]
    sc = spark.sparkContext
    try:
        recs = op_profile.profile(spark, names, sf_dir)
    finally:
        # OpRunner leaves its last job group set on the shared session.
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    assert [r["op"] for r in recs] == names
    for r in recs:
        assert r["layers_ok"], r["layers_broken"]
        assert r["jobs"] >= 1
    plain, finalized = recs
    assert plain["eager_jobs"] == 0
    assert finalized["eager_jobs"] >= 1
