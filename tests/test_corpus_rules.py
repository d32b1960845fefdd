"""The corpus layer's shared rules give the same answer in every op that
composes them (each rule is defined once, beside the op that owns it)."""

from __future__ import annotations

from pyspark.sql import functions as F

from apache_iceberg_with_clickhouse_olake_spark.operators import registry
from apache_iceberg_with_clickhouse_olake_spark.operators.text import (
    _MAX_PUNCT_RATIO,
)

registry._load_all()
_Q = {name: spec.fn for name, spec in registry.REGISTRY.items()}


def test_quality_gate_agrees_across_ops(spark, sf_dir):
    """The sweep's row at the default cutoff, text_quality_scores' keep
    count and corpus_build_pipeline's quality funnel all count the same
    docs."""
    sweep = {
        r["max_punct_ratio"]: r["docs_kept"]
        for r in _Q["quality_threshold_sweep"](spark, sf_dir).collect()
    }
    scored = (
        _Q["text_quality_scores"](spark, sf_dir).filter(F.col("keep")).count()
    )
    built = sum(
        r["quality_docs"]
        for r in _Q["corpus_build_pipeline"](spark, sf_dir).collect()
    )
    assert scored > 0
    assert sweep[_MAX_PUNCT_RATIO] == scored == built, (sweep, scored, built)
