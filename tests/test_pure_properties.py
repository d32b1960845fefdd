"""Property tests (hypothesis) for the pure helpers the engine's
correctness contracts lean on — no SparkSession needed, so these run in
milliseconds and fuzz the edges the example-based tests fix in place."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st


def test_canon_cell_float_nan_and_decimal():
    import math
    from decimal import Decimal

    from tests.oracle_utils import canon_cell

    assert canon_cell(float("nan")) == canon_cell(None)
    assert canon_cell(Decimal("1.50")) == canon_cell(1.5)
    assert canon_cell([1, None, math.nan]) == canon_cell([1, None, None])


@settings(deadline=None)  # first duckdb call pays one-time import cost
@given(st.integers(min_value=1, max_value=10**12))
def test_k1_engine_parity_and_bounds(n):
    """The two-level coarse-k derivation must (a) compute the EXACT
    same k1 as its DuckDB SQL twin for any corpus size (both sides are
    GREATEST(2, CEIL(SQRT(ceil_div))) over IEEE doubles -- the
    engine-parity the oracle leans on), and (b) satisfy the structural
    bounds the scheme promises: k1 >= 2, k1^2 covers the linear leaf
    count (so per-cluster sub-seeding can reach the same granularity),
    and k1 never exceeds the linear k (the refinement only ever
    shrinks the broadcast)."""
    import duckdb

    from apache_iceberg_with_clickhouse_olake_spark.operators.clustering import (
        _TARGET_CLUSTER_SIZE,
        _k1_for,
        _k_for,
    )

    k1 = _k1_for(n)
    t = _TARGET_CLUSTER_SIZE
    sql = (
        f"SELECT GREATEST(2, CAST(CEIL(SQRT(CAST(({n} + {t - 1}) // {t}"
        f" AS DOUBLE))) AS BIGINT))"
    )
    assert k1 == duckdb.sql(sql).fetchone()[0]
    m = -(-n // t)  # linear leaf count
    assert k1 >= 2
    assert k1 * k1 >= m
    assert k1 <= _k_for(n)
