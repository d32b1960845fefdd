"""Property-based check of the CDC upsert operator: for ANY event
sequence, the distributed row_number apply and its DuckDB SQL twin must
equal a sequential replay into a dict (the semantics MySQL->OLake upsert
promises, olake-config/destination.json:132-134)."""

from __future__ import annotations

import duckdb
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from apache_iceberg_with_clickhouse_olake_spark.operators.cdc import (
    _latest_sql,
    apply_cdc_upsert,
)

# (key, op, price) sequences over a small key space so updates/deletes
# actually collide; _seq is the list position (total order, like a binlog).
_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),
        st.sampled_from(["c", "u", "d"]),
        st.floats(
            min_value=0, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
    ),
    min_size=0,
    max_size=40,
)


def _replay(seq):
    state = {}
    for key, op, price in seq:
        if op == "d":
            state.pop(key, None)
        else:
            state[key] = price
    return state


@given(_events)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_upsert_matches_sequential_replay(spark, seq):
    rows = [
        (key, op, price, i) for i, (key, op, price) in enumerate(seq)
    ]
    if not rows:
        return
    df = spark.createDataFrame(
        rows, "key long, _op string, price double, _seq long"
    )
    got = {
        r.key: r.price for r in apply_cdc_upsert(df).collect()
    }
    assert got == _replay(seq)

    with duckdb.connect() as con:
        con.execute(
            "CREATE TABLE ev"
            " (key BIGINT, _op VARCHAR, price DOUBLE, _seq BIGINT)"
        )
        con.executemany("INSERT INTO ev VALUES (?, ?, ?, ?)", rows)
        sql = _latest_sql("SELECT * FROM ev", "key, price")
        assert dict(con.execute(sql).fetchall()) == _replay(seq)


@given(_events)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_upsert_is_partitioning_invariant(spark, seq):
    """Same answer regardless of how events are partitioned (the
    retry/distribution safety the read-side merge relies on)."""
    rows = [(key, op, price, i) for i, (key, op, price) in enumerate(seq)]
    if not rows:
        return
    df = spark.createDataFrame(
        rows, "key long, _op string, price double, _seq long"
    )
    a = sorted(
        (r.key, r.price) for r in apply_cdc_upsert(df.repartition(7)).collect()
    )
    b = sorted(
        (r.key, r.price) for r in apply_cdc_upsert(df.coalesce(1)).collect()
    )
    assert a == b
