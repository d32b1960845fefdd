"""Smoke tests of the benchmark itself (not of the engine).

Run from the repository root::

    python3 -m pytest lakebench/test_smoke.py -q

Each workload runs once per mode at sf0.001 with a one-second window,
so the whole file takes a few minutes.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from workloads import WORKLOADS, AnalyticsMix  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_spec_workloads_exist():
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_emitted(workload, trace):
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        assert res["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
    if workload == "lakehouse_etl" and trace:
        assert res["metrics"]["streaming.write_amp"]["value"] > 0
        assert res["metrics"]["streaming.batch_ms_growth"]["value"] > 0
    if trace:
        assert res["metrics"]["trace.layer_sum_failures"]["value"] == 0


# The engine's sf0.01 test fixtures, as their parquet footers describe
# them: (column, physical type, logical type) per table, and row counts.
# Every table is one file with one snappy row group.
_TS = ("Timestamp(isAdjustedToUTC=false, timeUnit=microseconds, "
       "is_from_converted_type=false, force_set_converted_type=false)")
_I64, _I32, _F64, _STR = ("INT64", "None"), ("INT32", "None"), ("DOUBLE", "None"), \
    ("BYTE_ARRAY", "String")
FIXTURE_SCHEMA = {
    "customer": [("c_custkey", _I64), ("c_name", _STR), ("c_nationkey", _I32),
                 ("c_acctbal", _F64), ("c_mktsegment", _STR)],
    "documents": [("doc_id", _I64), ("text", _STR), ("lang", _STR),
                  ("source", _STR), ("n_chars", _I64)],
    "embeddings": [("vec_id", _I64), ("embedding.list.element", ("FLOAT", "None")),
                   ("label", _I32)],
    "events": [("event_id", _I64), ("ts", ("INT64", _TS)), ("user_id", _I64),
               ("event_type", _STR), ("value", _F64), ("props", _STR)],
    "lineitem": [("l_orderkey", _I64), ("l_partkey", _I64), ("l_suppkey", _I64),
                 ("l_linenumber", _I32), ("l_quantity", _F64),
                 ("l_extendedprice", _F64), ("l_discount", _F64), ("l_tax", _F64),
                 ("l_returnflag", _STR), ("l_linestatus", _STR),
                 ("l_shipdate", ("INT64", _TS))],
    "nation": [("n_nationkey", _I32), ("n_name", _STR), ("n_regionkey", _I32)],
    "orders": [("o_orderkey", _I64), ("o_custkey", _I64), ("o_orderstatus", _STR),
               ("o_totalprice", _F64), ("o_orderdate", ("INT64", _TS)),
               ("o_orderpriority", _STR)],
    "part": [("p_partkey", _I64), ("p_name", _STR), ("p_brand", _STR),
             ("p_type", _STR), ("p_size", _I32), ("p_retailprice", _F64)],
    "region": [("r_regionkey", _I32), ("r_name", _STR)],
    "supplier": [("s_suppkey", _I64), ("s_name", _STR), ("s_nationkey", _I32),
                 ("s_acctbal", _F64)],
}
FIXTURE_ROWS = {"customer": 1500, "documents": 500, "embeddings": 500,
                "events": 10000, "lineitem": 60000, "nation": 25, "orders": 15000,
                "part": 2000, "region": 5, "supplier": 100}


def test_tables_match_fixture_layout(tmp_path):
    import pyarrow.parquet as pq

    gen.write_tables(str(tmp_path), gen.make_tables(1, 0.01, 500, 500))
    for name, want in FIXTURE_SCHEMA.items():
        f = pq.ParquetFile(tmp_path / f"{name}.parquet")
        got = [(c.path, (c.physical_type, str(c.logical_type)))
               for c in (f.schema.column(i) for i in range(len(f.schema)))]
        assert got == want, name
        assert f.metadata.num_rows == FIXTURE_ROWS[name], name
        assert f.metadata.num_row_groups == 1, name
        assert f.metadata.row_group(0).column(0).compression == "SNAPPY", name


def _stream(tmp_path, name, seed):
    d = str(tmp_path / name)
    gen.write_cdc_stream(d, gen.make_cdc_stream(seed, 500, 3, 40, (0.6, 0.3, 0.1)))
    return d


def test_seed_fixes_cdc_files(tmp_path):
    a, b, c = (_stream(tmp_path, n, s) for n, s in (("a", 1), ("b", 1), ("c", 2)))
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b)) == sorted(os.listdir(c))
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors
    _, mismatch, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    assert mismatch


def test_seed_fixes_query_order():
    def orders(seed):
        wl = AnalyticsMix(seed)
        return [wl.round_order() for _ in range(3)]

    assert orders(1) == orders(1)
    assert orders(1) != orders(2)


def test_run_fails_without_engine(tmp_path):
    """Without the package beside it the command exits non-zero and
    prints no result."""
    os.makedirs(tmp_path / "lakebench")
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            with open(os.path.join(HERE, name)) as src:
                (tmp_path / "lakebench" / name).write_text(src.read())
    out = subprocess.run(
        [sys.executable, "lakebench/run.py", "--workload", "analytics_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
        env={**os.environ, "PYTHONPATH": ""},
    )
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
