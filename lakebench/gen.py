"""Seeded input generation for the lakehouse benchmark.

Everything here is NumPy + PyArrow, so the engine under test never takes
part in making its own inputs, and one seed always gives byte-identical
files.

- :func:`write_tables` writes the TPC-H-shaped star schema plus the
  ``events``, ``documents`` and ``embeddings`` tables with the column
  names, parquet types and layout of the engine's test fixtures: one
  file and one row group per table, snappy, timestamps as
  ``TIMESTAMP(MICROS)`` not adjusted to UTC. Row counts per scale factor
  and the value ranges follow the fixtures too; ``test_smoke.py`` pins
  the parquet schema.
- :func:`write_cdc_stream` writes a change stream in
  ``streaming.CDC_EVENT_SCHEMA``: one large initial snapshot file, then
  fixed-size change files with seeded insert/update/delete shares.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01 UTC
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01 UTC
# Fixed stream audit epoch (2000-01-01 UTC) and file mtime base
# (2026-01-01 UTC): the file source replays files in mtime order.
_SYNC_EPOCH = 946_684_800
_MTIME_BASE = 1_767_225_600

_COLORS = ("blue", "red", "green", "hot", "cold", "small", "large", "shiny")
_THINGS = ("anvil", "widget", "ring", "bolt", "gear", "spring", "valve", "plate")
_WORDS = (
    "a the data spark stream batch table column row key value query scan "
    "filter join group agg sort hash merge window part line order customer "
    "vector fast slow big small"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _pick(rng: np.random.Generator, choices: tuple[str, ...], n: int,
          p: tuple[float, ...] | None = None) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random texts over a small vocabulary, with planted exact and near
    duplicates so every dedup stage has work to do."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.02:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.08:
            words = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(words)))
            words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    ids = np.arange(n, dtype="int64")
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (10, dim))
    label = rng.integers(0, 10, n)
    vec = centers[label] + rng.normal(0.0, 0.6, (n, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    flat = pa.array(vec.astype("float32").ravel())
    return pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * dim + 1, dim, dtype="int32")), flat
        ),
        "label": label.astype("int32"),
    })


def make_tables(seed: int, sf: float, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """All registry tables at scale factor ``sf`` (lineitem = 6M x sf rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 100)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, ("AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"), n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    colors = rng.integers(0, len(_COLORS), n_part)
    things = rng.integers(0, len(_THINGS), n_part)
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{_COLORS[c]} {_THINGS[h]}" for c, h in zip(colors, things)],
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"), n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995_US + rng.integers(0, 2405, n_ord) * _DAY_US),
        "o_orderpriority": _pick(rng, ("1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"), n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
        "l_linestatus": _pick(rng, ("F", "O"), n_li),
        "l_shipdate": _ts(_EPOCH_1995_US + (1 + rng.integers(0, 2499, n_li)) * _DAY_US),
    })
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(np.sort(_EPOCH_2024_US + rng.integers(0, 30 * _DAY_US, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _pick(rng, ("click", "error", "purchase", "signup", "view"), n_ev),
        "value": np.round(rng.exponential(40.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vecs)
    return t


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> dict[str, int]:
    """Write each table as ``<out_dir>/<name>.parquet``; returns bytes per
    table."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, tbl in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        sizes[name] = os.path.getsize(path)
    return sizes


def make_cdc_stream(seed: int, n_initial: int, n_files: int, batch_events: int,
                    shares: tuple[float, float, float],
                    recent_bias: float = 0.6) -> list[pa.Table]:
    """The change stream as a list of tables: ``[snapshot, change_1, ...]``.

    ``shares`` are the insert/update/delete probabilities of a change
    event. An update picks, with probability ``recent_bias``, one of the
    most recently inserted tenth of live keys, else any live key. Every
    event carries a unique, increasing ``_seq``, so latest-per-key is
    well defined. The shares and the bias are this benchmark's choice,
    not taken from a recorded change log.
    """
    rng = np.random.default_rng(seed)
    live = list(range(n_initial))
    pos = {k: k for k in live}  # key -> index in `live`
    next_key, seq = n_initial, n_initial
    cust = {k: int(c) for k, c in zip(live, rng.integers(0, 15_000, n_initial))}

    def table(keys, ops, prices, seqs) -> pa.Table:
        seqs = np.asarray(seqs, dtype="int64")
        return pa.table({
            "key": pa.array(keys, type=pa.int64()),
            "custkey": pa.array([cust[k] for k in keys], type=pa.int64()),
            "price": pa.array(prices, type=pa.float64()),
            "_op": pa.array(ops, type=pa.string()),
            "_seq": seqs,
            "_sync_ts_epoch": _SYNC_EPOCH + seqs // 100,
        })

    out = [table(live, ["c"] * n_initial,
                 _money(rng, 1000.0, 500_000.0, n_initial).tolist(),
                 range(n_initial))]

    def remove(k: int) -> None:
        i = pos.pop(k)
        last = live.pop()
        if last != k:
            live[i] = last
            pos[last] = i

    for _ in range(n_files):
        keys, ops, prices, seqs = [], [], [], []
        for _ in range(batch_events):
            r = rng.random()
            if r < shares[0] or len(live) < 2:
                k = next_key
                next_key += 1
                cust[k] = int(rng.integers(0, 15_000))
                pos[k] = len(live)
                live.append(k)
                op, price = "c", round(float(rng.integers(100_000, 50_000_000)) / 100, 2)
            elif r < shares[0] + shares[1]:
                if rng.random() < recent_bias:
                    lo = max(0, len(live) - max(len(live) // 10, 1))
                    k = live[int(rng.integers(lo, len(live)))]
                else:
                    k = live[int(rng.integers(0, len(live)))]
                op, price = "u", round(float(rng.integers(100_000, 50_000_000)) / 100, 2)
            else:
                k = live[int(rng.integers(0, len(live)))]
                remove(k)
                op, price = "d", None
            keys.append(k)
            ops.append(op)
            prices.append(price)
            seqs.append(seq)
            seq += 1
        out.append(table(keys, ops, prices, seqs))
    return out


def write_cdc_stream(out_dir: str, files: list[pa.Table]) -> list[int]:
    """Write the stream as ``part-NNNNN.parquet`` with strictly increasing
    mtimes (the file source's replay order); returns bytes per file."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = []
    for i, tbl in enumerate(files):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(tbl, path)
        os.utime(path, (_MTIME_BASE + i, _MTIME_BASE + i))
        sizes.append(os.path.getsize(path))
    return sizes
