"""Correctness checks, run outside every timed region.

The DuckDB oracles are computed ahead by :class:`Answers`, on one thread
while the untimed warm-up pass runs. Query results are then compared with
them through the test suite's ``tests/oracle_utils.assert_match`` itself
(same canonicalization, same dtype check), on rows the benchmark already
collected, so no query runs twice.
"""

from __future__ import annotations

import glob
import os
import sys
import threading

import duckdb

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_ROOT, "tests"))

from oracle_utils import assert_match, canon_rows  # noqa: E402

CDC_COLS = ["key", "custkey", "price", "_op", "_seq", "_sync_ts_epoch"]


def cdc_latest_sql(events_dir: str) -> str:
    """Latest version per key over every event file, tombstones dropped."""
    return f"""
        SELECT {", ".join(CDC_COLS)} FROM (
          SELECT *, row_number() OVER (PARTITION BY key ORDER BY _seq DESC) AS rn
          FROM read_parquet('{events_dir}/*.parquet'))
        WHERE rn = 1 AND _op != 'd'"""


class _Collected:
    """A DataFrame's schema plus rows already collected from it."""

    def __init__(self, df, rows):
        self.columns = df.columns
        self.schema = df.schema
        self._rows = rows

    def collect(self):
        return self._rows


class _Result:
    def __init__(self, table):
        self._table = table

    def fetch_arrow_table(self):
        return self._table


def duck_over(data_dir: str) -> duckdb.DuckDBPyConnection:
    """In-memory single-threaded DuckDB with every ``<table>.parquet`` of
    ``data_dir`` as a view."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute("SET threads = 1")
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


class Answers:
    """Oracle results over ``data_dir``, computed on a background thread.

    It stands in for the DuckDB connection that ``assert_match`` runs the
    oracle on: ``execute(sql)`` returns the stored result. Call
    :meth:`wait` before anything is timed.
    """

    def __init__(self, data_dir: str, sqls: list[str]):
        self._tables: dict[str, object] = {}
        self._error: Exception | None = None
        self._thread = threading.Thread(target=self._run, args=(data_dir, sqls))
        self._thread.start()

    @staticmethod
    def _key(sql: str) -> str:
        return sql.strip().rstrip(";")

    def _run(self, data_dir: str, sqls: list[str]) -> None:
        try:
            con = duck_over(data_dir)
            try:
                for sql in sqls:
                    self._tables[self._key(sql)] = con.execute(self._key(sql)).fetch_arrow_table()
            finally:
                con.close()
        except Exception as exc:  # noqa: BLE001 -- re-raised by wait()
            self._error = exc

    def join(self) -> None:
        self._thread.join()

    def wait(self) -> None:
        self.join()
        if self._error is not None:
            raise self._error

    def execute(self, sql: str) -> _Result:
        return _Result(self._tables[self._key(sql)])

    def match(self, df, rows, sql: str, name: str) -> str | None:
        """None when the collected result matches the oracle, else why not."""
        try:
            assert_match(_Collected(df, rows), self, sql, name)
        except AssertionError as exc:
            return str(exc)[:500]
        return None

    def cdc_state_mismatch(self, events_dir: str, state_dir: str) -> str | None:
        """The drained CDC state must equal latest-per-key over every event
        file with tombstones dropped."""
        want = self.execute(cdc_latest_sql(events_dir)).fetch_arrow_table()
        con = duckdb.connect()
        try:
            got = con.execute(f"SELECT {', '.join(CDC_COLS)} "
                              f"FROM read_parquet('{state_dir}/*.parquet')").fetchall()
        finally:
            con.close()
        want_rows = list(zip(*(want.column(c).to_pylist() for c in CDC_COLS)))
        if canon_rows(CDC_COLS, got) != canon_rows(CDC_COLS, want_rows):
            return f"cdc state: {len(got)} rows, oracle {len(want_rows)}"
        return None
