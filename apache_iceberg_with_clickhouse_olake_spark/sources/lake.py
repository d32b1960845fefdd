"""Lake snapshot features on versioned parquet directories (SURVEY.md
§2.9/§2.11). The reference gets these from an Iceberg REST catalog (time
travel BLOG_POST_COMPLETE_WALKTHROUGH.md:521-527, evolution :539-553,
compaction/expiry olake-config/destination.json:92-93, 261-267).

A snapshot table is a directory of immutable ``<table>/v<N>`` versions.
Versions are 1-based and ordered by commit. Each version's schema is
recorded at write time (``sources.parquet.record_schema``), so reads of
versions this process wrote launch no schema job. Each function's
docstring names the Iceberg operation it stands in for.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession

from .parquet import read_table, record_schema


def _versions(table_dir: str) -> list[int]:
    if not os.path.isdir(table_dir):
        return []
    out = []
    for name in os.listdir(table_dir):
        m = re.fullmatch(r"v(\d+)", name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _n_parquet_files(d: str) -> int:
    return len([f for f in os.listdir(d) if f.endswith(".parquet")])


def write_snapshot(df: DataFrame, table_dir: str) -> int:
    """Append a new immutable snapshot version; returns its 1-based id
    (L1/D5). Iceberg: a ``writeTo().append()`` commit."""
    versions = _versions(table_dir)
    v = (versions[-1] + 1) if versions else 1
    path = os.path.join(table_dir, f"v{v}")
    df.write.mode("errorifexists").parquet(path)
    # The commit records the schema it wrote, as an Iceberg commit
    # writes it into the table metadata: a read of v<N> in this
    # process never opens data-file footers to learn it.
    record_schema(df.sparkSession, path, df.schema)
    return v


def read_snapshot(spark: SparkSession, table_dir: str,
                  version: int | None = None) -> DataFrame:
    """Read a pinned snapshot (time travel) or the latest. Versions may
    differ in columns (D7/L1), but each ``v<N>`` dir holds the one schema
    its write gave it, so the read sees that version's own schema.
    Iceberg: ``VERSION AS OF``. A ``version`` not in
    :func:`snapshot_history` raises FileNotFoundError before Spark runs."""
    versions = _versions(table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots under {table_dir}")
    if version is None:
        version = versions[-1]
    elif version not in versions:
        raise FileNotFoundError(
            f"no snapshot v{version} ({len(versions)} snapshots)"
        )
    return read_table(spark, os.path.join(table_dir, f"v{version}"))


def snapshot_history(spark: SparkSession, table_dir: str) -> list[int]:
    """L4: the snapshot listing. Iceberg: the ``.snapshots`` metadata
    table."""
    return _versions(table_dir)


def compact(spark: SparkSession, data_dir: str, target_files: int) -> tuple[int, int]:
    """D11 over a raw parquet directory: rewrite to ``target_files``
    files; returns (files_before, files_after). Iceberg:
    ``rewrite_data_files``."""
    recover_dir(data_dir)
    before = _n_parquet_files(data_dir)
    replace_dir(spark.read.parquet(data_dir).coalesce(target_files), data_dir)
    return before, _n_parquet_files(data_dir)


def recover_dir(path: str) -> None:
    """Crash recovery for :func:`replace_dir`: a death between its two
    renames leaves the data at '<path>.old' and no live dir -- restore
    it (the replacement never became visible, so nothing is lost).
    Stale '.old' and '.next' leftovers are discarded so the next swap's
    renames can never collide with them."""
    bak = path.rstrip("/") + ".old"
    if os.path.exists(bak) and not os.path.exists(path):
        os.rename(bak, path)
    shutil.rmtree(bak, ignore_errors=True)
    shutil.rmtree(path.rstrip("/") + ".next", ignore_errors=True)


def replace_dir(df: DataFrame, path: str) -> None:
    """Write ``df`` as the new contents of ``path``: write to the sibling
    '<path>.next', then swap it in by two renames (single-FS local mode;
    a lake commits a snapshot). ``df`` may read ``path`` itself: the
    source files are only retired after the write finished, never
    overwritten in place under a job that still reads them. Iceberg: the
    merge-on-read commit of olake-config/destination.json:89-91."""
    tmp = path.rstrip("/") + ".next"
    bak = path.rstrip("/") + ".old"
    shutil.rmtree(tmp, ignore_errors=True)
    df.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(bak, ignore_errors=True)
    if os.path.exists(path):
        os.rename(path, bak)
    os.rename(tmp, path)
    shutil.rmtree(bak, ignore_errors=True)
