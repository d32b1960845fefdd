"""Lake snapshot features with a runtime Iceberg gate (SURVEY.md
§2.9/§2.11). The reference gets these from Iceberg (time travel
BLOG_POST_COMPLETE_WALKTHROUGH.md:521-527, evolution :539-553,
compaction/expiry olake-config/destination.json:92-93, 261-267).

Two interchangeable backends sit behind the module-level functions
``write_snapshot`` / ``read_snapshot`` / ``snapshot_history`` /
``compact``:

- :class:`IcebergBackend` — selected at runtime when an Iceberg SQL
  catalog is configured AND the Iceberg classes are loadable on the
  session's JVM classpath (:func:`iceberg_available`). Snapshots are
  real Iceberg snapshots (``writeTo().append()``), time travel reads
  pin a snapshot-id (``VERSION AS OF`` equivalent via the
  ``snapshot-id`` read option), history comes from the ``.snapshots``
  metadata table, and compaction calls the
  ``rewrite_data_files`` procedure.
- :class:`ParquetBackend` — the sandbox fallback (no Iceberg jar
  ships here): versioned ``<table>/v<N>`` directories, ``mergeSchema``
  reads for D7 evolution, coalesce-rewrite compaction. Each version's
  schema is recorded at write time (``sources.parquet.record_schema``),
  so reads of versions this process wrote launch no schema job.

Both expose the same integer version contract (1-based, ordered by
commit time), so callers — and the pytest that runs the SAME
roundtrip through whichever backend is active — are backend-agnostic.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession

from .parquet import read_table, record_schema

_CATALOG_ENV = "SPARK_GRAFT_ICEBERG_CATALOG"


def iceberg_available(spark: SparkSession) -> bool:
    """True iff an Iceberg catalog is configured for this session and the
    Iceberg classes actually load on the JVM classpath."""
    catalog = _iceberg_catalog(spark)
    if catalog is None:
        return False
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def _catalog_from_confs(
    confs: list[tuple[str, str]], forced: str | None
) -> str | None:
    """Pure catalog-selection precedence: an explicit
    $SPARK_GRAFT_ICEBERG_CATALOG wins; otherwise the first
    ``spark.sql.catalog.<name>`` conf whose implementation mentions
    Iceberg. Unit-testable without a SparkSession."""
    if forced:
        return forced
    for k, v in confs:
        m = re.fullmatch(r"spark\.sql\.catalog\.(\w+)", k)
        if m and "iceberg" in v.lower():
            return m.group(1)
    return None


def _iceberg_catalog(spark: SparkSession) -> str | None:
    """Name of the configured Iceberg SQL catalog, if any (set
    ``spark.sql.catalog.<name> = org.apache.iceberg.spark.SparkCatalog``
    at session build; override selection with $SPARK_GRAFT_ICEBERG_CATALOG)."""
    forced = os.environ.get(_CATALOG_ENV)
    try:
        confs = spark.sparkContext.getConf().getAll()
    except Exception:
        confs = []
        if not forced:
            return None
    return _catalog_from_confs(list(confs), forced)


def _table_name_for_path(table_dir: str) -> str:
    """Catalog table name for a caller's table_dir: sanitized basename
    plus an md5 suffix of the ABSOLUTE path. Callers routinely create
    table_dirs under fresh mkdtemp roots with constant basenames and
    clean up with rmtree -- which never drops an Iceberg catalog table,
    so a basename-only mapping would make every rerun append to the same
    persistent table and grow snapshot counts across runs. The path hash
    keys each distinct directory (hence each fresh tmp root) to its own
    table."""
    import hashlib

    norm = os.path.abspath(table_dir.rstrip("/"))
    base = re.sub(r"\W+", "_", os.path.basename(norm))
    return f"{base}_{hashlib.md5(norm.encode()).hexdigest()[:8]}"


# -- pure Iceberg SQL builders ----------------------------------------------
# Extracted so the exact statements the IcebergBackend issues are unit-
# testable WITHOUT a jar (tests/test_lake_backends.py pins their text);
# the gated integration test then runs them for real the moment a
# runtime jar appears.


def _create_namespace_sql(catalog: str) -> str:
    return f"CREATE NAMESPACE IF NOT EXISTS {catalog}.lake"


def _snapshots_sql(ident: str) -> str:
    """L4: the .snapshots metadata table, commit-time ordered."""
    return (
        f"SELECT snapshot_id FROM {ident}.snapshots ORDER BY committed_at"
    )


def _files_stats_sql(ident: str) -> str:
    return (
        f"SELECT COUNT(*), COALESCE(SUM(file_size_in_bytes), 0) "
        f"FROM {ident}.files"
    )


def _files_count_sql(ident: str) -> str:
    return f"SELECT COUNT(*) FROM {ident}.files"


def _rewrite_target_size(total_bytes: int, target_files: int) -> int:
    """rewrite_data_files targets a file SIZE, not a count: derive the
    size that yields ~target_files outputs so the ParquetBackend
    contract (compact to N files) holds on this backend too. Floored at
    1 MiB so a tiny table never produces a degenerate size."""
    return max(
        int(total_bytes) // max(target_files, 1) + 1, 1024 * 1024
    )


def _rewrite_files_sql(catalog: str, ident: str, target_size: int) -> str:
    """D11: the rewrite_data_files compaction procedure call. The
    procedure takes the table identifier WITHOUT the catalog prefix."""
    return (
        f"CALL {catalog}.system.rewrite_data_files("
        f"table => '{ident.split('.', 1)[1]}', "
        f"options => map('min-input-files', '1', "
        f"'target-file-size-bytes', '{target_size}'))"
    )


def _pick_snapshot_id(ids: list[int], version: int | None) -> int | None:
    """Map the backends' 1-based version contract onto a commit-time-
    ordered snapshot-id list; None selects the latest. Raises the same
    FileNotFoundError contract as ParquetBackend on out-of-range."""
    if not ids:
        raise FileNotFoundError("no snapshots")
    if version is None:
        return ids[-1]
    if not 1 <= version <= len(ids):
        raise FileNotFoundError(
            f"no snapshot v{version} ({len(ids)} snapshots)"
        )
    return ids[version - 1]


class ParquetBackend:
    """Versioned-directory snapshots on plain parquet (sandbox path)."""

    def _version_dirs(self, table_dir: str) -> list[int]:
        if not os.path.isdir(table_dir):
            return []
        out = []
        for name in os.listdir(table_dir):
            m = re.fullmatch(r"v(\d+)", name)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def write_snapshot(self, df: DataFrame, table_dir: str) -> int:
        versions = self._version_dirs(table_dir)
        v = (versions[-1] + 1) if versions else 1
        path = os.path.join(table_dir, f"v{v}")
        df.write.mode("errorifexists").parquet(path)
        # The commit records the schema it wrote, as an Iceberg commit
        # writes it into the table metadata: a read of v<N> in this
        # process never opens data-file footers to learn it.
        record_schema(df.sparkSession, path, df.schema)
        return v

    def read_snapshot(
        self, spark: SparkSession, table_dir: str, version: int | None = None
    ) -> DataFrame:
        versions = self._version_dirs(table_dir)
        if not versions:
            raise FileNotFoundError(f"no snapshots under {table_dir}")
        v = version if version is not None else versions[-1]
        return read_table(
            spark, os.path.join(table_dir, f"v{v}"), merge_schema=True
        )

    def snapshot_history(self, spark: SparkSession, table_dir: str) -> list[int]:
        return self._version_dirs(table_dir)

    def compact(
        self, spark: SparkSession, data_dir: str, target_files: int
    ) -> tuple[int, int]:
        recover_dir(data_dir)
        before = _n_parquet_files(data_dir)
        replace_dir(spark.read.parquet(data_dir).coalesce(target_files), data_dir)
        return before, _n_parquet_files(data_dir)


def _n_parquet_files(d: str) -> int:
    return len([f for f in os.listdir(d) if f.endswith(".parquet")])


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
    overwritten in place under a job that still reads them."""
    tmp = path.rstrip("/") + ".next"
    bak = path.rstrip("/") + ".old"
    shutil.rmtree(tmp, ignore_errors=True)
    df.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(bak, ignore_errors=True)
    if os.path.exists(path):
        os.rename(path, bak)
    os.rename(tmp, path)
    shutil.rmtree(bak, ignore_errors=True)


class IcebergBackend:
    """Real-Iceberg routing (reference: olake-config/destination.json:89-91
    merge-on-read; BLOG_POST_COMPLETE_WALKTHROUGH.md:521-553 time travel /
    evolution). ``table_dir`` maps to ``<catalog>.lake.<basename>``.

    Integer versions are 1-based positions in the commit-time-ordered
    snapshot history, so callers keep the exact contract of
    :class:`ParquetBackend`."""

    def __init__(self, catalog: str):
        self.catalog = catalog

    def _ident(self, table_dir: str) -> str:
        return f"{self.catalog}.lake.{_table_name_for_path(table_dir)}"

    def _snapshot_ids(self, spark: SparkSession, ident: str) -> list[int]:
        rows = spark.sql(_snapshots_sql(ident)).collect()
        return [r[0] for r in rows]

    def write_snapshot(self, df: DataFrame, table_dir: str) -> int:
        ident = self._ident(table_dir)
        spark = df.sparkSession
        spark.sql(_create_namespace_sql(self.catalog))
        if spark.catalog.tableExists(ident):
            # D7: schema evolution on append needs BOTH the Iceberg write
            # option 'merge-schema' (not Spark's parquet 'mergeSchema')
            # and the accept-any-schema table property set below at
            # create time; without the property the analyzer rejects the
            # extra columns before Iceberg sees them.
            df.writeTo(ident).option("merge-schema", "true").append()
        else:
            (
                df.writeTo(ident)
                .tableProperty("write.spark.accept-any-schema", "true")
                .create()
            )
        return len(self._snapshot_ids(spark, ident))

    def read_snapshot(
        self, spark: SparkSession, table_dir: str, version: int | None = None
    ) -> DataFrame:
        ident = self._ident(table_dir)
        if version is None:
            return spark.read.table(ident)
        snap = _pick_snapshot_id(self._snapshot_ids(spark, ident), version)
        # VERSION AS OF <snapshot-id>
        return spark.read.option("snapshot-id", str(snap)).table(ident)

    def snapshot_history(self, spark: SparkSession, table_dir: str) -> list[int]:
        ident = self._ident(table_dir)
        if not spark.catalog.tableExists(ident):
            return []
        return list(
            range(1, len(self._snapshot_ids(spark, ident)) + 1)
        )

    def compact(
        self, spark: SparkSession, data_dir: str, target_files: int
    ) -> tuple[int, int]:
        ident = self._ident(data_dir)
        before, total_bytes = spark.sql(_files_stats_sql(ident)).first()
        target_size = _rewrite_target_size(int(total_bytes), target_files)
        spark.sql(_rewrite_files_sql(self.catalog, ident, target_size))
        after = spark.sql(_files_count_sql(ident)).first()[0]
        return int(before), int(after)


def _backend(spark: SparkSession) -> ParquetBackend | IcebergBackend:
    if iceberg_available(spark):
        return IcebergBackend(_iceberg_catalog(spark))
    return ParquetBackend()


# Ops that transparently switch from the parquet fallback to real
# Iceberg the moment a jar + catalog appear (r5 verdict item 7: the
# gated surface must be visible in round artifacts, so every round's
# record shows exactly what remains unverified in this sandbox).
# op-id -> (what switches, verifying gated test)
GATED_SURFACE: dict[str, tuple[str, str]] = {
    "L1 time travel": (
        "versioned-dir reads -> snapshot-id pinned reads (VERSION AS OF)",
        "tests/test_lake_backends.py (skipif not iceberg_available)",
    ),
    "L3 manifest caching": (
        "per-file-version schema record (sources.parquet.read_table; "
        "seeded by write_snapshot) -> io.manifest.cache-enabled=true "
        "config keys",
        "tests/test_table_meta.py (parquet record); the Iceberg cache "
        "is config passthrough only",
    ),
    "L4 snapshot inspection": (
        "v<N> dir listing -> .snapshots metadata table",
        "tests/test_lake_backends.py",
    ),
    "D6 upsert merge-on-read": (
        "per-batch delta log under _delta/, merged once at publish by a "
        "row_number view -> MERGE INTO + merge-on-read",
        "tests/test_lake_backends.py",
    ),
    "D7 ADD COLUMN evolution": (
        "mergeSchema=true parquet reads -> ALTER TABLE ... ADD COLUMN",
        "tests/test_lake_backends.py",
    ),
    "D9 UPDATE WHERE": (
        "read-modify-overwrite rewrite -> Iceberg UPDATE SQL",
        "tests/test_lake_backends.py",
    ),
    "D11 compaction/expiry": (
        "coalesce-rewrite + rename swap -> rewrite_data_files / "
        "expire_snapshots procedures",
        "tests/test_lake_backends.py",
    ),
    "S3 lake write": (
        "partitioned parquet sink -> writeTo(catalog.ns.tbl).append()",
        "tests/test_lake_backends.py",
    ),
}


def gated_surface_report(spark: SparkSession) -> list[str]:
    """Human-readable inventory of the Iceberg-gated surface and whether
    this session runs the real branch or the parquet fallback."""
    live = iceberg_available(spark)
    head = (
        "Iceberg runtime DETECTED: gated ops run the real branch"
        if live
        else "no Iceberg jar/catalog in this session: gated ops run the "
        "parquet fallback (real branch verifies via the skipif-gated "
        "integration tests the moment a jar appears)"
    )
    lines = [f"iceberg-gated surface: {head}"]
    for op, (switch, test) in GATED_SURFACE.items():
        lines.append(f"  {op}: {switch}  [{test}]")
    return lines


# -- module-level surface (backend-agnostic call sites) ---------------------


def write_snapshot(df: DataFrame, table_dir: str) -> int:
    """Append a new immutable snapshot version; returns its 1-based id
    (L1/D5)."""
    return _backend(df.sparkSession).write_snapshot(df, table_dir)


def read_snapshot(spark: SparkSession, table_dir: str,
                  version: int | None = None) -> DataFrame:
    """Read a pinned snapshot (time travel) or the latest; tolerates
    schema evolution across versions (D7/L1)."""
    return _backend(spark).read_snapshot(spark, table_dir, version)


def snapshot_history(spark: SparkSession, table_dir: str) -> list[int]:
    """L4: the snapshot listing (metadata-table equivalent)."""
    return _backend(spark).snapshot_history(spark, table_dir)


def compact(spark: SparkSession, data_dir: str, target_files: int) -> tuple[int, int]:
    """D11 rewrite_data_files equivalent over a RAW parquet directory:
    rewrite to ``target_files`` files; returns (files_before,
    files_after).

    Deliberately parquet-native, never backend-routed: callers hand this
    a directory they wrote directly with ``df.write.parquet`` (not a
    snapshot table created via write_snapshot), so under an Iceberg
    session the backend would resolve a catalog table that does not
    exist -- and Iceberg's size-targeted rewrite_data_files could not
    honor the exact-file-count contract anyway. Iceberg compaction for
    tables created through write_snapshot is IcebergBackend.compact."""
    return ParquetBackend().compact(spark, data_dir, target_files)
