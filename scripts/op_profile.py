"""Per-layer profile of registered queries: one ``OpRunner`` record each.

Usage (from the repository root)::

    python3 scripts/op_profile.py name [name...]

Each named query runs at ``$SPARK_GRAFT_SF_DIR`` (default sf0.1, the
bench scale): once to warm it, then once through lakebench's
``spark_probe.OpRunner`` with tracing on. That run's record is printed
as one JSON line: wall, the builder/collect split, Catalyst phase
times, Spark jobs and stage totals, eager jobs (started while the
builder ran), the driver gap, plan bytes, persistent RDDs left and the
layers-sum-to-wall check. The session is lakebench's
(``spark_probe.start_session``): the bench's confs and C1-only JIT.

An op that ends in ``_finalize`` (nonzero ``eager_jobs``) returns a
frame rebuilt from collected local rows: its Catalyst phases and
``plan_bytes`` describe that local frame, and its real work is in the
eager jobs and ``build_ms``.

The name is not ``profile.py``: with ``scripts/`` first on ``sys.path``
that would shadow the standard-library ``profile`` module, which
``cProfile`` imports.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "lakebench")]

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

from spark_probe import OpRunner, Tracer, start_session  # noqa: E402


def profile(spark, names: list[str], sf_dir: str) -> list[dict]:
    """The traced ``OpRunner`` record of one warm run of each query."""
    from apache_iceberg_with_clickhouse_olake_spark.operators import registry

    queries = registry.all_queries()
    runner = OpRunner(spark, Tracer("op-profile", enabled=True))
    for name in names:
        fn = queries[name]
        fn(spark, sf_dir).collect()  # warm: codegen, file listing, Python workers
        runner.run(name, lambda: fn(spark, sf_dir))
    return runner.records


def main(names: list[str]) -> int:
    with tempfile.TemporaryDirectory() as work:
        spark = start_session(work)
        try:
            for rec in profile(spark, names, SF_DIR):
                print(json.dumps(rec))
        finally:
            spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
