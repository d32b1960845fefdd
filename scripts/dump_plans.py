"""Dump .explain("formatted") for named registered queries to plans/<tag>/.

Usage: python scripts/dump_plans.py <tag> [names...]
Default names: the bench HEADLINE + LLM_SUITE rows.

The plan is captured at sf0.1 (the bench scale) with the bench's own
session settings, so Exchange counts / join strategies / PushedFilters
match what the bench actually executes. Output file per query:
plans/<tag>/<name>_<suffix>.txt where <tag> is e.g. "r19_before".
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    tag = sys.argv[1]
    names = sys.argv[2:]

    from apache_iceberg_with_clickhouse_olake_spark.operators import registry
    from apache_iceberg_with_clickhouse_olake_spark.session import (
        default_parallelism,
        get_spark,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_parallelism()
    spark = get_spark("plan-dump", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    queries = registry.all_queries()
    if not names:
        import bench
        names = [n for n in bench.HEADLINE + bench.LLM_SUITE
                 if n in queries]

    # plans/<round>/<name>_<when>.txt: tag "r19_before" -> dir plans/r19,
    # suffix "_before".
    round_dir, _, suffix = tag.partition("_")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", round_dir,
    )
    os.makedirs(out_dir, exist_ok=True)

    # The stats ops return a frame REBUILT from collected rows
    # (_cache.finalize) whose plan is a LocalTableScan; the plan worth
    # pinning is the pre-finalize frame's. Wrap finalize in every
    # operator module (bound as the module attribute `_finalize`) to
    # capture that frame.
    captured: list = []

    def _capturing_finalize(spark_, out):
        captured.append(out)
        from apache_iceberg_with_clickhouse_olake_spark.operators import (
            _cache,
        )
        return _cache.finalize(spark_, out)

    import apache_iceberg_with_clickhouse_olake_spark.operators as ops_pkg
    for mod_name in list(sys.modules):
        if not mod_name.startswith(ops_pkg.__name__ + "."):
            continue
        mod = sys.modules[mod_name]
        if getattr(mod, "_finalize", None) is not None:
            mod._finalize = _capturing_finalize
    # function-local `from ._cache import finalize` call sites resolve
    # the name at call time from the _cache module itself
    from apache_iceberg_with_clickhouse_olake_spark.operators import _cache
    _real_finalize = _cache.finalize
    _cache.finalize = (
        lambda spark_, out: (captured.append(out), _real_finalize(spark_, out))[1]
    )

    def _explain(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    for name in names:
        try:
            captured.clear()
            df = queries[name](spark, sf_dir)
            if captured:
                df = captured[-1]
            plan = _explain(df)
        except Exception as exc:  # noqa: BLE001 - record, keep dumping
            plan = f"PLAN CAPTURE FAILED: {exc!r}"
        path = os.path.join(out_dir, f"{name}_{suffix or 'plan'}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
