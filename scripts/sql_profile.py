"""SQL-node-level attribution for one registered query (r19).

Runs the query warm, then dumps the SQL tab's per-node metrics for all
SQL executions the warm run triggered: each physical operator with its
time-ish metrics (scan time, time in aggregation build, sort time,
codegen duration, rows).

Usage: python scripts/sql_profile.py name
"""
from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _rest(url: str):
    with urllib.request.urlopen(url) as r:
        return json.load(r)


def main() -> int:
    name = sys.argv[1]
    from apache_iceberg_with_clickhouse_olake_spark.operators import registry
    from apache_iceberg_with_clickhouse_olake_spark.session import (
        default_parallelism,
        get_spark,
    )

    cpus = default_parallelism()
    spark = get_spark("sql-profile", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId

    fn = registry.all_queries()[name]
    fn(spark, SF_DIR).collect()  # warm

    before = {q["id"] for q in _rest(
        f"{ui}/api/v1/applications/{app}/sql?length=10000")}
    t0 = time.perf_counter()
    fn(spark, SF_DIR).collect()
    wall = time.perf_counter() - t0

    execs = [q for q in _rest(
        f"{ui}/api/v1/applications/{app}/sql?length=10000")
        if q["id"] not in before]
    print(f"=== {name}: wall {wall:.3f}s, {len(execs)} SQL executions ===")
    for q in sorted(execs, key=lambda x: x["id"]):
        detail = _rest(
            f"{ui}/api/v1/applications/{app}/sql/{q['id']}?details=true&planDescription=false"
        )
        print(f"\n--- sql {q['id']} dur={q['duration']}ms "
              f"status={q['status']} ---")
        for node in detail.get("nodes", []):
            mets = {
                m["name"]: m["value"] for m in node.get("metrics", [])
            }
            interesting = {
                k: v for k, v in mets.items()
                if any(t in k for t in (
                    "time", "duration", "rows", "build", "spill"))
                and not k.startswith("avg ")
            }
            if interesting:
                print(f"  [{node['nodeId']}] {node['nodeName'][:50]}: "
                      + "; ".join(
                          f"{k}={v}" for k, v in sorted(interesting.items())))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
