"""Quick per-query timing: warm once, median of N timed .collect() runs
(the bench methodology) for the named registered queries.

Usage: python scripts/time_queries.py name [name...] [--runs N]
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    args = sys.argv[1:]
    runs = 5
    if "--runs" in args:
        i = args.index("--runs")
        runs = int(args[i + 1])
        del args[i:i + 2]

    from apache_iceberg_with_clickhouse_olake_spark.operators import registry
    from apache_iceberg_with_clickhouse_olake_spark.session import (
        default_parallelism,
        get_spark,
    )

    cpus = default_parallelism()
    spark = get_spark("time-queries", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    queries = registry.all_queries()
    for name in args:
        fn = queries[name]
        fn(spark, SF_DIR).collect()  # warm
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            fn(spark, SF_DIR).collect()
            samples.append(time.perf_counter() - t0)
        samples.sort()
        print(f"{name}: median {samples[runs // 2]:.3f}s "
              f"min {samples[0]:.3f}s max {samples[-1]:.3f}s", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
