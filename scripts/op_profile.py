"""Per-op wall/stage attribution at bench scale (r19 optimization round).

Runs a registered query warm at $SPARK_GRAFT_SF_DIR (default sf0.1,
the bench scale) and prints, for the WARM run only:

- total wall
- per-job wall (job description = query name + ordinal)
- per-stage: executor run time sum, input/shuffle bytes, task count
- the gap between wall and max(job walls) sum = driver-side time
  (plan construction, py4j, collect handling)

Usage: python scripts/op_profile.py name [name...]
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
    names = sys.argv[1:]
    from apache_iceberg_with_clickhouse_olake_spark.operators import registry
    from apache_iceberg_with_clickhouse_olake_spark.session import (
        default_parallelism,
        get_spark,
    )

    cpus = default_parallelism()
    spark = get_spark("op-profile", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId

    queries = registry.all_queries()
    for name in names:
        fn = queries[name]
        fn(spark, SF_DIR).collect()  # warm (codegen, listing, python workers)

        jobs_before = {j["jobId"] for j in _rest(f"{ui}/api/v1/applications/{app}/jobs")}
        spark.sparkContext.setJobDescription(f"profile:{name}")
        t0 = time.perf_counter()
        fn(spark, SF_DIR).collect()
        wall = time.perf_counter() - t0
        spark.sparkContext.setJobDescription(None)

        jobs = [j for j in _rest(f"{ui}/api/v1/applications/{app}/jobs")
                if j["jobId"] not in jobs_before]
        jobs.sort(key=lambda j: j["jobId"])
        stages = {s["stageId"]: s for s in
                  _rest(f"{ui}/api/v1/applications/{app}/stages?status=complete")}
        print(f"\n=== {name}: wall {wall:.3f}s, {len(jobs)} jobs ===")
        job_wall_sum = 0.0
        for j in jobs:
            from datetime import datetime, timezone

            def ts(s):
                return datetime.strptime(
                    s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
                ).timestamp()
            jw = ts(j["completionTime"]) - ts(j["submissionTime"])
            job_wall_sum += jw
            sids = sorted(j["stageIds"])
            parts = []
            for sid in sids:
                s = stages.get(sid)
                if s is None:
                    continue
                parts.append(
                    f"s{sid}[{s['numCompleteTasks']}t "
                    f"exec={s['executorRunTime'] / 1000:.2f}s "
                    f"deser={s['executorDeserializeTime'] / 1000:.2f}s "
                    f"gc={s['jvmGcTime'] / 1000:.2f}s "
                    f"cpu={s['executorCpuTime'] / 1e9:.2f}s "
                    f"in={s['inputBytes'] >> 20}M "
                    f"sr={s['shuffleReadBytes'] >> 20}M "
                    f"sw={s['shuffleWriteBytes'] >> 20}M]"
                )
            print(f"  job{j['jobId']} wall={jw:.3f}s " + " ".join(parts))
        print(f"  sum(job walls)={job_wall_sum:.3f}s; "
              f"driver-side gap={wall - job_wall_sum:.3f}s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
