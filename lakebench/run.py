"""Lakehouse benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root)::

    python3 lakebench/run.py --workload analytics_mix --seed 1 --seconds 10 --trace 0

Workloads: ``lakehouse_etl``, ``analytics_mix``, ``corpus_curation``
(see ``lakebench/README.md``). The run stages seeded inputs under
``.lakebench_work/``, sets up the session several times, runs one
untimed warm-up pass while a background thread computes the DuckDB
oracles, then runs closed-loop passes for ``--seconds`` (two at least),
checks the last pass's outputs against those oracles, and prints a
machine/config stamp line followed by the result line. ``--trace 0``
reports the end-to-end metrics: engine CPU times
(``spark_probe.EngineCpu``) and set-up wall time, rescaled to a fixed
machine speed by a reference job timed between the passes
(``spark_probe.reference_job``); ``--trace 1`` reports per-layer metrics,
wall times among them, and writes spans plus a self-time table under
``.lakebench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_ROUNDS = 3
MIN_PASSES = 2
# Reference jobs timed before each measured pass and after the last (one
# more before the first, untimed, to warm it).
REF_REPS = 2
# The reference job's engine CPU and wall on the 4-core machine README.md
# describes. The end-to-end metrics are expressed at that machine speed:
# each run rescales its figures by these over the medians of its own
# reference jobs, which sample the same minutes as its passes.
REF_CPU_S = 1.0
REF_WALL_S = 0.55
FLUSH_POLICY = "parquet to the local filesystem, no fsync"


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"[lakebench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr)


def _git_rev() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(ROOT, ".git", ref[5:])
    if os.path.exists(path):
        with open(path) as f:
            return f.read().strip()
    return None


def _env(work: str, cpus: int) -> None:
    """Everything the engine and its Python workers write stays in
    ``work``; parallelism is the usable core count."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp


def _stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None  # noqa: SLF001
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 -- must not leave the JVM behind
            proc.kill()
            proc.wait()


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def end_to_end(setup_times, passes, wall_scale=1.0, cpu_scale=1.0) -> dict:
    """Set-up wall times ``wall_scale``, and engine CPU figures times
    ``cpu_scale`` (1.0 gives the figures as measured)."""
    from spark_probe import median, quantile

    cpu = [x for p in passes for x in p.op_cpu_ms()]
    items = sum(p.items for p in passes)
    item_cpu_s = sum(p.item_cpu_s for p in passes)
    return {
        "setup_s": _metric(wall_scale * median(setup_times), "s"),
        "pass_cpu_s": _metric(cpu_scale * median([p.cpu_s for p in passes]), "s"),
        "op_cpu_p50_ms": _metric(cpu_scale * quantile(cpu, 0.5), "ms"),
        "op_cpu_p90_ms": _metric(cpu_scale * quantile(cpu, 0.9), "ms"),
        "ops_per_cpu_s": _metric(
            items / (cpu_scale * item_cpu_s) if item_cpu_s else 0.0, "1/s"),
    }


def per_layer(wl, session_starts, rss_mb, runner, tracer, passes, ref) -> dict:
    from spark_probe import median, quantile

    recs = runner.records
    queries = [r for r in recs if r["collect_ms"] > 0]

    def med(key, rs=queries):
        return median([r[key] for r in rs])

    def of(name):
        return [r for r in recs if r["op"] == name]

    m = {"session.start_s": _metric(median(session_starts), "s"),
         "session.peak_rss_mb": _metric(rss_mb, "MB")}
    for key, unit in (("build_ms", "ms"), ("eager_jobs", "count"),
                      ("driver_gap_ms", "ms")):
        m[f"operators.{key}"] = _metric(med(key), unit)
    for key in ("analysis", "optimization", "planning"):
        m[f"catalyst.{key}_ms"] = _metric(med(f"{key}_ms"), "ms")
    m["catalyst.plan_bytes"] = _metric(med("plan_bytes"), "bytes")
    m["exec.collect_ms"] = _metric(med("collect_ms"), "ms")
    for key, unit in (("jobs", "count"), ("tasks", "count"),
                      ("failed_tasks", "count"), ("executor_run_ms", "ms"),
                      ("executor_cpu_ms", "ms"), ("wait_ms", "ms"),
                      ("gc_ms", "ms"), ("input_bytes", "bytes"),
                      ("shuffle_bytes", "bytes")):
        m[f"exec.{key}"] = _metric(med(key, recs), unit)
    m["cache.rdds_left"] = _metric(max((r["rdds_left"] for r in recs), default=0), "count")
    m["cache.storage_mb"] = _metric(max((r["storage_mb"] for r in recs), default=0.0), "MB")

    # Streaming, lake and medallion layers run only in lakehouse_etl and
    # read 0 elsewhere.
    stream = dict.fromkeys(
        ("batches", "batch_ms_p50", "add_batch_ms_p50", "trigger_overhead_ms_p50",
         "batch_ms_growth", "bytes_written_per_batch", "write_amp", "state_rows"), 0.0)
    lake = dict.fromkeys(
        ("write_snapshot_ms", "read_snapshot_ms", "compact_ms",
         "compact_bytes_rewritten", "files_after_compact", "etl_write_amp"), 0.0)
    medal = {"build_ms": 0.0, "bytes_written": 0.0}
    if wl.name == "lakehouse_etl":
        stream, lake, medal = _etl_layers(wl, recs, of, len(passes))
    units = {"batches": "count", "state_rows": "count", "write_amp": "ratio",
             "batch_ms_growth": "ratio", "bytes_written_per_batch": "bytes",
             "compact_bytes_rewritten": "bytes", "files_after_compact": "count",
             "etl_write_amp": "ratio", "bytes_written": "bytes"}
    for prefix, d in (("streaming", stream), ("lake", lake), ("medallion", medal)):
        for k, v in d.items():
            m[f"{prefix}.{k}"] = _metric(v, units.get(k, "ms"))

    lat = [x for p in passes for x in p.latencies_ms]
    m["jvm.jit_cpu_s"] = _metric(median([p.jit_s for p in passes]), "s")
    m["reference.wall_s"] = _metric(median([w for w, _ in ref]), "s")
    m["reference.cpu_s"] = _metric(median([c for _, c in ref]), "s")
    m["trace.pass_wall_s"] = _metric(median([p.wall_s for p in passes]), "s")
    m["trace.op_wall_p50_ms"] = _metric(quantile(lat, 0.5), "ms")
    m["trace.op_wall_p90_ms"] = _metric(quantile(lat, 0.9), "ms")
    m["trace.overhead_s"] = _metric(tracer.overhead_s / len(passes), "s")
    m["trace.layer_sum_failures"] = _metric(
        sum(1 for r in recs if not r["layers_ok"]), "count")
    return m


def _etl_layers(wl, recs, of, n_passes):
    from spark_probe import median

    batches = wl.last_batches
    trig = [b["trigger_ms"] for b in batches]
    add = [b["add_batch_ms"] for b in batches]
    change = [b["trigger_ms"] for b in batches if b["batch"] > 0]
    # The ends of the change stream: a tenth of it, but at least 3
    # batches, so neither end rests on a single batch.
    k = max(len(change) // 10, 3)
    per_batch = of("streaming.run_cdc_upsert_stream")[-1]["batch_bytes"]
    written = {b: per_batch.get(b, 0) for b in range(len(wl.event_bytes))}
    amp = [written[b] / wl.event_bytes[b] for b in written if b > 0]
    import pyarrow.parquet as pq

    stream = {
        "batches": len(batches),
        "batch_ms_p50": median(trig),
        "add_batch_ms_p50": median(add),
        "trigger_overhead_ms_p50": median([t - a for t, a in zip(trig, add)]),
        "batch_ms_growth": (median(change[-k:]) / median(change[:k])
                            if len(change) >= 2 * k else 0.0),
        "bytes_written_per_batch": median(list(written.values())),
        "write_amp": median(amp),  # change batches only
        "state_rows": pq.ParquetDataset(wl.state_dir).read(columns=["key"]).num_rows,
    }
    compact = of("lake.compact")
    lake_ops = ("streaming.run_cdc_upsert_stream", "lake.write_snapshot",
                "lake.fragment", "lake.compact")
    lake_bytes = sum(r["output_bytes"] for r in recs if r["op"] in lake_ops)
    lake = {
        "write_snapshot_ms": median([r["wall_ms"] for r in of("lake.write_snapshot")]),
        "read_snapshot_ms": median([r["wall_ms"] for r in of("lake.read_snapshot")]),
        "compact_ms": median([r["wall_ms"] for r in compact]),
        "compact_bytes_rewritten": median([r["output_bytes"] for r in compact]),
        "files_after_compact": wl.compact_to if compact else 0,
        "etl_write_amp": lake_bytes / (n_passes * sum(wl.event_bytes)),
    }
    med = of("medallion.build_medallion")
    medal = {
        "build_ms": median([r["wall_ms"] for r in med]),
        "bytes_written": median([r["output_bytes"] for r in med]),
    }
    return stream, lake, medal


def _self_time_table(tracer) -> str:
    rows = sorted(tracer.self_times_ms().items(), key=lambda kv: -kv[1])
    lines = [f"{'span':40s} {'self_ms':>12s}"]
    lines += [f"{name:40s} {ms:12.1f}" for name, ms in rows]
    return "\n".join(lines)


def run(args) -> dict:
    sys.path.insert(0, ROOT)
    # Fails fast (no result printed, nothing written) when the engine is
    # not in the checkout.
    import apache_iceberg_with_clickhouse_olake_spark.session as session

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".lakebench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _env(work, cpus)
    from check import Answers
    from spark_probe import (
        OpRunner,
        Tracer,
        cpu_steal,
        median,
        time_reference,
        peak_rss_mb,
        start_session,
    )
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.seed)
    if args.smoke:
        wl.shrink()
    wl.generate()
    spark = answers = None
    try:
        setup_times, session_starts = [], []
        for r in range(SETUP_ROUNDS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session(work)
            spark.range(1).count()
            session_starts.append(time.perf_counter() - t0)
            wl.stage(os.path.join(work, f"setup-{r}"))
            wl.prepare(spark)
            setup_times.append(time.perf_counter() - t0)
            _log(f"setup round {r}: {setup_times[-1]:.2f}s")

        tracer = Tracer(f"{args.workload}-{args.seed}", enabled=False)
        runner = OpRunner(spark, tracer)
        answers = Answers(wl.data_dir, list(wl.oracles().values()))
        warm = wl.warm_up_pass(spark, runner, os.path.join(work, "warmup"))
        shutil.rmtree(os.path.join(work, "warmup"), ignore_errors=True)
        warm_errors = [f"{s.name}: {s.error}" for s in warm.samples if s.error]
        _log(f"warm-up pass: {warm.wall_s:.2f}s")
        answers.wait()
        _log("oracles ready")
        ref_dir = os.path.join(work, "reference")
        time_reference(spark, runner.cpu, ref_dir, 1)
        ref = []
        tracer.enabled = bool(args.trace)
        # Closed loop: at least MIN_PASSES passes, then another only while
        # it is expected to end inside the window. Reference jobs run
        # between the passes, outside their timing.
        passes, t0, steal0 = [], time.perf_counter(), cpu_steal()
        while len(passes) < MIN_PASSES or (
                time.perf_counter() - t0
                + median([p.wall_s for p in passes]) <= args.seconds):
            pass_dir = os.path.join(work, f"pass-{len(passes)}")
            if passes:
                shutil.rmtree(os.path.join(work, f"pass-{len(passes) - 1}"),
                              ignore_errors=True)
            ref += time_reference(spark, runner.cpu, ref_dir, REF_REPS)
            span = tracer.open("workload", workload=args.workload, pass_no=len(passes))
            c0, j0 = runner.cpu.read()
            res = wl.run_pass(spark, runner, pass_dir)
            c1, j1 = runner.cpu.read()
            res.cpu_s, res.jit_s = c1 - c0, j1 - j0
            tracer.close(span)
            passes.append(res)
        steal1 = cpu_steal()
        ref += time_reference(spark, runner.cpu, ref_dir, REF_REPS)
        rss_mb = peak_rss_mb(spark)  # before the oracle checks allocate
        _log(f"measured {len(passes)} passes")
        errors = wl.check(passes[-1], answers)
        errors += warm_errors
        # An op whose layers do not account for its wall counts as failed.
        errors += [f"layers of {r['op']}: {why}"
                   for r in runner.records for why in r["layers_broken"]]
        samples = [s for p in passes for s in p.samples]
        ref_wall, ref_cpu = median([w for w, _ in ref]), median([c for _, c in ref])
        failed = sum(1 for s in samples if s.error) + len(errors)
        if args.trace:
            metrics = per_layer(wl, session_starts, rss_mb, runner, tracer, passes, ref)
            out_dir = os.path.join(ROOT, ".lakebench_out")
            os.makedirs(out_dir, exist_ok=True)
            stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
            tracer.write(stem + ".spans.jsonl")
            table = _self_time_table(tracer)
            with open(stem + ".selftime.txt", "w") as f:
                f.write(table + "\n")
            with open(stem + ".ops.json", "w") as f:
                json.dump(runner.records, f, indent=1)
            print(table)
        else:
            metrics = end_to_end(setup_times, passes, REF_WALL_S / ref_wall,
                                 REF_CPU_S / ref_cpu)
        for e in errors:
            print(f"CHECK FAILED: {e}", file=sys.stderr)
        stamp = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "usable_cores": cpus, "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "session_default_parallelism": session.default_parallelism(),
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "pyspark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),  # noqa: SLF001
            "git_rev": _git_rev(), "input_rows": wl.input_rows,
            "input_bytes": wl.input_bytes, "flush_policy": FLUSH_POLICY,
            "passes": len(passes), "samples": len(samples),
            "latency_samples": sum(len(p.latencies_ms) for p in passes),
            "setup_rounds_s": setup_times,
            "pass_wall_s": [p.wall_s for p in passes],
            "pass_cpu_s": [p.cpu_s for p in passes],
            "pass_jit_s": [p.jit_s for p in passes],
            "cpu_steal_pct": 100 * (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
            "reference_wall_s": [w for w, _ in ref],
            "reference_cpu_s": [c for _, c in ref],
            "as_measured": {k: v["value"] for k, v in
                            end_to_end(setup_times, passes).items()},
        }
        _log("checked")
        print(json.dumps({"stamp": stamp}))
        return {
            "correct": failed == 0,
            "attempted": max(len(samples), 1),
            "failed": min(failed, max(len(samples), 1)),
            "metrics": metrics,
        }
    finally:
        if answers is not None:
            answers.join()
        if spark is not None:
            _stop(spark)
            _log("stopped")
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=(
        "lakehouse_etl", "analytics_mix", "corpus_curation"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="sf0.001 inputs, for the benchmark's own smoke tests")
    args = p.parse_args(argv)
    sys.path.insert(0, HERE)
    try:
        result = run(args)
    except Exception:  # noqa: BLE001 -- report and exit non-zero, no result
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
