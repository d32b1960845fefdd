"""Outside-in measurement of the engine: session start, timed op calls,
spans, and Spark's own reporting.

Nothing here reaches into the package under test beyond its public
functions. Per-layer numbers come from Spark itself:

- ``queryExecution().tracker()`` for Catalyst phase times;
- the status store's ``/api/v1`` job and stage records, keyed by one job
  group per op;
- ``StreamingQueryListener`` progress events for micro-batches.
"""

from __future__ import annotations

import datetime
import json
import os
import re
import statistics
import time
import urllib.request
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

# Layers-sum-to-wall tolerance: a layer decomposition may miss or
# double-count at most this much of an op's wall (5 ms or 5%, whichever
# is larger); JVM timestamps have millisecond resolution.
SUM_TOL_MS = 5.0
SUM_TOL_FRAC = 0.05


def start_session(work_dir: str) -> SparkSession:
    """The package's tuned session, with every scratch path kept inside
    ``work_dir`` and console progress bars off."""
    from apache_iceberg_with_clickhouse_olake_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        "lakebench",
        extra_conf={
            "spark.local.dir": os.path.join(work_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            # The client JIT only (C1), and a fixed set of compiler threads
            # so EngineCpu can tell their CPU time apart. Each re-planned
            # query loads newly generated classes, so with the server
            # compiler (C2) the JIT never settles: on the 4-core machine
            # README.md describes it spent 6-9 CPU-s of every 7-9 s
            # analytics pass compiling, and the engine's own CPU per pass
            # varied by 14% (sd) against 5% with C1 alone.
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1 "
                "-XX:-UseDynamicNumberOfCompilerThreads",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def quantile(xs: list[float], q: float) -> float:
    """Inclusive linear-interpolation quantile (0 < q < 1)."""
    if len(xs) < 2:
        return float(xs[0]) if xs else 0.0
    return float(statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1])


def peak_rss_mb(spark: SparkSession) -> float:
    """VmHWM of the driver JVM plus this Python process, in MiB."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
    total_kb = 0
    for pid in (jvm_pid, os.getpid()):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _children_cpu_s(root: int) -> float:
    """CPU seconds used so far by every process below ``root`` (the
    Python workers the JVM forks), reaped ones included through their
    parent's ``cutime``/``cstime``."""
    stats: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # the process ended while we looked
            continue
        # Fields after "(comm)": state, ppid, ..., utime, stime, cutime, cstime.
        rest = raw[raw.rindex(")") + 2:].split()
        stats[int(name)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, list(children.get(root, []))
    while todo:
        pid = todo.pop()
        ticks += stats[pid][1]
        todo += children.get(pid, [])
    return ticks / _CLK_TCK


class EngineCpu:
    """CPU time the engine spends, read from outside: this Python driver,
    the driver JVM (all its threads, ended ones included, to the
    nanosecond) and the Python workers below it.

    The JVM's JIT compiler threads are counted apart (``jit_s``) and left
    out of the engine total: compiling is the JVM's background work, and
    how much of it lands in a given pass wanders from run to run. Time
    the hypervisor stole from this machine is charged to no process, so
    unlike wall time neither figure grows with the load other tenants put
    on a shared host."""

    def __init__(self, spark: SparkSession):
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())  # noqa: SLF001
        # The process CPU clock of another process: CPUCLOCK_SCHED of pid.
        self._clock = (~self.jvm_pid << 3) | 2
        task = f"/proc/{self.jvm_pid}/task"
        self._jit = []
        for tid in os.listdir(task):
            try:
                with open(f"{task}/{tid}/comm") as f:
                    comm = f.read()
            except OSError:  # the thread ended while we looked
                continue
            if "CompilerThre" in comm:
                self._jit.append(f"{task}/{tid}/schedstat")

    def jit_s(self) -> float:
        ns = 0
        for path in self._jit:
            with open(path) as f:
                ns += int(f.read().split()[0])
        return ns / 1e9

    def read(self) -> tuple[float, float]:
        """``(engine_s, jit_s)`` used so far; ``engine_s`` excludes JIT."""
        jit = self.jit_s()
        jvm = time.clock_gettime(self._clock)
        return (time.process_time() + jvm - jit + _children_cpu_s(self.jvm_pid), jit)


def reference_job(spark: SparkSession, out_dir: str) -> None:
    """A fixed job on Spark alone, none of the package's code: a grouped
    aggregate over a generated range, a parquet write of it and an
    aggregate over the parquet read back. A change to the engine cannot
    move its cost, while the machine's speed does, so it is the yardstick
    the end-to-end metrics are rescaled by."""
    from pyspark.sql import functions as F

    df = spark.range(0, 200_000, 1, 4).select(
        (F.col("id") % 101).alias("k"), (F.col("id") * 7 % 1000).alias("v"))
    df.groupBy("k").agg(F.sum("v"), F.count("*")).collect()
    df.write.mode("overwrite").parquet(out_dir)
    spark.read.parquet(out_dir).groupBy("k").agg(F.max("v")).collect()


def time_reference(spark: SparkSession, cpu: EngineCpu, out_dir: str,
                   reps: int) -> list[tuple[float, float]]:
    """``(wall_s, engine_cpu_s)`` of ``reps`` reference jobs, run under
    their own job group."""
    spark.sparkContext.setJobGroup("lakebench-reference", "reference job")
    out = []
    for _ in range(reps):
        c0, _ = cpu.read()
        t0 = time.perf_counter()
        reference_job(spark, out_dir)
        out.append((time.perf_counter() - t0, cpu.read()[0] - c0))
    return out


def cpu_steal() -> tuple[int, int]:
    """(steal, total) CPU time over all CPUs, in jiffies, from /proc/stat.
    Steal is time the hypervisor ran something else on this machine's
    CPUs; it is what makes wall times on a shared host drift."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _epoch(ts: str) -> float:
    """Status-store timestamp ('2026-01-01T00:00:00.123GMT') -> epoch s."""
    return (
        datetime.datetime.strptime(ts[:-3], "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=datetime.timezone.utc)
        .timestamp()
    )


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans kept in memory and written when the run ends. With
    ``enabled=False`` it records nothing and queries nothing, which is
    the untraced (end-to-end) mode. ``overhead_s`` sums the time spent
    keeping spans and attaching Spark's numbers to them."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []

    def open(self, name: str, **attrs) -> int:
        if not self.enabled:
            return -1
        b0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), 0.0, parent, self.run_id, attrs))
        self._stack.append(len(self.spans) - 1)
        self.overhead_s += time.perf_counter() - b0
        return len(self.spans) - 1

    def close(self, idx: int, **attrs) -> None:
        if idx < 0:
            return
        b0 = time.perf_counter()
        span = self.spans[idx]
        span.end = time.time()
        span.attrs.update(attrs)
        self._stack.pop()
        self.overhead_s += time.perf_counter() - b0

    def add(self, name: str, start: float, end: float, parent: int, **attrs) -> int:
        if not self.enabled:
            return -1
        self.spans.append(Span(name, start, end, parent, self.run_id, attrs))
        return len(self.spans) - 1

    def self_times_ms(self) -> dict[str, float]:
        """Per span name, total self time: duration minus the part of it
        that child spans cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            own = (s.end - s.start) - _union_s(children.get(i, []))
            out[s.name] = out.get(s.name, 0.0) + 1000.0 * own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s.__dict__}) + "\n")


class StatusStore:
    """Job and stage records from Spark's status store (``/api/v1``)."""

    def __init__(self, spark: SparkSession):
        sc = spark.sparkContext
        self._sc = sc
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.load(r)

    def drain(self) -> None:
        """Wait until every posted event reached the status store."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001

    def jobs(self) -> list[dict]:
        return self._get("/jobs")

    def stages(self) -> dict[int, dict]:
        return {
            s["stageId"]: s
            for s in self._get("/stages")
            if s["status"] != "SKIPPED" and s["attemptId"] == 0
        }


def exec_totals(jobs: list[dict], stages: dict[int, dict]) -> dict[str, float]:
    """Executor-side totals over the stages of ``jobs``."""
    sids = {sid for j in jobs for sid in j["stageIds"] if sid in stages}
    st = [stages[s] for s in sids]
    run = sum(s["executorRunTime"] for s in st)
    cpu = sum(s["executorCpuTime"] for s in st) / 1e6
    return {
        "jobs": len(jobs),
        "tasks": sum(s["numTasks"] for s in st),
        "failed_tasks": sum(s["numFailedTasks"] for s in st),
        "executor_run_ms": run,
        "executor_cpu_ms": cpu,
        "wait_ms": run - cpu,
        "gc_ms": sum(s["jvmGcTime"] for s in st),
        "input_bytes": sum(s["inputBytes"] for s in st),
        "shuffle_bytes": sum(s["shuffleWriteBytes"] for s in st),
        "output_bytes": sum(s["outputBytes"] for s in st),
    }


class OpRunner:
    """Times one op at a time: builder call, then ``collect()``.

    Every op runs under its own job group, in both modes. With tracing
    on, each op also gets an op span with ``operators.build`` and
    ``exec.collect`` children, and Spark's phase, job and stage numbers
    are attached after the call. That bookkeeping, span keeping
    included, is the tracing overhead, timed as it runs.
    """

    def __init__(self, spark: SparkSession, tracer: Tracer):
        self.spark = spark
        self.tracer = tracer
        self.store = StatusStore(spark)
        self.cpu = EngineCpu(spark)
        self.records: list[dict] = []
        self.batches: list[dict] = []  # the last streaming op's batches
        self._n = 0

    def group(self, name: str) -> str:
        self._n += 1
        g = f"lakebench-{self._n}"
        self.spark.sparkContext.setJobGroup(g, name)
        return g

    def run(self, name: str, build, collect=True, listener=None, batches=0):
        """Call ``build()``; if ``collect``, collect the DataFrame it
        returns. Returns ``(result, wall_s, cpu_s)``: ``result`` is
        ``(df, rows)`` when collecting, else what ``build`` returned, and
        ``cpu_s`` is the engine CPU time (:class:`EngineCpu`, JIT left
        out) the call took, read just outside the wall-clock window.

        With a ``listener`` the op is a streaming query of ``batches``
        micro-batches: after the call (untimed) their progress events
        are read into :attr:`batches`."""
        g = self.group(name)
        op = self.tracer.open(name, kind="op")
        seen = len(listener.progress) if listener else 0
        c0, j0 = self.cpu.read()
        t0, w0 = time.perf_counter(), time.time()
        out = build()
        t1, w1 = time.perf_counter(), time.time()
        rows = out.collect() if collect else None
        t2, w2 = time.perf_counter(), time.time()
        c2, j2 = self.cpu.read()
        self.tracer.close(op)
        if listener:
            self.batches = listener.wait_for(self.store, seen, batches)
        if self.tracer.enabled:
            b0 = time.perf_counter()
            self._attach(name, g, op, out if collect else None, (w0, w1, w2),
                         self.batches if listener else None)
            self.records[-1].update(cpu_ms=1000 * (c2 - c0), jit_ms=1000 * (j2 - j0))
            self.tracer.overhead_s += time.perf_counter() - b0
        return ((out, rows) if collect else out), t2 - t0, c2 - c0

    def _attach(self, name, group, op, df, walls, batches) -> None:
        w0, w1, w2 = walls
        wall_ms = 1000 * (w2 - w0)
        tol_s = max(SUM_TOL_MS, SUM_TOL_FRAC * wall_ms) / 1000
        rec = {"op": name, "wall_ms": wall_ms, "build_ms": 1000 * (w1 - w0),
               "collect_ms": 1000 * (w2 - w1) if df is not None else 0.0}
        broken: list[str] = []

        def inside(what, a, b, lo, hi):
            if a < lo - tol_s or b > hi + tol_s:
                broken.append(f"{what} [{a - w0:+.3f}, {b - w0:+.3f}] s outside "
                              f"[{lo - w0:+.3f}, {hi - w0:+.3f}]")

        # A streaming, lake or medallion call is itself the layer span; a
        # DataFrame op splits into its builder call and its collect().
        build = collect = op
        if df is not None:
            build = self.tracer.add("operators.build", w0, w1, op)
            collect = self.tracer.add("exec.collect", w1, w2, op)
        # A streaming query runs its jobs under its own run id as the job
        # group, one trigger after another.
        groups = {group} | {b["run_id"] for b in batches or ()}
        batch_spans = []
        for b in batches or ():
            a = b["start"]
            e = a + b["trigger_ms"] / 1000
            inside(f"batch {b['batch']}", a, e, w0, w2)
            batch_spans.append((a, e, self.tracer.add("streaming.batch", a, e, op,
                                                      batch=b["batch"])))
        if batches and sum(b["trigger_ms"] for b in batches) > wall_ms + 1000 * tol_s:
            broken.append("micro-batches add up to more than the op wall")

        self.store.drain()
        jobs = [j for j in self.store.jobs() if j.get("jobGroup") in groups]
        stages = self.store.stages()
        rec.update(exec_totals(jobs, stages))
        if batches:
            rec["batch_bytes"] = batch_output_bytes(jobs, stages)
        ivals = []
        for j in jobs:
            if "completionTime" not in j:
                broken.append(f"job {j['jobId']} still running after the op")
                continue
            a, b = _epoch(j["submissionTime"]), _epoch(j["completionTime"])
            inside(f"job {j['jobId']}", a, b, w0, w2)
            ivals.append((a, b))
            parent = next((s for x, y, s in batch_spans if x - tol_s <= a <= y),
                          build if a < w1 else collect)
            self.tracer.add("exec.job", a, b, parent, job_id=j["jobId"])
        rec["eager_jobs"] = sum(1 for a, _ in ivals if a < w1)
        rec["job_ms"] = 1000 * _union_s(ivals)

        phases = {"analysis": None, "optimization": None, "planning": None}
        rec["plan_bytes"] = 0
        if df is not None and hasattr(df, "_jdf"):
            qe = df._jdf.queryExecution()  # noqa: SLF001
            conv = self.spark._jvm.scala.jdk.javaapi.CollectionConverters  # noqa: SLF001
            tracked = conv.asJava(qe.tracker().phases())
            for k in phases:
                if tracked.containsKey(k):
                    ph = tracked.get(k)
                    phases[k] = (ph.startTimeMs() / 1000, ph.endTimeMs() / 1000)
            rec["plan_bytes"] = len(qe.optimizedPlan().toString())
        for k, iv in phases.items():
            rec[f"{k}_ms"] = 1000 * (iv[1] - iv[0]) if iv else 0.0
            if iv:
                # Analysis runs when the builder makes the DataFrame.
                inside(k, *iv, w0, w1 if k == "analysis" else w2)
        pieces = ivals + [iv for iv in phases.values() if iv]
        covered_ms = 1000 * _union_s(pieces)
        catalyst_ms = sum(rec[f"{k}_ms"] for k in phases)
        # Spark's pieces may not overlap: a Catalyst phase running while
        # a job of the same op runs would be counted twice.
        if catalyst_ms + rec["job_ms"] - covered_ms > 1000 * tol_s:
            broken.append(f"Catalyst phases and jobs overlap by "
                          f"{catalyst_ms + rec['job_ms'] - covered_ms:.0f} ms")
        rec["driver_gap_ms"] = wall_ms - covered_ms
        rec["layers_ok"] = not broken
        rec["layers_broken"] = broken
        sc = self.spark.sparkContext
        infos = sc._jsc.sc().getRDDStorageInfo()  # noqa: SLF001
        rec["rdds_left"] = len(sc._jsc.getPersistentRDDs())  # noqa: SLF001
        rec["storage_mb"] = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
        self.records.append(rec)
        self.tracer.spans[op].attrs.update(rec)


class BatchListener(StreamingQueryListener):
    """Collects micro-batch progress events."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.progress.append({
            "batch": p.batchId,
            "rows": p.numInputRows,
            "start": _epoch(p.timestamp[:-1] + "GMT"),  # trigger start
            "trigger_ms": float(p.durationMs.get("triggerExecution", 0)),
            "add_batch_ms": float(p.durationMs.get("addBatch", 0)),
            "run_id": str(p.runId),
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def wait_for(self, store: StatusStore, seen: int, want: int) -> list[dict]:
        """The batches with input posted after the first ``seen`` events:
        ``want`` of them, or what arrived within 30 s (events arrive
        asynchronously)."""
        deadline = time.time() + 30
        while True:
            store.drain()
            got = [p for p in self.progress[seen:] if p["rows"] > 0]
            if len(got) >= want or time.time() > deadline:
                return got
            time.sleep(0.01)


_BATCH_RE = re.compile(r"batch = (\d+)")


def batch_output_bytes(jobs: list[dict], stages: dict[int, dict]) -> dict[int, int]:
    """Bytes written by each micro-batch, from the output metrics of the
    stages its jobs ran (the stream labels them ``batch = N``)."""
    out: dict[int, int] = {}
    for j in jobs:
        m = _BATCH_RE.search(j.get("description") or "")
        if not m:
            continue
        b = int(m.group(1))
        out[b] = out.get(b, 0) + sum(
            stages[s]["outputBytes"] for s in j["stageIds"] if s in stages
        )
    return out
