"""The three benchmark workloads.

Each workload stages seeded inputs (:meth:`stage`), may prepare
Spark-side state during set-up (:meth:`prepare`), runs one closed-loop
pass of its ops (:meth:`run_pass`), and checks one pass's outputs
against independent oracles (:meth:`oracles`, :meth:`check`). Why each
workload exists is
recorded in ``lakebench/README.md``.
"""

from __future__ import annotations

import os
import random
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from check import Answers, cdc_latest_sql
from spark_probe import BatchListener, OpRunner

# The reference comparison suite's ten registry queries (raw sf0.1).
HEADLINE = (
    "orders_by_status",
    "monthly_revenue",
    "high_value_orders",
    "unique_customers",
    "gold_order_metrics",
    "gold_reaggregate",
    "pricing_summary",
    "segment_lineitem_revenue",
    "revenue_by_nation",
    "daily_active_users",
)

# The LLM-corpus layer, in pipeline order. The list continues with
# embedding_pca_top2 and winnowing_neardup_pairs; they are left out
# because their oracles alone take 14 s (README.md).
CURATION_OPS = (
    "corpus_build_pipeline",
    "dedup_cascade_stats",
    "semantic_dedup_cascade_stats",
    "leakage_safe_split_stats",
    "dsir_importance_weights",
    "bpe_learn_merges",
)


class Sample:
    """One op call inside a pass."""

    def __init__(self, name: str, wall_s: float, cpu_s: float = 0.0,
                 error: str | None = None):
        self.name = name
        self.wall_s = wall_s
        self.cpu_s = cpu_s
        self.error = error


class PassResult:
    def __init__(self):
        self.samples: list[Sample] = []
        self.outputs: dict[str, tuple] = {}  # op -> (df, rows), first call
        self.latencies_ms: list[float] = []  # the workload's per-op wall latency
        self.items = 0  # work items completed (events, queries, ops)
        self.item_cpu_s = 0.0  # engine CPU time those items took
        self.wall_s = 0.0
        self.cpu_s = 0.0  # engine CPU time of the whole pass, JIT left out
        self.jit_s = 0.0  # JIT compiler CPU time during the pass

    def op_cpu_ms(self) -> list[float]:
        """Engine CPU time of each op that succeeded."""
        return [1000 * s.cpu_s for s in self.samples if s.error is None]


def _call(runner: OpRunner, res: PassResult, name: str, build, collect=True, **kw):
    """Run one op, recording its sample; an op that raises is a failed
    sample and yields ``None``."""
    t0 = time.perf_counter()
    try:
        out, wall, cpu = runner.run(name, build, collect, **kw)
    except Exception as exc:  # noqa: BLE001 -- a failing op is a result
        res.samples.append(Sample(name, time.perf_counter() - t0,
                                  error=repr(exc)[:300]))
        return None
    res.samples.append(Sample(name, wall, cpu))
    if collect:
        res.outputs.setdefault(name, out)
    return out


def _registry():
    from apache_iceberg_with_clickhouse_olake_spark.operators.registry import (
        all_oracles,
        all_queries,
    )

    return all_queries(), all_oracles()


class Workload:
    name = ""
    sf = 0.01
    n_docs = 500
    n_vecs = 500
    tables: tuple[str, ...] = ()

    def __init__(self, seed: int):
        self.seed = seed
        self.data_dir = ""
        self.input_rows: dict[str, int] = {}
        self.input_bytes: dict[str, int] = {}
        self._tables = None

    def shrink(self) -> None:
        """Smoke-test sizes: the sf0.001 tables."""
        self.sf = 0.001

    def generate(self) -> None:
        """Seeded inputs, in memory (not part of set-up time)."""
        t = gen.make_tables(self.seed, self.sf, self.n_docs, self.n_vecs)
        self._tables = {k: v for k, v in t.items() if k in self.tables}
        self.input_rows.update({k: v.num_rows for k, v in self._tables.items()})

    def stage(self, root: str) -> None:
        """Write the generated inputs under ``root`` (part of set-up)."""
        self.data_dir = os.path.join(root, "tables")
        self.input_bytes.update(gen.write_tables(self.data_dir, self._tables))

    def prepare(self, spark) -> None:
        pass

    def run_pass(self, spark, runner: OpRunner, pass_dir: str) -> PassResult:
        raise NotImplementedError

    def warm_up_pass(self, spark, runner: OpRunner, pass_dir: str) -> PassResult:
        """One untimed pass, so JIT, codegen and the Python workers are
        warm when timing starts."""
        return self.run_pass(spark, runner, pass_dir)

    def oracles(self) -> dict[str, str]:
        """DuckDB SQL for each checked output, over the staged inputs."""
        raise NotImplementedError

    def check(self, res: PassResult, answers: Answers) -> list[str]:
        raise NotImplementedError


class LakehouseEtl(Workload):
    """CDC stream -> lake snapshots -> time travel -> compaction ->
    medallion -> layer consistency, one writer."""

    name = "lakehouse_etl"
    tables = ("orders",)
    n_initial = 10_000
    n_files = 8
    batch_events = 1_000
    # Insert/update/delete shares of a change event: this benchmark's
    # choice, insert-heavy so the state grows by half over the stream.
    shares = (0.6, 0.3, 0.1)
    n_fragments = 16
    compact_to = 2

    def __init__(self, seed: int):
        super().__init__(seed)
        self.stream_files = None
        self.events_dir = ""
        self.event_bytes: list[int] = []
        self.listener = None
        self.lake_facts = None
        self.spark = None
        self.warm_events_dir = ""
        self.state_dir = ""
        self.last_batches: list[dict] = []

    def shrink(self) -> None:
        super().shrink()
        self.n_initial, self.batch_events = 1_000, 100

    def generate(self) -> None:
        super().generate()
        self.stream_files = gen.make_cdc_stream(
            self.seed, self.n_initial, self.n_files, self.batch_events, self.shares
        )
        self.input_rows["cdc_events"] = sum(t.num_rows for t in self.stream_files)

    def stage(self, root: str) -> None:
        super().stage(root)
        self.events_dir = os.path.join(root, "cdc_events")
        self.event_bytes = gen.write_cdc_stream(self.events_dir, self.stream_files)
        self.input_bytes["cdc_events"] = sum(self.event_bytes)
        self.warm_events_dir = os.path.join(root, "cdc_warm_up")
        gen.write_cdc_stream(self.warm_events_dir,
                             gen.make_cdc_stream(self.seed + 1, 1_000, 1, 100, self.shares))

    def warm_up_pass(self, spark, runner, pass_dir):
        """The pass over a two-file stream: it compiles the same plans
        for a fraction of a full pass's time."""
        return self.run_pass(spark, runner, pass_dir, self.warm_events_dir, 2)

    def prepare(self, spark) -> None:
        self.spark = spark
        self.listener = BatchListener()
        spark.streams.addListener(self.listener)

    def run_pass(self, spark, runner, pass_dir, events_dir=None, n_batches=None):
        from apache_iceberg_with_clickhouse_olake_spark.operators.medallion import (
            build_medallion,
            layer_consistency,
        )
        from apache_iceberg_with_clickhouse_olake_spark.sources import lake
        from apache_iceberg_with_clickhouse_olake_spark.streaming import (
            run_cdc_upsert_stream,
        )

        res = PassResult()
        t0 = time.perf_counter()
        state = os.path.join(pass_dir, "state", "orders")
        ckpt = os.path.join(pass_dir, "state", "_checkpoint")
        table = os.path.join(pass_dir, "lake", "orders_snap")
        frag = os.path.join(pass_dir, "lake", "orders_frag")
        events_dir = events_dir or self.events_dir
        _call(runner, res, "streaming.run_cdc_upsert_stream",
              lambda: run_cdc_upsert_stream(spark, events_dir, state, ckpt),
              collect=False, listener=self.listener,
              batches=n_batches or self.n_files + 1)
        batches = runner.batches
        if events_dir == self.events_dir:
            self.last_batches = batches
        # Batch 0 loads the initial snapshot; the change batches after it
        # are the wall-latency samples. The stream's CPU time cannot be
        # split by batch from outside, so its events per CPU-second count
        # every event the stream applied, the snapshot's included.
        res.latencies_ms = [b["trigger_ms"] for b in batches if b["batch"] > 0]
        res.items = sum(b["rows"] for b in batches)
        res.item_cpu_s = res.samples[-1].cpu_s
        self.state_dir = state

        cur = spark.read.parquet(state)
        evolved = cur.withColumn("price_band", F.floor(F.col("price") / 100_000))
        versions = []
        for df in (cur, evolved, cur.filter(F.col("key") % 2 == 0)):
            v = _call(runner, res, "lake.write_snapshot",
                      lambda df=df: lake.write_snapshot(df, table), collect=False)
            versions.append(v)
        counts = []
        for v in versions:
            out = _call(runner, res, "lake.read_snapshot",
                        lambda v=v: lake.read_snapshot(spark, table, v)
                        .agg(F.count("*").alias("n")))
            counts.append(out[1][0]["n"] if out else None)
        _call(runner, res, "lake.fragment",
              lambda: cur.repartition(self.n_fragments).write.parquet(frag),
              collect=False)
        files = _call(runner, res, "lake.compact",
                      lambda: lake.compact(spark, frag, self.compact_to),
                      collect=False)
        self.lake_facts = (table, versions, counts, files)

        _call(runner, res, "medallion.build_medallion",
              lambda: build_medallion(spark, self.data_dir,
                                      os.path.join(pass_dir, "warehouse")),
              collect=False)
        _call(runner, res, "layer_consistency",
              lambda: layer_consistency(spark, self.data_dir))
        res.wall_s = time.perf_counter() - t0
        return res

    def _lake_errors(self) -> list[str]:
        from apache_iceberg_with_clickhouse_olake_spark.sources import lake

        table, versions, counts, files = self.lake_facts
        errs = []
        snaps = lake.snapshot_history(self.spark, table)
        if versions != [1, 2, 3] or snaps != [1, 2, 3]:
            errs.append(f"snapshot versions {versions}, history {snaps}")
        if files != (self.n_fragments, self.compact_to):
            errs.append(f"compaction files {files}")
        keys = pq.ParquetDataset(self.state_dir).read(columns=["key"]).column("key")
        want = [len(keys), len(keys), int((keys.to_numpy() % 2 == 0).sum())]
        if counts != want:
            errs.append(f"snapshot row counts {counts}, want {want}")
        cols = lake.read_snapshot(self.spark, table, 2).columns
        if "price_band" not in cols:
            errs.append(f"evolved snapshot columns {cols}")
        return errs

    def oracles(self):
        _, oracles = _registry()
        return {"layer_consistency": oracles["layer_consistency"],
                "cdc_state": cdc_latest_sql(self.events_dir)}

    def check(self, res, answers):
        errs = self._lake_errors()
        bad = answers.cdc_state_mismatch(self.events_dir, self.state_dir)
        if bad:
            errs.append(bad)
        out = res.outputs.get("layer_consistency")
        if out:
            bad = answers.match(*out, self.oracles()["layer_consistency"],
                                "layer_consistency")
            if bad or not all(r["layers_match"] for r in out[1]):
                errs.append(bad or "layer_consistency: layers disagree")
        return errs


class AnalyticsMix(Workload):
    """The reference comparison suite, one client, seeded order per round."""

    name = "analytics_mix"
    tables = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events")

    def __init__(self, seed: int):
        super().__init__(seed)
        self.order_rng = random.Random(seed)
        self.silver = self.gold = self.gold_cached = None

    def prepare(self, spark) -> None:
        from apache_iceberg_with_clickhouse_olake_spark.operators.medallion import (
            build_medallion,
        )

        paths = build_medallion(spark, self.data_dir,
                                os.path.join(os.path.dirname(self.data_dir), "warehouse"))
        self.silver = spark.read.parquet(paths["silver_orders"])
        self.gold = spark.read.parquet(paths["gold_order_metrics"])
        self.gold_cached = self.gold.cache()
        self.gold_cached.count()

    def builders(self, spark) -> dict:
        from apache_iceberg_with_clickhouse_olake_spark.functions import davg, dsum

        queries, _ = _registry()
        out = {n: (lambda n=n: queries[n](spark, self.data_dir)) for n in HEADLINE}
        out["silver_groupby"] = lambda: self.silver.groupBy("status").agg(
            F.count("*").alias("order_count"), davg("total_amount", "avg_order_value"))
        out["gold_reagg_planned"] = lambda: self.gold.groupBy("status").agg(
            F.sum("order_count").alias("total_orders"),
            dsum("gross_revenue", "total_revenue"))
        out["gold_reagg_cached"] = lambda: self.gold_cached.groupBy("status").agg(
            F.sum("order_count").alias("total_orders"),
            dsum("gross_revenue", "total_revenue"))
        return out

    def round_order(self) -> list[str]:
        names = list(HEADLINE) + ["silver_groupby", "gold_reagg_planned",
                                  "gold_reagg_cached"]
        self.order_rng.shuffle(names)
        return names

    def run_pass(self, spark, runner, pass_dir):
        res = PassResult()
        b = self.builders(spark)
        t0 = time.perf_counter()
        for name in self.round_order():
            _call(runner, res, name, b[name])
        res.wall_s = time.perf_counter() - t0
        _per_op(res)
        return res

    def oracles(self):
        from apache_iceberg_with_clickhouse_olake_spark.functions import (
            davg_sql,
            dsum_sql,
        )

        _, registry = _registry()
        out = {n: registry[n] for n in HEADLINE}
        reagg = (f"SELECT o_orderstatus AS status, COUNT(*) AS total_orders, "
                 f"{dsum_sql('o_totalprice')} AS total_revenue "
                 f"FROM orders GROUP BY 1")
        out["silver_groupby"] = (
            f"SELECT o_orderstatus AS status, COUNT(*) AS order_count, "
            f"{davg_sql('o_totalprice')} AS avg_order_value FROM orders GROUP BY 1")
        out["gold_reagg_planned"] = out["gold_reagg_cached"] = reagg
        return out

    def check(self, res, answers):
        return _check_outputs(res, answers, self.oracles())


class CorpusCuration(Workload):
    """The LLM-corpus layer, one pass of the ops per iteration."""

    name = "corpus_curation"
    tables = ("documents", "embeddings")
    ops = CURATION_OPS

    def run_pass(self, spark, runner, pass_dir):
        queries, _ = _registry()
        res = PassResult()
        t0 = time.perf_counter()
        for name in self.ops:
            _call(runner, res, name, lambda name=name: queries[name](spark, self.data_dir))
        res.wall_s = time.perf_counter() - t0
        _per_op(res)
        return res

    def oracles(self):
        _, registry = _registry()
        return {n: registry[n] for n in self.ops}

    def check(self, res, answers):
        return _check_outputs(res, answers, self.oracles())


def _per_op(res: PassResult) -> None:
    """A pass whose work items are its ops: their wall latencies, and
    ops per CPU-second of the ops themselves."""
    ok = [s for s in res.samples if s.error is None]
    res.latencies_ms = [1000 * s.wall_s for s in ok]
    res.items, res.item_cpu_s = len(ok), sum(s.cpu_s for s in ok)


def _check_outputs(res: PassResult, answers: Answers, oracles: dict[str, str]) -> list[str]:
    errs = []
    for name, (df, rows) in res.outputs.items():
        bad = answers.match(df, rows, oracles[name], name)
        if bad:
            errs.append(bad)
    return errs


WORKLOADS = {w.name: w for w in (LakehouseEtl, AnalyticsMix, CorpusCuration)}
