"""Distributed iterative linear algebra over the ``embeddings`` table:
the power-iteration primitive toward the top principal component
(north-star LLM-pipeline surface; no reference counterpart -- the
whitening/decorrelation primitive of an embedding pipeline, and the
second HASH-EXACT iterative algorithm in the repo after the Lloyd
k-means in operators/clustering.py).

Engine-exactness follows the k-means recipe: every float that crosses
an iteration boundary is snapped (dround) or exactly decimal-summed
(dsum), so the DuckDB oracle -- the same iterations unrolled as CTEs --
pins values bit-for-bit:

- init: the constant unit vector (1/8, ..., 1/8) (64 * 0.125^2 = 1
  exactly);
- score: s_i = dround(dot(x_i, v), 6) per row (list_dot_product sums
  left-to-right exactly like Spark's zip_with/aggregate fold);
- accumulate: u_j = dsum_i(s_i * x_ij) -- exact decimal sum, so the
  reduction is partition-order-independent;
- normalize: v_j = dround(u_j / sqrt(dsum_j(u_j^2)), 4), the next
  iteration's input, bit-identical across engines.

Scale design (100 TB): per iteration the corpus is touched ONCE -- the
current vector rides a 1-row broadcast, each row computes its scalar
score in a projection, and the accumulation reduces to exactly dim
rows via posexplode + groupBy(dim) with map-side partial aggregation.
The normalization is a dim-row aggregate. Nothing driver-side, nothing
quadratic; the vector frame is persisted across iterations exactly like
the Lloyd loop (see _cache.py for the release discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import dround, dround_sql, dsum, dsum_sql
from ..sources.parquet import load_table
from ._cache import scoped as _scoped
from ._cache import finalize as _finalize
from ._cache import persist_tracked as _persist
from ._cache import superstep as _superstep
from .registry import query
from .similarity import _dvec

_DIM = 64
_PI_ITERS = 3
_V0 = 0.125  # 1/sqrt(64): exact in binary, unit norm by construction


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pi_frame(
    spark: SparkSession, sf_dir: str, iters: int = _PI_ITERS
) -> DataFrame:
    """Lazy (dim, component) frame after ``iters`` power iterations
    (plan tests can pin its physical shape before materialization; the
    Rayleigh-monotonicity test sweeps ``iters``)."""
    emb = _persist(_pi_vectors(spark, sf_dir))
    return _pi_loop(spark, emb, iters)


def _pi_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, dv) spread to full parallelism BEFORE the persist: the
    iterated consumers (score projection, posexplode partials) are pure
    CPU with no shuffle, so their task count is whatever the cached
    frame has -- and a file-count-partitioned source (1 file at sf0.1 =
    1 task) would serialize every corpus pass onto one core, the same
    bug class the r12 k-means audit fixed (clustering.py
    _kmeans_state_frames; r13 persist-site audit, SCALING.md). The
    exchange sits below the _dvec projection so the cast itself also
    runs wide."""
    par = spark.sparkContext.defaultParallelism
    return (
        load_table(spark, sf_dir, "embeddings")
        .repartition(par, "vec_id")
        .select("vec_id", _dvec(F.col("embedding")).alias("dv"))
    )


# One-parse Spark-SQL twins of the per-iteration expressions (r19, the
# py4j plan-construction class -- similarity._pq_sqdist_sql template):
# the Column-API builds cost ~150-250 gateway round-trips per
# iteration, times _PI_ITERS x 2 loops in the PCA op. Trees are
# identical by construction (0.0D init = F.lit(0.0); the decimal-snap
# CASTs are dround/dsum verbatim).
_PI_DOT_SNAP6_SQL = (
    "CAST(round(CAST(aggregate(zip_with(dv, varr, (x, y) -> x * y),"
    " 0.0D, (acc, v) -> acc + v) AS DECIMAL(30,6)), 6) AS DOUBLE)"
)


def _dsum_spark_sql(expr: str) -> str:
    """Spark-SQL twin of functions.dsum (exact decimal sum as double)."""
    return f"CAST(sum(CAST({expr} AS DECIMAL(30,6))) AS DOUBLE)"


def _pi_loop(spark: SparkSession, emb: DataFrame, iters: int) -> DataFrame:
    """The snapped power-iteration loop over any persisted (vec_id, dv)
    frame (the PCA deflation runs it twice: raw rows, then rows with
    the first component projected out).

    r20 (r19 VERDICT item 5): the iteration state is ONE ROW holding
    the component array. The accumulation keeps the posexplode ->
    groupBy(dim) partial-agg shape (a 64-column decimal aggregate was
    tried and REJECTED: 64 sum(CAST(.. AS DECIMAL)) buffers in one
    codegen unit OOMed janino on a default-heap driver), but the old
    per-iteration tail -- a separate n2 aggregate, its broadcast, and
    the next iteration's collect_list/array_sort state rebuild + its
    broadcast -- fuses into ONE 64-row-to-1-row aggregate whose
    projection computes n2 and the snapped normalize as row-local HOF
    arithmetic over the assembled array. Values are bit-identical: the
    same doubles enter the same decimal casts, the HOF fold's exact
    decimal adds equal the old dsum aggregate (decimal addition is
    exact; same DECIMAL(38,6) accumulator type as sum over
    DECIMAL(30,6)), and the snapped divide is the identical
    expression -- the unrolled DuckDB oracle is unchanged and still
    hash-checks every component. Per-iteration tiny aggregates: 1
    (was 2) and broadcasts: 1 (was 2); the 1-row state still rides a
    broadcast (pinned by
    test_power_iteration_is_broadcast_only_on_the_vector_side)."""
    v = spark.range(1).selectExpr(
        f"array_repeat(CAST({_V0!r} AS DOUBLE), {_DIM}) AS varr"
    )
    n2_sql = (
        "CAST(aggregate(uar, CAST(0 AS DECIMAL(38,6)), (acc, x) -> "
        "CAST(acc + CAST(x * x AS DECIMAL(30,6)) AS DECIMAL(38,6))) "
        "AS DOUBLE)"
    )
    norm_sql = (
        "transform(uar, x -> CAST(round(CAST(x / sqrt(n2) AS "
        "DECIMAL(30,6)), 4) AS DOUBLE)) AS varr"
    )
    for _ in range(iters):
        s = emb.crossJoin(F.broadcast(v)).selectExpr(
            "dv", f"{_PI_DOT_SNAP6_SQL} AS s"
        )
        u = (
            s.select("s", F.posexplode("dv").alias("dim", "x"))
            .groupBy("dim")
            .agg(F.expr(_dsum_spark_sql("x * s")).alias("u"))
        )
        v = (
            u.agg(
                F.expr("array_sort(collect_list(struct(dim, u)))").alias(
                    "su"
                )
            )
            .selectExpr("transform(su, t -> t.u) AS uar")
            .selectExpr(f"{n2_sql} AS n2", "uar")
            .selectExpr(norm_sql)
        )
    return (
        v.selectExpr("posexplode(varr) AS (dim, component)")
        .select(F.col("dim").cast("long").alias("dim"), "component")
        .orderBy("dim")
    )


def _pi_loop_sql(src: str, pre: str) -> str:
    """CTE fragments unrolling _PI_ITERS snapped power iterations over
    source CTE ``src`` (columns vec_id, dv); states are ``{pre}0`` ..
    ``{pre}{_PI_ITERS}``."""
    parts = [
        f"{pre}0 AS (SELECT CAST(i - 1 AS BIGINT) AS dim, {_V0} AS c"
        f" FROM range(1, {_DIM} + 1) t(i))",
    ]
    for it in range(1, _PI_ITERS + 1):
        parts.append(
            f"{pre}_va{it - 1} AS (SELECT list(c ORDER BY dim) AS varr"
            f" FROM {pre}{it - 1})"
        )
        parts.append(
            f"{pre}_s{it} AS (SELECT dv,"
            f" {dround_sql('list_dot_product(dv, varr)', 6)} AS s"
            f" FROM {src} CROSS JOIN {pre}_va{it - 1})"
        )
        parts.append(
            f"{pre}_u{it} AS (SELECT CAST(i - 1 AS BIGINT) AS dim,"
            f" {dsum_sql('s * dv[i]')} AS u"
            f" FROM {pre}_s{it} CROSS JOIN range(1, {_DIM} + 1) t(i)"
            f" GROUP BY i)"
        )
        parts.append(
            f"{pre}_n{it} AS (SELECT {dsum_sql('u * u')} AS n2"
            f" FROM {pre}_u{it})"
        )
        parts.append(
            f"{pre}{it} AS (SELECT dim, {dround_sql('u / sqrt(n2)', 4)}"
            f" AS c FROM {pre}_u{it} CROSS JOIN {pre}_n{it})"
        )
    return ",\n".join(parts)


def _pi_sql() -> str:
    """The same _PI_ITERS iterations unrolled as DuckDB CTEs."""
    return (
        "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv"
        " FROM embeddings),\n" + _pi_loop_sql("v", "a")
    )


@query(
    "embedding_power_iteration",
    oracle=f"""
    {_pi_sql()}
    SELECT dim, c AS component FROM a{_PI_ITERS} ORDER BY dim
    """,
    tags=("llm-similarity", "llm-clustering"),
)
@_scoped
def embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The state of the power iteration toward the top principal
    direction of the (uncentered) embedding gram matrix after _PI_ITERS
    hash-exact iterations -- see module docstring for the snapping
    recipe and the one-corpus-pass-per-iteration scale shape. The
    oracle unrolls the identical iterations in SQL, so this ITERATIVE
    algorithm is value-hash-checked, not tolerance-checked.

    Honesty note: the synthetic embeddings fixture is near-isotropic
    (top eigen-gap ~1.07), so a small fixed iteration count is far from
    the converged eigenvector ON THIS DATA -- the op pins the PRIMITIVE
    (per-iteration plan, cross-engine exactness, Rayleigh-quotient
    monotonicity, asserted by tests/test_dsir_layout.py); a production
    run iterates the same per-iteration plan to convergence, where the
    cost is iterations x one corpus pass."""
    return _finalize(spark, _pi_frame(spark, sf_dir))


# ---------------------------------------------------------------------------
# Two-component PCA via projection deflation: power-iterate, project
# the first direction out of every row, power-iterate again
# ---------------------------------------------------------------------------

def _pca2_sql() -> str:
    """v1 from the raw rows, then the deflated source d (each row minus
    its snapped projection onto v1), then v2 over d -- every boundary
    value snapped exactly like the single-component oracle."""
    defl = (
        f"fva AS (SELECT list(c ORDER BY dim) AS varr FROM a{_PI_ITERS}),\n"
        "dp AS (SELECT vec_id, dv,"
        f" {dround_sql('list_dot_product(dv, varr)', 6)} AS s"
        " FROM v CROSS JOIN fva),\n"
        # MATERIALIZED: the second loop references d once per
        # iteration; an inlined CTE would re-run the whole first loop
        # + deflation chain on every reference (measured 14.7s -> ~1s)
        f"d AS MATERIALIZED (SELECT vec_id,"
        f" list_transform(range(1, {_DIM} + 1),"
        " i -> dv[i] - s * varr[i]) AS dv FROM dp CROSS JOIN fva)"
    )
    return (
        "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv"
        " FROM embeddings),\n"
        + _pi_loop_sql("v", "a") + ",\n"
        + defl + ",\n"
        + _pi_loop_sql("d", "b")
    )


@query(
    "embedding_pca_top2",
    oracle=f"""
    {_pca2_sql()}
    SELECT comp, dim, c AS component FROM (
      SELECT 1 AS comp, dim, c FROM a{_PI_ITERS}
      UNION ALL
      SELECT 2 AS comp, dim, c FROM b{_PI_ITERS}
    )
    ORDER BY comp, dim
    """,
    tags=("llm-similarity", "llm-clustering"),
)
@_scoped
def embedding_pca_top2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 (uncentered) principal directions by PROJECTION DEFLATION:
    run the snapped power iteration for v1, subtract each row's snapped
    projection onto v1 (x - (x.v1) v1 -- pure per-row arithmetic on
    engine-identical inputs, no eigenvalue estimate needed), and run
    the same iteration over the deflated rows for v2. Still hash-exact:
    both loops and the deflation cross the engine boundary only through
    dround/dsum-snapped values, so the oracle (the two loops + the
    deflation unrolled as CTEs) pins all 128 components bit-for-bit.
    tests/test_r10_ops.py asserts near-orthogonality of the two
    directions -- the invariant snapping must not break.

    Scale shape: the deflation adds ONE more corpus-pass projection
    (v1 rides the same 1-row broadcast); everything else is the
    single-component story -- iterations x one pass, dim-row
    reductions, nothing driver-side. The deflated frame is persisted
    for the second loop exactly like the raw frame for the first."""
    emb = _persist(_pi_vectors(spark, sf_dir))
    # v1 is the 64-row MODEL ARTIFACT between the two loops: a
    # superstep, so the second loop's lineage does not embed the first
    # loop's unrolled plan (the doubly-nested plan was measured 3.5x
    # slower purely in Catalyst compile time)
    v1 = _superstep(_pi_loop(spark, emb, _PI_ITERS), eager=True)
    v1arr = v1.agg(
        F.expr("array_sort(collect_list(struct(dim, component)))")
        .alias("s")
    ).selectExpr("transform(s, t -> t.component) AS varr")
    proj = emb.crossJoin(F.broadcast(v1arr)).selectExpr(
        "vec_id",
        "dv",
        "varr",
        f"{_PI_DOT_SNAP6_SQL} AS s",
    )
    # defl inherits emb's full-parallelism partitioning through the
    # narrow projection chain (no repartition needed -- r13 audit)
    defl = _persist(
        proj.selectExpr(
            "vec_id",
            "zip_with(dv, varr, (x, c) -> x - s * c) AS dv",
        )
    )
    v2 = _pi_loop(spark, defl, _PI_ITERS)
    out = (
        v1.select(F.lit(1).alias("comp"), "dim", "component")
        .unionByName(v2.select(F.lit(2).alias("comp"), "dim", "component"))
        .orderBy("comp", "dim")
    )
    return _finalize(spark, out)
