"""Block-lifecycle helpers shared by the iterative operators
(clustering's Lloyd loop, the BPE merge-learning loop, the dedup
cascade, DSIR, power iteration).

Two primitives hold blocks for an operator, and both are tracked:

- :func:`persist_tracked` -- ``persist()``, for a frame that several
  consumers read at EXECUTION time.
- :func:`superstep` -- ``localCheckpoint()``, for a frame whose plan
  must be cut (the reasons are on the function).

Spark never auto-unpersists: across a 150+-op correctness gate plus
repeated bench iterations, leaked blocks accumulate for the session
lifetime and show up as memory-pressure-driven bench drift (and, worse,
Spark's CacheManager silently substitutes a leaked InMemoryRelation
into any later plan that matches it -- the r8 bench cache-subsidy
bug). The registry is a STACK of scopes so lifetimes cannot
cross-contaminate:

- :func:`cache_scope` pushes a fresh scope and -- in a ``finally`` --
  releases everything that scope tracked, so an operator that raises
  mid-build cannot pin blocks for an unrelated later query, and a
  finalize-using op composed inside another op drains only its OWN
  scope, never its caller's live blocks.
- :func:`scoped` wraps a query fn ``(spark, sf_dir) -> DataFrame`` in
  :func:`cache_scope`; every registered query that persists or takes a
  superstep uses it.
- :func:`finalize` materializes the small result rows (inside a
  ``try/finally`` that drains the current scope) and returns a frame
  rebuilt from local rows, valid after its tracked inputs are gone (the
  registered-query materialization idiom evolution.py pioneered).

The rule: an op that takes a superstep finalizes. A released checkpoint
cannot be recomputed -- its lineage is gone -- so a lazy frame that
reads one is dead once its scope drains; only collected rows outlive
it.

Queries execute sequentially per session (driver gate / pytest), so a
module-level stack is safe here; the stack makes NESTED composition
safe too, which the old flat list was not (r9 ADVICE).
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

# Base scope catches blocks taken outside any cache_scope (e.g. a plan
# test poking a lazy builder directly); release_caches() drains it.
# Entries are persisted DataFrames and checkpointed JVM RDDs: both
# release with ``.unpersist(False)``.
_SCOPES: list[list] = [[]]


def persist_tracked(df: DataFrame) -> DataFrame:
    """persist() tracked in the innermost live scope; see module doc."""
    df = df.persist()
    _SCOPES[-1].append(df)
    return df


def superstep(df: DataFrame, eager: bool = False) -> DataFrame:
    """Cut ``df``'s lineage at its materialized rows, tracked in the
    innermost live scope.

    The iterative idiom is a superstep: round i builds on round i-1's
    result. When a round references the previous one TWICE (BPE: the
    pair count that picks the winner AND the replace; k-center: the
    farthest-point pick AND the running-min update), the un-cut logical
    plan doubles per round and Catalyst analysis walks 2^N subtrees by
    the last one (profiled: ~2.6 s of a ~5.9 s BPE wall).
    ``persist()`` does not help: the CacheManager reuses the blocks at
    execution but substitutes by plan match, so analysis still walks
    every reference. ``localCheckpoint`` replaces the plan with a leaf
    over the materialized RDD; execution reuse is what a persist would
    give. The same cut serves a frame several branches consume (each
    would otherwise re-run its shuffle or UDF pipeline) and a frame an
    ``explode`` would otherwise re-inline and re-evaluate per generated
    row.

    ``eager`` is ``localCheckpoint``'s own: materialize now, or at the
    first action over the result. The checkpointed RDD is the result's
    ``LogicalRDD`` leaf; releasing it drops the blocks, after which the
    result cannot be recomputed -- hence the module rule that an op that
    takes a superstep collects through :func:`finalize`."""
    df = df.localCheckpoint(eager=eager)
    _SCOPES[-1].append(df._jdf.logicalPlan().rdd())
    return df


def release_caches() -> None:
    """Release every block tracked by the current scope."""
    scope = _SCOPES[-1]
    while scope:
        scope.pop().unpersist(False)


@contextmanager
def cache_scope() -> Iterator[None]:
    """Push a fresh block-tracking scope; drain it on exit (even on
    exception), leaving enclosing scopes' blocks untouched."""
    _SCOPES.append([])
    try:
        yield
    finally:
        scope = _SCOPES.pop()
        while scope:
            scope.pop().unpersist(False)


def scoped(fn: Callable[..., DataFrame]) -> Callable[..., DataFrame]:
    """Decorator: run the query fn inside its own :func:`cache_scope`."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with cache_scope():
            return fn(*args, **kwargs)

    return wrapper


def finalize(spark: SparkSession, out: DataFrame) -> DataFrame:
    """Materialize the small result rows, release the current scope's
    tracked blocks (in a ``finally`` -- a failed collect must not pin
    them either), and return a frame rebuilt from the local rows."""
    try:
        rows = out.collect()
    finally:
        release_caches()
    return spark.createDataFrame(rows, out.schema)
