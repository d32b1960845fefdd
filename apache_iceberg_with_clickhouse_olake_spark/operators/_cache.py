"""Resource lifetimes for the registered operators: every block, lineage
cut and scratch directory an operator takes lives in its cache scope
and is released when that scope drains.

Three kinds of resource, each taken through one helper here:

- :func:`persist_tracked` -- ``persist()``, for a frame that several
  consumers read at EXECUTION time.
- :func:`superstep` -- ``localCheckpoint()``, for a frame whose plan
  must be cut (the reasons are on the function).
- :func:`scratch_dir` -- a temporary directory for the lake writes an
  operator reads back (snapshots, compaction, stream checkpoints and
  sinks). It is the one place to swap in a shared warehouse path: on a
  real cluster a driver-local ``file:`` path is not visible to remote
  executors.

Spark never auto-unpersists: leaked blocks accumulate for the session
lifetime, and the CacheManager silently substitutes a leaked
InMemoryRelation into any later plan that matches it. The registry is
a STACK of scopes, each a :class:`contextlib.ExitStack`, so lifetimes
cannot cross-contaminate:

- :func:`cache_scope` pushes a fresh scope and -- in a ``finally`` --
  closes it, so an operator that raises mid-build cannot pin blocks or
  leave a directory behind, and a finalize-using op composed inside
  another op drains only its OWN scope, never its caller's.
- :func:`scoped` wraps a query fn ``(spark, sf_dir) -> DataFrame`` in
  :func:`cache_scope`; every registered query that takes a resource
  uses it.
- :func:`finalize` materializes the small result rows (inside a
  ``try/finally`` that drains the current scope) and returns a frame
  rebuilt from local rows, valid after its inputs are gone.

The rule: an op that takes a superstep or a scratch dir finalizes. A
released checkpoint cannot be recomputed -- its lineage is gone -- and
a removed directory cannot be re-read, so a lazy frame over either is
dead once its scope drains; only collected rows outlive it.

Queries execute sequentially per session (driver gate / pytest), so a
module-level stack is safe here; the stack makes NESTED composition
safe too.
"""

from __future__ import annotations

import functools
import tempfile
from collections.abc import Callable, Iterator
from contextlib import ExitStack, contextmanager

from pyspark.sql import DataFrame, SparkSession

# Base scope catches resources taken outside any cache_scope (e.g. a
# test poking a lazy builder directly); release_caches() drains it.
_SCOPES: list[ExitStack] = [ExitStack()]


def persist_tracked(df: DataFrame) -> DataFrame:
    """persist() tracked in the innermost live scope; see module doc."""
    df = df.persist()
    _SCOPES[-1].callback(df.unpersist, False)
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
    _SCOPES[-1].callback(df._jdf.logicalPlan().rdd().unpersist, False)
    return df


def scratch_dir(prefix: str) -> str:
    """A fresh temporary directory, removed when the innermost live
    scope drains. It lives under ``tempfile``'s default root."""
    return _SCOPES[-1].enter_context(
        tempfile.TemporaryDirectory(prefix=prefix, ignore_cleanup_errors=True)
    )


def release_caches() -> None:
    """Release every resource tracked by the current scope."""
    _SCOPES[-1].close()


@contextmanager
def cache_scope() -> Iterator[None]:
    """Push a fresh scope; drain it on exit (even on exception),
    leaving enclosing scopes' resources untouched."""
    _SCOPES.append(ExitStack())
    try:
        yield
    finally:
        _SCOPES.pop().close()


def scoped(fn: Callable[..., DataFrame]) -> Callable[..., DataFrame]:
    """Decorator: run the query fn inside its own :func:`cache_scope`."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with cache_scope():
            return fn(*args, **kwargs)

    return wrapper


def finalize(spark: SparkSession, out: DataFrame) -> DataFrame:
    """Materialize the small result rows, release the current scope's
    resources (in a ``finally`` -- a failed collect must not pin them
    either), and return a frame rebuilt from the local rows."""
    try:
        rows = out.collect()
    finally:
        release_caches()
    return spark.createDataFrame(rows, out.schema)
