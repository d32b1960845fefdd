"""Persist-lifecycle helpers shared by the iterative operators
(clustering's Lloyd loop, the BPE merge-learning loop, DSIR, power
iteration).

Spark never auto-unpersists: across a 150+-op correctness gate plus
repeated bench iterations, leaked cache blocks accumulate for the
session lifetime and show up as memory-pressure-driven bench drift
(and, worse, Spark's CacheManager silently substitutes a leaked
InMemoryRelation into any later plan that matches it -- the r8 bench
cache-subsidy bug). Every ``persist()`` in an iterative operator goes
through :func:`persist_tracked`; the registry is a STACK of scopes so
lifetimes cannot cross-contaminate:

- :func:`cache_scope` pushes a fresh scope and -- in a ``finally`` --
  unpersists everything that scope tracked, so an operator that raises
  mid-build cannot pin frames for an unrelated later query, and a
  finalize-using op composed inside another persist-using op drains
  only its OWN scope, never its caller's live caches.
- :func:`scoped` wraps a query fn ``(spark, sf_dir) -> DataFrame`` in
  :func:`cache_scope`; every registered query that persists uses it.
- :func:`finalize` materializes the small result rows (inside a
  ``try/finally`` that drains the current scope) and returns a frame
  rebuilt from local rows, valid after its cached inputs are gone (the
  registered-query materialization idiom evolution.py pioneered).

Queries execute sequentially per session (driver gate / pytest), so a
module-level stack is safe here; the stack makes NESTED composition
safe too, which the old flat list was not (r9 ADVICE).
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

# Base scope catches persists made outside any cache_scope (e.g. a plan
# test poking a lazy builder directly); release_caches() drains it.
_SCOPES: list[list[DataFrame]] = [[]]


def persist_tracked(df: DataFrame) -> DataFrame:
    """persist() tracked in the innermost live scope; see module doc."""
    df = df.persist()
    _SCOPES[-1].append(df)
    return df


def release_caches() -> None:
    """Unpersist every frame tracked by the current scope."""
    scope = _SCOPES[-1]
    while scope:
        scope.pop().unpersist()


@contextmanager
def cache_scope() -> Iterator[None]:
    """Push a fresh persist-tracking scope; drain it on exit (even on
    exception), leaving enclosing scopes' caches untouched."""
    _SCOPES.append([])
    try:
        yield
    finally:
        scope = _SCOPES.pop()
        while scope:
            scope.pop().unpersist()


def scoped(fn: Callable[..., DataFrame]) -> Callable[..., DataFrame]:
    """Decorator: run the query fn inside its own :func:`cache_scope`."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with cache_scope():
            return fn(*args, **kwargs)

    return wrapper


def finalize(spark: SparkSession, out: DataFrame) -> DataFrame:
    """Materialize the small result rows, release the current scope's
    tracked caches (in a ``finally`` -- a failed collect must not pin
    them either), and return a frame rebuilt from the local rows."""
    try:
        rows = out.collect()
    finally:
        release_caches()
    return spark.createDataFrame(rows, out.schema)
