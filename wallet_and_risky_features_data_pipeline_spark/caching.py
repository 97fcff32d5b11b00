"""Query-scoped cache tracking and the isolated run.

Several operators ``persist()`` an intermediate that feeds two or more
consumers inside one query plan (the LSH exploded band table, the
n-gram inverted index, the contamination bench index). Spark's
``CacheManager`` holds those entries by logical plan, so they are
never garbage-collected: under a long-lived session running many
queries (the 84-query bench, a notebook, a service) each run would
permanently accumulate executor storage memory.

``persist_tracked`` is a drop-in replacement for ``DataFrame.persist``
that registers the cache with the innermost active ``cache_scope``;
the scope unpersists everything it collected when it exits. Scoping is
per-thread (``threading.local``) so concurrently-benched queries never
release each other's live caches. With no scope active the behavior
is identical to a plain ``persist()`` — library callers who manage
their own lifecycle see no change.

Usage (the bench wraps every query run):

    with cache_scope():
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    # all persists taken during the run are released here

No cache is shared between queries, so a source may be rewritten
in-session and the next query reads it afresh. (A ``localCheckpoint``
is not a cache here: its blocks go when Spark's ContextCleaner drops
the unreachable RDD.)
"""

from __future__ import annotations

import threading
import time
from collections.abc import Callable
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

_scopes = threading.local()


def persist_tracked(df: DataFrame) -> DataFrame:
    """``df.persist()`` registered with the active cache scope (if any)."""
    df = df.persist()
    stack = getattr(_scopes, "stack", None)
    if stack:
        stack[-1].append(df)
    return df


@contextmanager
def cache_scope() -> Iterator[None]:
    """Unpersist every ``persist_tracked`` cache taken inside the block.

    ``blocking=False``: release is async block-dropping on the
    executors — the caller doesn't wait, and in-flight tasks holding a
    block finish from the partially-dropped cache or recompute.
    """
    stack = getattr(_scopes, "stack", None)
    if stack is None:
        stack = _scopes.stack = []
    scope: list[DataFrame] = []
    stack.append(scope)
    try:
        yield
    finally:
        stack.pop()
        for df in scope:
            try:
                df.unpersist(blocking=False)
            except Exception:
                pass  # session already stopped — nothing to release


def reset_session_memos(spark: SparkSession) -> None:
    """Empty the session's CacheManager, so a measured run starts with
    no cache left by an unscoped ``persist()``."""
    spark.catalog.clearCache()


def timed_isolated(
    spark: SparkSession, fn: Callable[[SparkSession, str], DataFrame], sf_dir: str
) -> float:
    """Seconds for one isolated run of ``fn(spark, sf_dir)``: cache
    emptied first, the run's own persists released on exit, ``noop``
    sink."""
    reset_session_memos(spark)
    t0 = time.perf_counter()
    with cache_scope():
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0
