"""Query-scoped block tracking and the isolated run.

Several operators ``persist()`` an intermediate that feeds two or more
consumers inside one query plan (the LSH exploded band table, the
n-gram inverted index, the contamination bench index), and iterative
plans ``localCheckpoint`` each round to cut their lineage. Spark's
``CacheManager`` holds the caches by logical plan, so they are never
garbage-collected, and a checkpoint's blocks stay until JVM GC lets
the ContextCleaner drop its RDD: under a long-lived session running
many queries (the bench, a notebook, the nightly chain) each run would
accumulate executor storage.

``persist_tracked`` and ``checkpoint_tracked`` are drop-in replacements
for ``DataFrame.persist`` and ``DataFrame.localCheckpoint`` that
register the frame with the innermost active ``cache_scope``; the
scope releases everything it collected when it exits. That is the one
lifetime of every block a query pins: it goes when the query's scope
exits. A checkpointed frame read after its scope exited fails with
``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` instead of recomputing silently.
Scoping is per-thread (``threading.local``) so concurrently-benched
queries never release each other's live blocks. With no scope active
the behavior is identical to a plain ``persist()`` or
``localCheckpoint()`` — library callers who manage their own lifecycle
see no change.

Usage (the bench wraps every query run):

    with cache_scope():
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    # all persists and checkpoints taken during the run are released here

A writer that is done with its input when it returns (``merge_upsert``,
the store erase, ``incremental_append``, ``runner.run_curate``) is
decorated ``@cache_scope()``, so a chain of them releases its blocks
per call. No cache is shared between queries, so a source may be
rewritten in-session and the next query reads it afresh.
"""

from __future__ import annotations

import threading
import time
from collections.abc import Callable
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

_scopes = threading.local()


def _track(release: Callable[[], object]) -> None:
    stack = getattr(_scopes, "stack", None)
    if stack:
        stack[-1].append(release)


def persist_tracked(df: DataFrame) -> DataFrame:
    """``df.persist()`` registered with the active cache scope (if any)."""
    df = df.persist()
    _track(lambda: df.unpersist(blocking=False))
    return df


def checkpoint_tracked(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)`` registered with the active cache
    scope (if any), which unpersists the checkpoint's RDD."""
    df = df.localCheckpoint(eager)
    # the checkpointed frame's logical plan is the LogicalRDD over the
    # checkpointed RDD; no DataFrame API reaches that RDD
    _track(lambda: df._jdf.queryExecution().logical().rdd().unpersist(False))
    return df


@contextmanager
def cache_scope() -> Iterator[None]:
    """Release every ``persist_tracked`` cache and ``checkpoint_tracked``
    checkpoint taken inside the block.

    Non-blocking: release is async block-dropping on the executors —
    the caller doesn't wait, and in-flight tasks holding a block finish
    from the partially-dropped cache or recompute.
    """
    stack = getattr(_scopes, "stack", None)
    if stack is None:
        stack = _scopes.stack = []
    scope: list[Callable[[], object]] = []
    stack.append(scope)
    try:
        yield
    finally:
        stack.pop()
        for release in scope:
            try:
                release()
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
    emptied first, the run's own persists and checkpoints released on
    exit, ``noop`` sink."""
    reset_session_memos(spark)
    t0 = time.perf_counter()
    with cache_scope():
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0
