"""Query-scoped cache tracking, per-session memos and the isolated run.

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

Session memos (``session_memo``) are the other lifetime: a frame that
several queries of one session share (the wallet leg table, the n-gram
capped stream, the near-dup cluster assignment) is built once per
(session, key) and outlives every ``cache_scope``. The builder chooses
its own persistence (``persist`` or ``localCheckpoint``) so the memo
adds nothing to the plan. Memo contract: the source at ``sf_dir`` is
IMMUTABLE for the session's lifetime (the benchmark corpus is;
lakehouse stores are read through generation pointers, never through a
memo). A caller that rewrites a source in-session must call
``reset_session_memos`` first, or it reads stale frames; a caller that
MEASURES a pipeline resets before each run so memoized queries time
their real computation (``timed_isolated``).
"""

from __future__ import annotations

import threading
import time
import weakref
from collections.abc import Callable, Hashable
from contextlib import contextmanager
from typing import Any, Iterator

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


# Weak session keys so a stopped session's entries are collectable.
# _REGISTRY_LOCK guards both maps and is never held across a build;
# each (session, key) has its own build lock, so a build may peek or
# build another key's memo without deadlocking.
_REGISTRY_LOCK = threading.Lock()
_MEMOS: "weakref.WeakKeyDictionary[SparkSession, dict[Hashable, Any]]" = (
    weakref.WeakKeyDictionary()
)
_BUILD_LOCKS: "weakref.WeakKeyDictionary[SparkSession, dict[Hashable, threading.Lock]]" = (
    weakref.WeakKeyDictionary()
)


def session_memo(spark: SparkSession, key: Hashable, build: Callable[[], Any]) -> Any:
    """The value stored for (``spark``, ``key``), built by ``build()``
    on the first call. Concurrent first callers wait for one build."""
    with _REGISTRY_LOCK:
        lock = _BUILD_LOCKS.setdefault(spark, {}).setdefault(key, threading.Lock())
    with lock:
        hit = peek_session_memo(spark, key)
        if hit is None:
            hit = build()
            with _REGISTRY_LOCK:
                _MEMOS.setdefault(spark, {})[key] = hit
        return hit


def peek_session_memo(spark: SparkSession, key: Hashable) -> Any | None:
    """The stored value for (``spark``, ``key``), or None; never builds."""
    with _REGISTRY_LOCK:
        return _MEMOS.get(spark, {}).get(key)


def reset_session_memos(spark: SparkSession) -> None:
    """Drop every memo of this session and release its cached blocks."""
    with _REGISTRY_LOCK:
        dropped = _MEMOS.pop(spark, None) or {}
    for value in dropped.values():
        _release(value)


def _release(value: Any) -> None:
    if isinstance(value, tuple):
        for v in value:
            _release(v)
    elif isinstance(value, DataFrame):
        value.unpersist()
        # a localCheckpoint's blocks belong to the checkpointed RDD
        # under the plan, which DataFrame.unpersist does not reach
        plan = value._jdf.queryExecution().logical()
        if plan.nodeName() == "LogicalRDD":
            plan.rdd().unpersist(False)


def timed_isolated(
    spark: SparkSession, fn: Callable[[SparkSession, str], DataFrame], sf_dir: str
) -> float:
    """Seconds for one isolated run of ``fn(spark, sf_dir)``: memos
    reset, the run's own persists released on exit, ``noop`` sink."""
    reset_session_memos(spark)
    t0 = time.perf_counter()
    with cache_scope():
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0
