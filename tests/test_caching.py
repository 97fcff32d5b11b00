"""Block lifetimes and the isolated-run recipe, on the shared test
session: every cache and local checkpoint lives for one query, and
``reset_session_memos`` empties whatever an unscoped ``persist()`` left
behind."""

from __future__ import annotations

import gc
import os
import re
import time

import pytest

import wallet_and_risky_features_data_pipeline_spark as pkg
from wallet_and_risky_features_data_pipeline_spark.caching import (
    cache_scope,
    checkpoint_tracked,
    reset_session_memos,
    timed_isolated,
)

from .conftest import SF_SMALL


def _cached_blocks(spark) -> dict[int, int]:
    """Cached block count per RDD id."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {i.id(): i.numCachedPartitions() for i in infos if i.numCachedPartitions()}


def _settled_blocks(spark, done, timeout: float = 30.0) -> dict[int, int]:
    """Cached blocks once ``done(blocks, previous)`` holds or
    ``timeout`` passes: unpersists run async, and JVM GC lets the
    context cleaner drop the blocks of unreachable RDDs that no scope
    released (an unscoped ``persist()`` or checkpoint of an earlier
    test). A Python DataFrame caught in a reference cycle keeps its JVM
    plan reachable until Python's cycle collector runs, so that runs
    first."""
    deadline = time.monotonic() + timeout
    last = None
    while True:
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(0.5)
        blocks = _cached_blocks(spark)
        if done(blocks, last) or time.monotonic() > deadline:
            return blocks
        last = blocks


def test_reset_releases_every_memo_block(spark):
    """An unscoped ``persist()`` outlives its query; the reset before a
    measured run drops it from the CacheManager and frees its blocks."""
    from wallet_and_risky_features_data_pipeline_spark.plans.wallet_model import (
        wallet_transactions,
    )

    cache = spark._jsparkSession.sharedState().cacheManager()
    reset_session_memos(spark)
    before = _settled_blocks(spark, lambda now, last: now == last)

    stray = wallet_transactions(spark, SF_SMALL).persist()
    stray.count()
    assert not cache.isEmpty()
    assert set(_cached_blocks(spark)) - set(before)

    reset_session_memos(spark)
    assert cache.isEmpty()
    assert not stray.storageLevel.useMemory
    # blocks cached before the persist may be released meanwhile by
    # whatever earlier tests left behind; none may be added
    after = _settled_blocks(spark, lambda now, last: set(now) <= set(before))
    assert set(after) <= set(before)
    assert sum(after.values()) <= sum(before.values())


def test_ab_tool_times_equal_pair_and_refuses_differing_outputs(spark):
    from tools import ab

    out = ab.ab(spark, "dedup_exact", "dedup_exact", SF_SMALL, pairs=1)
    assert out["pairs"] == 1
    for side in ("a", "b"):
        assert out[side]["query"] == "dedup_exact"
        assert 0 < out[side]["q1_s"] <= out[side]["median_s"] <= out[side]["q3_s"]
    assert out["a"]["wins"] + out["b"]["wins"] <= 1

    with pytest.raises(SystemExit) as refused:
        ab.ab(spark, "dedup_exact", "dedup_minhash_lsh", SF_SMALL, pairs=1)
    assert refused.value.code not in (0, None)


def test_scope_releases_local_checkpoints(spark):
    """A ``checkpoint_tracked`` frame, eager or lazy, gives its RDD up
    when its scope exits, and reading it afterwards fails loudly. With
    no scope active it is a plain ``localCheckpoint``."""

    def persistent(df) -> bool:
        rdd = df._jdf.queryExecution().logical().rdd()
        return rdd.id() in spark.sparkContext._jsc.getPersistentRDDs()

    with cache_scope():
        eager = checkpoint_tracked(spark.range(20))
        lazy = checkpoint_tracked(spark.range(10).select("id"), eager=False)
        assert (eager.count(), lazy.count()) == (20, 10)
        assert persistent(eager) and persistent(lazy)
    assert not persistent(eager) and not persistent(lazy)
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        lazy.collect()

    unscoped = checkpoint_tracked(spark.range(5))
    assert unscoped.count() == 5
    assert persistent(unscoped)
    unscoped._jdf.queryExecution().logical().rdd().unpersist(False)


def test_isolated_runs_leave_no_persistent_rdd(spark):
    """An isolated run of an iterative query (connected components'
    per-round checkpoints, the persisted edge lists) holds no more
    persistent RDDs after its scope exits than before it, with no GC
    forced in between."""
    from wallet_and_risky_features_data_pipeline_spark.plans.registry import QUERIES

    rdds = spark.sparkContext._jsc.getPersistentRDDs
    for name in ("dedup_keep_best", "wallet_components"):
        before = len(rdds())
        timed_isolated(spark, QUERIES[name], SF_SMALL)
        assert len(rdds()) <= before, name


def test_only_caching_persists_or_checkpoints():
    """Every block a query pins goes through ``caching.py``: no other
    module of the package calls ``.persist(`` or ``.localCheckpoint(``,
    so each one is released by the query's ``cache_scope``."""
    root = os.path.dirname(pkg.__file__)
    offenders = []
    for dirpath, _, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            if not f.endswith(".py") or path == os.path.join(root, "caching.py"):
                continue
            with open(path) as fh:
                for i, line in enumerate(fh, 1):
                    if re.search(r"\.(persist|localCheckpoint)\(", line):
                        offenders.append(f"{os.path.relpath(path, root)}:{i}")
    assert not offenders, offenders
