"""Cache lifetimes and the isolated-run recipe, on the shared test
session: every cache lives for one query, and ``reset_session_memos``
empties whatever an unscoped ``persist()`` left behind."""

from __future__ import annotations

import gc
import time

import pytest

from wallet_and_risky_features_data_pipeline_spark.caching import reset_session_memos

from .conftest import SF_SMALL


def _cached_blocks(spark) -> dict[int, int]:
    """Cached block count per RDD id."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {i.id(): i.numCachedPartitions() for i in infos if i.numCachedPartitions()}


def _settled_blocks(spark, done, timeout: float = 30.0) -> dict[int, int]:
    """Cached blocks once ``done(blocks, previous)`` holds or
    ``timeout`` passes: unpersists run async, and JVM GC lets the
    context cleaner drop the blocks of unreachable RDDs (iterative
    rounds' lineage-cut checkpoints). A Python DataFrame caught in a
    reference cycle keeps its JVM plan reachable until Python's cycle
    collector runs, so that runs first."""
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
