"""The per-session memo registry and the isolated-run recipe.

The registry tests use a plain weakref-able object in place of a
Spark session; the release test and the A/B tool smoke run on the
shared test session."""

from __future__ import annotations

import gc
import sys
import threading
import time

import pytest

from wallet_and_risky_features_data_pipeline_spark.caching import (
    cache_scope,
    peek_session_memo,
    reset_session_memos,
    session_memo,
)

from .conftest import SF_SMALL


class _Session:
    """Stand-in session: hashable and weakly referenceable."""


def _counting_build(value, calls: list, delay: float = 0.0):
    def build():
        calls.append(value)
        time.sleep(delay)
        return value

    return build


def test_concurrent_first_callers_build_once():
    sess, calls, got = _Session(), [], []
    build = _counting_build("v", calls, delay=0.05)
    threads = [
        threading.Thread(target=lambda: got.append(session_memo(sess, "k", build)))
        for _ in range(16)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert calls == ["v"] and got == ["v"] * 16


def test_nested_build_of_another_key_does_not_deadlock():
    sess, calls, out = _Session(), [], []
    inner = _counting_build("inner", calls)

    def outer():
        # the warm LPA refresh's shape: peek one memo, build another
        assert peek_session_memo(sess, "inner") is None
        return ("outer", session_memo(sess, "inner", inner))

    t = threading.Thread(target=lambda: out.append(session_memo(sess, "outer", outer)))
    t.start()
    t.join(timeout=10)
    assert not t.is_alive(), "nested memo build deadlocked"
    assert out == [("outer", "inner")] and calls == ["inner"]
    assert peek_session_memo(sess, "inner") == "inner"


def test_peek_never_builds_and_reset_drops_every_key():
    sess, other, calls = _Session(), _Session(), []
    assert peek_session_memo(sess, "k") is None
    session_memo(sess, "k", _counting_build("v", calls))
    session_memo(other, "k", _counting_build("w", calls))
    assert peek_session_memo(sess, "k") == "v" and calls == ["v", "w"]
    reset_session_memos(sess)
    assert peek_session_memo(sess, "k") is None
    assert peek_session_memo(other, "k") == "w"  # other sessions keep theirs
    assert calls == ["v", "w"]


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


def test_reset_releases_every_memo_block(spark, tmp_path, monkeypatch):
    """All four session memos, reset: the registry is empty and the
    cached blocks are back to the count before the build — including
    the cluster assignment's localCheckpoint, which
    ``DataFrame.unpersist`` alone does not free."""
    from wallet_and_risky_features_data_pipeline_spark.plans import (
        incremental_plans as inc,
    )
    from wallet_and_risky_features_data_pipeline_spark.plans.registry import QUERIES
    from wallet_and_risky_features_data_pipeline_spark.plans.wallet_model import (
        WT_MEMO,
        wallet_transactions,
    )

    monkeypatch.setenv("SPARK_GRAFT_WARM_STATE_DIR", str(tmp_path))
    keys = [
        (WT_MEMO, SF_SMALL),
        ("ngram_capped", SF_SMALL),
        ("cluster_assignment", SF_SMALL),
        ("lpa_warm", SF_SMALL),
    ]
    reset_session_memos(spark)
    before = _settled_blocks(spark, lambda now, last: now == last)

    wallet_transactions(spark, SF_SMALL).count()
    for fn in (
        QUERIES["dedup_ngram_jaccard"],
        QUERIES["dedup_cluster_assign"],
        inc.wallet_label_propagation_warm,
    ):
        with cache_scope():
            fn(spark, SF_SMALL).write.format("noop").mode("overwrite").save()
    # holding the memo frames keeps their RDDs reachable, so only an
    # explicit release can free their blocks
    held = [peek_session_memo(spark, k) for k in keys]
    assert all(v is not None for v in held)
    assert set(_cached_blocks(spark)) - set(before)

    reset_session_memos(spark)
    assert [peek_session_memo(spark, k) for k in keys] == [None] * 4
    # blocks cached before the build may be released meanwhile by
    # whatever earlier tests left behind; none may be added
    after = _settled_blocks(spark, lambda now, last: set(now) <= set(before))
    assert set(after) <= set(before)
    assert sum(after.values()) <= sum(before.values())
    del held


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
