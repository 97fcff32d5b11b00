"""Property: upserting the MERGE batch incremental(contract_state(b1), b2)
into contract_state(b1) ≡ contract_state(b1∪b2) exactly (to the last
decimal digit), for several split points — the invariant the reference
never verifies mechanically (SURVEY.md §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wallet_and_risky_features_data_pipeline_spark.caching import reset_session_memos
from wallet_and_risky_features_data_pipeline_spark.operators.joins import upsert_rows
from wallet_and_risky_features_data_pipeline_spark.plans.wallet_features import (
    contract_state_from,
)
from wallet_and_risky_features_data_pipeline_spark.plans.wallet_model import (
    wallet_transactions,
)
from wallet_and_risky_features_data_pipeline_spark.streaming.incremental import (
    WatermarkStore,
    incremental_append,
    incremental_auc_rollup,
    incremental_contract_state,
    wallet_auc_state,
)

from wallet_and_risky_features_data_pipeline_spark.sources.readers import (
    normalize_event_ts,
)

from .conftest import SF_SMALL

KEY = ["wallet_address", "contract_address"]


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.mark.parametrize("split_at", ["2024-01-08", "2024-01-15", "2024-01-29"])
def test_incremental_equals_full(spark, split_at):
    wt = wallet_transactions(spark, SF_SMALL)
    split = F.lit(split_at).cast("timestamp")
    full = contract_state_from(wt)
    prior = contract_state_from(wt.filter(F.col("ts") < split))
    delta = wt.filter(F.col("ts") >= split)
    batch = incremental_contract_state(prior, delta)
    # the MERGE batch holds exactly the pairs the delta touched
    assert batch.count() == delta.select(*KEY).distinct().count()
    merged = upsert_rows(prior, batch, KEY)
    assert _rows(merged.select(*sorted(full.columns))) == _rows(
        full.select(*sorted(full.columns))
    )


def test_incremental_three_way_chain(spark):
    """Two successive incremental applications == one full compute."""
    wt = wallet_transactions(spark, SF_SMALL)
    t1 = F.lit("2024-01-10").cast("timestamp")
    t2 = F.lit("2024-01-20").cast("timestamp")
    s1 = contract_state_from(wt.filter(F.col("ts") < t1))
    b2 = wt.filter((F.col("ts") >= t1) & (F.col("ts") < t2))
    s2 = upsert_rows(s1, incremental_contract_state(s1, b2), KEY)
    s3 = upsert_rows(s2, incremental_contract_state(s2, wt.filter(F.col("ts") >= t2)), KEY)
    full = contract_state_from(wt)
    assert _rows(s3.select(*sorted(full.columns))) == _rows(full.select(*sorted(full.columns)))


@pytest.mark.parametrize("split_at", ["2024-01-08", "2024-01-15", "2024-01-29"])
def test_auc_incremental_equals_full(spark, split_at):
    """The time-integral stitch: incremental(auc_state(b1), b2) must
    equal the full AUC rollup to the last decimal digit — including the
    bridge term prior_balance × (first_b2_ts − last_b1_ts), the re-max
    of the prior's last running-AUC row, and exact-bigint
    time-above-zero."""
    from wallet_and_risky_features_data_pipeline_spark.plans.risk_features import (
        wallet_auc_rollup,
    )

    wt = wallet_transactions(spark, SF_SMALL)
    split = F.lit(split_at).cast("timestamp")
    prior = wallet_auc_state(wt.filter(F.col("ts") < split))
    merged = incremental_auc_rollup(prior, wt.filter(F.col("ts") >= split))
    full = wallet_auc_rollup(spark, SF_SMALL)
    assert _rows(merged.select(*sorted(full.columns))) == _rows(
        full.select(*sorted(full.columns))
    )


def test_incremental_append_idempotent(spark, tmp_path):
    """Replaying the same batch appends nothing (anti-join guard), and
    a second batch appends only its delta."""
    store = WatermarkStore(str(tmp_path / "wm.json"))
    events = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .transform(normalize_event_ts)
        .withColumn("date_partition", F.date_format("ts", "yyyy-MM"))
    )
    b1 = events.filter("event_id < 500")
    target = str(tmp_path / "stage")
    n1 = incremental_append(spark, b1, target, "t", ["event_id"], "ts", store)
    assert n1 == 500
    # replay with a fresh watermark store (lost-watermark scenario)
    n2 = incremental_append(
        spark, b1, target, "t", ["event_id"], "ts", WatermarkStore(str(tmp_path / "wm2.json"))
    )
    assert n2 == 0
    n3 = incremental_append(spark, events, target, "t", ["event_id"], "ts", store)
    assert n3 == events.count() - 500
    assert spark.read.parquet(target).count() == events.count()


def test_incremental_append_releases_its_batch_when_the_write_raises(
    spark, tmp_path, monkeypatch
):
    """The batch ``incremental_append`` caches for its count and write
    is released even when the write raises: a failed append leaves
    nothing in the CacheManager for the rest of the session."""
    from wallet_and_risky_features_data_pipeline_spark.streaming import incremental

    def failing_write(*a, **kw):
        raise OSError("disk full")

    monkeypatch.setattr(incremental, "write_partitioned", failing_write)
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    events = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .transform(normalize_event_ts)
        .withColumn("date_partition", F.date_format("ts", "yyyy-MM"))
    )
    store = WatermarkStore(str(tmp_path / "wm.json"))
    with pytest.raises(OSError, match="disk full"):
        incremental_append(
            spark, events, str(tmp_path / "stage"), "t", ["event_id"], "ts", store
        )
    assert cache.isEmpty()
    assert store.get("t") is None


def test_incremental_append_watermark_ignores_python_timezone(
    spark, tmp_path, monkeypatch
):
    """The stage watermark is the batch max as Spark formats it in the
    session time zone (UTC). A Python process east of UTC must not move
    it: the second batch appends every row past the first batch's max,
    including the ones within 9 h of it."""
    import time

    events = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .transform(normalize_event_ts)
        .withColumn("date_partition", F.date_format("ts", "yyyy-MM"))
    )
    b1 = events.filter("event_id < 500")
    b1_max = b1.agg(F.unix_micros(F.max("ts"))).first()[0]
    past = events.filter(F.unix_micros("ts") > b1_max)
    assert past.filter(F.unix_micros("ts") <= b1_max + 9 * 3600 * 10**6).count() > 0
    store = WatermarkStore(str(tmp_path / "wm.json"))
    target = str(tmp_path / "stage")
    monkeypatch.setenv("TZ", "Asia/Tokyo")
    time.tzset()
    try:
        incremental_append(spark, b1, target, "t", ["event_id"], "ts", store)
        n = incremental_append(spark, events, target, "t", ["event_id"], "ts", store)
    finally:
        monkeypatch.undo()
        time.tzset()
    assert n == past.count()


@pytest.mark.parametrize("split_at", ["2024-01-08", "2024-01-15", "2024-01-29"])
def test_flow_motifs_incremental_equals_full(spark, split_at):
    """Band-limited rescan ≡ full recompute at ANY split point — the
    disjointness (prior = out-hop before split, delta = at/after) and
    completeness (delta in-hops ⊆ trailing 24 h window) arguments hold
    for every split, so sweeping three must produce identical rollups."""
    from pyspark.sql import functions as F

    from wallet_and_risky_features_data_pipeline_spark.plans.risk_features import (
        FLOW_WINDOW_US,
        _flow_legs_and_fences,
        _flow_pair_grain,
        _flow_paths,
        _flow_rollup,
        wallet_flow_motifs,
    )

    sf = "/root/testdata/sf0.001"
    legs, in_busy, out_busy = _flow_legs_and_fences(spark, sf)
    split_us = F.unix_micros(F.lit(split_at).cast("timestamp"))
    old = legs.filter(F.col("us") < split_us)
    new = legs.filter(F.col("us") >= split_us)
    tail = legs.filter(F.col("us") >= split_us - F.lit(FLOW_WINDOW_US))
    prior = _flow_pair_grain(_flow_paths(old, old, in_busy, out_busy))
    delta = _flow_pair_grain(_flow_paths(tail, new, in_busy, out_busy))
    merged = (
        prior.unionByName(delta)
        .groupBy("mid", "a", "c")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("n_fast").cast("bigint").alias("n_fast"),
        )
    )
    incremental = {tuple(r) for r in _flow_rollup(merged).collect()}
    full = {tuple(r) for r in wallet_flow_motifs(spark, sf).collect()}
    assert incremental == full


def test_flow_fences_cover_every_leg(spark):
    """``_fence_anti``'s caller contract: the occupancy fences hold a
    row for every (wallet, day) of the legs they fence, which is what
    makes its anti-join against the over-fuse hot list equal to an
    inner join + ``n <= fuse`` filter over the full fence table."""
    from wallet_and_risky_features_data_pipeline_spark.plans.risk_features import (
        _flow_legs_and_fences,
    )

    legs, in_busy, out_busy = _flow_legs_and_fences(spark, SF_SMALL)
    assert not legs.isEmpty()
    on_out = (F.col("src") == F.col("ob_b")) & (F.col("day") == F.col("ob_day"))
    on_in = (F.col("dst") == F.col("ib_b")) & (F.col("day") == F.col("ib_day"))
    assert legs.join(out_busy, on_out, "left_anti").isEmpty()
    assert legs.join(in_busy, on_in, "left_anti").isEmpty()


@pytest.mark.parametrize("split_at", ["2024-01-08", "2024-01-15", "2024-01-29"])
def test_rolling_distinct_incremental_equals_full(spark, split_at, monkeypatch):
    """Day-grain band-limited rescan ≡ full at ANY split day: anchors
    before the split are final forever, anchors at/after draw only on
    the trailing 7 days."""
    import wallet_and_risky_features_data_pipeline_spark.plans.incremental_plans as inc
    from wallet_and_risky_features_data_pipeline_spark.plans.risk_features import (
        wallet_rolling_distinct_7d,
    )

    monkeypatch.setattr(inc, "SPLIT_AT", split_at)
    sf = "/root/testdata/sf0.001"
    incremental = {
        tuple(r)
        for r in inc.wallet_rolling_distinct_incremental(spark, sf).collect()
    }
    full = {tuple(r) for r in wallet_rolling_distinct_7d(spark, sf).collect()}
    assert incremental == full


def _fresh_warm(spark, tmp_path, monkeypatch):
    import wallet_and_risky_features_data_pipeline_spark.plans.incremental_plans as inc

    monkeypatch.setenv("SPARK_GRAFT_WARM_STATE_DIR", str(tmp_path))
    reset_session_memos(spark)
    return inc


def test_lpa_warm_state_committed_and_read_back(spark, tmp_path, monkeypatch):
    """The incremental LPA face's prior state must live in the
    generation store (commit_generation, fingerprint tag) and be REUSED
    on the next refresh — the deployed stored-prior-state pattern
    (VERDICT r11 #1): one committed generation after two runs, result
    equal to the full recompute."""
    from wallet_and_risky_features_data_pipeline_spark.plans.risk_features import (
        wallet_label_propagation,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        generation_tag,
        list_generations,
    )

    inc = _fresh_warm(spark, tmp_path, monkeypatch)
    warm = {
        tuple(r)
        for r in inc.wallet_label_propagation_incremental(spark, SF_SMALL).collect()
    }
    full = {tuple(r) for r in wallet_label_propagation(spark, SF_SMALL).collect()}
    assert warm == full

    store = inc._lpa_state_store(SF_SMALL)
    assert list_generations(store) == ["gen-000001"]
    # tag line 1 = the fingerprint fence (input fingerprint + the
    # build-closure recipe hash _ensure_warm_state appends, ADVICE
    # r14); line 2 = build metadata (the stored edge count the
    # adaptive switch reads instead of scanning)
    tag_fp = inc._warm_tag_fp(generation_tag(store))
    assert tag_fp.startswith(inc._lpa_state_fingerprint(SF_SMALL))
    assert len(tag_fp) > len(inc._lpa_state_fingerprint(SF_SMALL)), (
        "recipe-hash suffix missing from the state tag"
    )
    assert inc.warm_state_meta(store)["n_old"] > 0

    # second run: read-back only, NO second build
    reset_session_memos(spark)
    again = {
        tuple(r)
        for r in inc.wallet_label_propagation_incremental(spark, SF_SMALL).collect()
    }
    assert again == full
    assert list_generations(store) == ["gen-000001"]


def test_lpa_warm_state_fingerprint_invalidates(spark, tmp_path, monkeypatch):
    """A fingerprint change (input files / split / rounds / format
    version) must force a REBUILD, never a stale read: bump the state
    format version and expect a second committed generation whose tag
    matches the new fingerprint."""
    inc = _fresh_warm(spark, tmp_path, monkeypatch)
    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        generation_tag,
        list_generations,
    )

    inc.wallet_label_propagation_incremental(spark, SF_SMALL).collect()
    store = inc._lpa_state_store(SF_SMALL)
    assert list_generations(store) == ["gen-000001"]

    monkeypatch.setattr(inc, "_LPA_STATE_VERSION", "v1-test-bump")
    reset_session_memos(spark)
    inc.wallet_label_propagation_incremental(spark, SF_SMALL).collect()
    assert list_generations(store) == ["gen-000001", "gen-000002"]
    assert inc._warm_tag_fp(generation_tag(store)).startswith(
        inc._lpa_state_fingerprint(SF_SMALL)
    )


def test_lpa_incremental_cold_store_builds_in_query_and_equals_full(
    spark, tmp_path, monkeypatch
):
    """The in-query rebuild proof for the incremental LPA variant
    (VERDICT r13 #3 moved it here from the per-bench-run hot path):
    on a COLD store, ``wallet_label_propagation_incremental`` must
    derive the prior per-round labels in-query (committing them as
    ONE fingerprint-fenced generation) and still equal the full
    recompute — incremental ≡ full proven end-to-end through the one
    entry point in a fresh environment. A second call must READ BACK
    (no second build) and stay equal."""
    from wallet_and_risky_features_data_pipeline_spark.plans.risk_features import (
        wallet_label_propagation,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        list_generations,
    )

    inc = _fresh_warm(spark, tmp_path, monkeypatch)
    store = inc._lpa_state_store(SF_SMALL)
    assert list_generations(store) == []  # genuinely cold

    incr = {
        tuple(r)
        for r in inc.wallet_label_propagation_incremental(spark, SF_SMALL).collect()
    }
    full = {tuple(r) for r in wallet_label_propagation(spark, SF_SMALL).collect()}
    assert incr == full
    assert list_generations(store) == ["gen-000001"]

    again = {
        tuple(r)
        for r in inc.wallet_label_propagation_incremental(spark, SF_SMALL).collect()
    }
    assert again == full
    assert list_generations(store) == ["gen-000001"]


def test_cc_incremental_cold_store_builds_in_query_and_equals_full(
    spark, tmp_path, monkeypatch
):
    """Same contract as the LPA variant: on a COLD store,
    ``wallet_components_incremental`` must build the prior component
    assignment in-query (one fingerprint-fenced generation) and equal
    the full recompute; a second call reads back without a rebuild."""
    from wallet_and_risky_features_data_pipeline_spark.plans.risk_features import (
        wallet_components,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        list_generations,
    )

    inc = _fresh_warm(spark, tmp_path, monkeypatch)
    store = inc._state_store(SF_SMALL, "cc_assignment")
    assert list_generations(store) == []

    incr = {
        tuple(r)
        for r in inc.wallet_components_incremental(spark, SF_SMALL).collect()
    }
    full = {tuple(r) for r in wallet_components(spark, SF_SMALL).collect()}
    assert incr == full
    assert list_generations(store) == ["gen-000001"]

    again = {
        tuple(r)
        for r in inc.wallet_components_incremental(spark, SF_SMALL).collect()
    }
    assert again == full
    assert list_generations(store) == ["gen-000001"]


def test_auc_incremental_cold_store_builds_and_equals(spark, tmp_path, monkeypatch):
    """AUC stitch variant of the cold-store proof: in-query prior
    build on a cold store, equality to the full rollup, read-back
    (single generation) on the second call."""
    from wallet_and_risky_features_data_pipeline_spark.plans.risk_features import (
        wallet_auc_rollup,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        list_generations,
    )

    inc = _fresh_warm(spark, tmp_path, monkeypatch)
    store = inc._state_store(SF_SMALL, "auc_state")
    assert list_generations(store) == []
    incr = {tuple(r) for r in inc.wallet_auc_incremental(spark, SF_SMALL).collect()}
    full = {tuple(r) for r in wallet_auc_rollup(spark, SF_SMALL).collect()}
    assert incr == full
    assert list_generations(store) == ["gen-000001"]
    again = {tuple(r) for r in inc.wallet_auc_incremental(spark, SF_SMALL).collect()}
    assert again == full
    assert list_generations(store) == ["gen-000001"]


def test_roll7_incremental_cold_store_builds_and_equals(
    spark, tmp_path, monkeypatch
):
    """Rolling-distinct variant of the cold-store proof."""
    from wallet_and_risky_features_data_pipeline_spark.plans.risk_features import (
        wallet_rolling_distinct_7d,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        list_generations,
    )

    inc = _fresh_warm(spark, tmp_path, monkeypatch)
    store = inc._state_store(SF_SMALL, "roll7_anchors")
    assert list_generations(store) == []
    incr = {
        tuple(r)
        for r in inc.wallet_rolling_distinct_incremental(spark, SF_SMALL).collect()
    }
    full = {tuple(r) for r in wallet_rolling_distinct_7d(spark, SF_SMALL).collect()}
    assert incr == full
    assert list_generations(store) == ["gen-000001"]


def test_modularity_incremental_equals_full(spark, tmp_path, monkeypatch):
    """Incremental modularity (warm labels + fresh |E|-linear
    evaluation joins) ≡ the full recompute, row for row."""
    from wallet_and_risky_features_data_pipeline_spark.plans.risk_features import (
        wallet_community_modularity,
    )

    inc = _fresh_warm(spark, tmp_path, monkeypatch)
    incr = {
        tuple(r)
        for r in inc.wallet_community_modularity_incremental(spark, SF_SMALL).collect()
    }
    full = {tuple(r) for r in wallet_community_modularity(spark, SF_SMALL).collect()}
    assert incr == full


def test_coin_balances_warm_reads_stored_state(spark, tmp_path, monkeypatch):
    """The flagship warm stitch: the pre-split contract-state snapshot
    commits ONCE as a fingerprint-tagged generation and the next run
    is read-back only; the result equals the full recompute across the
    real persist/read-back boundary (parquet decimals + micros
    timestamps must round-trip exactly)."""
    from wallet_and_risky_features_data_pipeline_spark.plans.windows_plans import (
        wallet_coin_balances,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        generation_tag,
        list_generations,
    )

    inc = _fresh_warm(spark, tmp_path, monkeypatch)
    warm = {tuple(r) for r in inc.wallet_coin_balances_warm(spark, SF_SMALL).collect()}
    full = {tuple(r) for r in wallet_coin_balances(spark, SF_SMALL).collect()}
    assert warm == full

    store = inc._state_store(SF_SMALL, "contract_state")
    assert list_generations(store) == ["gen-000001"]
    assert generation_tag(store).startswith(
        inc._state_fingerprint(SF_SMALL, inc._CONTRACT_STATE_VERSION, inc.SPLIT_AT)
    )

    again = {tuple(r) for r in inc.wallet_coin_balances_warm(spark, SF_SMALL).collect()}
    assert again == full
    assert list_generations(store) == ["gen-000001"]  # no second build


def test_auc_warm_reads_stored_state(spark, tmp_path, monkeypatch):
    """W11's bridge term lands against STORED state: warm ≡ full to
    the last decimal digit, one committed generation, read-back only
    on the second run."""
    from wallet_and_risky_features_data_pipeline_spark.plans.risk_features import (
        wallet_auc_rollup,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        list_generations,
    )

    inc = _fresh_warm(spark, tmp_path, monkeypatch)
    warm = {tuple(r) for r in inc.wallet_auc_warm(spark, SF_SMALL).collect()}
    full = {tuple(r) for r in wallet_auc_rollup(spark, SF_SMALL).collect()}
    assert warm == full

    store = inc._state_store(SF_SMALL, "auc_state")
    assert list_generations(store) == ["gen-000001"]
    inc.wallet_auc_warm(spark, SF_SMALL).collect()
    assert list_generations(store) == ["gen-000001"]


def test_warm_state_cas_loser_adopts_winner_after_flip(spark, tmp_path, monkeypatch):
    """_ensure_warm_state CAS-loser path: commit_generation renames the
    generation dir BEFORE flipping _LATEST, so a loser can observe
    ConcurrentCommitError in the instant the winner's snapshot exists
    but is not yet pointed-to. The loser must wait for the flip and
    adopt the winner's identical-fingerprint state — not fail the warm
    query (the bench's concurrent warm pool hit exactly this window in
    r15: two queries ensuring one store, 2 spurious errors on record)."""
    import threading

    from wallet_and_risky_features_data_pipeline_spark.plans.risk_features import (
        wallet_auc_rollup,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources import writers as W

    inc = _fresh_warm(spark, tmp_path, monkeypatch)
    real_commit = W.commit_generation
    winner: dict = {}

    def losing_commit(df, store, tag=None, clear_fence=False, partition_by=None):
        # The rival "wins" 300 ms from now on its own thread; this
        # writer loses NOW — the rename-raced, flip-not-yet-landed
        # instant the poll must survive.
        t = threading.Timer(
            0.3, lambda: real_commit(df, store, tag=tag, partition_by=partition_by)
        )
        t.start()
        winner["t"] = t
        raise W.ConcurrentCommitError("injected: rival renamed first")

    monkeypatch.setattr(W, "commit_generation", losing_commit)
    store = inc._ensure_auc_state(spark, SF_SMALL)
    winner["t"].join()
    monkeypatch.setattr(W, "commit_generation", real_commit)

    assert W.list_generations(store) == ["gen-000001"]
    assert inc._warm_tag_fp(W.generation_tag(store)).startswith(
        inc._state_fingerprint(SF_SMALL, inc._AUC_STATE_VERSION, inc.SPLIT_AT)
    )
    warm = {tuple(r) for r in inc.wallet_auc_warm(spark, SF_SMALL).collect()}
    full = {tuple(r) for r in wallet_auc_rollup(spark, SF_SMALL).collect()}
    assert warm == full
    assert W.list_generations(store) == ["gen-000001"]


def test_contract_state_warm_fingerprint_invalidates(spark, tmp_path, monkeypatch):
    """A format-version bump must force a rebuild of the stored
    contract-state snapshot, never a stale read."""
    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        list_generations,
    )

    inc = _fresh_warm(spark, tmp_path, monkeypatch)
    inc.wallet_coin_balances_warm(spark, SF_SMALL).collect()
    store = inc._state_store(SF_SMALL, "contract_state")
    assert list_generations(store) == ["gen-000001"]

    monkeypatch.setattr(inc, "_CONTRACT_STATE_VERSION", "v1-test-bump")
    inc.wallet_coin_balances_warm(spark, SF_SMALL).collect()
    assert list_generations(store) == ["gen-000001", "gen-000002"]


def test_lpa_warm_dirty_branch_equals_full(spark, tmp_path, monkeypatch):
    """Force the dirty-frontier branch of the adaptive refresh switch
    (threshold -> always-dirty) and hold it to the full recompute —
    the stored-prior-rounds + frontier-refresh path must be exact even
    when the heuristic would have chosen the restart branch."""
    from wallet_and_risky_features_data_pipeline_spark.plans.risk_features import (
        wallet_label_propagation,
    )

    inc = _fresh_warm(spark, tmp_path, monkeypatch)
    monkeypatch.setattr(inc, "_LPA_DIRTY_MAX_FRACTION", 1.0)
    warm = {
        tuple(r)
        for r in inc.wallet_label_propagation_incremental(spark, SF_SMALL).collect()
    }
    full = {tuple(r) for r in wallet_label_propagation(spark, SF_SMALL).collect()}
    assert warm == full


def test_lpa_warm_restart_branch_equals_full(spark, tmp_path, monkeypatch):
    """Force the restart branch (threshold -> never-dirty): rounds
    re-run from the STORED symmetric closure, never the events
    history; result equal to the full recompute."""
    from wallet_and_risky_features_data_pipeline_spark.plans.risk_features import (
        wallet_label_propagation,
    )

    inc = _fresh_warm(spark, tmp_path, monkeypatch)
    monkeypatch.setattr(inc, "_LPA_DIRTY_MAX_FRACTION", 0.0)
    warm = {
        tuple(r)
        for r in inc.wallet_label_propagation_incremental(spark, SF_SMALL).collect()
    }
    full = {tuple(r) for r in wallet_label_propagation(spark, SF_SMALL).collect()}
    assert warm == full


def test_components_warm_reads_stored_assignment(spark, tmp_path, monkeypatch):
    """CC warm: the prior ASSIGNMENT (|V| state for an |E| graph)
    commits once; the merge runs over stored-star ∪ delta edges only
    and equals the full recompute."""
    from wallet_and_risky_features_data_pipeline_spark.plans.risk_features import (
        wallet_components,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        list_generations,
    )

    inc = _fresh_warm(spark, tmp_path, monkeypatch)
    warm = {tuple(r) for r in inc.wallet_components_warm(spark, SF_SMALL).collect()}
    full = {tuple(r) for r in wallet_components(spark, SF_SMALL).collect()}
    assert warm == full

    store = inc._state_store(SF_SMALL, "cc_assignment")
    assert list_generations(store) == ["gen-000001"]
    inc.wallet_components_warm(spark, SF_SMALL).collect()
    assert list_generations(store) == ["gen-000001"]  # read-back only


def test_rolling_distinct_warm_reads_stored_anchors(spark, tmp_path, monkeypatch):
    """Rolling-distinct warm: pre-split anchors are final in the
    store; the refresh re-distincts only the trailing 7 days."""
    from wallet_and_risky_features_data_pipeline_spark.plans.risk_features import (
        wallet_rolling_distinct_7d,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        list_generations,
    )

    inc = _fresh_warm(spark, tmp_path, monkeypatch)
    warm = {
        tuple(r) for r in inc.wallet_rolling_distinct_warm(spark, SF_SMALL).collect()
    }
    full = {tuple(r) for r in wallet_rolling_distinct_7d(spark, SF_SMALL).collect()}
    assert warm == full

    store = inc._state_store(SF_SMALL, "roll7_anchors")
    assert list_generations(store) == ["gen-000001"]
    inc.wallet_rolling_distinct_warm(spark, SF_SMALL).collect()
    assert list_generations(store) == ["gen-000001"]


def test_minhash_warm_reads_stored_signatures(spark, tmp_path, monkeypatch):
    """LLM-family warm: corpus minhash signatures commit once as a
    generation (arrays round-trip parquet exactly); the refresh
    signs only the new batch and equals the in-query incremental."""
    from wallet_and_risky_features_data_pipeline_spark.plans.llm_ops import (
        dedup_minhash_incremental,
        dedup_minhash_warm,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        list_generations,
    )

    inc = _fresh_warm(spark, tmp_path, monkeypatch)
    warm = {tuple(r) for r in dedup_minhash_warm(spark, SF_SMALL).collect()}
    in_query = {tuple(r) for r in dedup_minhash_incremental(spark, SF_SMALL).collect()}
    assert warm == in_query

    store = inc._state_store(SF_SMALL, "minhash_bands")
    assert list_generations(store) == ["gen-000001"]
    dedup_minhash_warm(spark, SF_SMALL).collect()
    assert list_generations(store) == ["gen-000001"]  # read-back only
