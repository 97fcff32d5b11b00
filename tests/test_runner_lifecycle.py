"""End-to-end lifecycle drive of the runner CLI layers (the
reference's main.py entry points EP1-EP3) against one work dir:
raw fetch+stage → stage append → features MERGE → dq gate →
maintain compaction → serve upsert → profile stats. Each layer's
side effects are asserted on disk, and the features layer is run
twice to pin MERGE idempotency at the CLI level."""

from __future__ import annotations

import pytest

from wallet_and_risky_features_data_pipeline_spark import runner

from .conftest import SF_SMALL


@pytest.fixture(scope="module")
def work_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("wrf_lifecycle"))


@pytest.fixture(scope="module")
def base_sf(tmp_path_factory):
    """A copy of SF_SMALL's events below the 95th-percentile ts. A run
    on it followed by a run on SF_SMALL is a cold build and then a
    nightly over a late ~5% delta."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    events = pq.read_table(f"{SF_SMALL}/events.parquet")
    ts = events.column("ts").cast(pa.int64())
    cut = sorted(ts.to_pylist())[int(0.95 * len(ts))]
    d = tmp_path_factory.mktemp("sf_base")
    pq.write_table(events.filter(pc.less(ts, cut)), f"{d}/events.parquet")
    return str(d)


def _run_layers(spark, sf_dir, wd):
    for run in (runner.run_stage, runner.run_features, runner.run_serve):
        run(spark, sf_dir, wd)


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _assert_flat(gen_dir, max_files):
    """``gen_dir`` holds no hive partition directory and at most
    ``max_files`` parquet files."""
    import os

    entries = os.listdir(gen_dir)
    assert not [e for e in entries if e.startswith("address_partition=")]
    assert 0 < len([e for e in entries if e.endswith(".parquet")]) <= max_files


def _max_job_tasks(spark, group, action):
    """Run ``action`` under its own job group; the most tasks any job
    it started ran (summed over the job's stages)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    tasks = [0]
    for jid in tracker.getJobIdsForGroup(group):
        stages = [tracker.getStageInfo(s) for s in tracker.getJobInfo(jid).stageIds]
        tasks.append(sum(s.numTasks for s in stages if s is not None))
    return max(tasks)


def test_full_lifecycle(spark, work_dir):
    from wallet_and_risky_features_data_pipeline_spark.sources.writers import read_store

    runner.run_raw(spark, SF_SMALL, work_dir)
    blocks = spark.read.parquet(f"{work_dir}/raw/ethereum_blocks")
    assert blocks.count() == 100
    assert "date_partition" in blocks.columns

    runner.run_stage(spark, SF_SMALL, work_dir)
    staged = spark.read.parquet(f"{work_dir}/stage/events")
    n_staged = staged.count()
    assert n_staged > 0

    # stage is idempotent: re-running appends nothing (watermark +
    # anti-join guard)
    runner.run_stage(spark, SF_SMALL, work_dir)
    assert spark.read.parquet(f"{work_dir}/stage/events").count() == n_staged

    runner.run_features(spark, SF_SMALL, work_dir)
    feats = read_store(spark, f"{work_dir}/features/contract_state")
    n_feats = feats.count()
    assert n_feats > 0

    # features MERGE is idempotent under replay
    runner.run_features(spark, SF_SMALL, work_dir)
    assert read_store(spark, f"{work_dir}/features/contract_state").count() == n_feats

    runner.run_dq(spark, SF_SMALL, work_dir)

    runner.run_maintain(spark, SF_SMALL, work_dir)
    assert read_store(spark, f"{work_dir}/features/contract_state").count() == n_feats

    runner.run_serve(spark, SF_SMALL, work_dir)

    runner.run_profile(spark, SF_SMALL, work_dir)
    prof = spark.read.parquet(f"{work_dir}/profile/events_stats")
    assert {r["col_name"] for r in prof.select("col_name").collect()} == {
        "user_id", "event_type", "value",
    }


def test_erase_layer_removes_wallet(spark, work_dir):
    """--layer erase: a wallet disappears from the feature store, the
    staged event log, AND the serving documents (erasure that leaves
    copies behind isn't erasure), driven through the same CLI surface.
    Self-sufficient: (re)builds the stores first — features MERGE and
    stage append are idempotent, so this is a no-op after the full
    lifecycle test and a build when run in isolation."""
    import json
    import os

    from pyspark.sql import functions as F

    runner.run_stage(spark, SF_SMALL, work_dir)
    runner.run_features(spark, SF_SMALL, work_dir)
    runner.run_serve(spark, SF_SMALL, work_dir)

    from wallet_and_risky_features_data_pipeline_spark.sources.writers import read_store

    store = f"{work_dir}/features/contract_state"
    feats = read_store(spark, store)
    total = feats.count()
    victim = feats.select("wallet_address").first()[0]
    doomed = feats.filter(F.col("wallet_address") == victim).count()
    assert doomed > 0
    staged = spark.read.parquet(f"{work_dir}/stage/events")
    n_staged = staged.count()
    staged_doomed = staged.filter(F.col("user_id") == int(victim)).count()

    runner.run_erase(spark, SF_SMALL, work_dir, wallets=victim)

    back = read_store(spark, store)
    assert back.count() == total - doomed
    assert back.filter(F.col("wallet_address") == victim).count() == 0
    staged_after = spark.read.parquet(f"{work_dir}/stage/events")
    assert staged_after.count() == n_staged - staged_doomed
    assert staged_after.filter(F.col("user_id") == int(victim)).count() == 0
    # counterparty references redacted: no surviving event's props.k
    # names the erased wallet (its history must not be recoverable
    # from rows other users own)
    assert (
        staged_after.filter(
            F.get_json_object("props", "$.k") == victim
        ).count()
        == 0
    )
    serve_dir = f"{work_dir}/serving_store"
    for fname in os.listdir(serve_dir):
        if fname.endswith(".jsonl"):
            with open(os.path.join(serve_dir, fname)) as fh:
                for ln in fh:
                    assert str(json.loads(ln).get("wallet_address")) != victim

    # idempotent: nothing left to erase
    runner.run_erase(spark, SF_SMALL, work_dir, wallets=victim)
    assert read_store(spark, store).count() == total - doomed


def test_erase_expires_generation_history(spark, tmp_path, base_sf):
    """Erasure on a generational store must expire old snapshots first:
    after N merges the victim's rows live in every generation, and an
    erase that rewrote only the live one would leave them recoverable
    via time travel. Asserts no surviving generation dir contains the
    victim anywhere on disk."""
    import os

    from pyspark.sql import functions as F

    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        list_generations,
        read_store,
    )

    wd = str(tmp_path)
    for sf_dir in (base_sf, SF_SMALL):  # cold build, then a real delta -> 2nd gen
        runner.run_stage(spark, sf_dir, wd)
        runner.run_features(spark, sf_dir, wd)
    store = f"{wd}/features/contract_state"
    assert len(list_generations(store)) >= 2

    feats = read_store(spark, store)
    victim = feats.select("wallet_address").first()[0]
    assert feats.filter(F.col("wallet_address") == victim).count() > 0

    runner.run_erase(spark, SF_SMALL, wd, wallets=victim)

    # live view clean
    assert (
        read_store(spark, store).filter(F.col("wallet_address") == victim).count()
        == 0
    )
    # NO surviving snapshot (generation dir) holds the victim: read
    # every parquet file left under the store root directly
    survivors = [
        os.path.join(d, f)
        for d, _, fs in os.walk(store)
        for f in fs
        if f.endswith(".parquet")
    ]
    assert survivors
    leftover = (
        spark.read.parquet(*survivors)
        .filter(F.col("wallet_address") == victim)
        .count()
    )
    assert leftover == 0, "erased wallet recoverable from an old generation"


def test_stats_layer_merges_across_runs(spark, work_dir):
    """Two --layer stats runs over the same corpus: the freq store
    advances gen-000001 → gen-000002, every token's count exactly
    doubles (additive merge, no drift), and the published vocab/funnel
    reports exist and partition the corpus."""
    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        list_generations,
        read_store,
    )

    runner.run_stats(spark, SF_SMALL, work_dir)
    store = f"{work_dir}/stats/token_freqs"
    assert list_generations(store) == ["gen-000001"]
    first = {r.token: r.freq for r in read_store(spark, store).collect()}

    runner.run_stats(spark, SF_SMALL, work_dir)
    assert list_generations(store)[-1] == "gen-000002"
    second = {r.token: r.freq for r in read_store(spark, store).collect()}
    assert second == {t: 2 * f for t, f in first.items()}

    vocab = spark.read.parquet(f"{work_dir}/stats/vocab_coverage").collect()
    assert vocab and 0 < max(r.cum_coverage for r in vocab) <= 1.0
    funnel = spark.read.parquet(f"{work_dir}/stats/quality_funnel").collect()
    assert abs(sum(r.doc_share for r in funnel) - 1.0) < 1e-9

    # history stays bounded: the cron expires its own store to 3 gens
    runner.run_stats(spark, SF_SMALL, work_dir)
    runner.run_stats(spark, SF_SMALL, work_dir)
    gens = list_generations(store)
    assert len(gens) <= 3 and gens[-1] == "gen-000004"
    final = {r.token: r.freq for r in read_store(spark, store).collect()}
    assert final == {t: 4 * f for t, f in first.items()}


def test_curate_layer_snapshots_training_set(spark, work_dir):
    """--layer curate commits the full curation chain as one
    generation: packs tile each (split, lang) stratum contiguously
    over the CLEANED token counts, splits partition the kept docs, and
    a re-run advances the generation with identical content (the chain
    is deterministic) while history stays bounded."""
    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        list_generations,
        read_store,
    )

    runner.run_curate(spark, SF_SMALL, work_dir)
    store = f"{work_dir}/curate/training_set"
    assert list_generations(store) == ["gen-000001"]
    snap = read_store(spark, store)
    rows = snap.collect()
    assert rows

    # every kept doc has exactly one split; offsets tile each stratum
    by_stratum: dict[tuple, list] = {}
    for r in rows:
        by_stratum.setdefault((r.split, r.lang), []).append(r)
    for rs in by_stratum.values():
        rs.sort(key=lambda r: r.doc_id)
        off = 0
        for r in rs:
            assert r.start_offset == off
            assert r.pack_id == off // 4096
            off += r.kept_tokens
    # boilerplate cut is visible in the cleaned text
    for r in rows:
        assert len(r.clean_text.split()) == r.kept_tokens or r.kept_tokens == 0

    # deterministic re-run: the chain reproduces the live snapshot
    # exactly, so the idempotent cron SKIPS the commit — history does
    # not grow one identical copy per run
    runner.run_curate(spark, SF_SMALL, work_dir)
    assert list_generations(store) == ["gen-000001"]
    again = {r.doc_id: r for r in read_store(spark, store).collect()}
    assert len(again) == len(rows)
    for r in rows:
        assert again[r.doc_id] == r


def test_describe_layer_reports_stores(spark, work_dir, capsys):
    """--layer describe prints every generation store's snapshots
    (live status, sizes) after the lifecycle has run — the operator's
    DESCRIBE HISTORY sweep."""
    import re

    runner.run_describe(spark, SF_SMALL, work_dir)
    out = capsys.readouterr().out
    assert "describe[features/contract_state]:" in out
    assert " live" in out
    # the live features generation carries its watermark as its tag
    assert re.search(r"describe\[features/contract_state\]: gen-\d+ live tag=\d+ ", out)
    assert "files" in out
    # the curate store committed exactly one generation (idempotent re-run)
    assert "describe[curate/training_set]: gen-000001 live" in out


def test_serve_names_committed_features_generation(spark, tmp_path_factory):
    """Kill-between-layers: the serving sync's bookkeeping must always
    name a COMMITTED features generation. A ghost generation (crash
    between rename and pointer flip) is ignored; a crashed FIRST
    commit (gen dirs, no pointer) refuses the sync outright instead
    of advancing the watermark."""
    import json
    import os

    wd = str(tmp_path_factory.mktemp("wrf_serve_atomic"))
    runner.run_stage(spark, SF_SMALL, wd)
    runner.run_features(spark, SF_SMALL, wd)
    runner.run_serve(spark, SF_SMALL, wd)
    with open(f"{wd}/watermarks.json") as f:
        marks = json.load(f)
    assert marks["serving_features_generation"] == "gen-000001"
    assert "serving_last_tx_us" in marks

    # crash between rename and pointer flip: ghost gen-000002 exists,
    # _LATEST still names gen-000001 — serve keeps naming the committed one
    target = f"{wd}/features/contract_state"
    os.makedirs(f"{target}/gen-000002")
    open(f"{target}/gen-000002/part-ghost.parquet", "w").close()
    runner.run_serve(spark, SF_SMALL, wd)
    with open(f"{wd}/watermarks.json") as f:
        assert json.load(f)["serving_features_generation"] == "gen-000001"

    # crashed FIRST commit: generations but no pointer — refuse, and
    # leave the serving bookkeeping untouched
    wd2 = str(tmp_path_factory.mktemp("wrf_serve_crashed"))
    target2 = f"{wd2}/features/contract_state"
    os.makedirs(f"{target2}/gen-000001")
    open(f"{target2}/gen-000001/part-ghost.parquet", "w").close()
    with pytest.raises(RuntimeError, match="no committed generation"):
        runner.run_serve(spark, SF_SMALL, wd2)
    assert not os.path.exists(f"{wd2}/watermarks.json") or (
        "serving_last_tx_us" not in json.load(open(f"{wd2}/watermarks.json"))
    )


def test_serve_refuses_when_recorded_store_vanished(spark, tmp_path_factory):
    """If serving bookkeeping names a committed features generation but
    the store directory is gone, the sync must REFUSE — overwriting
    the record with None would erase the only evidence of what serving
    currently holds."""
    import json
    import shutil

    wd = str(tmp_path_factory.mktemp("wrf_serve_vanish"))
    runner.run_stage(spark, SF_SMALL, wd)
    runner.run_features(spark, SF_SMALL, wd)
    runner.run_serve(spark, SF_SMALL, wd)
    shutil.rmtree(f"{wd}/features/contract_state")
    with pytest.raises(RuntimeError, match="no longer exists"):
        runner.run_serve(spark, SF_SMALL, wd)
    with open(f"{wd}/watermarks.json") as f:
        assert json.load(f)["serving_features_generation"] == "gen-000001"


def test_serve_refuses_without_committed_features(spark, tmp_path):
    """Serving on a fresh work dir (features never ran) refuses and
    writes no serving watermark; so does serving a committed features
    generation that carries no watermark tag."""
    import os

    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        commit_generation,
    )

    with pytest.raises(RuntimeError, match="no committed generation"):
        runner.run_serve(spark, SF_SMALL, str(tmp_path))
    assert not os.path.exists(f"{tmp_path}/watermarks.json")
    untagged = spark.createDataFrame([("w", "c")], "wallet_address string, contract_address string")
    commit_generation(untagged, f"{tmp_path}/features/contract_state")
    with pytest.raises(RuntimeError, match="no committed generation"):
        runner.run_serve(spark, SF_SMALL, str(tmp_path))
    assert not os.path.exists(f"{tmp_path}/watermarks.json")


def test_nightly_merges_touched_pairs_and_empty_nightly_is_noop(
    spark, tmp_path, base_sf
):
    """stage → features → serve chained through the committed stores:
    the nightly commits a flat generation that reads back without a
    wide listing job, serving records the features generation's own tag as
    its watermark, and a second run over the same source commits no
    generation, exports no document, leaves the watermarks as they
    were, and serves without starting a Spark job."""
    import json
    import os

    from pyspark.sql import functions as F

    from wallet_and_risky_features_data_pipeline_spark.plans.wallet_features import (
        contract_state,
        wallet_features,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        generation_tag,
        list_generations,
        read_store,
    )

    wd = str(tmp_path)
    target = f"{wd}/features/contract_state"
    _run_layers(spark, base_sf, wd)
    _run_layers(spark, SF_SMALL, wd)
    assert list_generations(target) == ["gen-000001", "gen-000002"]

    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    _assert_flat(f"{target}/gen-000002", shuffle)
    read_tasks = _max_job_tasks(spark, "flat-read", lambda: read_store(spark, target).count())
    assert 0 < read_tasks <= shuffle

    full = contract_state(spark, SF_SMALL)
    assert _rows(read_store(spark, target).select(*full.columns)) == _rows(full)

    with open(f"{wd}/watermarks.json") as f:
        marks = json.load(f)
    last_tx = wallet_features(spark, SF_SMALL).agg(F.max("last_tx_us")).first()[0]
    assert marks["serving_last_tx_us"] == int(generation_tag(target)) == last_tx
    serve_dir = f"{wd}/serving_store"
    synced = set(os.listdir(serve_dir))
    runner.run_stage(spark, SF_SMALL, wd)
    runner.run_features(spark, SF_SMALL, wd)
    sc = spark.sparkContext
    sc.setJobGroup("no-change-serve", "serve with nothing new to export")
    try:
        runner.run_serve(spark, SF_SMALL, wd)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("no-change-serve")) == []
    assert list_generations(target) == ["gen-000001", "gen-000002"]
    docs = 0
    for name in set(os.listdir(serve_dir)) - synced:
        with open(os.path.join(serve_dir, name)) as f:
            docs += sum(1 for _ in f)
    assert docs == 0
    with open(f"{wd}/watermarks.json") as f:
        assert json.load(f) == marks


def test_features_leave_no_cache_and_nightly_scans_past_the_tag(
    spark, tmp_path, base_sf, monkeypatch
):
    """Every cache and checkpoint ``run_stage`` and ``run_features``
    take lives for the run: the CacheManager is empty after the cold
    run and after the nightly, and no persistent RDD is left over. The
    nightly's MERGE batch streams from the events scan with the
    ``ts > tag`` bound pushed onto it, not from a cached full-corpus
    leg table."""
    batches = []
    merge = runner.merge_upsert

    def capture(spark_, batch, *a, **kw):
        batches.append(batch)
        return merge(spark_, batch, *a, **kw)

    monkeypatch.setattr(runner, "merge_upsert", capture)
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    n_rdds = len(rdds())
    wd = str(tmp_path)
    for sf in (base_sf, SF_SMALL):
        runner.run_stage(spark, sf, wd)
        runner.run_features(spark, sf, wd)
        assert cache.isEmpty()
        assert len(rdds()) <= n_rdds

    assert len(batches) == 2
    plan = batches[-1]._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan
    scans = [l for l in plan.splitlines() if "Scan parquet" in l and "events.parquet" in l]
    assert scans and all("GreaterThan(ts" in l for l in scans), scans


def test_nightly_flattens_a_partitioned_features_store(spark, tmp_path, base_sf):
    """A features store committed with the 256-way ``address_partition=``
    hive layout is flattened by its first nightly MERGE: the new
    generation holds no partition dir, equals ``contract_state(full)``,
    and every row's ``address_partition`` is its wallet's bucket string."""
    import os

    from pyspark.sql import functions as F

    from wallet_and_risky_features_data_pipeline_spark.functions.scalars import (
        bucket_key,
    )
    from wallet_and_risky_features_data_pipeline_spark.plans.wallet_features import (
        contract_state,
    )
    from wallet_and_risky_features_data_pipeline_spark.plans.wallet_model import (
        wallet_transactions,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        commit_generation,
        list_generations,
        read_store,
    )

    wd = str(tmp_path)
    target = f"{wd}/features/contract_state"
    tag = wallet_transactions(spark, base_sf).agg(F.unix_micros(F.max("ts"))).first()[0]
    commit_generation(
        contract_state(spark, base_sf).withColumn(
            "address_partition", bucket_key(F.col("wallet_address"))
        ),
        target,
        tag=str(tag),
        partition_by=["address_partition"],
    )
    assert any(e.startswith("address_partition=") for e in os.listdir(f"{target}/gen-000001"))

    runner.run_stage(spark, SF_SMALL, wd)
    runner.run_features(spark, SF_SMALL, wd)
    assert list_generations(target) == ["gen-000001", "gen-000002"]
    _assert_flat(f"{target}/gen-000002", int(spark.conf.get("spark.sql.shuffle.partitions")))
    store = read_store(spark, target)
    full = contract_state(spark, SF_SMALL)
    assert _rows(store.select(*full.columns)) == _rows(full)
    assert dict(store.dtypes)["address_partition"] == "string"
    wrong = store.filter(F.col("address_partition") != bucket_key(F.col("wallet_address")))
    assert wrong.count() == 0


def test_erase_and_maintain_keep_the_features_watermark(spark, tmp_path, base_sf):
    """On a tagged features store, ``run_erase`` commits a generation
    without the victim under the same tag and expires the one before
    it, so no parquet file under the store still holds the victim; a
    repeat erase commits nothing, and ``run_maintain`` leaves the live
    generation and its tag as they were."""
    import os

    from pyspark.sql import functions as F

    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        generation_tag,
        list_generations,
        read_store,
        resolve_store,
    )

    wd = str(tmp_path)
    target = f"{wd}/features/contract_state"
    for sf_dir in (base_sf, SF_SMALL):
        runner.run_features(spark, sf_dir, wd)
    tag = generation_tag(target)
    assert tag is not None and list_generations(target) == ["gen-000001", "gen-000002"]
    victim = read_store(spark, target).select("wallet_address").first()[0]

    def live_files():
        gen = resolve_store(target)
        return os.path.basename(gen), sorted(os.listdir(gen))

    runner.run_erase(spark, SF_SMALL, wd, wallets=victim)
    assert list_generations(target) == ["gen-000003"]
    assert live_files()[0] == "gen-000003"
    assert generation_tag(target) == tag
    files = [
        os.path.join(d, f) for d, _, fs in os.walk(target) for f in fs if f.endswith(".parquet")
    ]
    assert spark.read.parquet(*files).filter(F.col("wallet_address") == victim).count() == 0

    erased = live_files()
    runner.run_erase(spark, SF_SMALL, wd, wallets=victim)
    assert list_generations(target) == ["gen-000003"] and live_files() == erased

    runner.run_maintain(spark, SF_SMALL, wd)
    assert live_files() == erased
    assert generation_tag(target) == tag


def test_features_retry_after_crash_past_commit_applies_delta_once(
    spark, tmp_path, base_sf, monkeypatch
):
    """A crash right after the nightly MERGE commits must not make the
    retry apply the delta a second time: the watermark is the commit's
    own tag, so the retry finds nothing past it."""
    from wallet_and_risky_features_data_pipeline_spark.plans.wallet_features import (
        contract_state,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.writers import read_store

    wd = str(tmp_path)
    runner.run_features(spark, base_sf, wd)
    merge_upsert = runner.merge_upsert

    def commit_then_crash(*args, **kwargs):
        merge_upsert(*args, **kwargs)
        raise RuntimeError("crashed after the commit")

    monkeypatch.setattr(runner, "merge_upsert", commit_then_crash)
    with pytest.raises(RuntimeError, match="crashed after the commit"):
        runner.run_features(spark, SF_SMALL, wd)
    monkeypatch.undo()
    runner.run_features(spark, SF_SMALL, wd)
    full = contract_state(spark, SF_SMALL)
    store = read_store(spark, f"{wd}/features/contract_state")
    assert _rows(store.select(*full.columns)) == _rows(full)


def test_monitor_layer_writes_reports(spark, tmp_path_factory):
    """--layer monitor: soft-signal sweep (z-score outliers, ledger
    violations, constraint table) lands as parquet reports; on the
    clean synthetic corpus the ledger report must be EMPTY (the
    double-entry invariant holds) while the outlier report carries
    the flagged rows with their scores."""
    wd = str(tmp_path_factory.mktemp("wrf_monitor"))
    runner.run_monitor(spark, SF_SMALL, wd)
    out = spark.read.parquet(f"{wd}/monitor/zscore_outliers")
    assert set(out.columns) >= {"user_id", "event_id", "z", "is_outlier"}
    assert out.filter("is_outlier != 1").count() == 0
    assert spark.read.parquet(f"{wd}/monitor/ledger_violations").count() == 0
    cons = spark.read.parquet(f"{wd}/monitor/feature_constraints")
    assert cons.count() > 0
