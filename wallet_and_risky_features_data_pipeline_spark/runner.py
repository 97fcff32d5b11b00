"""Pipeline runner — the engine's equivalent of the reference's
``main.py`` entry points (SURVEY.md §3 EP1-EP3):

    python -m wallet_and_risky_features_data_pipeline_spark.runner \
        --layer stage     --sf-dir /root/testdata/sf0.01 --work-dir /tmp/wrf
    ... --layer features   (full or incremental MERGE per watermark)
    ... --layer dq         (feature constraint gates; non-zero exit on fail)

Layers:

- **stage**    — watermark-filtered, anti-join-deduped append of the
  event stream into a month-partitioned parquet table (EP2's
  CTAS/INSERT template loop as a library call).
- **features** — wallet/contract state; the first run writes the
  snapshot, later runs apply the exact incremental seeding path and
  MERGE only the pairs the new events touched (EP3's 20-chunk Iceberg
  MERGE, minus the chunk choreography — the shuffle partitioner
  replaces it). Each commit rewrites one flat generation;
  ``address_partition`` is a column, not a directory level.
- **serve**    — per-wallet feature rollup of the committed features
  generation, exported to the document store past its watermark.
- **stats**    — corpus-stats cron: token counts merged into the
  generation-committed freq store, vocab/funnel reports published.
- **curate**   — training-set snapshot: quality gate → exact dedup →
  boilerplate-passage removal → split assignment → pack offsets,
  committed as one immutable generation of the training_set store.
- **dq**       — constraint checks, raising like the reference's
  final DAG gate.

Each layer keeps ONE watermark. Stage and serve keep theirs in
``watermarks.json``; the features watermark is the commit tag of the
live features generation, so it commits with the MERGE it describes.
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import functions as F

from .caching import cache_scope, checkpoint_tracked
from .functions.scalars import bucket_key
from .operators.quality import enforce, feature_constraints
from .plans.wallet_features import contract_state_from, wallet_features_from
from .plans.wallet_model import wallet_transactions
from .session import get_spark
from .sources.readers import normalize_event_ts
from .sources.writers import commit_tag, erase_from_store, generation_tag, merge_upsert, read_store
from .sources.writers import resolve_store, store_committed, vacuum_generations
from .streaming.incremental import WatermarkStore, incremental_append, incremental_contract_state


def run_stage(spark, sf_dir: str, work_dir: str) -> None:
    store = WatermarkStore(f"{work_dir}/watermarks.json")
    events = normalize_event_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    staged = events.withColumn("date_partition", F.date_format("ts", "yyyy-MM"))
    n = incremental_append(
        spark,
        staged,
        f"{work_dir}/stage/events",
        table="stage_events",
        natural_key=["event_id"],
        watermark_col="ts",
        store=store,
    )
    print(f"stage: appended {n} rows")


def run_features(spark, sf_dir: str, work_dir: str) -> None:
    """Features MERGE (EP3 step 1). The watermark is the live
    generation's tag, the newest event time the store holds in Unix
    microseconds, committed by the same rename as the MERGE, so no
    crash can separate the two. The first run commits the full
    contract state; later runs stitch the events past the tag onto the
    committed state and MERGE only the pairs they touched
    (``merge_upsert`` carries every other row forward) into one flat
    generation: a few files, no per-bucket directories to write or
    list. With no new events the run returns before reading the store.
    The legs are built lazily, so the ``ts > tag`` bound reaches the
    events scan and a nightly explodes only the delta's rows."""
    target = f"{work_dir}/features/contract_state"
    wt = wallet_transactions(spark, sf_dir)
    wm = generation_tag(target)
    new_events = wt if wm is None else wt.filter(F.col("ts") > F.timestamp_micros(F.lit(int(wm))))
    tag = new_events.agg(F.unix_micros(F.max("ts"))).first()[0]
    if tag is None:
        print("features: no events past the watermark, nothing to merge")
        return
    if wm is None:
        state = contract_state_from(wt)
    else:
        state = incremental_contract_state(read_store(spark, target), new_events)
    n = merge_upsert(
        spark,
        state.withColumn("address_partition", bucket_key(F.col("wallet_address"))),
        target,
        key=["wallet_address", "contract_address"],
        tag=str(tag),
    )
    print(f"features: merged state for {n} (wallet, contract) pairs")


def run_serve(spark, sf_dir: str, work_dir: str) -> None:
    """Serving sync (EP3 step 3): export the per-wallet feature rows of
    the COMMITTED features generation that moved past the serving
    watermark into a document store via a per-partition sink.

    The sync resolves one generation and reads that generation's tag,
    the features watermark. The rows it exports, the
    ``serving_features_generation`` and the ``serving_last_tx_us`` it
    records all come from that one snapshot, and the two keys advance
    together in ONE atomic ``set_many`` rename. A tag at or below
    ``serving_last_tx_us`` means serving already holds the generation,
    so the sync returns without running a Spark job. It refuses to
    run, leaving its bookkeeping untouched, while the features store
    has no committed, tagged generation."""
    from .sources.serving import DictStoreClient, foreach_partition_upsert

    store = WatermarkStore(f"{work_dir}/watermarks.json")
    features_target = f"{work_dir}/features/contract_state"
    gen_dir = resolve_store(features_target) if store_committed(features_target) else None
    tag = commit_tag(gen_dir) if gen_dir else None
    if tag is None:
        raise RuntimeError(
            f"features store {features_target} has no committed generation "
            "with a watermark tag (features never ran, its first commit "
            "crashed, the store no longer exists, or an older writer left "
            "it untagged); run --layer features before serving"
        )
    feat_gen = os.path.basename(gen_dir)
    wm = store.get("serving_last_tx_us")
    if wm is not None and int(tag) <= wm:
        print(f"serve: up to date with features generation {feat_gen}")
        return
    feats = wallet_features_from(spark.read.parquet(gen_dir))
    newer = feats if wm is None else feats.filter(F.col("last_tx_us") > F.lit(wm))
    uri = f"{work_dir}/serving_store"
    foreach_partition_upsert(
        newer, key="wallet_address", client_factory=lambda: DictStoreClient(uri)
    )
    store.set_many({"serving_last_tx_us": int(tag), "serving_features_generation": feat_gen})
    print(f"serve: synced features generation {feat_gen} (watermark {tag}) into {uri}")


def run_raw(spark, sf_dir: str, work_dir: str) -> None:
    """EP1 raw-layer ingestion: fetch a block range through the
    ethereum-etl adapter and stage every produced CSV into the
    month-partitioned raw lake (raw_data_ingestion_pipeline.py:850-906
    is the reference loop). Without the CLI installed (this sandbox), a
    deterministic fake runner synthesizes the CSVs so the staging path
    — the Spark part — always executes for real; with the CLI on PATH
    set SPARK_GRAFT_ETL_LIVE=1 to fetch from a node."""
    import csv as _csv
    import shutil as _shutil

    from .sources.ingestion import ENTITY_SCHEMAS, fetch_export, stage_entity

    data_dir = f"{work_dir}/raw_csv"
    os.makedirs(data_dir, exist_ok=True)
    out = {
        "blocks": f"{data_dir}/blocks.csv",
        "transactions": f"{data_dir}/transactions.csv",
    }

    def fake_runner(argv: list[str]) -> None:
        base_ts = 1_700_000_000
        with open(out["blocks"], "w", newline="") as f:
            w = _csv.writer(f)
            cols = [fld.name for fld in ENTITY_SCHEMAS["blocks"].fields]
            w.writerow(cols)
            for i in range(100):
                row = dict.fromkeys(cols, "")
                row.update(number=i, hash=f"0x{i:064x}", timestamp=base_ts + i * 12)
                w.writerow([row[c] for c in cols])
        with open(out["transactions"], "w", newline="") as f:
            w = _csv.writer(f)
            cols = [fld.name for fld in ENTITY_SCHEMAS["transactions"].fields]
            w.writerow(cols)
            for i in range(500):
                row = dict.fromkeys(cols, "")
                row.update(
                    hash=f"0xt{i:062x}", block_number=i // 5,
                    from_address=f"0xa{i % 7}", to_address=f"0xb{i % 11}",
                    value=i * 10**15, gas=21000,
                    block_timestamp=base_ts + (i // 5) * 12,
                )
                w.writerow([row[c] for c in cols])

    live = os.environ.get("SPARK_GRAFT_ETL_LIVE") == "1" and _shutil.which("ethereumetl")
    fetch_export(
        "blocks_and_transactions", 0, 99,
        node_rpc_urls=[os.environ.get("SPARK_GRAFT_RPC_URL", "http://localhost:8545")],
        out_paths=out,
        runner=None if live else fake_runner,
    )
    n_blocks = stage_entity(
        spark, "blocks", out["blocks"], f"{work_dir}/raw/ethereum_blocks"
    ).count()
    n_tx = stage_entity(
        spark, "transactions", out["transactions"],
        f"{work_dir}/raw/ethereum_transactions", ts_col="block_timestamp",
    ).count()
    print(f"raw: staged {n_blocks} blocks, {n_tx} transactions")


def run_maintain(spark, sf_dir: str, work_dir: str) -> None:
    """Weekly table maintenance (EP3 step 2): the ``VACUUM`` half of
    the reference's OPTIMIZE + VACUUM cron (features_pipeline.py:128-138).
    It expires all but the two newest features generations (one
    rollback snapshot) and the stats and curate crons' history, so a
    stalled cron can't grow a store unbounded. There is no OPTIMIZE
    half: every features MERGE rewrites the flat generation whole, so
    the store never fragments. The live generation and its tag are
    left as they are."""
    expired = vacuum_generations(f"{work_dir}/features/contract_state", keep=2)
    expired += vacuum_generations(f"{work_dir}/stats/token_freqs", keep=3)
    expired += vacuum_generations(f"{work_dir}/curate/training_set", keep=3)
    print(f"maintain: expired {len(expired)} generations")


def run_erase(spark, sf_dir: str, work_dir: str, wallets: str = "") -> None:
    """Right-to-erasure: remove a comma-separated wallet list from EVERY
    store this pipeline materializes — feature rows and serving docs
    are deleted; staged events the subject OWNS are deleted; staged
    events owned by OTHERS that merely reference the subject as a
    counterparty get the reference REDACTED from their props map
    (deleting them would destroy the owners' data, keeping them would
    leave the erased wallet's history recoverable). An engine extension
    — the reference has no deletion story beyond the table format's
    DELETE."""
    import json
    import tempfile

    from .sources.maintenance import erase_and_redact

    keys = [w.strip() for w in wallets.split(",") if w.strip()]
    if not keys:
        print("erase: no --erase-wallets given, nothing to do")
        return

    # 1) feature store (wallet_address, string): a generation commit,
    #    so the features tag survives, then expiry of every older
    #    generation and crash leftover, since each still holds the rows.
    feats = f"{work_dir}/features/contract_state"
    n_feats = 0
    if store_committed(feats):
        keys_df = spark.createDataFrame([(w,) for w in keys], "wallet_address string")
        n_feats = erase_from_store(spark, keys_df, feats, "wallet_address")
    vacuum_generations(feats, keep=1)

    # 2) staged events, ONE combined pass per touched partition:
    #    delete rows the wallet owns (user_id; wallet ids are canonical
    #    str(int) in this model — plans/wallet_model.py:97 — so only
    #    round-tripping keys map to a user id; '07' matches no wallet
    #    anywhere and must not delete user 7) and redact counterparty
    #    references from props in the same rewrite
    stage = f"{work_dir}/stage/events"
    n_stage = n_redact = 0
    uid_keys = []
    for w in keys:
        try:
            u = int(w)
        except ValueError:
            continue
        if str(u) == w:
            uid_keys.append(u)
    if os.path.exists(stage):
        stats = erase_and_redact(
            spark, stage, uid_keys, "user_id", keys, "props", "k"
        )
        n_stage = sum(d for d, _ in stats.values())
        n_redact = sum(r for _, r in stats.values())

    # 3) serving documents (JSONL files from DictStoreClient) —
    #    dimension-sized, rewritten driver-side; tmp + os.replace so a
    #    crash never leaves a half-written file
    serve = f"{work_dir}/serving_store"
    n_serve = 0
    if os.path.isdir(serve):
        doomed = set(keys)
        for fname in os.listdir(serve):
            if not fname.endswith(".jsonl"):
                continue
            fp = os.path.join(serve, fname)
            with open(fp) as fh:
                lines = fh.readlines()
            kept = [
                ln for ln in lines
                if str(json.loads(ln).get("wallet_address")) not in doomed
            ]
            if len(kept) != len(lines):
                n_serve += len(lines) - len(kept)
                fd, tmp = tempfile.mkstemp(dir=serve, prefix=".erase_")
                with os.fdopen(fd, "w") as fh:
                    fh.writelines(kept)
                os.chmod(tmp, os.stat(fp).st_mode)  # mkstemp is 0600
                os.replace(tmp, fp)

    print(
        f"erase: {len(keys)} wallets — {n_feats} feature rows, "
        f"{n_stage} staged events deleted, {n_redact} counterparty "
        f"references redacted, {n_serve} serving docs removed"
    )


def run_profile(spark, sf_dir: str, work_dir: str) -> None:
    """Stats collection (the ANALYZE cron a warehouse runs after
    loads): per-column profile of the event stream written beside the
    stores, so planners/operators can consult rows/NDV/min-max without
    rescanning."""
    from .plans.sketch_plans import table_stats

    out = f"{work_dir}/profile/events_stats"
    stats = table_stats(spark, sf_dir)
    stats.coalesce(1).write.mode("overwrite").parquet(out)
    print(f"profile: wrote {stats.count()} column profiles to {out}")


def run_stats(spark, sf_dir: str, work_dir: str) -> None:
    """Corpus-stats maintenance (the tokenizer/quality cron of an LLM
    data pipeline): merge this run's token counts into the generation-
    committed frequency store — additive partial aggregates, so the
    per-run cost is the new batch's tokenization, never a re-scan of
    history — and publish the vocab-coverage and curation-funnel
    reports beside it. Repeated runs advance the store's generations;
    time travel answers "which corpus state trained yesterday's
    tokenizer". Each full-snapshot commit is a complete copy of the
    freq table, so this cron — the store's single maintainer — expires
    its own history down to three generations after committing
    (--layer maintain sweeps it too); without that, a daily run grows
    the store by one uncompacted snapshot per day, unbounded."""
    from .plans.llm_ops import (
        _vocab_from_freqs,
        corpus_quality_funnel,
        merge_token_stats,
        token_freqs,
    )
    from .sources.readers import fan_out, read_table
    from .sources.writers import commit_generation

    store = f"{work_dir}/stats/token_freqs"
    counts = token_freqs(fan_out(read_table(spark, sf_dir, "documents")))
    if store_committed(store):
        counts = merge_token_stats(read_store(spark, store), counts)
    gen = commit_generation(counts, store)
    expired = vacuum_generations(store, keep=3)
    vocab = _vocab_from_freqs(read_store(spark, store))
    vocab_out = f"{work_dir}/stats/vocab_coverage"
    vocab.coalesce(1).write.mode("overwrite").parquet(vocab_out)
    funnel_out = f"{work_dir}/stats/quality_funnel"
    corpus_quality_funnel(spark, sf_dir).coalesce(1).write.mode("overwrite").parquet(
        funnel_out
    )
    print(
        f"stats: committed {gen} of {store} (expired {len(expired)}); "
        f"vocab -> {vocab_out}; funnel -> {funnel_out}"
    )


@cache_scope()
def run_curate(spark, sf_dir: str, work_dir: str) -> None:
    """Training-set snapshot (the curation DAG of an LLM data
    pipeline): quality gate → exact dedup → C4 boilerplate-passage
    removal → train/val/test assignment → context-window pack offsets,
    committed as ONE generation of the training_set store — a training
    run reads a complete, immutable snapshot (never a half-written
    mix), yesterday's snapshot stays time-travelable for repro, and
    the cron bounds its own history to three generations like the
    stats layer. The chain itself is oracle-verified end to end
    (q: corpus_training_snapshot); this layer adds the snapshot
    lifecycle around it."""
    from .plans.llm_ops import curate_training_set
    from .sources.readers import fan_out, read_table
    from .sources.writers import commit_generation

    store = f"{work_dir}/curate/training_set"
    snapshot = curate_training_set(fan_out(read_table(spark, sf_dir, "documents")))
    # Idempotent cron: the chain is deterministic, so an unchanged
    # corpus reproduces the live snapshot exactly — committing it
    # anyway would add one full identical copy per run for zero
    # information. Exact multiset diff BEFORE committing (exceptAll
    # both ways — column-wise exact, no hashing shortcut); only a
    # changed snapshot advances the generation.
    gen = None
    if store_committed(store):
        snapshot = checkpoint_tracked(snapshot)
        live = read_store(spark, store).select(snapshot.columns)
        if snapshot.exceptAll(live).isEmpty() and live.exceptAll(snapshot).isEmpty():
            gen = f"{os.path.basename(resolve_store(store))} (unchanged, no commit)"
    if gen is None:
        gen = commit_generation(snapshot, store)
    expired = vacuum_generations(store, keep=3)
    summary = (
        read_store(spark, store)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept_tokens").alias("tokens"),
            F.sum("dropped_passages").alias("boilerplate_cut"),
            # pack_id is assigned within (split, lang) strata, so the
            # true pack count is distinct (lang, pack_id) pairs — not
            # max(pack_id)+1, which undercounts multi-lang splits.
            F.countDistinct("lang", "pack_id").alias("n_packs"),
        )
        .orderBy("split")
        .collect()
    )
    for r in summary:
        print(
            f"curate[{r['split']}]: {r['n_docs']} docs, {r['tokens']} tokens, "
            f"{r['n_packs']} packs, {r['boilerplate_cut']} boilerplate passages cut"
        )
    print(f"curate: committed {gen} of {store} (expired {len(expired)})")


def run_describe(spark, sf_dir: str, work_dir: str) -> None:
    """Store observability (the `DESCRIBE HISTORY` / metadata-table
    sweep): for every generation store under the work dir, print its
    snapshots table (live/historic/orphan, commit tags, sizes) and any
    schema drift between the live generation and its predecessor —
    the pre-publish data-contract check."""
    from .sources.writers import schema_drift, store_snapshots

    stores = {
        "features/contract_state": f"{work_dir}/features/contract_state",
        "stats/token_freqs": f"{work_dir}/stats/token_freqs",
        "curate/training_set": f"{work_dir}/curate/training_set",
    }
    for name, path in stores.items():
        if not os.path.isdir(path):
            print(f"describe[{name}]: absent")
            continue
        snaps = store_snapshots(spark, path).collect()
        for r in snaps:
            tag = f" tag={r.tag}" if r.tag else ""
            print(
                f"describe[{name}]: {r.generation} {r.status}{tag} "
                f"{r.n_files} files {r.n_bytes} bytes"
            )
        for d in schema_drift(spark, path):
            print(
                f"describe[{name}]: DRIFT {d['column']} {d['change']} ({d['type']})"
            )


def run_dq(spark, sf_dir: str, work_dir: str) -> None:
    from .plans.wallet_features import wallet_features

    dq = feature_constraints(wallet_features(spark, sf_dir))
    dq.show(truncate=False)
    enforce(dq)
    print("dq: all checks passed")


def run_monitor(spark, sf_dir: str, work_dir: str) -> None:
    """Anomaly-monitoring sweep (the nightly on-call report beside the
    hard-failing dq gate): rolling z-score outliers on the value
    stream, double-entry ledger reconciliation violations, and the
    feature-constraint table, each written as a parquet report under
    ``monitor/`` — dq RAISES on contract breaks; monitor RECORDS the
    soft signals an operator triages. Reports are tiny (violations and
    flagged rows only) and coalesce to one file each."""
    from .plans.dq_plans import ledger_reconciliation
    from .plans.sketch_plans import rolling_zscore_outliers
    from .plans.wallet_features import wallet_features

    out = f"{work_dir}/monitor"
    outliers = rolling_zscore_outliers(spark, sf_dir).filter(F.col("is_outlier") == 1)
    outliers.coalesce(1).write.mode("overwrite").parquet(f"{out}/zscore_outliers")
    n_out = spark.read.parquet(f"{out}/zscore_outliers").count()

    ledger = ledger_reconciliation(spark, sf_dir)
    violations = ledger.filter(
        (F.col("net_violations") > 0) | (F.col("leg_violations") > 0)
    )
    violations.coalesce(1).write.mode("overwrite").parquet(f"{out}/ledger_violations")
    n_led = spark.read.parquet(f"{out}/ledger_violations").count()

    feature_constraints(wallet_features(spark, sf_dir)).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{out}/feature_constraints")

    print(
        f"monitor: {n_out} z-score outliers, {n_led} ledger violation rows, "
        f"constraint table -> {out}"
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--layer",
        required=True,
        choices=[
            "raw",
            "stage",
            "features",
            "maintain",
            "erase",
            "serve",
            "profile",
            "stats",
            "curate",
            "describe",
            "dq",
            "monitor",
        ],
    )
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--work-dir", default="/tmp/wrf_work")
    ap.add_argument("--erase-wallets", default="", help="comma-separated keys for --layer erase")
    args = ap.parse_args(argv)

    spark = get_spark(f"wrf-runner-{args.layer}")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.work_dir, exist_ok=True)
    {
        "raw": run_raw,
        "stage": run_stage,
        "features": run_features,
        "maintain": run_maintain,
        "erase": lambda s, sf, wd: run_erase(s, sf, wd, args.erase_wallets),
        "serve": run_serve,
        "profile": run_profile,
        "stats": run_stats,
        "curate": run_curate,
        "describe": run_describe,
        "dq": run_dq,
        "monitor": run_monitor,
    }[args.layer](spark, args.sf_dir, args.work_dir)
    return 0


if __name__ == "__main__":
    sys.exit(main())
