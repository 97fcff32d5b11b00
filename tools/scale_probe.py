"""Scale probe: replicate sf0.1 tables 10x with shifted ids and re-run
heavy queries ISOLATED (one at a time, no co-scheduling noise) — the
evidence beyond the bench SF that plan shapes hold under growth
(PLANS.md §Scale probe). Sub-linear time growth means fixed overhead
still dominates; a ~10x ratio is linear; anything >>10x is a quadratic
shape that must be fixed before it meets 100 TB.

Usage:
    python tools/scale_probe.py [query ...]      # default: CC family

Replication recipe (matches the r5 probe, so ratios stay comparable):
doc_id/vec_id shifted by k*stride per copy k, text/embedding payloads
unchanged — so each doc gains 9 exact near-dups, which GROWS cluster
sizes and stresses exactly the iterative pipeline being probed.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from wallet_and_risky_features_data_pipeline_spark.caching import (
    cache_scope,
    reset_session_memos,
    timed_isolated,
)
from wallet_and_risky_features_data_pipeline_spark.plans.registry import QUERIES
from wallet_and_risky_features_data_pipeline_spark.session import get_spark

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
COPIES = int(os.environ.get("SPARK_GRAFT_SCALE_COPIES", "10"))
# MODE=replica (default): ids shift, payloads repeat — each doc gains
#   COPIES-1 exact near-dups; the dedup/curation stress direction.
# MODE=structure (VERDICT r9 #1): GRAPH NODE ids (user_id AND the
#   props.$.k counterparty) shift per copy, and every document token
#   gets a per-copy suffix — so |V|, |E|, and the vocabulary genuinely
#   grow COPIES×. Replication-invariant reductions (DISTINCT edge
#   sets, vocab-bounded aggregates) measured ~flat under MODE=replica
#   BECAUSE replication cannot grow them; this mode is the real scale
#   axis for the graph/vocab families.
# MODE=local-delta (VERDICT r11 #3): structure mode's disjoint
#   isomorphic copies, but every copy k>0 has its post-LPA_SPLIT_AT
#   events shifted BACK before the split — the old graph grows
#   COPIES×, while the nightly delta (new edges) stays 1× and its
#   whole 3-hop neighborhood is confined to copy 0's subgraph. The
#   random sf0.1 graph cannot exhibit the locality win that justifies
#   incremental LPA (dirty≈full, PLANS.md r11); this mode CAN.
MODE = os.environ.get("SPARK_GRAFT_SCALE_MODE", "replica")
_DST_TAG = {"structure": "struct", "local-delta": "localdelta"}.get(MODE, "scale")
DST = f"/tmp/wrf_{_DST_TAG}{COPIES}"
STRIDE = 10_000_000

# table → columns shifted per copy. Star-schema shifts are CONSISTENT
# (orders.o_custkey shifts with customer.c_custkey, lineitem.l_orderkey
# with orders.o_orderkey) so fact↔dimension joins still hit inside the
# replica; part/supplier/nation stay 1× — their keys are NOT shifted,
# so dimension lookups get COPIES× hotter, the realistic direction.
ID_COLS = {
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id"],
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey"],
}


def _shift_tail_before_split(df):
    """local-delta events transform: move every post-LPA_SPLIT_AT row
    27 days back (01-28..30 → 01-01..03). Handles both testdata ts
    encodings (TIMESTAMP and bigint-nanos — the verify-skill gotcha)."""
    from wallet_and_risky_features_data_pipeline_spark.plans.incremental_plans import (
        LPA_SPLIT_AT,
    )

    shift_days = 27
    if dict(df.dtypes).get("ts") == "bigint":
        import datetime as _dt

        split_ns = int(
            _dt.datetime.fromisoformat(LPA_SPLIT_AT)
            .replace(tzinfo=_dt.timezone.utc)
            .timestamp()
            * 1_000_000_000
        )
        shift_ns = shift_days * 86_400 * 1_000_000_000
        return df.withColumn(
            "ts",
            F.when(F.col("ts") >= F.lit(split_ns), F.col("ts") - F.lit(shift_ns))
            .otherwise(F.col("ts")),
        )
    split = F.lit(LPA_SPLIT_AT).cast("timestamp")
    return df.withColumn(
        "ts",
        F.when(
            F.col("ts") >= split,
            F.col("ts") - F.expr(f"INTERVAL {shift_days} DAYS"),
        ).otherwise(F.col("ts")),
    )


def build_replica(spark, tables: set[str]) -> None:
    # A replica left by a crashed build (no _SUCCESS) or built from a
    # different SRC must be rebuilt, not silently reused — the ratios
    # would be computed over wrong data with no warning.
    # RECIPE_V bumps whenever shifted() changes — a replica built by an
    # older recipe must rebuild, or ratios silently compare different
    # data shapes (v2: structure mode also shifts the events VALUE
    # domain).
    stamp = f"{SRC}:v2" if MODE != "local-delta" else f"{SRC}:v3:local-delta"
    marker = f"{DST}/.built_from"
    if os.path.exists(DST):
        stale = not (os.path.exists(marker) and open(marker).read() == stamp) or any(
            os.path.exists(f"{DST}/{t}.parquet")
            and not os.path.exists(f"{DST}/{t}.parquet/_SUCCESS")
            for t in ID_COLS
        )
        if stale:
            shutil.rmtree(DST)
    os.makedirs(DST, exist_ok=True)
    with open(marker, "w") as f:
        f.write(stamp)
    for t in tables:
        out = f"{DST}/{t}.parquet"
        if os.path.exists(out):
            continue
        src = spark.read.parquet(f"{SRC}/{t}.parquet")
        idcs = ID_COLS.get(t)
        if idcs is None:
            shutil.copyfile(f"{SRC}/{t}.parquet", out)
            continue

        def shifted(k: int):
            df = src
            for c in idcs:
                df = df.withColumn(c, F.col(c) + F.lit(k * STRIDE))
            if MODE in ("structure", "local-delta") and k > 0:
                if t == "events":
                    # salt BOTH graph endpoints: user_id and the JSON
                    # counterparty — copy k is a disjoint isomorphic
                    # subgraph, so |V| and |E| grow COPIES×
                    # VALUE-domain growth (v2): +7k cents per copy —
                    # distinct cents per event_type grows COPIES×, the
                    # real scale axis for the value-frequency median
                    # family (event_mad_outliers), which is invariant
                    # under payload-repeating replication.
                    df = df.withColumn(
                        "value", F.col("value") + F.lit(k * 0.07)
                    ).withColumn(
                        "user_id", F.col("user_id") + F.lit(k * STRIDE)
                    ).withColumn(
                        "props",
                        F.concat(
                            F.lit('{"k": '),
                            (
                                F.get_json_object("props", "$.k").cast("bigint")
                                + F.lit(k * STRIDE)
                            ).cast("string"),
                            F.lit("}"),
                        ),
                    )
                    if MODE == "local-delta":
                        # copies carry NO post-split events: shift the
                        # tail back 27 days (01-28..30 → 01-01..03),
                        # growing the OLD graph while the nightly delta
                        # stays copy-0-local
                        df = _shift_tail_before_split(df)
                elif t == "documents":
                    # per-copy token suffix → the vocabulary (distinct
                    # words) grows COPIES×; n_chars kept consistent
                    df = df.withColumn(
                        "text", F.regexp_replace("text", r"(\S+)", f"$1x{k}")
                    ).withColumn("n_chars", F.char_length("text").cast("bigint"))
            return df

        copies = [shifted(k) for k in range(COPIES)]
        df = copies[0]
        for c in copies[1:]:
            df = df.unionByName(c)
        df.write.mode("overwrite").parquet(out)


def erase_probe(spark) -> None:
    """Scale evidence for the right-to-erasure path: build a
    bucket-partitioned store from events at 1× and COPIES×, erase the
    same key set (same touched-partition count at both scales), and
    assert (a) untouched partitions stay BYTE-IDENTICAL (md5 of every
    file) and (b) runtime grows far slower than store size — the
    rewrite is bounded by touched partitions; only the column-pruned
    probe scan sees the whole store."""
    import hashlib

    from wallet_and_risky_features_data_pipeline_spark.sources.maintenance import (
        propagate_deletes,
    )

    def file_md5s(root: str, skip_parts: set[str]) -> dict[str, str]:
        out = {}
        for dirpath, _, files in os.walk(root):
            # exact path-component match: a substring test would also
            # skip bucket=10..19 when bucket=1 is doomed, silently
            # shrinking the byte-identity check
            if os.path.basename(dirpath) in skip_parts:
                continue
            for fn in files:
                if fn.endswith(".parquet"):
                    fp = os.path.join(dirpath, fn)
                    out[fp] = hashlib.md5(open(fp, "rb").read()).hexdigest()
        return out

    # 3 doomed users → 3 touched buckets of 64, at BOTH scales (the
    # replica shifts event ids, not user ids)
    doomed_users = [1, 2, 3]
    skip = {f"bucket={u % 64}" for u in doomed_users}
    keys = spark.createDataFrame([(u,) for u in doomed_users], "user_id long")
    for label, d in (("sf0.1", SRC), (f"{COPIES}x", DST)):
        store = f"/tmp/wrf_erase_probe_{label}"
        shutil.rmtree(store, ignore_errors=True)
        ev = spark.read.parquet(f"{d}/events.parquet")
        ev.withColumn("bucket", F.col("user_id") % 64).write.partitionBy(
            "bucket"
        ).parquet(store)
        before = file_md5s(store, skip)
        start = time.perf_counter()
        touched = propagate_deletes(spark, store, keys, "user_id")
        took = time.perf_counter() - start
        after = file_md5s(store, skip)
        assert before == after, (
            f"{label}: untouched partitions were rewritten "
            f"({len(set(before) ^ set(after))} files differ)"
        )
        print(
            f"erase_probe {label:6s} {took:7.2f} s  "
            f"touched={len(touched)} partitions, untouched byte-identical",
            flush=True,
        )
        shutil.rmtree(store, ignore_errors=True)


def streaming_state_probe(spark) -> None:
    """Scale evidence for the RocksDB-backed stateful jobs: run the
    per-user running-totals and funnel state machines at 1× and
    COPIES× (events replicate; user_ids do NOT — the realistic
    direction: more events per key), forcing multiple micro-batches
    via maxFilesPerTrigger, and assert from the query's own progress
    metrics that (a) final state ROWS equal the key count at both
    scales — state scales with keys, never events — and (b) per-batch
    latency stays flat as state fills (last batch under 3× the median;
    a state store that degrades with fill shows a rising tail)."""
    from wallet_and_risky_features_data_pipeline_spark.streaming.stream_jobs import (
        stateful_user_totals,
        stream_funnel_alerts,
    )

    n_keys = (
        spark.read.parquet(f"{SRC}/events.parquet").select("user_id").distinct().count()
    )
    # the 1x testdata ships events as ONE parquet file = one micro-batch;
    # the probe needs several, so stream a multi-file copy of the same rows
    one_x = "/tmp/wrf_stream_1x"
    marker = f"{one_x}/.built_from"
    stale = not (
        os.path.exists(f"{one_x}/events.parquet/_SUCCESS")
        and os.path.exists(marker)
        and open(marker).read() == SRC
    )
    if stale:  # same built-from rule as build_replica: never reuse
        shutil.rmtree(one_x, ignore_errors=True)  # another SRC's copy
        spark.read.parquet(f"{SRC}/events.parquet").repartition(6).write.parquet(
            f"{one_x}/events.parquet"
        )
        with open(marker, "w") as f:
            f.write(SRC)

    def files_in(d: str) -> int:
        root = f"{d}/events.parquet"
        return sum(1 for f in os.listdir(root) if f.endswith(".parquet"))

    for job_name, job in (
        ("stateful_totals", stateful_user_totals),
        ("funnel_alerts", stream_funnel_alerts),
    ):
        final_rows = {}
        for label, d in (("sf0.1", one_x), (f"{COPIES}x", DST)):
            mfpt = max(1, files_in(d) // 6)
            metrics: list[dict] = []
            start = time.perf_counter()
            job(spark, d, max_files_per_trigger=mfpt, metrics_out=metrics)
            took = time.perf_counter() - start
            batches = [m for m in metrics if m["state_rows"] is not None]
            assert len(batches) >= 2, (
                f"{job_name} {label}: want multi-batch evidence, got "
                f"{len(batches)} batches"
            )
            durs = sorted(m["batch_duration_ms"] or 0 for m in batches)
            median = durs[len(durs) // 2]
            last = batches[-1]["batch_duration_ms"] or 0
            assert last <= max(3 * median, median + 2000), (
                f"{job_name} {label}: batch latency rising with state fill "
                f"(last {last} ms vs median {median} ms)"
            )
            final_rows[label] = batches[-1]["state_rows"]
            print(
                f"streaming_state {job_name:16s} {label:6s} {took:6.2f} s  "
                f"batches={len(batches)} state_rows={batches[-1]['state_rows']} "
                f"state_bytes={batches[-1]['state_bytes']} "
                f"last_batch={last} ms (median {median})",
                flush=True,
            )
        assert final_rows["sf0.1"] == n_keys, final_rows
        assert final_rows[f"{COPIES}x"] == n_keys, (
            f"{job_name}: state rows must track KEYS ({n_keys}), not events "
            f"({final_rows})"
        )


def local_delta_probe(spark) -> None:
    """VERDICT r11 #3 — the locality evidence the random testdata
    cannot give: at COPIES× graph scale with a copy-0-confined delta,
    time (a) the full LPA recompute, (b) the warm state BUILD
    (amortized once per prior snapshot in deployment), and (c) the
    warm dirty-frontier refresh of
    ``wallet_label_propagation_incremental`` — and hold warm ≡ full at
    the scaled data. The deployed claim is (c) ≪ (a) under local
    deltas."""
    import wallet_and_risky_features_data_pipeline_spark.plans.incremental_plans as inc
    from wallet_and_risky_features_data_pipeline_spark.plans.risk_features import (
        wallet_label_propagation,
    )

    warm_lpa = inc.wallet_label_propagation_incremental
    for label, d in (("sf0.1", SRC), (f"{COPIES}x", DST)):
        t_full = timed_isolated(spark, wallet_label_propagation, d)
        # state build: force a rebuild by clearing this input's store
        shutil.rmtree(inc._lpa_state_store(d), ignore_errors=True)
        t_build_plus = timed_isolated(spark, warm_lpa, d)
        # warm refresh only (state committed above)
        t_warm = timed_isolated(spark, warm_lpa, d)

        # date-partitioned-store column (VERDICT r12 #3): materialize
        # the SAME events table hive-partitioned by date (the engine's
        # write_partitioned layout), rebuild the warm state for that
        # input once, and time the refresh reading from it — the
        # deployed shape where the ts >= split predicate prunes whole
        # partition DIRECTORIES (wallet_transactions(since=) mirrors the
        # bound onto date_partition), not just row groups.
        from wallet_and_risky_features_data_pipeline_spark.sources.readers import (
            read_table,
        )
        from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
            write_partitioned,
        )

        # /tmp copy — the source testdata dir is read-only
        dpart = f"/tmp/wrf_datepart_{os.path.basename(d.rstrip('/'))}"
        if not os.path.exists(os.path.join(dpart, "events.parquet", "_SUCCESS")):
            ev = read_table(spark, d, "events").withColumn(
                "date_partition", F.date_format("ts", "yyyy-MM-dd")
            )
            write_partitioned(
                ev, os.path.join(dpart, "events.parquet"), mode="overwrite"
            )
            # partitioned writes emit no _SUCCESS at the root with
            # dynamic overwrite on some layouts — stamp completion
            open(os.path.join(dpart, "events.parquet", "_SUCCESS"), "a").close()
        shutil.rmtree(inc._lpa_state_store(dpart), ignore_errors=True)
        timed_isolated(spark, warm_lpa, dpart)  # state build for the partitioned input
        t_warm_dp = timed_isolated(spark, warm_lpa, dpart)
        print(
            f"local_delta {label:6s} full={t_full:7.2f} s  "
            f"build+refresh={t_build_plus:7.2f} s  warm_refresh={t_warm:7.2f} s  "
            f"warm/full={t_warm / t_full:5.2f}  "
            f"warm_refresh_datepart={t_warm_dp:7.2f} s ({t_warm_dp / t_full:4.2f})",
            flush=True,
        )
        if COPIES <= 10:
            reset_session_memos(spark)
            with cache_scope():
                warm = {tuple(r) for r in warm_lpa(spark, d).collect()}
                full = {
                    tuple(r) for r in wallet_label_propagation(spark, d).collect()
                }
            assert warm == full, (
                f"{label}: warm ≢ full ({len(warm ^ full)} rows differ)"
            )
            print(f"local_delta {label:6s} warm ≡ full ({len(full)} rows)", flush=True)


STRUCTURE_DEFAULTS = [
    # the graph/vocab families whose replica-mode "flat" readings were
    # replication artifacts (VERDICT r9 #1) — structure mode grows
    # |V|/|E|/vocab for real
    "wallet_components",
    "wallet_kcore",
    "wallet_label_propagation",
    "wallet_community_modularity",
    "wallet_pagerank",
    "corpus_bpe_pairs",
    "corpus_pmi_collocations",
]


def main() -> None:
    names = sys.argv[1:] or (
        STRUCTURE_DEFAULTS
        if MODE == "structure"
        else [
            "dedup_cluster_assign",
            "dedup_decisions",
            "dedup_minhash_lsh",
            "text_repetition",
            # r8 additions: the newest quadratic-risk surfaces
            "entity_match_pairs",
            "corpus_exact_substr",
            "wallet_pagerank",
            "similarity_ivf_int8_topk",
        ]
    )
    if names == ["erase"]:
        spark = get_spark("wrf-scale-probe")
        spark.sparkContext.setLogLevel("ERROR")
        build_replica(spark, {"documents", "embeddings", "events"})
        erase_probe(spark)
        return
    if names == ["local-delta"]:
        assert MODE == "local-delta", (
            "run with SPARK_GRAFT_SCALE_MODE=local-delta so the replica "
            "recipe confines the delta to copy 0"
        )
        spark = get_spark("wrf-scale-probe")
        spark.sparkContext.setLogLevel("ERROR")
        build_replica(spark, {"documents", "embeddings", "events"})
        local_delta_probe(spark)
        return
    if names == ["streaming-state"]:
        spark = get_spark("wrf-scale-probe")
        spark.sparkContext.setLogLevel("ERROR")
        build_replica(spark, {"documents", "embeddings", "events"})
        streaming_state_probe(spark)
        return
    spark = get_spark("wrf-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    # every probed query reads documents/embeddings/events only; copy
    # the rest verbatim so read_table never 404s
    build_replica(
        spark,
        {"documents", "embeddings", "events", "customer", "orders", "lineitem"},
    )
    for t in ("region", "nation", "supplier", "part"):
        if not os.path.exists(f"{DST}/{t}.parquet"):
            shutil.copyfile(f"{SRC}/{t}.parquet", f"{DST}/{t}.parquet")

    from wallet_and_risky_features_data_pipeline_spark.operators import dedup as _dd
    from wallet_and_risky_features_data_pipeline_spark.plans import (
        risk_features as _rf,
    )

    for name in names:
        fn = QUERIES[name]
        # warm at the smallest SF so the timed pairs measure the plan's
        # execution, not first-run whole-stage-codegen compilation
        # (which is per-plan, per-JVM — bench.py does the same)
        with cache_scope():
            fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
        for label, d in (("sf0.1", SRC), (f"{COPIES}x", DST)):
            # isolated like bench.py's tier: cache emptied, so a later
            # query cannot ride an earlier one's cached pipeline
            _dd.LAST_CC_ROUNDS = None
            _rf.LAST_KCORE_ROUNDS = None
            took = timed_isolated(spark, fn, d)
            rounds = ""
            if _dd.LAST_CC_ROUNDS is not None:
                rounds += f"  cc_rounds={_dd.LAST_CC_ROUNDS}"
            if _rf.LAST_KCORE_ROUNDS is not None:
                rounds += f"  kcore_rounds={_rf.LAST_KCORE_ROUNDS}"
            print(f"{name:28s} {label:6s} {took:7.2f} s{rounds}", flush=True)


if __name__ == "__main__":
    main()
