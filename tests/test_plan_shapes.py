"""Physical-plan regression guards: the scale properties the engine
relies on must be visible in `explain` output — filters pushed to the
parquet scan, dimensions broadcast, and the flagship window pipeline
collapsed to a single scan + single exchange.
"""

from __future__ import annotations

import pytest

from wallet_and_risky_features_data_pipeline_spark.caching import (
    peek_session_memo,
    reset_session_memos,
)
from wallet_and_risky_features_data_pipeline_spark.plans.registry import QUERIES

from .conftest import SF_MEDIUM


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def test_filter_pushdown_reaches_scan(spark):
    plan = _physical(QUERIES["filter_project_scalar"](spark, SF_MEDIUM))
    # the shipdate predicate must appear in the pushed list (the plan
    # string truncates long filter lists, so check the leading entries)
    assert "PushedFilters: [IsNotNull" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan


def test_column_pruning_reaches_scan(spark):
    plan = _physical(QUERIES["count_distinct_dq"](spark, SF_MEDIUM))
    # only the two referenced columns are read
    assert "ReadSchema: struct<o_custkey:bigint,o_orderstatus:string>" in plan


def test_dimensions_broadcast(spark):
    plan = _physical(QUERIES["join_equi_chain"](spark, SF_MEDIUM))
    assert "BroadcastHashJoin" in plan


def test_anti_and_semi_joins_planned(spark):
    assert "LeftAnti" in _physical(QUERIES["join_anti_orphans"](spark, SF_MEDIUM))
    assert "LeftSemi" in _physical(QUERIES["join_semi_active"](spark, SF_MEDIUM))


def test_flagship_single_scan_single_exchange(spark):
    plan = _physical(QUERIES["wallet_features"](spark, SF_MEDIUM))
    assert plan.count("Scan parquet") == 1, "role explosion must not re-scan the source"
    assert plan.count("Exchange") == 1, (
        "all window families + rollup must reuse the wallet_address exchange"
    )


def test_windows_use_rows_frames(spark):
    plan = _physical(QUERIES["window_running_balance"](spark, SF_MEDIUM))
    assert "RowFrame" in plan
    assert "RangeFrame" not in plan


def test_asof_price_joins_on_day_bucket(spark):
    # The as-of join must be an equi join whose key includes the day
    # bucket (not just the 5-value event_type — that shape fans out to
    # |events| × |price history|), with the tiny exploded price side
    # broadcast. VERDICT r02 #2 regression guard.
    plan = _physical(QUERIES["asof_price"](spark, SF_MEDIUM))
    assert "__ev_day" in plan
    assert "BroadcastHashJoin [event_type" in plan


def test_partition_totals_single_exchange(spark):
    # groupBy reduction over the windowed balance must reuse the
    # window's (wallet) clustering: exactly one exchange, no extra
    # full-width dedup shuffle (VERDICT r02 #4 regression guard).
    plan = _physical(QUERIES["window_partition_totals"](spark, SF_MEDIUM))
    assert plan.count("Exchange") == 1


def test_eth_balance_broadcast_price_and_rows_frames(spark):
    # W4 composition: the as-of price side must come in as a broadcast
    # (tokens × days at any scale), and both running windows must be
    # ROWS frames — a RangeFrame would rescan peer groups per row.
    plan = _physical(QUERIES["window_running_balance_eth"](spark, SF_MEDIUM))
    assert "BroadcastHashJoin" in plan
    assert "RowFrame" in plan
    assert "RangeFrame" not in plan


def test_ivf_probes_broadcast_not_cartesian(spark):
    # centroid fan-outs must plan as broadcast nested-loop joins — a
    # CartesianProduct would shuffle the full corpus against the cells
    plan = _physical(QUERIES["similarity_ivf_topk"](spark, SF_MEDIUM))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_sketch_probes_broadcast_not_shuffled(spark):
    # CMS probe: the <= d*w-row sketch must be the broadcast build
    # side, so the candidate-key side never shuffles for the probe.
    plan = _physical(QUERIES["cms_heavy_hitters"](spark, SF_MEDIUM))
    assert "BroadcastHashJoin" in plan
    # Bloom probe: one-row bloom word crosses as a broadcast, and no
    # cartesian product appears despite the crossJoin API call.
    bplan = _physical(QUERIES["bloom_membership_prune"](spark, SF_MEDIUM))
    assert "BroadcastExchange" in bplan
    assert "CartesianProduct" not in bplan


def test_rolling_window_single_exchange_range_frame(spark):
    # RANGE frame must be evaluated inside ONE window over ONE
    # exchange — not rendered as a self-band-join.
    plan = _physical(QUERIES["window_rolling_7d"](spark, SF_MEDIUM))
    assert "RangeFrame" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_embedding_near_dup_no_cartesian(spark):
    # Candidate generation must join on the LSH bucket key, never
    # expand to all pairs.
    plan = _physical(QUERIES["dedup_embedding_cosine"](spark, SF_MEDIUM))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pivot_uses_explicit_values_no_discovery_scan(spark):
    # With the explicit value list the pivot is two agg layers over
    # ONE scan; without it Spark runs a distinct-discovery job first
    # (an extra scan that shows up in the plan's file sources).
    plan = _physical(QUERIES["pivot_event_matrix"](spark, SF_MEDIUM))
    assert plan.count("Scan parquet") == 1


def test_partition_pruning_on_partitioned_store(spark, tmp_path):
    # End-to-end partition pruning: a store written with the engine's
    # hive-partitioned writer, read back with a partition predicate,
    # must prune at the FILE level (PartitionFilters on the scan) —
    # the difference between reading one month and reading 100 TB.
    import pyspark.sql.functions as F

    from wallet_and_risky_features_data_pipeline_spark.functions.scalars import date_partition
    from wallet_and_risky_features_data_pipeline_spark.sources.readers import read_table
    from wallet_and_risky_features_data_pipeline_spark.sources.writers import write_partitioned

    ev = read_table(spark, SF_MEDIUM, "events").withColumn(
        "date_partition", date_partition(F.col("ts"))
    )
    store = str(tmp_path / "events_by_month")
    write_partitioned(ev, store)

    scan = spark.read.parquet(store).filter(F.col("date_partition") == "2024-01")
    plan = _physical(scan)
    assert "PartitionFilters: [isnotnull(date_partition" in plan
    assert "2024-01" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    # and the pruned read returns exactly the January slice
    jan = ev.filter(F.col("date_partition") == "2024-01").count()
    assert scan.count() == jan > 0


def test_aqe_splits_skewed_join(spark):
    # The engine's answer to hot-key joins at 100 TB is AQE skew-join
    # (session.get_spark enables it): with a 90%-hot key, the runtime
    # plan must show the skewed partition split (skew=true), not one
    # straggler task. Thresholds are lowered to make the tiny local
    # shuffle exhibit what a multi-GB hot partition does in production.
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.range(0, 200_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id") % 1000).alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(0, 1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
        j = fact.join(dim.hint("shuffle_hash"), "k")
        assert len(j.collect()) == 200_000
        assert "skew=true" in _physical(j)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_lsh_single_band_join(spark):
    """The banded LSH pairing must be ONE self-join on the exploded
    (band, bucket) composite key — not one join per band (the r3
    shape: n_bands joins + unions doubled the stage count)."""
    plan = _physical(QUERIES["dedup_minhash_lsh"](spark, SF_MEDIUM))
    n_joins = sum(plan.count(j) for j in
                  ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
    # one pairing self-join + the broadcast megabucket guard applied on
    # each side of it (the guard subtree is re-planned per side)
    assert n_joins <= 3, f"expected 1 pairing join + 2 guard applications, saw {n_joins}"
    assert "CartesianProduct" not in plan
    assert "Union" not in plan, "per-band union should be gone"


def test_ngram_jaccard_no_pair_table_rejoin(spark):
    """r15 №2 shape (sized self-join pairs): df-cap stays an AGG +
    ANTI join against the hot-shingle list BEFORE any pairing — never
    a full-partition window count, because WindowExec buffers a whole
    partition per task and a stopword-grade hot shingle IS a
    row-scaled partition (the weighted-median 100× OOM class, PLANS.md
    §probe-caught OOM) — and the plan is COLLECT-FREE: per-doc sizes
    ride the stream into the pair join, so every aggregation state is
    O(1) (the earlier posting-array form collected ≤max_df ids per
    shingle AND evaluated its pair-expanding nested lambdas
    interpreted — the codegen self-join replaced it 25% faster).
    Everything above the pair aggregation must be in-row arithmetic:
    no re-shuffle (Exchange) of the pair table, no join of any kind
    above it (the r14 shape persisted a |pairs|-sized table just to
    re-join per-doc sizes onto it)."""
    plan = _physical(QUERIES["dedup_ngram_jaccard"](spark, SF_MEDIUM))
    assert "Window" not in plan, "row-scaled partition buffering is back"
    assert "CartesianProduct" not in plan
    assert "collect_list" not in plan, "row-scaled agg buffers are back"
    # the df-cap is an anti join against the bounded hot list, applied
    # below the pair join
    assert "LeftAnti" in plan
    # the measure is computed in-row above the pair aggregate: nothing
    # between the final pair HashAggregate and the output but
    # Filter/Project — no exchange, no join of the aggregated pairs
    head = plan.split("HashAggregate", 1)[0]
    assert "Exchange" not in head, "aggregated pair table must not re-shuffle"
    assert "Join" not in head, "pair table must not be re-joined"


def test_token_budget_window_partitioned_by_band(spark):
    """corpus_token_budget's running sum over DOCUMENTS must be
    partitioned by the quality band — a global (empty partition spec)
    window over the doc table would sort the whole corpus on one node.
    The only unpartitioned window allowed is the band-offset prefix sum
    over the tiny per-band aggregate."""
    plan = _physical(QUERIES["corpus_token_budget"](spark, SF_MEDIUM))
    assert "hashpartitioning(band" in plan  # doc window exchanges on band
    # the band offsets re-enter via broadcast, not another shuffle
    assert "BroadcastHashJoin" in plan


def test_spearman_windows_partitioned_by_band(spark):
    """event_spearman_trend's two ROW_NUMBER windows must exchange on
    (event_type, band) — a rank window partitioned by the
    low-cardinality event_type alone sorts one hot type's entire
    history on a single task (the r10 16.2× 100×-probe outlier). Every
    window ordering a row-level sort key (ts_s / cents) must carry the
    matching band column in its spec; event_type-only windows are
    allowed ONLY for the tiny per-band offset prefix sums, whose order
    key is the band itself."""
    import re

    plan = _physical(QUERIES["event_spearman_trend"](spark, SF_MEDIUM))
    # row-level rank exchanges carry the band key
    assert re.search(r"hashpartitioning\(event_type#\d+[^)]*band_t#\d+", plan)
    assert re.search(r"hashpartitioning\(event_type#\d+[^)]*band_v#\d+", plan)
    # band offsets re-enter via broadcast, not another row-level shuffle
    assert "BroadcastHashJoin" in plan
    specs = re.findall(r"windowspecdefinition\((.*?)specifiedwindowframe", plan)
    assert specs, "no window specs found — plan format changed?"
    for s in specs:
        if "ts_s#" in s:
            assert "band_t#" in s, f"time rank window not banded: {s}"
        if "cents#" in s:
            assert "band_v#" in s, f"value rank window not banded: {s}"


def test_sql_twins_plan_like_the_dataframe_plans(spark):
    """The SQL-text twins must not merely match values — their HINTS
    must land the same physical disciplines as the DataFrame plans:
    wallet_features_sql's REPARTITION(wallet_address) is by_wallet's
    SQL spelling (one wallet exchange serves every window family and
    the rollup — no sort-merge joins anywhere in a join-free plan),
    and asof_price_sql's BROADCAST(x) keeps the exploded quote dim on
    the build side (equi join on (type, day) — never a shuffled join
    keyed on the fact table, never a cartesian)."""
    import re

    plan = _physical(QUERIES["wallet_features_sql"](spark, SF_MEDIUM))
    assert re.search(r"hashpartitioning\(wallet_address#\d+", plan)
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan

    plan = _physical(QUERIES["asof_price_sql"](spark, SF_MEDIUM))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the ONLY shuffled join allowed is the final event-scaled
    # re-attach (events LEFT JOIN best ON event_id — both sides fact-
    # sized, exactly the DataFrame asof_join's shape); the quote dim
    # itself must resolve through the broadcast above
    shuffled = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")
    assert shuffled <= 1, f"{shuffled} shuffled joins (expected <=1, re-attach only)"

    # the incremental stitch twin: the NOT EXISTS carry-over must plan
    # as an anti-JOIN (U5's shape — never a per-row subquery), and the
    # prior-seed/stitch/carry-over joins must never degrade to a
    # cartesian; join *strategy* (broadcast vs shuffle) is left to
    # AQE/stats since the prior snapshot is only small at test SF
    plan = _physical(QUERIES["wallet_coin_balances_incremental_sql"](spark, SF_MEDIUM))
    assert "LeftAnti" in plan, "NOT EXISTS carry-over did not plan as an anti-join"
    assert "CartesianProduct" not in plan

    # window_partition_totals_sql must plan EXACTLY ONE exchange, like
    # its DataFrame twin: the (wallet, contract) repartition serves
    # both the window and the final aggregate (VERDICT r13 #4 — the
    # wallet-only hint satisfied the window but forced a second
    # exchange for the GROUP BY, a 3.2× wall gap on the r13 record;
    # this assertion makes that regression structurally impossible)
    plan = _physical(QUERIES["window_partition_totals_sql"](spark, SF_MEDIUM))
    n_exchanges = len(re.findall(r"\bExchange hashpartitioning", plan))
    assert n_exchanges == 1, f"{n_exchanges} exchanges (expected 1)"


def test_ngram_freq_topk_no_global_sort(spark):
    """Top-K must plan as TakeOrderedAndProject (per-partition heaps),
    never a full global Sort of the counted ngrams."""
    plan = _physical(QUERIES["corpus_ngram_freq"](spark, SF_MEDIUM))
    assert "TakeOrderedAndProject" in plan


def test_ngram_lm_score_head_resolves_via_broadcast(spark):
    """The r7 de-skew contract for text_ngram_lm_score: the Zipf-head
    gram frequencies must resolve through a BROADCAST join (narrow — no
    exchange keyed on the raw ngram for head hits), with at most the
    tail taking a shuffled equi join. Regressing to a single shuffled
    grams-by-ngram join reintroduces the hot-reducer skew."""
    from wallet_and_risky_features_data_pipeline_spark.caching import cache_scope

    with cache_scope():
        plan = _physical(QUERIES["text_ngram_lm_score"](spark, SF_MEDIUM))
        assert "BroadcastHashJoin" in plan
        # the head probe is a LEFT join against the broadcast top-K
        assert "LeftOuter, BuildRight" in plan
        # the only shuffled join allowed is the tail's frequency join
        shuffled = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")
        assert shuffled <= 1, f"{shuffled} shuffled joins (expected <=1, tail only)"


def test_semantic_dedup_no_cartesian_broadcast_assignment(spark):
    """dedup_semantic's scale contract (r15 vectorized form): the n×k
    centroid sweep runs as ONE Arrow-batched numpy matmul per batch
    against the driver-collected codebook (the ⌊√n⌋ centroid side is
    bounded by design — the vectorized-UDF rendering of the old
    broadcast nested-loop), while the potentially quadratic duplicate
    scan must stay KEYED on cell_id (one hash exchange feeding the
    per-cell applyInPandas Gram block), never an un-keyed product or
    join over the full corpus."""
    plan = _physical(QUERIES["dedup_semantic"](spark, SF_MEDIUM))
    # un-keyed full-corpus product = the cell bounding silently broke
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # centroid sweep: Arrow-vectorized argmax, not a row-at-a-time UDF
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    # duplicate scan: per-cell pandas groups fed by a cell_id exchange
    assert "FlatMapGroupsInPandas" in plan
    assert "hashpartitioning(cell_id" in plan


def test_line_dedup_doomed_set_broadcasts(spark):
    """corpus_line_dedup's scale contract: the boilerplate (doomed)
    passage set — tiny vs the corpus — must come back via a BROADCAST
    left join; the corpus units are never shuffled by passage text for
    the probe. The only wide exchanges are the count-distinct document
    frequency agg and the per-doc reassembly."""
    from wallet_and_risky_features_data_pipeline_spark.caching import cache_scope

    with cache_scope():
        plan = _physical(QUERIES["corpus_line_dedup"](spark, SF_MEDIUM))
        assert "BroadcastHashJoin" in plan
        assert "LeftOuter, BuildRight" in plan
        assert "SortMergeJoin" not in plan
        assert "ShuffledHashJoin" not in plan


def test_funnel_reuses_one_user_exchange(spark):
    """funnel_conversion's r9 scale contract: the three chained stage
    aggregates and their join-backs ALL key on user_id — no Window at
    all (the original three full-partition min-windows buffered whole
    per-user partitions in one task: a 1e8-event bot user is an OOM,
    the weighted-median 100× probe's failure class), and no exchange
    on any key other than user_id before the few-row rollup."""
    plan = _physical(QUERIES["funnel_conversion"](spark, SF_MEDIUM))
    assert "Window" not in plan, "full-partition stage windows are back"
    import re

    other_keys = {
        m for m in re.findall(r"hashpartitioning\((\w+)", plan)
        if m != "user_id"
    }
    assert not other_keys, f"non-user_id exchanges: {other_keys}"


def test_training_snapshot_broadcasts_doomed_passages(spark):
    """corpus_training_snapshot inherits line_dedup's contract inside
    the composed chain: the boilerplate set must come back via a
    broadcast join — composing stages must not regress the doomed-set
    probe into a corpus-wide shuffle by passage text."""
    from wallet_and_risky_features_data_pipeline_spark.caching import cache_scope

    with cache_scope():
        plan = _physical(QUERIES["corpus_training_snapshot"](spark, SF_MEDIUM))
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_scd2_interval_predicate_rides_the_equi_join(spark):
    """scd2_point_in_time must plan as an EQUI join keyed on user_id
    with the validity interval as a join-condition residual — never a
    BroadcastNestedLoopJoin/CartesianProduct (the plan a naive ts-range
    join degenerates to when the equi key is lost)."""
    plan = _physical(QUERIES["scd2_point_in_time"](spark, SF_MEDIUM))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "user_id" in plan.split("Join")[1][:200]


def test_winsorize_thresholds_broadcast_back(spark):
    """winsorized_values' clip join must broadcast the groups-sized
    threshold table onto the fact scan — the fact table never
    reshuffles for the clip."""
    plan = _physical(QUERIES["winsorized_values"](spark, SF_MEDIUM))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


@pytest.mark.fullsuite
def test_no_batch_query_plans_a_cartesian_product(spark):
    """Engine-wide negative: NO batch registry query may plan a
    CartesianProduct or un-keyed BroadcastNestedLoopJoin INNER join —
    the silent quadratic that kills a 100 TB run. Exceptions are
    documented: similarity_topk IS the exact all-pairs baseline, and
    broadcast-scalar cross joins (one-row build side) plan as
    BroadcastNestedLoopJoin by construction — those are allowed only
    where the build side is a literal/aggregate scalar. Streaming
    entries are excluded (building their plan executes the query; the
    oracle suite covers them)."""
    from wallet_and_risky_features_data_pipeline_spark.caching import cache_scope

    allowed_cartesian = {"similarity_topk"}  # documented exact baseline
    # scalar cross joins (watermark_max-style broadcast one-row sides)
    # legitimately show BroadcastNestedLoopJoin; cap how many entries
    # may rely on it so a new accidental product gets caught
    bnlj_budget = {
        "watermark_max", "dedup_semantic", "corpus_token_budget",
        "corpus_vocab_coverage", "corpus_vocab_incremental", "table_stats",
        "quantiles_histogram", "corpus_mix_rebalance", "text_repetition",
        "hll_distinct_users", "similarity_lsh_topk", "similarity_ivf_topk",
        "similarity_rrf_fusion", "dedup_embedding_cosine", "similarity_lsh_buckets",
        "dedup_minhash_incremental", "corpus_contamination", "corpus_decontaminate",
        "bloom_membership_prune",      # one-row bloom word build side
        "similarity_ivf_kmeans_topk",  # centroid sweep (intended NLJ, as dedup_semantic)
        "tfidf_top_terms",             # one-row corpus doc-count scalar
        "wallet_pagerank",             # one-row node-count scalar per iteration
        "similarity_ivf_int8_topk",    # centroid probe sweep (as similarity_ivf_topk)
        "wallet_burstiness",           # one-row global max-day scalar (r9)
        "text_bm25_search",            # one-row df/N/avgdl stats scalar (r9)
        "corpus_pmi_collocations",     # one-row N / M total scalars (r9)
        "wallet_community_modularity", # one-row edge-count m scalar (r9)
        "dq_referential_integrity",    # per-edge one-row count scalars (r9)
        "session_association_rules",   # one-row n_sessions scalar (r9)
        "corpus_source_psi",           # one-row corpus-total ng scalar (r10)
        "wallet_community_modularity_incremental",  # one-row m scalar (r12, as full)
    }
    offenders = {}
    for name, fn in QUERIES.items():
        if name.startswith("streaming_") or name in allowed_cartesian:
            continue
        with cache_scope():
            try:
                plan = _physical(fn(spark, SF_MEDIUM))
            except Exception as e:  # MLlib entries execute on build; skip infra errors
                offenders[name] = f"plan build failed: {e}"
                continue
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in bnlj_budget:
            offenders[name] = "BroadcastNestedLoopJoin (not in scalar allowlist)"
    assert not offenders, offenders


def test_weighted_sample_rank_pushes_group_limit(spark):
    """The A-ES sampler's ROW_NUMBER ≤ k filter must reach the sort as
    a WindowGroupLimit — per-partition state is then k rows instead of
    the whole stratum, the property that makes a per-source top-k
    window safe at any corpus size."""
    from wallet_and_risky_features_data_pipeline_spark.plans.llm_ops import (
        corpus_weighted_sample,
    )

    df = corpus_weighted_sample(spark, SF_MEDIUM)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


def test_split_stratified_no_full_partition_window(spark):
    """r10 continuation of the r9 full-partition-frame sweep: stratum
    sizes must be an AGG + broadcast join-back, never a count window
    over the (lang, split) partition — a train stratum is ~80% of a
    language's corpus, exactly the row-scaled-partition buffering the
    sweep removed everywhere else."""
    plan = _physical(QUERIES["corpus_split_stratified"](spark, SF_MEDIUM))
    assert "Window" not in plan, "row-scaled stratum buffering is back"
    assert "BroadcastHashJoin" in plan


def test_warm_tier_delta_scans_push_ts_predicate(spark, tmp_path, monkeypatch):
    """The warm (stored-prior-state) tier's defining property: NO
    events scan in a warm query's plan may read pre-split history —
    every one must carry the ts >= split pushdown. Guards the
    CacheManager trap: the memoized full leg table's persist() gets
    substituted into any plan-equal fragment, silently turning the
    delta scan into a full cached explosion (the r12 local-delta probe
    read warm/full >= 1 at 100x because of exactly that)."""
    from wallet_and_risky_features_data_pipeline_spark.plans import (
        incremental_plans as inc,
    )
    from wallet_and_risky_features_data_pipeline_spark.plans.wallet_model import (
        wallet_transactions,
    )

    # monkeypatch + tmp_path (ADVICE r12): env var and state dir are
    # cleaned up even when an assertion below fails
    monkeypatch.setenv("SPARK_GRAFT_WARM_STATE_DIR", str(tmp_path))
    # populate the session memo FIRST so the cache-substitution
    # hazard is live during the check
    reset_session_memos(spark)
    wallet_transactions(spark, SF_MEDIUM).count()
    try:
        for fn in (
            inc.wallet_coin_balances_warm,
            inc.wallet_auc_warm,
            inc.wallet_components_warm,
            inc.wallet_rolling_distinct_warm,
            inc.wallet_label_propagation_incremental,
            inc.wallet_auc_warm_scaled,
        ):
            plan = _physical(fn(spark, SF_MEDIUM))
            ev_scans = [
                l
                for l in plan.splitlines()
                if "Scan parquet" in l and "events" in l
            ]
            assert ev_scans, f"{fn.__name__}: no events scan found"
            bad = [l for l in ev_scans if "GreaterThanOrEqual(ts" not in l]
            assert not bad, (
                f"{fn.__name__}: {len(bad)}/{len(ev_scans)} events scans "
                f"read pre-split history (no ts pushdown)"
            )
    finally:
        reset_session_memos(spark)


def test_delta_scan_prunes_date_partitions(spark, tmp_path):
    """On a date-partitioned events store (write_partitioned's layout),
    the warm tier's delta builder must mirror its ts bound onto the
    partition column so the scan prunes whole partition DIRECTORIES —
    row-group stats alone cannot shrink the file listing, and at 100 TB
    the listing IS the cost (VERDICT r12 #3)."""
    from wallet_and_risky_features_data_pipeline_spark.plans.wallet_model import (
        wallet_transactions_delta,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.readers import (
        read_table,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        write_partitioned,
    )

    import pyspark.sql.functions as F

    from .conftest import SF_SMALL

    ev = read_table(spark, SF_SMALL, "events").withColumn(
        "date_partition", F.date_format("ts", "yyyy-MM-dd")
    )
    store = str(tmp_path / "events.parquet")
    write_partitioned(ev, store, mode="overwrite")

    since = "2024-01-28"
    delta = wallet_transactions_delta(spark, str(tmp_path), since)
    plan = _physical(delta)
    scan = [l for l in plan.splitlines() if "Scan parquet" in l]
    assert scan, "no parquet scan in the delta plan"
    # partition pruning is visible as a PartitionFilters entry naming
    # the partition column with the since bound
    assert "PartitionFilters" in plan and "date_partition" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0], "date_partition bound did not reach PartitionFilters"
    # and the pruned delta still carries the row-level ts pushdown
    assert "GreaterThanOrEqual(ts" in plan
    # semantics: partition bound must not drop any delta rows
    full = read_table(spark, SF_SMALL, "events").filter(
        F.col("ts") >= F.lit(since).cast("timestamp")
    )
    got = delta.select("event_id").distinct().count()
    want = full.select("event_id").distinct().count()
    assert got == want


def test_single_consumer_plans_stream_without_memo_cache(spark):
    """The lazy leg-build discipline (VERDICT r13 #5): a plan that
    consumes the role-exploded legs exactly once must NOT read through
    the memo's InMemoryRelation when the session memo is cold — the
    cache write + read-back costs ~2× the build it fronts. And the
    OPPORTUNISTIC readers (flagship chain) must flip to the shared
    memo frame once a nightly session has warmed it, without building
    it themselves."""
    from wallet_and_risky_features_data_pipeline_spark.plans import wallet_model as wm

    reset_session_memos(spark)
    for name in (
        "window_ordering",
        "window_partition_totals",
        "window_lead_auc",
        "dq_feature_constraints",
        "wallet_features",
        "wallet_coin_balances",
    ):
        plan = _physical(QUERIES[name](spark, SF_MEDIUM))
        assert "InMemoryTableScan" not in plan, (
            f"{name} reads a cold-session cache — the lazy build regressed"
        )
    # window_running_balance_salted left the no-cache list in r16: its
    # input is consumed TWICE (chunk windows + the totals join-back),
    # so it now deliberately persists the PROJECTED nine-column frame —
    # a query-scoped cache, NOT the full-width memo. Pin both halves:
    # the cache exists, and it is the narrow frame (no wt-memo columns
    # like current_value/transaction_type in the cached relation).
    plan = _physical(QUERIES["window_running_balance_salted"](spark, SF_MEDIUM))
    assert "InMemoryTableScan" in plan, (
        "salted running balance lost its projected twice-consumed cache"
    )
    cached_schema = plan.split("InMemoryTableScan", 1)[1].split("\n")[0]
    assert "current_value" not in cached_schema, (
        "salted cache carries full-width legs — the projection regressed"
    )
    # merely PLANNING the queries above must not have built the memo
    assert peek_session_memo(spark, (wm.WT_MEMO, SF_MEDIUM)) is None

    # warm the memo the way a nightly (runner.run_features) does...
    wm.wallet_transactions(spark, SF_MEDIUM)
    # ...and the opportunistic chain now shares it
    plan = _physical(QUERIES["wallet_features"](spark, SF_MEDIUM))
    assert "InMemoryTableScan" in plan, (
        "flagship did not share the warmed nightly leg table"
    )
    reset_session_memos(spark)
