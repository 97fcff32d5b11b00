"""Incremental-path plans: the incremental engine's output must equal
the full recompute — so its oracle IS the full-computation SQL.

``wallet_coin_balances_incremental`` splits the event stream at a fixed
date, computes the prior snapshot from batch 1, then upserts the
``incremental_contract_state`` MERGE batch of batch 2 — and is checked against
the same DuckDB oracle as the full ``wallet_coin_balances`` query. This
verifies, through the driver's own gate, the invariant the reference
never tests mechanically (SURVEY.md §5):
incremental(b1) + b2 ≡ full(b1 ∪ b2).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import checkpoint_tracked, persist_tracked
from ..operators.joins import upsert_rows
from ..streaming.incremental import (
    incremental_auc_rollup,
    incremental_contract_state,
    wallet_auc_state,
)
from .risk_features import WALLET_AUC_ROLLUP_ORACLE
from .wallet_features import contract_state_from
from .wallet_model import wallet_transactions
from .windows_plans import WALLET_COIN_BALANCES_ORACLE

SPLIT_AT = "2024-01-15"
# the LPA warm-start uses a LATE split (last ~10% of the 30-day
# stream): the nightly-refresh delta its dirty-frontier design is for
LPA_SPLIT_AT = "2024-01-28"


def wallet_coin_balances_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    wt = wallet_transactions(spark, sf_dir)
    split = F.lit(SPLIT_AT).cast("timestamp")
    prior = contract_state_from(wt.filter(F.col("ts") < split))
    return _upsert_projection(prior, wt.filter(F.col("ts") >= split))


# identical result contract as the full computation → same oracle
WALLET_COIN_BALANCES_INCR_ORACLE = WALLET_COIN_BALANCES_ORACLE


def wallet_auc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W11 — the incremental time-integral (AUC) stitch as a verified
    query: snapshot the AUC state at ``SPLIT_AT``, stitch the remaining
    events with the ``prior_balance × (first_ts − prior_last_ts)``
    bridge term (reference
    ethereum_wallet_features_with_auc.sql:627-637), and check the
    result against the FULL-recompute oracle — the driver's gate itself
    proves incremental ≡ full.

    The prior snapshot reads from the SAME fingerprint-fenced
    generation the warm tier commits (``_ensure_auc_state`` — the lpa
    state-sharing shape, VERDICT r13 #3): a COLD store still builds it
    in-query from the pre-split slice through this one entry point
    (pinned by ``test_auc_incremental_cold_store_builds_and_equals``);
    the delta stays the shared full-history leg table filtered
    in-query, distinct from ``_warm``'s delta-only pushdown scan."""
    from ..sources.writers import read_store

    wt = wallet_transactions(spark, sf_dir)
    split = F.lit(SPLIT_AT).cast("timestamp")
    prior = read_store(spark, _ensure_auc_state(spark, sf_dir))
    return incremental_auc_rollup(prior, wt.filter(F.col("ts") >= split))


# incremental must equal the full AUC rollup → same oracle
WALLET_AUC_INCR_ORACLE = WALLET_AUC_ROLLUP_ORACLE


def wallet_components_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental connected components — the graph family's member of
    the incremental tier (J15/W11 discipline): CC labels computed on
    the pre-``SPLIT_AT`` graph are merged with the post-split edges
    WITHOUT re-propagating over the historical edge set, and the result
    is held to the FULL-recompute oracle (same SQL as
    ``wallet_components``), so the driver's own comparison proves
    incremental ≡ full.

    Why this is the 100 TB nightly-refresh path: the prior labels form
    a STAR graph (node → component root, diameter ≤ 2), so the merge
    round runs pointer-doubling CC over star_edges ∪ new_edges only —
    |V_old| + |E_new| rows instead of |E_old| + |E_new|, and its
    convergence depth tracks the NEW edges' component-merge chain, not
    the historical graph's diameter (which the star already collapsed).
    Correctness: star edges preserve exactly the old graph's
    connectivity relation, so the combined graph's components equal the
    full graph's, and min-label assignment picks the same component id
    (the component's minimum wallet id) either way — label equality is
    structural, not approximate.

    The prior assignment is read from the SAME fingerprint-fenced
    generation the warm tier commits (``_ensure_cc_state`` — the lpa
    state-sharing shape, VERDICT r13 #3 applied to the then-slowest
    remaining registry query at 7.2 s): on a COLD store the build
    closure still runs the full pre-split CC in-query, so a fresh
    environment proves incremental ≡ full end-to-end through this one
    entry point (pinned by
    ``test_cc_incremental_cold_store_builds_in_query_and_equals_full``).
    What distinguishes this variant from ``_warm``: the new edges come
    from the session's shared FULL-history leg table filtered in-query
    (the proof-tier read), where the warm variant scans only the
    ``ts >= split`` delta through the lazy pushdown builder.
    """
    from ..operators.dedup import connected_components
    from ..sources.writers import read_store

    wt = wallet_transactions(spark, sf_dir)
    split = F.lit(SPLIT_AT).cast("timestamp")
    sender = (F.col("address_role") == "sender") & F.col("interacted_with").isNotNull()

    prior = read_store(spark, _ensure_cc_state(spark, sf_dir))
    # node → root, self-roots dropped (a root's membership rides on any
    # neighbor's star edge; isolated-in-old nodes re-enter via new
    # edges or the node union below)
    star = prior.filter(F.col("wallet_address") != F.col("cluster_id")).select(
        F.col("wallet_address").alias("w_a"), F.col("cluster_id").alias("w_b")
    )
    new_edges = (
        wt.filter(sender & (F.col("ts") >= split))
        .select(
            F.col("wallet_address").alias("w_a"),
            F.col("interacted_with").alias("w_b"),
        )
        .distinct()
    )
    combined = persist_tracked(star.unionByName(new_edges).distinct())
    nodes = (
        combined.select(F.col("w_a").alias("wallet_address"))
        .union(combined.select(F.col("w_b").alias("wallet_address")))
        .union(prior.select("wallet_address"))
        .distinct()
    )
    assigned = connected_components(
        combined, nodes, "wallet_address", a_col="w_a", b_col="w_b"
    ).withColumnRenamed("cluster_id", "component_id")
    sizes = assigned.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("component_size")
    )
    return assigned.join(F.broadcast(sizes), "component_id").select(
        "wallet_address", "component_id", "component_size"
    )


# incremental must equal the full component assignment → same oracle
from .risk_features import WALLET_COMPONENTS_ORACLE as WALLET_COMPONENTS_INCR_ORACLE  # noqa: E402


def wallet_flow_motifs_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental temporal flow motifs — the band-limited-rescan
    member of the incremental tier: because a path's two hops are at
    most ``FLOW_WINDOW_US`` apart, every path not already in the prior
    state has its OUT-hop in the new batch, and its in-hop can only lie
    in the trailing 24 h window before the split — so the refresh pairs
    (trailing-window ∪ new) in-hops against NEW out-hops only, never
    re-scanning history. State is the (mid, a, c) pair grain, whose
    counts add across disjoint path sets and whose per-mid DISTINCT
    source/dest counts are recoverable from the grain itself — merge is
    a union + sum. Disjointness/completeness: prior holds exactly the
    paths with out-hop before the split (both hops old by the band),
    delta exactly those with out-hop at/after it. Occupancy fences are
    computed over ALL legs in both passes — daily counts are additive
    metadata a deployment maintains incrementally, so full and
    incremental read the same fence. Held to the FULL-recompute oracle
    (J15/W11 discipline): incremental(prior) + delta ≡ full.
    """
    from .risk_features import (
        FLOW_WINDOW_US,
        _flow_fences_broadcastable,
        _flow_legs_and_fences,
        _flow_pair_grain,
        _flow_paths,
        _flow_rollup,
    )

    legs, in_busy, out_busy = _flow_legs_and_fences(spark, sf_dir)
    bcast = _flow_fences_broadcastable(sf_dir)
    split_us = F.unix_micros(F.lit(SPLIT_AT).cast("timestamp"))
    old = legs.filter(F.col("us") < split_us)
    new = legs.filter(F.col("us") >= split_us)
    tail = legs.filter(F.col("us") >= split_us - F.lit(FLOW_WINDOW_US))
    prior = _flow_pair_grain(_flow_paths(old, old, in_busy, out_busy, bcast))
    delta = _flow_pair_grain(_flow_paths(tail, new, in_busy, out_busy, bcast))
    merged = (
        prior.unionByName(delta)
        .groupBy("mid", "a", "c")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("n_fast").cast("bigint").alias("n_fast"),
        )
    )
    return _flow_rollup(merged)


from .risk_features import WALLET_FLOW_MOTIFS_ORACLE as WALLET_FLOW_MOTIFS_INCR_ORACLE  # noqa: E402


def wallet_rolling_distinct_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental 7-day rolling distinct — the band-limited rescan at
    the DAY grain: an anchor before the split day is computed entirely
    from pre-split days (its window ends at the anchor), so prior
    results for anchors < split_day are final forever; every anchor at
    or after the split draws only on days ≥ split_day − 6 — the
    trailing window plus the new batch — so the refresh re-distincts
    7 days of the day-grain table, never history. Held to the FULL-
    recompute oracle (J15/W11 discipline).
    """
    from .risk_features import wallet_rolling_distinct_7d  # noqa: F401

    wt = wallet_transactions(spark, sf_dir)
    split_day = F.lit(SPLIT_AT).cast("date")
    dg = (
        wt.filter(
            (F.col("address_role") == "sender")
            & F.col("interacted_with").isNotNull()
        )
        .select(
            "wallet_address",
            F.col("interacted_with").alias("counterparty"),
            F.to_date("ts").alias("day"),
        )
        .distinct()
    )

    def rolled(day_grain, anchor_pred):
        active = day_grain.select("wallet_address", "day").distinct()
        pairs = (
            day_grain.withColumn(
                "win_day",
                F.explode(
                    F.expr("sequence(day, date_add(day, 6), interval 1 day)")
                ),
            )
            .select("wallet_address", "counterparty", "win_day")
            .distinct()
        )
        return (
            pairs.join(
                active.withColumnRenamed("day", "win_day"),
                ["wallet_address", "win_day"],
            )
            .filter(anchor_pred(F.col("win_day")))
            .groupBy(
                "wallet_address",
                F.date_format("win_day", "yyyy-MM-dd").alias("day"),
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_distinct_7d"))
        )

    # prior state: anchors strictly before the split day (final
    # forever — their windows never reach the split), read from the
    # SAME fingerprint-fenced generation the warm tier commits
    # (``_ensure_roll7_state``; the lpa state-sharing shape, VERDICT
    # r13 #3). A COLD store builds them in-query from old days only
    # through this one entry point (pinned by
    # ``test_roll7_incremental_cold_store_builds_and_equals``).
    from ..sources.writers import read_store

    prior = read_store(spark, _ensure_roll7_state(spark, sf_dir))
    # refresh: anchors ≥ split day draw only on the trailing window —
    # day ≥ split_day − 6 (complete by the 7-day band); anchor-activity
    # for these anchors also lives in the same slice (an active anchor
    # ≥ split_day IS a day ≥ split_day).
    refreshed = rolled(
        dg.filter(F.col("day") >= F.date_sub(split_day, 6)),
        lambda w: w >= split_day,
    )
    return prior.unionByName(refreshed)


from .risk_features import (  # noqa: E402
    WALLET_ROLLING_DISTINCT_ORACLE as WALLET_ROLLING_DISTINCT_INCR_ORACLE,
)


def _lpa_legs(wt: DataFrame) -> DataFrame:
    """Undirected edge legs of the counterparty graph: sender rows →
    (a, b) = (min, max) of the two endpoints, self-loops dropped. The
    one leg definition every LPA family member derives from."""
    sender = (F.col("address_role") == "sender") & F.col("interacted_with").isNotNull()
    legs = wt.filter(sender).select(
        F.col("wallet_address").cast("bigint").alias("u"),
        F.col("interacted_with").cast("bigint").alias("v"),
        "ts",
    )
    return legs.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b"), "ts"
    ).filter(F.col("a") != F.col("b"))


def _lpa_edge_tables(spark: SparkSession, sf_dir: str):
    """Edge machinery of the LPA state build (``_ensure_lpa_state``):
    returns ``(pairs, sym_all)`` — the per-(a,b) MIN(ts) undirected
    edge table (its first_seen classifies an edge as old/new against
    ``LPA_SPLIT_AT``; a re-observed old edge never dirties the
    frontier) and its persisted symmetric closure carrying first_seen,
    so the old graph is a cheap filter, not a second |2E|
    materialization."""

    wt = wallet_transactions(spark, sf_dir)
    pairs = persist_tracked(
        _lpa_legs(wt).groupBy("a", "b").agg(F.min("ts").alias("first_seen"))
    )
    sym_all = persist_tracked(
        pairs.select(
            F.col("a").alias("s"), F.col("b").alias("d"), "first_seen"
        ).unionByName(
            pairs.select(
                F.col("b").alias("s"), F.col("a").alias("d"), "first_seen"
            )
        )
    )
    return pairs, sym_all


def _lpa_dirty_refresh(
    sym_full: DataFrame,
    new_edges: DataFrame,
    prior: list[DataFrame],
    rounds: int,
) -> DataFrame:
    """The dirty-frontier branch of ``_lpa_refresh_from_store``:
    recompute round r only for the dirty set (new-edge endpoints grown one
    edge-hop per round), resolving neighbor labels through
    recomputed ∪ still-valid ``prior`` rounds, and stitch the final
    round against the prior partition. ``prior[r-1]`` is the OLD
    graph's round-r label table. Returns the full graph's (node, lbl)
    assignment after ``rounds`` synchronous rounds — provably equal to
    the full recompute (see ``wallet_label_propagation_incremental``'s
    exactness argument)."""
    # Lineage is cut with ``localCheckpoint`` per round (the iterative
    # discipline of operators/dedup.py:238 and the k-core prune):
    # unlike ``_lpa_rounds``' single linear chain, every round here
    # references the previous round's frames SEVERAL times (dirty in
    # edges_r and the anti-joins, edges_r in needed and the growth,
    # recomputed in the lookup), so an uncut tree grows EXPONENTIALLY —
    # measured at 100×: the round-3 plan string held 22k
    # InMemoryTableScans / 44k exchanges, and codegen+task
    # serialization of that tree, not data, was 90% of the refresh's
    # wall time (31 s for a 1.5k-row round).
    dirty = checkpoint_tracked(
        new_edges.select(F.col("a").alias("node"))
        .unionByName(new_edges.select(F.col("b").alias("node")))
        .distinct()
    )
    # mode(lbl, deterministic=true) = most frequent label, ties to the
    # LOWEST — the LPA pick as ONE hash aggregate (same rewrite as
    # ``_lpa_rounds``; the oracle's QUALIFY row_number pick).
    recomputed = None
    prev_dirty = None
    for r in range(1, rounds + 1):
        # checkpointed: consumed by the counts AND by the next frontier
        # expansion (neighbors of the dirty set ARE this join's d side)
        edges_r = checkpoint_tracked(
            sym_full.join(dirty.withColumnRenamed("node", "s"), "s", "left_semi")
        )
        if r == 1:
            # round-0 label of any node is the node id — no lookup table
            picked = edges_r.groupBy("s").agg(
                F.mode("d", True).alias("lbl")
            )
        else:
            # Only labels of nodes actually REFERENCED as a neighbor of
            # the dirty set are ever consumed — semi-join the |V|-scale
            # prior round down to that (dirty-neighborhood-sized) set
            # BEFORE the label join. The prior table is then a pruned
            # scan feeding a small build side, not a full-|V| shuffle
            # per round (the r12 local-delta probe read warm/full 1.28
            # at 100× BECAUSE of that shuffle; the refresh's work must
            # track the delta's neighborhood, not the graph).
            needed = edges_r.select(F.col("d").alias("node")).distinct()
            still_valid = (
                prior[r - 2]
                .join(needed, "node", "left_semi")
                .join(prev_dirty, "node", "left_anti")
            )
            lookup = recomputed.unionByName(still_valid)
            picked = (
                edges_r.join(lookup, edges_r["d"] == lookup["node"])
                .groupBy("s")
                .agg(F.mode("lbl", True).alias("lbl"))
            )
        recomputed = checkpoint_tracked(picked.select(F.col("s").alias("node"), "lbl"))
        prev_dirty = dirty
        if r < rounds:
            dirty = checkpoint_tracked(
                dirty.unionByName(edges_r.select(F.col("d").alias("node"))).distinct()
            )

    return recomputed.unionByName(
        prior[rounds - 1].join(prev_dirty, "node", "left_anti")
    )


def _lpa_sized_partition(final: DataFrame) -> DataFrame:
    """(node, lbl) → the LPA query contract: wallet_address, community,
    community_size — sizes via agg + join, never a full-partition
    window (a giant community would buffer whole in one task)."""
    sizes = final.groupBy("lbl").agg(
        F.count(F.lit(1)).cast("bigint").alias("community_size")
    )
    return final.join(sizes, "lbl").select(
        F.col("node").cast("string").alias("wallet_address"),
        F.col("lbl").cast("bigint").alias("community"),
        "community_size",
    )


def wallet_label_propagation_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental label propagation — the warm-start that completes
    the incremental graph tier (VERDICT r10 #8): LPA re-run ONLY inside
    the new edges' 3-hop neighborhood, stitched against the prior run's
    stored per-round labels, held to the FULL-recompute oracle (same
    SQL as ``wallet_label_propagation``).

    Why exactness holds: synchronous LPA's round-r label at node n
    depends only on n's r-hop neighborhood (round-0 labels are node
    ids). With dist(n) = hops from n to the nearest NEW-edge endpoint,
    the full-graph round-r label can differ from the prior (old-graph)
    run's only when dist(n) ≤ r−1 — new edges cannot influence a node
    before the propagation front reaches it. So the refresh recomputes
    round r for the dirty set D_{r-1} = {dist ≤ r−1} (grown by one
    edge-hop per round), resolving neighbor labels through
    recomputed ∪ (prior round-(r−1) labels for nodes outside D_{r-2})
    — every lookup is provably still-valid prior state or freshly
    recomputed. Final labels = recomputed round-R for D_{R-1}, prior
    round-R elsewhere. New nodes are dist-0, so they never need a
    prior row. Tie-breaks are the same (count DESC, label ASC)
    expressions, so equality is structural, not approximate.

    100 TB shape: per-round cost is |edges incident to the dirty set|
    (semi-join pushes the frontier filter into the edge scan), not
    |E_old| — a nightly batch whose new edges touch a small
    neighborhood re-propagates only that neighborhood. The prior
    per-round label tables are the stored state a deployment
    maintains — read from the SAME fingerprint-fenced generation the
    warm tier commits (``_ensure_lpa_state``; VERDICT r13 #3: the
    previous always-in-query rebuild made this the suite's worst bench
    number at 6.6× the full recompute). On a COLD store the build
    closure still derives every round in-query from the pre-split
    graph (``_lpa_rounds(sym_old)``), so a fresh environment — the
    driver's gate, a new box — proves incremental ≡ full end-to-end
    through this one entry point; a warm store makes the timed face
    the refresh, the deployed nightly cost. An edge is old iff first
    seen before the split, so a re-observed old edge never dirties
    the frontier. The split is the LATE one (``LPA_SPLIT_AT``, the
    last ~10% of the stream): the nightly-refresh shape this variant
    exists for, unlike the mid-stream ``SPLIT_AT`` the state-merge
    members use to stress their stitch arithmetic.

    r15 band-limit (VERDICT r14 #4): edge classification and the full
    symmetric closure no longer scan pre-split history in-query — the
    state generation already carries the old edge set (round 0) and
    closure (round -1), so "genuinely new" is a delta-only scan
    anti-joined against the stored edges (an edge first seen before
    the split IS a member of the pre-split-built edge set — the same
    predicate as the previous per-(a,b) MIN(first_seen), computed
    against stored membership instead of a full-history groupBy), and
    ``sym_full`` is the stored closure plus the new edges' legs. The
    refresh itself is ``_lpa_refresh_from_store``, adaptive
    frontier-vs-restart switch included (always-frontier on sf0.1's
    ~10% delta measured 9.9 s vs the switch's 3.3), called once per
    query, so the isolated bench times the real per-call refresh. The
    full-history derivation still lives in the state BUILD closure,
    which a cold store runs inside this query — the driver's gate on
    a fresh box therefore still proves incremental ≡ full end-to-end
    through one entry point, while a warm store's refresh does
    delta-proportional work (the honest 100× probe previously read
    parity-with-full because of the in-query classification scan)."""
    _, _, final = _lpa_refresh_from_store(spark, sf_dir)
    return _lpa_sized_partition(final)


# incremental must equal the full LPA partition → same oracle
from .risk_features import (  # noqa: E402
    WALLET_LABEL_PROPAGATION_ORACLE as WALLET_LPA_INCR_ORACLE,
)


# ---------------------------------------------------------------------------
# Stored-state warm tier (VERDICT r11 #1): the deployed incremental
# pattern. Every other incremental-tier member rebuilds its prior
# state inside the query so the driver's gate proves incremental ≡
# full from one entry point — the right harness shape, but it never
# exercises the read-back path the reference actually runs
# (features_pipeline.py:108-126 reads prior Iceberg state;
# ethereum_wallet_features.sql:481-541 seeds running sums from it).
# The warm tier persists each family's prior state into the
# generation store (commit_generation, tagged with an input
# fingerprint so stale state can never be read) and runs ONLY the
# delta refresh against the stored generation.

# v2: the state generation carries the old edge set (round 0) beside
# the label rounds — fingerprint-fenced, so v1 states rebuild
# (v5: the stored edge COUNT rides in the tag metadata so the warm
# refresh's adaptive switch never scans the store just to count it)
_LPA_STATE_VERSION = "v6"
# Dirty-frontier refresh only below this |new|/|old| edge ratio; above
# it the refresh restarts the rounds from the stored closure (see
# the adaptive switch in _lpa_refresh_from_store). 5% ≈ where a 3-hop grown
# frontier on a well-mixed graph stops being a strict subset of it.
_LPA_DIRTY_MAX_FRACTION = 0.05


def _state_fingerprint(sf_dir: str, *params: object, table: str = "events") -> str:
    """Content fingerprint of everything a stored warm state depends
    on: the source ``table``'s files (path/size/mtime_ns —
    metadata-only, no data pass) plus caller-supplied recipe params
    (split, rounds, format version). A mismatched tag forces a
    rebuild; matching tags make the read-back provably consistent
    with this input."""
    import hashlib

    src = os.path.join(sf_dir, f"{table}.parquet")
    h = hashlib.sha256()
    h.update(("|".join(str(p) for p in params) + "|").encode())
    if os.path.isdir(src):
        names = sorted(
            os.path.join(dp, fn)
            for dp, _, fns in os.walk(src)
            for fn in fns
            if not fn.startswith(("_", "."))
        )
    else:
        names = [src]
    for n in names:
        st = os.stat(n)
        h.update(
            f"{os.path.relpath(n, sf_dir)}|{st.st_size}|{st.st_mtime_ns}\n".encode()
        )
    return h.hexdigest()


def _lpa_state_fingerprint(sf_dir: str) -> str:
    from .risk_features import LPA_ROUNDS

    return _state_fingerprint(sf_dir, _LPA_STATE_VERSION, LPA_SPLIT_AT, LPA_ROUNDS)


def _state_store(sf_dir: str, name: str) -> str:
    """Per-(input, state-name) store location for a warm state table.
    Overridable via SPARK_GRAFT_WARM_STATE_DIR (tests point it at a
    tmp dir); keyed by the absolute input path so sf0.01 and sf0.1
    never collide."""
    import hashlib
    import tempfile

    root = os.environ.get("SPARK_GRAFT_WARM_STATE_DIR") or os.path.join(
        tempfile.gettempdir(), "wrf_warm_state"
    )
    key = hashlib.sha256(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    return os.path.join(root, f"{name}-{key}")


def _lpa_state_store(sf_dir: str) -> str:
    return _state_store(sf_dir, "lpa_rounds")


def _warm_tag_fp(tag: str | None) -> str | None:
    """Fingerprint line of a warm-state tag (the tag's first line —
    the optional second line is the build's JSON metadata)."""
    return None if tag is None else tag.split("\n", 1)[0]


def warm_state_meta(store: str) -> dict:
    """Build-time metadata recorded with a warm state's commit tag
    (second tag line, JSON) — scalars the refresh would otherwise pay
    a table scan to recover (e.g. the stored edge count the adaptive
    LPA switch compares the delta against). Commits atomically WITH
    the snapshot, so it can never describe a different generation."""
    import json

    from ..sources.writers import generation_tag

    tag = generation_tag(store)
    if tag is None or "\n" not in tag:
        return {}
    try:
        return json.loads(tag.split("\n", 1)[1])
    except ValueError:
        # A malformed/foreign second tag line degrades to the safe
        # restart branch (caller treats missing metadata as n_old=0)
        # instead of crashing the warm refresh (ADVICE r13).
        return {}


def _ensure_warm_state(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    fp: str,
    build,
    partition_by: "list[str] | None" = None,
):
    """Idempotent fingerprint-fenced state build shared by the warm
    tier: commit ``build()`` as ONE generation tagged ``fp`` unless a
    generation with that exact fingerprint is already live. ``build``
    may return either a DataFrame or ``(DataFrame, meta_dict)`` — the
    metadata rides as the tag's second line (see ``warm_state_meta``).
    ``partition_by`` hive-partitions the snapshot (only the LPA state
    uses it, by ``round``) so every round-filtered read of the state
    prunes FILES instead of re-scanning the whole generation per
    round.
    A racing builder losing the commit CAS is fine — the winner
    committed the same fingerprint, so the loser just reads. Returns
    the store path.

    Recipe fence (ADVICE r14): the fingerprint callers pass covers the
    INPUT (source files + version/params), but an edit to the build
    closure's logic without a version bump would otherwise silently
    serve stale-FORMAT state to both tiers. The closure's own source
    text is hashed into the effective tag here, so any change to the
    build recipe forces a rebuild mechanically — the _STATE_VERSION
    constants remain for deliberate cross-file recipe changes (a helper
    the closure calls changing shape)."""
    import hashlib
    import inspect
    import json

    from ..sources.writers import (
        ConcurrentCommitError,
        commit_generation,
        generation_tag,
        store_committed,
    )

    try:
        recipe = inspect.getsource(build)
    except (OSError, TypeError):  # source unavailable (REPL-defined)
        recipe = ""
    if recipe:
        fp = f"{fp}-{hashlib.sha256(recipe.encode()).hexdigest()[:12]}"

    store = _state_store(sf_dir, name)
    if store_committed(store) and _warm_tag_fp(generation_tag(store)) == fp:
        return store
    built = build()
    df, meta = built if isinstance(built, tuple) else (built, None)
    tag = fp if not meta else fp + "\n" + json.dumps(meta, sort_keys=True)
    try:
        commit_generation(df, store, tag=tag, partition_by=partition_by)
    except ConcurrentCommitError:
        # Rival writer won; accept its state iff it matches. The
        # rival's generation-dir rename lands BEFORE its pointer flip,
        # so a loser can observe the store in the instant the winner's
        # snapshot exists but _LATEST does not yet — poll briefly for
        # the flip (a sub-millisecond file CAS away) instead of
        # failing the warm query on that window (the bench's
        # concurrent warm pool hit exactly this: two queries ensuring
        # one store). A rival that committed a DIFFERENT fingerprint,
        # or crashed between rename and flip, still raises after the
        # bounded wait.
        import time

        for _ in range(100):
            if store_committed(store) and _warm_tag_fp(generation_tag(store)) == fp:
                return store
            time.sleep(0.05)
        raise
    return store


def _ensure_lpa_state(spark: SparkSession, sf_dir: str) -> str:
    """Idempotent state build: commit the OLD graph — its distinct
    edge set AND its per-round label tables — as ONE generation
    (columns round/node/lbl; round 0 rows are the edges, (node, lbl)
    = (a, b)) tagged with the input fingerprint, unless a generation
    with that exact tag is already live. One table keeps the edge set
    and the label rounds atomically consistent (two commits could
    tear); repartitioning on ``round`` gives each round its own files,
    so the per-round reads prune at the scan. Amortized: the nightly
    deployment pays this once per prior snapshot; every refresh after
    it is read-only. A racing builder losing the commit CAS is fine —
    the winner committed the same fingerprint, so the loser just
    reads."""
    from .risk_features import LPA_ROUNDS, _lpa_rounds

    def build():
        split = F.lit(LPA_SPLIT_AT).cast("timestamp")
        pairs, sym_all = _lpa_edge_tables(spark, sf_dir)
        old_edges = pairs.filter(F.col("first_seen") < split).select("a", "b")
        sym_old = sym_all.filter(F.col("first_seen") < split).select("s", "d")
        # |E_old| rides in the tag metadata: the refresh's adaptive
        # frontier-vs-restart switch needs it every run, and a stored
        # scalar beats a per-refresh |E|-scan count job
        n_old = old_edges.count()

        # round -1 = the SYMMETRIC closure (v3): the refresh's per-round
        # incident-edge probe streams a pruned scan of these files
        # through a broadcast semi join — rebuilding/caching the 2|E|
        # closure per refresh was an |E|-scale cost the warm tier
        # exists to avoid (the r12 local-delta probe read warm/full
        # 1.3 at 100x with the rebuild in place).
        #
        # Layout (v4): each round-frame repartitions INDEPENDENTLY
        # before the union, so every round spans n pure-round files —
        # round-pruned reads stay n-way parallel. The previous global
        # repartition("round") hashed each round into ONE file, so
        # every prior-round access became a single-task |V|-row scan
        # (measured: the whole refresh serialized behind it at 100×).
        n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        frames = [
            sym_old.select(
                F.lit(-1).cast("int").alias("round"),
                F.col("s").alias("node"),
                F.col("d").alias("lbl"),
            ),
            old_edges.select(
                F.lit(0).cast("int").alias("round"),
                F.col("a").alias("node"),
                F.col("b").alias("lbl"),
            ),
        ] + [
            tbl.select(F.lit(i).cast("int").alias("round"), "node", "lbl")
            for i, tbl in enumerate(_lpa_rounds(sym_old, LPA_ROUNDS), start=1)
        ]
        state = frames[0].repartition(n)
        for f in frames[1:]:
            state = state.unionByName(f.repartition(n))
        return state, {"n_old": n_old}

    return _ensure_warm_state(
        spark,
        sf_dir,
        "lpa_rounds",
        _lpa_state_fingerprint(sf_dir),
        build,
        # hive-partition by round: every per-round read (the refresh
        # touches rounds -1..LPA_ROUNDS individually) prunes to its own
        # files at planning time; the independent per-frame repartition
        # keeps n files inside each round directory, so pruned reads
        # stay n-way parallel
        partition_by=["round"],
    )


def _lpa_refresh_from_store(spark: SparkSession, sf_dir: str):
    """The stored-state LPA refresh: (und, sym_full, final-labels)
    with the prior state READ BACK from the generation store, so the
    bench's isolated tier times the real refresh.
    Its inputs are the STORED old edge set + symmetric closure +
    label rounds and a ts ≥ split scan of the events source (the
    predicate reaches the parquet scan). Genuinely new edges = delta
    pairs classified against the stored edge set via a broadcast
    semi → anti pair (the |E_old| side only streams). PLANS.md "Warm
    tier extended" records the measured iterations of this path. It
    takes the adaptive frontier-vs-restart switch: a delta that
    dirties most of the graph restarts the rounds from the stored
    closure instead of paying the frontier machinery's per-round
    semi/anti tax (measured 5× at sf0.1's ~10% delta)."""
    from ..sources.writers import read_store
    from .risk_features import LPA_ROUNDS

    store = _ensure_lpa_state(spark, sf_dir)
    stored = read_store(spark, store)
    # LAZY pruned scans of the stored generation — the refresh must
    # never cache an |E|- or |V|-scale frame of its own: every
    # big-side access below streams the round-pruned parquet files
    # through a broadcast hash (the delta side is the build side),
    # so the warm path's only |E|-scale cost is scan IO
    old_edges = stored.filter(F.col("round") == 0).select(
        F.col("node").alias("a"), F.col("lbl").alias("b")
    )
    sym_old = stored.filter(F.col("round") == -1).select(
        F.col("node").alias("s"), F.col("lbl").alias("d")
    )
    # delta-only source scan: ``since`` filters the events scan itself
    delta_pairs = persist_tracked(
        _lpa_legs(wallet_transactions(spark, sf_dir, since=LPA_SPLIT_AT))
        .select("a", "b")
        .distinct()
    )
    # new = delta − stored, as a broadcast semi → anti pair: the
    # stored |E_old| side only ever STREAMS (left of a semi join whose
    # build side is the delta); a direct delta-anti-stored join would
    # hash-shuffle the full stored edge set (anti joins build on the
    # right). seen_old ≤ |delta|, so both joins keep delta-scale
    # build sides; at a scale where the nightly delta itself outgrows
    # broadcast, AQE falls back to the shuffle — the right trade then.
    # LAZY: nothing below forces the classification on its own job —
    # it materializes inside whichever frame consumes it first.
    seen_old = old_edges.join(delta_pairs, ["a", "b"], "left_semi")
    new_edges = persist_tracked(
        delta_pairs.join(seen_old, ["a", "b"], "left_anti")
    )

    und = old_edges.unionByName(new_edges)  # disjoint by construction
    sym_full = sym_old.unionByName(
        new_edges.select(
            F.col("a").alias("s"), F.col("b").alias("d")
        ).unionByName(
            new_edges.select(F.col("b").alias("s"), F.col("a").alias("d"))
        )
    )
    # Adaptive maintenance switch (the IVM cost rule): the dirty-
    # frontier refresh wins only when the delta's grown neighborhood
    # stays small — on a delta that dirties most of the graph its
    # per-round semi/anti machinery costs a MULTIPLE of plain rounds
    # (measured 5× at sf0.1's random 10% delta). Above the threshold,
    # restart the rounds from the STORED symmetric closure instead —
    # still warm (no pre-split events re-scan, no explosion, no edge
    # groupBy; the store already paid those), just not frontier-
    # pruned. Both branches are held to the same FULL-recompute
    # oracle; the probe's local-delta mode exercises the frontier
    # branch, the bench-SF random delta the restart branch.
    #
    # Decision inputs cost ~nothing: |E_old| is read from the state
    # tag's metadata (committed with the snapshot — never a scan) and
    # the delta PAIR count stands in for the exact new-edge count.
    # n_delta only OVERcounts (re-observed old edges), so the frontier
    # branch is entered only when even the overcount is small — the
    # branch's own validity condition (n_new ≤ n_delta ≤ threshold);
    # an overcount past the threshold just takes the restart branch,
    # which is correct for any delta.
    n_old = int(warm_state_meta(store).get("n_old", 0))
    n_delta = delta_pairs.count()
    if n_delta > _LPA_DIRTY_MAX_FRACTION * max(n_old, 1):
        from .risk_features import _lpa_rounds

        # consumed by every round + modularity; persisted partitioned
        # on d so each round's join reads the cache's layout instead of
        # re-exchanging |2E| rows (r16 — the _lpa_graph rule)
        sym_full = persist_tracked(sym_full.repartition("d"))
        final = persist_tracked(
            _lpa_rounds(sym_full, LPA_ROUNDS, persist_rounds=False)[-1]
        )
    else:
        # the stored per-round label tables are only consumed by the
        # frontier stitch — constructed here so the restart branch
        # never pays their plan-build cost
        prior = [
            stored.filter(F.col("round") == r).select("node", "lbl")
            for r in range(1, LPA_ROUNDS + 1)
        ]
        final = persist_tracked(
            _lpa_dirty_refresh(sym_full, new_edges, prior, LPA_ROUNDS)
        )
    return (und, sym_full, final)


def wallet_community_modularity_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental modularity (VERDICT r11 #2): Newman's per-community
    Q over the WARM incremental LPA partition — only the two
    |E|-linear evaluation joins (intra-community edge counts, degree
    sums) recompute from scratch; the labels come from
    ``_lpa_refresh_from_store`` (stored prior rounds + dirty-frontier
    rounds), run once per query. Same
    exact-integer numerics as ``wallet_community_modularity`` (e_c,
    d_c, m exact BIGINTs; two correctly-rounded double divisions in
    identical order in both engines; no global float SUM emitted) and
    the same oracle — incremental labels are provably equal to the
    full recompute, so the evaluation must be too."""
    und, sym_full, labels = _lpa_refresh_from_store(spark, sf_dir)
    m = und.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    la = labels.select(F.col("node").alias("a"), F.col("lbl").alias("ca"))
    lb = labels.select(F.col("node").alias("b"), F.col("lbl").alias("cb"))
    e_in = (
        und.join(la, "a")
        .join(lb, "b")
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("lbl"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_in"))
    )
    deg = sym_full.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("dg"))
    d_c = (
        labels.join(deg, labels["node"] == deg["s"])
        .groupBy("lbl")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("dg").cast("bigint").alias("d_tot"),
        )
    )
    b = F.col("d_tot").cast("double") / (
        F.lit(2).cast("bigint") * F.col("m")
    ).cast("double")
    return (
        d_c.join(e_in, "lbl", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.col("lbl").alias("community"),
            "n_nodes",
            F.coalesce("e_in", F.lit(0).cast("bigint")).alias("e_in"),
            "d_tot",
            F.round(
                F.coalesce("e_in", F.lit(0).cast("bigint")).cast("double")
                / F.col("m").cast("double")
                - b * b,
                6,
            ).alias("q_contribution"),
        )
    )


from .risk_features import (  # noqa: E402
    WALLET_COMMUNITY_MODULARITY_ORACLE as WALLET_MODULARITY_INCR_ORACLE,
)


_CONTRACT_STATE_VERSION = "v1"
_AUC_STATE_VERSION = "v1"


# The scaled warm face's split: the last ~7 h of the 30-day stream
# (~1% of events) — the 100×-local-delta refresh a deployed nightly
# actually runs, vs SPLIT_AT's mid-stream ~47% delta that exists to
# stress the stitch arithmetic (at that delta the full side's single
# scan+agg reads as parity at sf0.1 — VERDICT r14 #2).
SCALED_SPLIT_AT = "2024-01-30 17:00:00"


def _ensure_contract_state(
    spark: SparkSession, sf_dir: str, split_at: str = SPLIT_AT
) -> str:
    """Persist the pre-``split_at`` per-(wallet, contract) snapshot —
    the exact table the reference keeps in Iceberg and seeds the next
    run's running balance from (ethereum_wallet_features.sql:481-541) —
    as one fingerprint-tagged generation. Amortized: built once per
    prior snapshot, read-only afterwards."""

    def build():
        split = F.lit(split_at).cast("timestamp")
        wt = wallet_transactions(spark, sf_dir)
        return contract_state_from(wt.filter(F.col("ts") < split))

    name = "contract_state" if split_at == SPLIT_AT else "contract_state_scaled"
    return _ensure_warm_state(
        spark,
        sf_dir,
        name,
        _state_fingerprint(sf_dir, _CONTRACT_STATE_VERSION, split_at),
        build,
    )


def wallet_coin_balances_warm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship incremental stitch with the prior snapshot READ
    BACK from the generation store (the r12 warm tier, extended from
    LPA to the reference's actual feature table): prior =
    ``read_store`` of the committed contract-state generation; the
    query's own work is the delta scan (``ts >= SPLIT_AT`` reaches the
    parquet scan — on a date-partitioned 100 TB events table only the
    delta's files are read) plus the |delta|+|state| stitch of
    ``incremental_contract_state``. Pre-split history is NEVER
    re-scanned — the cost the in-query ``wallet_coin_balances_
    incremental`` still pays for harness reasons. Held to the same
    FULL-recompute oracle."""
    from ..sources.writers import read_store

    prior = read_store(spark, _ensure_contract_state(spark, sf_dir))
    return _upsert_projection(prior, wallet_transactions(spark, sf_dir, since=SPLIT_AT))


def _upsert_projection(prior: DataFrame, delta: DataFrame) -> DataFrame:
    """The full contract state after the delta (prior upserted with the
    delta's MERGE batch), projected to the coin-balances contract."""
    key = ["wallet_address", "contract_address"]
    merged = upsert_rows(prior, incremental_contract_state(prior, delta), key)
    return merged.select(
        "wallet_address",
        "contract_address",
        F.col("final_balance").cast("double").alias("final_balance"),
        F.col("incoming_value").cast("double").alias("incoming_value"),
        F.col("outgoing_value").cast("double").alias("outgoing_value"),
        "contract_tx",
        F.unix_micros("first_ts").alias("first_ts_us"),
        F.unix_micros("last_ts").alias("last_ts_us"),
    )


def wallet_coin_balances_warm_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``wallet_coin_balances_warm`` at the REALISTIC delta
    (``SCALED_SPLIT_AT``, the stream's last ~1%): the 100×-local-delta
    face of the coin-balances warm tier, paired against the full
    recompute in bench.py's paired_warm_scaled tier (VERDICT r14 #2)
    so the stored-state win is on the record at a deployed nightly's
    delta size. Same FULL-recompute oracle — the stitch is exact at
    any split."""
    from ..sources.writers import read_store

    prior = read_store(
        spark, _ensure_contract_state(spark, sf_dir, split_at=SCALED_SPLIT_AT)
    )
    return _upsert_projection(
        prior, wallet_transactions(spark, sf_dir, since=SCALED_SPLIT_AT)
    )


WALLET_COIN_BALANCES_WARM_ORACLE = WALLET_COIN_BALANCES_ORACLE
WALLET_COIN_BALANCES_WARM_SCALED_ORACLE = WALLET_COIN_BALANCES_ORACLE


def _ensure_auc_state(
    spark: SparkSession, sf_dir: str, split_at: str = SPLIT_AT
) -> str:
    """Persist the pre-``split_at`` per-wallet AUC snapshot (the
    time-integral stitch state of
    ethereum_wallet_features_with_auc.sql:627-637) as one
    fingerprint-tagged generation."""

    def build():
        split = F.lit(split_at).cast("timestamp")
        wt = wallet_transactions(spark, sf_dir)
        return wallet_auc_state(wt.filter(F.col("ts") < split))

    name = "auc_state" if split_at == SPLIT_AT else "auc_state_scaled"
    return _ensure_warm_state(
        spark,
        sf_dir,
        name,
        _state_fingerprint(sf_dir, _AUC_STATE_VERSION, split_at),
        build,
    )


def wallet_auc_warm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W11's boundary stitch with the prior AUC snapshot READ BACK
    from the generation store: the bridge term
    ``prior_balance × (first_ts − prior_last_ts)`` lands against
    STORED state, the delta scan never touches pre-split files, and
    the exact-decimal result is held to the FULL-recompute oracle —
    incremental(stored(b1)) + b2 ≡ full(b1 ∪ b2) across a real
    persist/read-back boundary (parquet decimals and micros
    timestamps round-trip exactly; the test would catch any loss)."""
    from ..sources.writers import read_store

    prior = read_store(spark, _ensure_auc_state(spark, sf_dir))
    return incremental_auc_rollup(
        prior, wallet_transactions(spark, sf_dir, since=SPLIT_AT)
    )


def wallet_auc_warm_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``wallet_auc_warm`` at the REALISTIC delta (``SCALED_SPLIT_AT``,
    the stream's last ~1%): the r15 lazy-leg rewrite made the FULL
    rollup fast enough that at the harness's mid-stream split the
    stored-state read no longer wins at sf0.1 (the coin-balances
    story, one round later) — this face pairs the refresh against the
    full recompute at a deployed nightly's delta size in bench.py's
    paired_warm_scaled tier. Same FULL-recompute oracle — the bridge
    stitch is exact at any split."""
    from ..sources.writers import read_store

    prior = read_store(
        spark, _ensure_auc_state(spark, sf_dir, split_at=SCALED_SPLIT_AT)
    )
    return incremental_auc_rollup(
        prior, wallet_transactions(spark, sf_dir, since=SCALED_SPLIT_AT)
    )


WALLET_AUC_WARM_ORACLE = WALLET_AUC_ROLLUP_ORACLE
WALLET_AUC_WARM_SCALED_ORACLE = WALLET_AUC_ROLLUP_ORACLE


_CC_STATE_VERSION = "v1"


def _ensure_cc_state(spark: SparkSession, sf_dir: str) -> str:
    """Persist the pre-``SPLIT_AT`` component ASSIGNMENT
    (wallet_address, cluster_id) as one fingerprint-tagged generation.
    The assignment is everything a CC merge ever needs: its star edges
    (node → root, diameter ≤ 2) carry the old graph's full
    connectivity, so the refresh never stores or re-reads the old EDGE
    set — |V| state for an |E| graph."""
    from ..operators.dedup import connected_components

    def build():
        wt = wallet_transactions(spark, sf_dir)
        split = F.lit(SPLIT_AT).cast("timestamp")
        sender = (
            F.col("address_role") == "sender"
        ) & F.col("interacted_with").isNotNull()
        old_edges = persist_tracked(
            wt.filter(sender & (F.col("ts") < split))
            .select(
                F.col("wallet_address").alias("w_a"),
                F.col("interacted_with").alias("w_b"),
            )
            .distinct()
        )
        old_nodes = (
            old_edges.select(F.col("w_a").alias("wallet_address"))
            .union(old_edges.select(F.col("w_b").alias("wallet_address")))
            .distinct()
        )
        return connected_components(
            old_edges, old_nodes, "wallet_address", a_col="w_a", b_col="w_b"
        )

    return _ensure_warm_state(
        spark,
        sf_dir,
        "cc_assignment",
        _state_fingerprint(sf_dir, _CC_STATE_VERSION, SPLIT_AT),
        build,
    )


def wallet_components_warm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``wallet_components_incremental`` with the prior assignment READ
    BACK from the generation store: the merge round runs
    pointer-doubling CC over stored-star ∪ delta edges only —
    |V_old| + |E_new| rows, no pre-split events re-scan (the delta leg
    build pushes ``ts >= SPLIT_AT`` to the events scan), no prior CC
    re-run. Held to the same FULL-recompute oracle."""
    from ..operators.dedup import connected_components
    from ..sources.writers import read_store

    prior = read_store(spark, _ensure_cc_state(spark, sf_dir))
    star = prior.filter(F.col("wallet_address") != F.col("cluster_id")).select(
        F.col("wallet_address").alias("w_a"), F.col("cluster_id").alias("w_b")
    )
    sender = (
        F.col("address_role") == "sender"
    ) & F.col("interacted_with").isNotNull()
    new_edges = (
        wallet_transactions(spark, sf_dir, since=SPLIT_AT)
        .filter(sender)
        .select(
            F.col("wallet_address").alias("w_a"),
            F.col("interacted_with").alias("w_b"),
        )
        .distinct()
    )
    combined = persist_tracked(star.unionByName(new_edges).distinct())
    nodes = (
        combined.select(F.col("w_a").alias("wallet_address"))
        .union(combined.select(F.col("w_b").alias("wallet_address")))
        .union(prior.select("wallet_address"))
        .distinct()
    )
    assigned = connected_components(
        combined, nodes, "wallet_address", a_col="w_a", b_col="w_b"
    ).withColumnRenamed("cluster_id", "component_id")
    sizes = assigned.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("component_size")
    )
    return assigned.join(F.broadcast(sizes), "component_id").select(
        "wallet_address", "component_id", "component_size"
    )


from .risk_features import (  # noqa: E402
    WALLET_COMPONENTS_ORACLE as WALLET_COMPONENTS_WARM_ORACLE,
)


_ROLL7_STATE_VERSION = "v1"
_ROLL7_WINDOW_DAYS = 7


def _ensure_roll7_state(spark: SparkSession, sf_dir: str) -> str:
    """Persist the pre-split-day anchors of the 7-day rolling distinct
    (final forever: an anchor's window ends AT the anchor) as one
    fingerprint-tagged generation."""

    def build():
        from .risk_features import wallet_rolling_distinct_7d  # noqa: F401

        wt = wallet_transactions(spark, sf_dir)
        split_day = F.lit(SPLIT_AT).cast("date")
        dg = (
            wt.filter(
                (F.col("address_role") == "sender")
                & F.col("interacted_with").isNotNull()
                & (F.col("ts") < F.lit(SPLIT_AT).cast("timestamp"))
            )
            .select(
                "wallet_address",
                F.col("interacted_with").alias("counterparty"),
                F.to_date("ts").alias("day"),
            )
            .distinct()
        )
        active = dg.select("wallet_address", "day").distinct()
        pairs = (
            dg.withColumn(
                "win_day",
                F.explode(
                    F.expr("sequence(day, date_add(day, 6), interval 1 day)")
                ),
            )
            .select("wallet_address", "counterparty", "win_day")
            .distinct()
        )
        return (
            pairs.join(
                active.withColumnRenamed("day", "win_day"),
                ["wallet_address", "win_day"],
            )
            .filter(F.col("win_day") < split_day)
            .groupBy(
                "wallet_address",
                F.date_format("win_day", "yyyy-MM-dd").alias("day"),
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_distinct_7d"))
        )

    # window length in the fence (ADVICE r12): a changed rolling
    # window must invalidate stored anchors automatically
    return _ensure_warm_state(
        spark,
        sf_dir,
        "roll7_anchors",
        _state_fingerprint(
            sf_dir, _ROLL7_STATE_VERSION, SPLIT_AT, _ROLL7_WINDOW_DAYS
        ),
        build,
    )


def wallet_rolling_distinct_warm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling distinct with the final pre-split anchors READ
    BACK from the generation store: the refresh scans only the
    trailing 7 days (``ts >= split − 6d`` pushes to the events scan),
    re-distincts that slice at the day grain, and unions the stored
    anchors — anchors ≥ split draw exclusively on the trailing window
    (the 7-day band), anchors < split are final in the store. Held to
    the FULL-recompute oracle."""
    import datetime as _dt

    from ..sources.writers import read_store

    prior = read_store(spark, _ensure_roll7_state(spark, sf_dir))
    split_day = F.lit(SPLIT_AT).cast("date")
    since = (
        _dt.date.fromisoformat(SPLIT_AT)
        - _dt.timedelta(days=_ROLL7_WINDOW_DAYS - 1)
    ).isoformat()
    dg = (
        wallet_transactions(spark, sf_dir, since=since)
        .filter(
            (F.col("address_role") == "sender")
            & F.col("interacted_with").isNotNull()
        )
        .select(
            "wallet_address",
            F.col("interacted_with").alias("counterparty"),
            F.to_date("ts").alias("day"),
        )
        .distinct()
    )
    active = dg.select("wallet_address", "day").distinct()
    pairs = (
        dg.withColumn(
            "win_day",
            F.explode(
                F.expr(
                    f"sequence(day, date_add(day, {_ROLL7_WINDOW_DAYS - 1}),"
                    " interval 1 day)"
                )
            ),
        )
        .select("wallet_address", "counterparty", "win_day")
        .distinct()
    )
    refreshed = (
        pairs.join(
            active.withColumnRenamed("day", "win_day"),
            ["wallet_address", "win_day"],
        )
        .filter(F.col("win_day") >= split_day)
        .groupBy(
            "wallet_address",
            F.date_format("win_day", "yyyy-MM-dd").alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_distinct_7d"))
    )
    return prior.unionByName(refreshed)


from .risk_features import (  # noqa: E402
    WALLET_ROLLING_DISTINCT_ORACLE as WALLET_ROLLING_DISTINCT_WARM_ORACLE,
)
