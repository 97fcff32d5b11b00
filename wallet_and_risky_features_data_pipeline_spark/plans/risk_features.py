"""Risk-feature plans mirroring the reference's rugpull_features and
AUC rollup shapes (queries/rugpull_features.sql,
ethereum_wallet_features_with_auc.sql).

- ``risk_flag_features`` — FILTER-clause aggregates split by role (A3),
  value caps (the reference caps rugpull amounts at 1.3e7 and balances
  at 700,000 — semantics, not optimizations, SURVEY.md §4), and the
  exact all-zero-min detection CASE (A2:
  ``CASE WHEN COUNT(*) = COUNT(CASE WHEN min=0...)``).
- ``wallet_auc_rollup`` — max-of-running-AUC per wallet (A8) plus the
  FIRST_VALUE boundary value (W11's stitch input).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import checkpoint_tracked, persist_tracked
from ..operators.windows import lead_delta, running_sum
from ..sources.readers import read_table
from .wallet_model import (
    ORACLE_ORDER,
    ORDER_COLS,
    WALLET_TX_ORACLE_CTE,
    by_wallet,
    wallet_transactions,
)

VALUE_CAP = 13_000_000.0  # rugpull_features.sql:75
BALANCE_CAP = 700_000.0  # ethereum_wallet_features.sql:286-289


def risk_flag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The lazy legs throughout this module (r15 №5): a plan that
    # consumes the leg table through one downstream chain streams the
    # build instead of paying an InMemoryRelation write it would read
    # once (measured 1.0-1.5 s per query at sf0.1 — the cache write is
    # ~2x the build). Multi-consumer plans persist their own narrower
    # projections under the query's cache scope.
    wt = wallet_transactions(spark, sf_dir)
    # 'internal' legs stand in for risky/rugpull-flagged interactions
    risky = F.col("transaction_type") == "internal"
    capped = F.when(F.col("current_value").cast("double") > VALUE_CAP, F.lit(0.0)).otherwise(
        F.col("current_value").cast("double")
    )
    sent = F.col("address_role") == "sender"
    per_wallet = wt.groupBy("wallet_address").agg(
        F.sum(F.when(sent, F.col("current_value"))).cast("double").alias("sent_value"),
        F.sum(F.when(~sent, F.col("current_value"))).cast("double").alias("received_value"),
        F.count(F.when(sent & risky, F.lit(1))).alias("risky_sends"),
        F.count(F.when(~sent & risky, F.lit(1))).alias("risky_receives"),
        F.sum(F.when(risky, F.col("current_value").cast("decimal(18,6)")))
        .cast("double")
        .alias("risky_value"),
        F.max(capped).alias("max_capped_value"),
        # A2 exact form: 0 if every leg value is 0, else MIN of positives
        F.when(
            F.count("*") == F.count(F.when(F.col("current_value") == 0, F.lit(1))),
            F.lit(0.0),
        )
        .otherwise(
            F.min(F.when(F.col("current_value") > 0, F.col("current_value"))).cast("double")
        )
        .alias("min_nonzero_value"),
        # balance-cap guard applied to the whole-wallet net flow
        F.when(
            F.abs(F.sum("signed_value").cast("double")) > BALANCE_CAP, F.lit(0.0)
        )
        .otherwise(F.sum("signed_value").cast("double"))
        .alias("net_flow_capped"),
    )
    return per_wallet


RISK_FLAG_FEATURES_ORACLE = f"""
WITH {WALLET_TX_ORACLE_CTE}
SELECT
    wallet_address,
    CAST(SUM(current_value) FILTER (WHERE address_role = 'sender') AS DOUBLE) AS sent_value,
    CAST(SUM(current_value) FILTER (WHERE address_role <> 'sender') AS DOUBLE) AS received_value,
    CAST(COUNT(*) FILTER (WHERE address_role = 'sender'
                          AND transaction_type = 'internal') AS BIGINT) AS risky_sends,
    CAST(COUNT(*) FILTER (WHERE address_role <> 'sender'
                          AND transaction_type = 'internal') AS BIGINT) AS risky_receives,
    CAST(SUM(CAST(current_value AS DECIMAL(18,6)))
         FILTER (WHERE transaction_type = 'internal') AS DOUBLE) AS risky_value,
    MAX(CASE WHEN CAST(current_value AS DOUBLE) > {VALUE_CAP}
             THEN 0.0 ELSE CAST(current_value AS DOUBLE) END) AS max_capped_value,
    CASE WHEN COUNT(*) = COUNT(CASE WHEN current_value = 0 THEN 1 END)
         THEN 0.0
         ELSE CAST(MIN(CASE WHEN current_value > 0 THEN current_value END) AS DOUBLE)
    END AS min_nonzero_value,
    CASE WHEN abs(CAST(SUM(signed_value) AS DOUBLE)) > {BALANCE_CAP}
         THEN 0.0 ELSE CAST(SUM(signed_value) AS DOUBLE) END AS net_flow_capped
FROM wallet_tx
GROUP BY 1
"""


def wallet_auc_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 + W11: per wallet, the max running AUC, total time above a
    zero balance, and the FIRST_VALUE of the ordered series (the
    boundary value an incremental batch would stitch against)."""
    wt = by_wallet(wallet_transactions(spark, sf_dir))
    df = running_sum(wt, F.col("signed_value"), ("wallet_address",), ORDER_COLS, out="bal")
    df = lead_delta(df, F.unix_micros("ts"), ("wallet_address",), ORDER_COLS, out="dt_us")
    auc_term = F.col("bal").cast("decimal(20,9)") * F.col("dt_us").cast("decimal(16,0)")
    df = running_sum(df, auc_term, ("wallet_address",), ORDER_COLS, out="auc_us")
    w = Window.partitionBy("wallet_address").orderBy(*ORDER_COLS)
    df = df.withColumn("first_signed", F.first("signed_value").over(w))
    return df.groupBy("wallet_address").agg(
        F.max("auc_us").cast("decimal(38,9)").cast("string").alias("max_auc_us"),
        (
            F.sum(F.when(F.col("bal") > 0, F.col("dt_us")).otherwise(F.lit(0)))
            / F.lit(86_400_000_000)
        ).alias("days_above_zero"),
        F.max("first_signed").cast("double").alias("first_signed_value"),
    )


WALLET_AUC_ROLLUP_ORACLE = f"""
WITH {WALLET_TX_ORACLE_CTE},
balanced AS (
    SELECT *,
        SUM(signed_value) OVER (
            PARTITION BY wallet_address ORDER BY {ORACLE_ORDER}
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bal,
        FIRST_VALUE(signed_value) OVER (
            PARTITION BY wallet_address ORDER BY {ORACLE_ORDER}) AS first_signed
    FROM wallet_tx
),
with_lead AS (
    SELECT *,
        COALESCE(LEAD(epoch_us(ts)) OVER (
            PARTITION BY wallet_address ORDER BY {ORACLE_ORDER}) - epoch_us(ts), 0) AS dt_us
    FROM balanced
),
with_auc AS (
    SELECT *,
        SUM(CAST(bal AS DECIMAL(20,9)) * CAST(dt_us AS DECIMAL(16,0))) OVER (
            PARTITION BY wallet_address ORDER BY {ORACLE_ORDER}
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS auc_us
    FROM with_lead
)
SELECT
    wallet_address,
    CAST(CAST(MAX(auc_us) AS DECIMAL(38,9)) AS VARCHAR) AS max_auc_us,
    SUM(CASE WHEN bal > 0 THEN dt_us ELSE 0 END) / 86400000000 AS days_above_zero,
    CAST(MAX(first_signed) AS DOUBLE) AS first_signed_value
FROM with_auc
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Hourly OHLC candles per event type — the financial time-bucket
# rollup (open/high/low/close + volume) every trading/risk pipeline
# derives from a tick stream. Open/close are min_by/max_by against the
# strict (ts, event_id) order struct — ONE hash aggregation, no
# window, no sort: at 100 TB this is a single map-side-combinable
# shuffle on (event_type, hour), where a window-rank formulation would
# sort every bucket. Money math stays decimal until the final
# projection (the engine-wide determinism rule).
def hourly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", "ts").alias("bucket"),
        F.col("value").cast("decimal(18,4)").alias("v"),
        # one sortable scalar for first/last: zero-padded micros + id
        # (lexicographic == chronological; a struct key would be the
        # natural form but DuckDB's arg_min can't order by STRUCT)
        F.expr(
            "concat(lpad(cast(unix_micros(ts) as string), 20, '0'), ':',"
            " lpad(cast(event_id as string), 12, '0'))"
        ).alias("ord"),
    )
    return (
        ev.groupBy("event_type", "bucket")
        .agg(
            F.min_by("v", "ord").alias("open"),
            F.max("v").alias("high"),
            F.min("v").alias("low"),
            F.max_by("v", "ord").alias("close"),
            F.sum("v").alias("volume"),
            F.count(F.lit(1)).cast("bigint").alias("n_ticks"),
        )
        .select(
            "event_type",
            F.unix_micros("bucket").alias("bucket_us"),
            F.col("open").cast("double").alias("open"),
            F.col("high").cast("double").alias("high"),
            F.col("low").cast("double").alias("low"),
            F.col("close").cast("double").alias("close"),
            F.col("volume").cast("double").alias("volume"),
            "n_ticks",
        )
    )


HOURLY_OHLC_ORACLE = """
SELECT event_type,
       epoch_us(date_trunc('hour', ts)) AS bucket_us,
       CAST(arg_min(CAST(value AS DECIMAL(18,4)),
                    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || ':' ||
                    lpad(CAST(event_id AS VARCHAR), 12, '0')) AS DOUBLE) AS open,
       CAST(MAX(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS high,
       CAST(MIN(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS low,
       CAST(arg_max(CAST(value AS DECIMAL(18,4)),
                    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || ':' ||
                    lpad(CAST(event_id AS VARCHAR), 12, '0')) AS DOUBLE) AS close,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS volume,
       CAST(COUNT(*) AS BIGINT) AS n_ticks
FROM events
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Wallet reciprocity — the wash-trading signal: for every wallet, how
# many of its outgoing counterparties also sent value BACK, and how
# much of its outflow is "round-trippable" (min of the two directed
# flows per pair — the upper bound on value that merely cycled). The
# graph primitive underneath is the directed-edge self-join on the
# REVERSED key ((a,b) ⋈ (b,a)) — one edges aggregation (map-side
# combinable) and one equi join on the pair key; nothing quadratic,
# nothing windowed. The reference's risk features flag wallets by
# volume caps; this is the structural sibling those models add next.
def wallet_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    wt = wallet_transactions(spark, sf_dir)
    out_legs = wt.filter(
        (F.col("address_role") == "sender") & F.col("interacted_with").isNotNull()
    )
    edges = out_legs.groupBy(
        F.col("wallet_address").alias("src"), F.col("interacted_with").alias("dst")
    ).agg(
        (-F.sum("signed_value")).alias("sent"),
        F.count(F.lit(1)).cast("bigint").alias("n_tx"),
    )
    rev = edges.select(
        F.col("src").alias("dst"),
        F.col("dst").alias("src"),
        F.col("sent").alias("returned"),
    )
    paired = edges.join(rev, ["src", "dst"], "left")
    return (
        paired.groupBy(F.col("src").alias("wallet_address"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("out_degree"),
            F.count("returned").cast("bigint").alias("reciprocal_partners"),
            F.sum("n_tx").cast("bigint").alias("out_tx"),
            F.sum("sent").alias("total_sent_dec"),
            # explicit reciprocal-only min, spelled as a comparison:
            # Spark's least() SKIPS NULLs (a one-way edge would count
            # its full outflow as round-trippable) and DuckDB's
            # least(DECIMAL, DECIMAL) silently promotes to DOUBLE —
            # both engine quirks disappear under a plain CASE, which
            # stays exact decimal end to end
            F.sum(
                F.when(
                    F.col("returned").isNotNull(),
                    F.when(
                        F.col("sent") <= F.col("returned"), F.col("sent")
                    ).otherwise(F.col("returned")),
                )
            ).alias("round_trip_dec"),
        )
        .select(
            "wallet_address",
            "out_degree",
            "reciprocal_partners",
            "out_tx",
            F.col("total_sent_dec").cast("double").alias("total_sent"),
            F.coalesce(F.col("round_trip_dec"), F.lit(0))
            .cast("double")
            .alias("round_trip_value"),
        )
    )


WALLET_RECIPROCITY_ORACLE = f"""
WITH {WALLET_TX_ORACLE_CTE},
edges AS (
    SELECT wallet_address AS src, interacted_with AS dst,
           -SUM(signed_value) AS sent, CAST(COUNT(*) AS BIGINT) AS n_tx
    FROM wallet_tx
    WHERE address_role = 'sender' AND interacted_with IS NOT NULL
    GROUP BY 1, 2
),
paired AS (
    SELECT e.*, r.sent AS returned
    FROM edges e
    LEFT JOIN edges r ON e.src = r.dst AND e.dst = r.src
)
SELECT src AS wallet_address,
       CAST(COUNT(*) AS BIGINT) AS out_degree,
       CAST(COUNT(returned) AS BIGINT) AS reciprocal_partners,
       CAST(SUM(n_tx) AS BIGINT) AS out_tx,
       CAST(SUM(sent) AS DOUBLE) AS total_sent,
       CAST(COALESCE(SUM(CASE WHEN returned IS NOT NULL
                              THEN CASE WHEN sent <= returned
                                        THEN sent ELSE returned END
                         END), 0) AS DOUBLE)
           AS round_trip_value
FROM paired
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Gap-filled candle series: resample each event type's OHLC candles
# onto a dense hourly grid (every hour between its first and last
# tick) and forward-fill the close over silent hours — the
# "last known price" convention every charting/risk consumer expects.
# Shape: the per-type [min, max] span is a tiny agg; the dense grid is
# sequence() + explode (rows ∝ types × hours, never ∝ ticks); the
# grid left-joins the candles on (type, hour) and last(ignorenulls)
# forward-fills within the type partition — one window over the
# already-bucketed series, never over raw ticks.
def ohlc_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    candles = hourly_ohlc(spark, sf_dir).select(
        "event_type", "bucket_us", "close", "n_ticks"
    )
    spans = candles.groupBy("event_type").agg(
        F.min("bucket_us").alias("lo"), F.max("bucket_us").alias("hi")
    )
    hour_us = 3_600_000_000
    grid = spans.select(
        "event_type",
        F.explode(F.expr(f"sequence(lo, hi, {hour_us})")).alias("bucket_us"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = grid.join(candles, ["event_type", "bucket_us"], "left")
    return joined.select(
        "event_type",
        "bucket_us",
        F.coalesce("n_ticks", F.lit(0)).cast("bigint").alias("n_ticks"),
        F.last("close", ignorenulls=True).over(w).alias("close_filled"),
        F.col("n_ticks").isNull().cast("int").alias("was_gap"),
    )


OHLC_GAP_FILL_ORACLE = f"""
WITH candles AS ({HOURLY_OHLC_ORACLE.strip()}),
spans AS (
    SELECT event_type, MIN(bucket_us) AS lo, MAX(bucket_us) AS hi
    FROM candles GROUP BY 1
),
grid AS (
    SELECT event_type, g.b AS bucket_us
    FROM spans, UNNEST(generate_series(lo, hi, 3600000000)) AS g(b)
)
SELECT g.event_type, g.bucket_us,
       CAST(COALESCE(c.n_ticks, 0) AS BIGINT) AS n_ticks,
       last_value(c.close IGNORE NULLS) OVER (
           PARTITION BY g.event_type ORDER BY g.bucket_us
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_filled,
       CAST(c.n_ticks IS NULL AS INTEGER) AS was_gap
FROM grid g
LEFT JOIN candles c
  ON g.event_type = c.event_type AND g.bucket_us = c.bucket_us
"""


# --------------------------------------------------------------------------
# Taint propagation: minimum hop distance from a seed set of flagged
# wallets, following the direction value flows (sender → receiver),
# bounded at TAINT_MAX_HOPS — the "within N hops of a sanctioned
# address" risk feature (the graph sibling of the reference's
# blacklist flags). Bounded BFS, not transitive closure: each round is
# one equi join frontier ⋈ edges + an anti-join dedup against the
# reached set, so the per-round work is |frontier| × out-degree and
# rounds are FIXED (no convergence loop to monitor — contrast
# operators.dedup.connected_components, the unbounded-diameter tool).
# The DuckDB oracle replays it as a recursive CTE with the same hop
# bound; MIN(hop) collapses its path multiplicity to BFS distances.
TAINT_MAX_HOPS = 3
TAINT_SEED_MOD = 29


def wallet_taint_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r16 (VERDICT r15 #2; equivalence-gated interleaved A/B): the
    # whole fixed 3-hop loop now COMPOSES into one plan/one job — the
    # per-round persists are gone, and round h's frontier feeds its two
    # consumers (next round's anti-join seed + expansion probe) through
    # ReusedExchange instead of an InMemoryRelation write per round.
    # Measured 0.846× vs the persisted-round shape ON lazy legs; the
    # legs are lazy too (0.961× alone) because composition only wins
    # when each reused subtree streams instead of re-reading a leg
    # cache — the cached-legs composed arm measured 1.358×, and persisting
    # just the distinct edge set measured 1.444× (both rejected; the
    # cache-materialization barrier costs more than the bounded
    # re-derivation — TAINT_MAX_HOPS is fixed, so the composed plan
    # re-derives the pruned two-column edge stream at most 3× and the
    # explosion twice at ANY scale, all |legs|-linear).
    wt = wallet_transactions(spark, sf_dir)
    legs = wt.filter(
        (F.col("address_role") == "sender") & F.col("interacted_with").isNotNull()
    )
    edges = (
        legs.select(
            F.col("wallet_address").alias("src"),
            F.col("interacted_with").alias("dst"),
        )
        .distinct()
    )
    wallets = wt.select("wallet_address").distinct()
    seeds = wallets.filter(
        F.col("wallet_address").cast("bigint") % TAINT_SEED_MOD == 0
    ).select("wallet_address", F.lit(0).cast("bigint").alias("hop"))
    reached = seeds
    frontier = seeds.select("wallet_address")
    for h in range(1, TAINT_MAX_HOPS + 1):
        nxt = (
            edges.join(
                frontier.withColumnRenamed("wallet_address", "src"), "src"
            )
            .select(F.col("dst").alias("wallet_address"))
            .distinct()
        )
        new = nxt.join(reached, "wallet_address", "left_anti").select(
            "wallet_address", F.lit(h).cast("bigint").alias("hop")
        )
        reached = reached.unionByName(new)
        frontier = new.select("wallet_address")
    return reached.withColumnRenamed("hop", "taint_hops")


WALLET_TAINT_ORACLE = f"""
WITH RECURSIVE {WALLET_TX_ORACLE_CTE},
edges AS (
    SELECT DISTINCT wallet_address AS src, interacted_with AS dst
    FROM wallet_tx
    WHERE address_role = 'sender' AND interacted_with IS NOT NULL
),
taint(wallet_address, hop) AS (
    SELECT DISTINCT wallet_address, 0
    FROM wallet_tx
    WHERE CAST(wallet_address AS BIGINT) % {TAINT_SEED_MOD} = 0
    UNION ALL
    SELECT e.dst, t.hop + 1
    FROM taint t JOIN edges e ON e.src = t.wallet_address
    WHERE t.hop < {TAINT_MAX_HOPS}
)
SELECT wallet_address, CAST(MIN(hop) AS BIGINT) AS taint_hops
FROM taint
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Bounded-iteration PageRank over the value-flow graph — the
# centrality risk feature beside taint (distance) and triangles
# (structure): a wallet that the whole graph's flow converges on
# scores high regardless of its distance to any flagged seed. FIXED
# iteration count (like taint's fixed hops — no convergence loop to
# monitor), and ALL-INTEGER arithmetic in 1e12-scale units: per-edge
# contribution r DIV out_deg, damping (85·x) DIV 100, base
# (15·(SCALE DIV N)) DIV 100 — truncating integer ops are
# bit-identical across engines, so an iterative float algorithm
# carries an EXACT value oracle (float summation order never enters).
# Dangling-node mass evaporates (deterministic, standard in the
# non-normalized formulation); ranks are relative scores, not a
# probability simplex. Per-iteration cost is |E| (one equi join + one
# hash agg on dst) — linear rounds, never quadratic.
PR_SCALE = 10**12
PR_ITERS = 3


def wallet_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Overflow audit (r9): total mass is conserved at ≤ PR_SCALE=1e12
    # (r0 = PR_SCALE//n per node; each round redistributes, never
    # amplifies), so any node's inc ≤ 1e12 and the largest product is
    # 85·inc ≤ 8.5e13 ≪ 2⁶³ — safe in BIGINT at ANY node count by
    # construction, unlike the per-wallet Σv² moments (see
    # wallet_counterparty_hhi), which scale with data values.
    wt = wallet_transactions(spark, sf_dir)
    legs = wt.filter(
        (F.col("address_role") == "sender") & F.col("interacted_with").isNotNull()
    )
    edges = persist_tracked(
        legs.select(
            F.col("wallet_address").alias("src"),
            F.col("interacted_with").alias("dst"),
        ).distinct()
    )
    return _pagerank_from_edges(edges)


def _pagerank_from_edges(edges: DataFrame) -> DataFrame:
    """nodes / degrees / fixed rounds from a PERSISTED distinct edge
    set — the whole PageRank pipeline below the edge source, shared by
    the full query and the warm variant so the two differ ONLY in how
    the edge set is produced (full: event scan + explosion + distinct;
    warm: stored generation + classified delta)."""
    # nodes appear in every iteration's lineage — persist so the
    # union-distinct runs once, not per round
    nodes = persist_tracked(
        edges.select(F.col("src").alias("w"))
        .union(edges.select(F.col("dst").alias("w")))
        .distinct()
    )
    n = nodes.agg(F.count(F.lit(1)).alias("n"))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    return _pagerank_rounds(edges.join(deg, "src"), nodes, n)


def _pagerank_rounds(
    edges_deg: DataFrame, nodes: DataFrame, n: DataFrame
) -> DataFrame:
    """The fixed integer PageRank rounds, shared by the full query and
    the warm (stored-graph) variant. ``edges_deg`` is the edge set with
    each row's source out-degree attached — built by the caller. Both
    callers derive degrees from their own unified edge set (the full
    query from the fresh scan, the warm variant from stored∪delta via
    ``_pagerank_from_edges``); only the edge-set SOURCE differs —
    degree-merge designs were tried and abandoned as slower (the merge
    join cost more than the degree re-agg). Three structural
    savings over the naive per-round plan: ``edges_deg`` persists here
    and is reused by every round instead of a per-round ``join(deg)``;
    round 1 skips the ranks join entirely — every node's round-0 rank
    is the SAME scalar (SCALE DIV n), so the first incoming sum needs
    only the edge set and the one-row ``n`` frame; and the per-round
    "all nodes LEFT JOIN incoming" is a UNION instead — a node with no
    in-edges holds the constant ``base`` rank in EVERY round (its
    incoming sum is always empty), so that constant frame is built
    once and each round only post-processes its own aggregate.

    r16: ``edges_deg`` persists ALREADY hash-partitioned on ``src`` —
    the key every round's rank join probes — so rounds 2..N read the
    cache's partitioning instead of re-exchanging |E| rows per round
    (guide §2.4, the LPA sym discipline). Interleaved A/B reads local
    PARITY (1.007 — the graph is tiny at sf0.1); the adopted evidence
    is the plan diff: the per-round edge-side Exchange nodes are gone,
    and at 100 TB that is PR_ITERS−1 fewer |E|-sized shuffles. Skew is
    no worse than before: the old shape exchanged the same src-keyed
    rows every round; this one lays them out once."""
    edges_deg = persist_tracked(edges_deg.repartition("src"))
    base = F.expr(f"(15 * (CAST({PR_SCALE} AS BIGINT) DIV n)) DIV 100")
    # nodes with no incoming edge: rank = base, every round. Every
    # OTHER node appears in every round's incoming aggregate (each of
    # its in-neighbors always has a rank), so ranks = agg ∪ this frame
    # partitions the node set exactly.
    no_in = persist_tracked(
        nodes.join(
            edges_deg.select(F.col("dst").alias("w")), "w", "left_anti"
        )
        .crossJoin(F.broadcast(n))
        .select("w", "n", base.alias("r"))
    )

    def next_ranks(inc: DataFrame) -> DataFrame:
        return (
            inc.crossJoin(F.broadcast(n))
            .select(
                "w",
                "n",
                (base + F.expr("(85 * inc) DIV 100")).alias("r"),
            )
            .unionByName(no_in)
        )

    ranks = next_ranks(
        edges_deg.crossJoin(F.broadcast(n))
        .select(
            F.col("dst").alias("w"),
            F.expr(f"(CAST({PR_SCALE} AS BIGINT) DIV n) DIV out_deg").alias("c"),
        )
        .groupBy("w")
        .agg(F.sum("c").alias("inc"))
    )
    for _ in range(PR_ITERS - 1):
        ranks = next_ranks(
            edges_deg.join(ranks.select(F.col("w").alias("src"), "r"), "src")
            .select(F.col("dst").alias("w"), F.expr("r DIV out_deg").alias("c"))
            .groupBy("w")
            .agg(F.sum("c").alias("inc"))
        )
    return ranks.select(
        F.col("w").alias("wallet_address"),
        F.col("r").alias("rank_units"),
        (F.col("r") / F.lit(float(PR_SCALE))).alias("pagerank"),
    )


def _pagerank_oracle() -> str:
    iters = []
    prev = "r0"
    for k in range(1, PR_ITERS + 1):
        iters.append(
            f"""it{k} AS (
    SELECT nd.w,
           ((15 * (CAST({PR_SCALE} AS BIGINT) // nn.n)) // 100)
           + (85 * COALESCE(i.inc, 0)) // 100 AS r
    FROM pr_nodes nd CROSS JOIN pr_n nn
    LEFT JOIN (
        SELECT e.dst AS w, SUM(p.r // d.out_deg) AS inc
        FROM {prev} p
        JOIN pr_edges e ON e.src = p.w
        JOIN pr_deg d ON d.src = p.w
        GROUP BY 1
    ) i ON i.w = nd.w
)"""
        )
        prev = f"it{k}"
    chain = ",\n".join(iters)
    return f"""
WITH {{wallet_tx_cte}},
pr_edges AS (
    SELECT DISTINCT wallet_address AS src, interacted_with AS dst
    FROM wallet_tx
    WHERE address_role = 'sender' AND interacted_with IS NOT NULL
),
pr_nodes AS (SELECT src AS w FROM pr_edges UNION SELECT dst FROM pr_edges),
pr_n AS (SELECT COUNT(*) AS n FROM pr_nodes),
pr_deg AS (SELECT src, COUNT(*) AS out_deg FROM pr_edges GROUP BY 1),
r0 AS (
    SELECT w, CAST({PR_SCALE} AS BIGINT) // nn.n AS r
    FROM pr_nodes CROSS JOIN pr_n nn
),
{chain}
SELECT w AS wallet_address,
       CAST(r AS BIGINT) AS rank_units,
       CAST(r AS DOUBLE) / {PR_SCALE} AS pagerank
FROM {prev}
"""


WALLET_PAGERANK_ORACLE = _pagerank_oracle().format(wallet_tx_cte=WALLET_TX_ORACLE_CTE)


# --------------------------------------------------------------------------
# Candle re-aggregation: daily candles derived FROM the hourly ones —
# OHLC is a mergeable aggregate (open/close ride the order key,
# high/low/volume are min/max/sum), so coarser grains re-aggregate
# from finer pre-aggregates without touching raw ticks. That identity
# (rollup(hourly) ≡ direct daily) is THE property that makes a 100 TB
# candle store cheap: materialize hourly once, serve every coarser
# grain from it. The oracle computes daily candles DIRECTLY from raw
# events, so any merge-rule mistake (e.g. taking max of opens instead
# of the earliest open) hash-mismatches.
def daily_ohlc_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", "ts").alias("bucket"),
        F.col("value").cast("decimal(18,4)").alias("v"),
        F.expr(
            "concat(lpad(cast(unix_micros(ts) as string), 20, '0'), ':',"
            " lpad(cast(event_id as string), 12, '0'))"
        ).alias("ord"),
    )
    hourly = ev.groupBy("event_type", "bucket").agg(
        F.min("ord").alias("first_key"),
        F.min_by("v", "ord").alias("open"),
        F.max("v").alias("high"),
        F.min("v").alias("low"),
        F.max("ord").alias("last_key"),
        F.max_by("v", "ord").alias("close"),
        F.sum("v").alias("volume"),
        F.count(F.lit(1)).cast("bigint").alias("n_ticks"),
    )
    return (
        hourly.groupBy(
            "event_type", F.date_trunc("day", "bucket").alias("day")
        )
        .agg(
            F.min_by("open", "first_key").alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", "last_key").alias("close"),
            F.sum("volume").alias("volume"),
            F.sum("n_ticks").cast("bigint").alias("n_ticks"),
        )
        .select(
            "event_type",
            F.unix_micros("day").alias("day_us"),
            F.col("open").cast("double").alias("open"),
            F.col("high").cast("double").alias("high"),
            F.col("low").cast("double").alias("low"),
            F.col("close").cast("double").alias("close"),
            F.col("volume").cast("double").alias("volume"),
            "n_ticks",
        )
    )


DAILY_OHLC_ROLLUP_ORACLE = """
SELECT event_type,
       epoch_us(date_trunc('day', ts)) AS day_us,
       CAST(arg_min(CAST(value AS DECIMAL(18,4)),
                    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || ':' ||
                    lpad(CAST(event_id AS VARCHAR), 12, '0')) AS DOUBLE) AS open,
       CAST(MAX(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS high,
       CAST(MIN(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS low,
       CAST(arg_max(CAST(value AS DECIMAL(18,4)),
                    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || ':' ||
                    lpad(CAST(event_id AS VARCHAR), 12, '0')) AS DOUBLE) AS close,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS volume,
       CAST(COUNT(*) AS BIGINT) AS n_ticks
FROM events
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Triangle participation: how many 3-cycles of value flow each wallet
# sits in — the ring-structure signal one step beyond
# wallet_reciprocity's 2-cycles (wash rings rarely bounce A↔B; A→B→
# C→A is the textbook layering shape). Canonical distributed triangle
# counting: UNDIRECTED distinct edges canonicalized to (lo < hi), and
# the three-way join enumerates each triangle EXACTLY once via the
# total node order (a < b < c) — the node-ordering trick that kills
# both duplicate counting and the hub explosion (every wedge is rooted
# at its smallest node, so a hub's fan-out only wedges with its
# HIGHER-ordered neighbors). Two equi self-joins, nothing quadratic in
# nodes; wedge count is Σ deg_hi(v)², the quantity a real deployment
# audits (same role as lsh's max_bucket).
def wallet_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    wt = wallet_transactions(spark, sf_dir)
    directed = wt.filter(
        (F.col("address_role") == "sender") & F.col("interacted_with").isNotNull()
    ).select(
        F.col("wallet_address").alias("u"), F.col("interacted_with").alias("v")
    )
    edges = (
        directed.select(
            F.least(F.col("u").cast("bigint"), F.col("v").cast("bigint")).alias("a"),
            F.greatest(F.col("u").cast("bigint"), F.col("v").cast("bigint")).alias(
                "b"
            ),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("w1"),
            F.col("e1.b").alias("w2"),
            F.col("e2.b").alias("w3"),
        )
    )
    corners = tri.select(F.explode(F.array("w1", "w2", "w3")).alias("wallet_id"))
    return (
        corners.groupBy("wallet_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
        .select(F.col("wallet_id").cast("string").alias("wallet_address"), "n_triangles")
    )


WALLET_TRIANGLES_ORACLE = f"""
WITH {WALLET_TX_ORACLE_CTE},
edges AS (
    SELECT DISTINCT
        least(CAST(wallet_address AS BIGINT), CAST(interacted_with AS BIGINT)) AS a,
        greatest(CAST(wallet_address AS BIGINT), CAST(interacted_with AS BIGINT)) AS b
    FROM wallet_tx
    WHERE address_role = 'sender' AND interacted_with IS NOT NULL
      AND CAST(wallet_address AS BIGINT) <> CAST(interacted_with AS BIGINT)
),
tri AS (
    SELECT e1.a AS w1, e1.b AS w2, e2.b AS w3
    FROM edges e1
    JOIN edges e2 ON e1.b = e2.a
    JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
),
corners AS (
    SELECT w1 AS wallet_id FROM tri
    UNION ALL SELECT w2 FROM tri
    UNION ALL SELECT w3 FROM tri
)
SELECT CAST(wallet_id AS VARCHAR) AS wallet_address,
       CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM corners
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Counterparty concentration: the Herfindahl–Hirschman index of each
# wallet's OUTGOING value across counterparties — the "one exchange
# funnel vs broad peer-to-peer" structural risk signal beside
# reciprocity (2-cycles) and pagerank (centrality). HHI = Σ share²,
# computed WITHOUT per-share float sums: with exact integer cents
# v_i per counterparty, HHI = (Σ v_i²) / (Σ v_i)² — integer moments,
# ONE double division, cross-engine deterministic (the
# feature_correlations discipline). Two map-side-combinable hash
# aggs: (wallet, counterparty) then wallet; no joins, no windows.
def wallet_counterparty_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    wt = wallet_transactions(spark, sf_dir)
    legs = wt.filter(
        (F.col("address_role") == "sender")
        & F.col("interacted_with").isNotNull()
        & (F.col("current_value") > 0)
    )
    pair = legs.groupBy(
        "wallet_address", F.col("interacted_with").alias("counterparty")
    ).agg(
        F.sum(F.expr("CAST(round(current_value * 100) AS BIGINT)")).alias("v_c")
    )
    return (
        pair.groupBy("wallet_address")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_counterparties"),
            F.sum("v_c").alias("total_cents"),
            # v_c is lifetime cents to ONE counterparty; v_c² overflows
            # BIGINT at ≈$30M (3e9 cents → 9.2e18) — routine for
            # exchange-bound wallets. DECIMAL(19,0)² → DECIMAL(38,0)
            # keeps the squared sum exact (feature_correlations
            # discipline, plans/sketch_plans.py); survives ANSI mode.
            F.sum(
                F.col("v_c").cast("decimal(19,0)")
                * F.col("v_c").cast("decimal(19,0)")
            ).alias("__sum_sq"),
            F.max("v_c").alias("__max_v"),
        )
        .filter(F.col("total_cents") > 0)
        .select(
            "wallet_address",
            "n_counterparties",
            "total_cents",
            F.round(
                F.col("__sum_sq")
                / (F.col("total_cents").cast("double") * F.col("total_cents").cast("double")),
                6,
            ).alias("hhi"),
            F.round(F.col("__max_v") / F.col("total_cents").cast("double"), 6).alias(
                "top_share"
            ),
        )
    )


WALLET_HHI_ORACLE = f"""
WITH {{wallet_tx_cte}},
pair AS (
    SELECT wallet_address,
           interacted_with AS counterparty,
           SUM(CAST(round(current_value * 100) AS BIGINT)) AS v_c
    FROM wallet_tx
    WHERE address_role = 'sender'
      AND interacted_with IS NOT NULL
      AND current_value > 0
    GROUP BY 1, 2
)
SELECT wallet_address,
       CAST(COUNT(*) AS BIGINT) AS n_counterparties,
       SUM(v_c) AS total_cents,
       ROUND(CAST(SUM(CAST(v_c AS DECIMAL(19,0)) * CAST(v_c AS DECIMAL(19,0))) AS DOUBLE)
             / (CAST(SUM(v_c) AS DOUBLE) * CAST(SUM(v_c) AS DOUBLE)), 6) AS hhi,
       ROUND(MAX(v_c) / CAST(SUM(v_c) AS DOUBLE), 6) AS top_share
FROM pair
GROUP BY 1
HAVING SUM(v_c) > 0
""".format(wallet_tx_cte=WALLET_TX_ORACLE_CTE)


# --------------------------------------------------------------------------
# Velocity / dormancy features: the temporal-shape risk signals beside
# the value-shape ones (HHI, reciprocity) — burst wallets (airdrop
# farmers, wash traders) show high max-per-day against few active
# days; dormant-then-active wallets (compromised keys) show large
# dormancy against an old first_day. All-integer date arithmetic plus
# ONE rounded division, so every column is cross-engine exact. Scale
# shape: two stacked map-side-combinable hash aggregates
# ((wallet, day) → wallet) and one broadcast of the single-row global
# max — no windows, no joins on the fact table.
def wallet_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    wt = wallet_transactions(spark, sf_dir)
    per_day = wt.groupBy(
        "wallet_address", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_day"))
    global_max = per_day.agg(F.max("day").alias("max_day"))
    return (
        per_day.groupBy("wallet_address")
        .agg(
            F.sum("n_day").alias("n_legs"),
            F.count(F.lit(1)).alias("n_active_days"),
            F.max("n_day").alias("max_legs_day"),
            F.min("day").alias("first_day"),
            F.max("day").alias("last_day"),
        )
        .crossJoin(F.broadcast(global_max))
        .select(
            "wallet_address",
            "n_legs",
            "n_active_days",
            "max_legs_day",
            (F.datediff("last_day", "first_day") + F.lit(1)).cast("bigint").alias("span_days"),
            F.round(F.col("n_legs") / F.col("n_active_days").cast("double"), 6).alias(
                "legs_per_active_day"
            ),
            F.datediff("max_day", "last_day").cast("bigint").alias("dormancy_days"),
        )
    )


WALLET_BURSTINESS_ORACLE = f"""
WITH {{wallet_tx_cte}},
per_day AS (
    SELECT wallet_address, CAST(ts AS DATE) AS day, COUNT(*) AS n_day
    FROM wallet_tx
    GROUP BY 1, 2
),
g AS (SELECT MAX(day) AS max_day FROM per_day)
SELECT wallet_address,
       CAST(SUM(n_day) AS BIGINT) AS n_legs,
       CAST(COUNT(*) AS BIGINT) AS n_active_days,
       CAST(MAX(n_day) AS BIGINT) AS max_legs_day,
       CAST(date_diff('day', MIN(day), MAX(day)) + 1 AS BIGINT) AS span_days,
       ROUND(SUM(n_day) / CAST(COUNT(*) AS DOUBLE), 6) AS legs_per_active_day,
       CAST(date_diff('day', MAX(day), (SELECT max_day FROM g)) AS BIGINT)
           AS dormancy_days
FROM per_day
GROUP BY 1
""".format(wallet_tx_cte=WALLET_TX_ORACLE_CTE)


# --------------------------------------------------------------------------
# Wallet community formation: connected components over the
# counterparty graph — the address-clustering step every on-chain
# investigation runs (one actor's wallet constellation shows up as one
# component; a giant component through a mixer is itself the signal).
# Completes the graph tier: taint (reachability from seeds), PageRank
# (centrality), triangles/reciprocity (local structure), components
# (global partition). Reuses the dedup tier's adaptive
# pointer-doubling CC (operators/dedup.py) — O(log diameter) rounds,
# |E|-linear per round, raises on non-convergence — on wallet edges
# instead of near-dup pairs; component ids are the min member address,
# so the labeling is deterministic. component_size rides back on one
# broadcast-friendly agg join (components ≪ wallets).
def wallet_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components

    wt = wallet_transactions(spark, sf_dir)
    legs = wt.filter(
        (F.col("address_role") == "sender") & F.col("interacted_with").isNotNull()
    )
    edges = persist_tracked(
        legs.select(
            F.col("wallet_address").alias("w_a"),
            F.col("interacted_with").alias("w_b"),
        ).distinct()
    )
    nodes = (
        edges.select(F.col("w_a").alias("wallet_address"))
        .union(edges.select(F.col("w_b").alias("wallet_address")))
        .distinct()
    )
    assigned = connected_components(
        edges, nodes, "wallet_address", a_col="w_a", b_col="w_b"
    ).withColumnRenamed("cluster_id", "component_id")
    sizes = assigned.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("component_size")
    )
    return assigned.join(F.broadcast(sizes), "component_id").select(
        "wallet_address", "component_id", "component_size"
    )


WALLET_COMPONENTS_ORACLE = f"""
WITH RECURSIVE {{wallet_tx_cte}},
cc_pairs AS (
    SELECT DISTINCT wallet_address AS w_a, interacted_with AS w_b
    FROM wallet_tx
    WHERE address_role = 'sender' AND interacted_with IS NOT NULL
),
cc_edges AS (
    SELECT w_a AS s, w_b AS d FROM cc_pairs
    UNION ALL
    SELECT w_b AS s, w_a AS d FROM cc_pairs
),
-- DISTINCT spelled out: under WITH RECURSIVE, DuckDB applies
-- recursive-union semantics to plain UNION even in non-recursive
-- CTEs (measured: UNION stopped deduplicating here)
cc_nodes AS (
    SELECT DISTINCT w FROM (
        SELECT s AS w FROM cc_edges UNION ALL SELECT d FROM cc_edges
    )
),
reach(node, label) AS (
    SELECT s, s FROM cc_edges
    UNION
    SELECT e.d, r.label FROM reach r JOIN cc_edges e ON e.s = r.node
),
assigned AS (
    SELECT n.w AS wallet_address,
           COALESCE(m.label, n.w) AS component_id
    FROM cc_nodes n
    LEFT JOIN (SELECT node, MIN(label) AS label FROM reach GROUP BY 1) m
           ON m.node = n.w
)
SELECT a.wallet_address, a.component_id,
       CAST(s.component_size AS BIGINT) AS component_size
FROM assigned a
JOIN (SELECT component_id, COUNT(*) AS component_size
      FROM assigned GROUP BY 1) s USING (component_id)
""".format(wallet_tx_cte=WALLET_TX_ORACLE_CTE)


# --------------------------------------------------------------------------
# k-core decomposition of the undirected counterparty graph — the
# cohesion tier beside components (who is connected at all): a wallet
# survives the k-core iff it keeps >= k distinct counterparties after
# every weakly-attached wallet is recursively peeled away. Dense-core
# membership separates organic trading clusters from spray-and-pray
# airdrop fans whose hub degree is high but whose neighborhood
# evaporates under peeling (reference risk intent:
# src/pipelines/analytics/features/queries/ethereum_risky_features.sql
# counterparty-structure family; k-core itself is an engine
# extension). Iterative peel: each round is one |E|-linear hash
# aggregate (degree) + two shuffle semi joins (drop edges touching a
# peeled node) on a checkpointed edge set — never anything
# node-quadratic, so a round survives 100 TB the same way the CC and
# PageRank rounds do. Rounds stop at the FIRST unchanged edge count;
# if KCORE_ROUNDS rounds pass while still peeling the result would
# diverge from the unrolled oracle, so it raises instead (the CC /
# PageRank bounded-iteration discipline — the fixed-round oracle is
# exact whenever the plan completes). Peel depth is data-bounded:
# each round removes every node currently below k, so depth tracks
# the graph's degeneracy ordering width, 2-3 rounds on real
# counterparty graphs.
KCORE_K = 2
KCORE_ROUNDS = 8

# Diagnostic only (structure-scale probes report peel-round counts):
# rounds the LAST wallet_kcore call ran before hitting the edge-count
# fixpoint. Last-writer-wins under concurrency — probe reads only.
LAST_KCORE_ROUNDS: int | None = None


def wallet_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    wt = wallet_transactions(spark, sf_dir)
    legs = wt.filter(
        (F.col("address_role") == "sender") & F.col("interacted_with").isNotNull()
    ).select(
        F.col("wallet_address").cast("bigint").alias("u"),
        F.col("interacted_with").cast("bigint").alias("v"),
    )
    und = (
        legs.select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = und.select(F.col("a").alias("s"), F.col("b").alias("d")).unionByName(
        und.select(F.col("b").alias("s"), F.col("a").alias("d"))
    )
    # lazy checkpoints: the count that follows each one is the action
    # that materializes it — one job per round, same lineage cut
    alive = checkpoint_tracked(sym, eager=False)
    nodes = persist_tracked(alive.select("s").distinct())
    n_edges = alive.count()
    global LAST_KCORE_ROUNDS
    for _round in range(KCORE_ROUNDS):
        keep = (
            alive.groupBy("s")
            .agg(F.count(F.lit(1)).alias("__deg"))
            .filter(F.col("__deg") >= KCORE_K)
            .select("s")
        )
        pruned = alive.join(keep, "s", "left_semi").join(
            keep.select(F.col("s").alias("d")), "d", "left_semi"
        )
        alive = checkpoint_tracked(pruned.select("s", "d"), eager=False)
        n_now = alive.count()
        if n_now == n_edges:
            LAST_KCORE_ROUNDS = _round + 1
            break
        n_edges = n_now
    else:
        # one more degree probe: only a TRUE fixpoint may ship
        still_low = (
            alive.groupBy("s")
            .agg(F.count(F.lit(1)).alias("__deg"))
            .filter(F.col("__deg") < KCORE_K)
            .limit(1)
            .count()
        )
        if still_low:
            raise RuntimeError(
                f"wallet_kcore: peel did not converge in {KCORE_ROUNDS} rounds"
            )
        LAST_KCORE_ROUNDS = KCORE_ROUNDS
    core_deg = alive.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("core_degree")
    )
    return (
        nodes.join(core_deg, "s", "left")
        .select(
            F.col("s").cast("string").alias("wallet_address"),
            F.col("core_degree").isNotNull().cast("int").alias("in_core"),
            F.coalesce("core_degree", F.lit(0).cast("bigint")).alias("core_degree"),
        )
    )


def _kcore_oracle(k: int = KCORE_K, rounds: int = KCORE_ROUNDS) -> str:
    """Unrolled fixed-round peel: exact because the plan RAISES unless
    the fixpoint lands within ``rounds`` (extra rounds are no-ops)."""
    parts = [
        "WITH {wallet_tx_cte},",
        """und AS (
    SELECT DISTINCT
        least(CAST(wallet_address AS BIGINT), CAST(interacted_with AS BIGINT)) AS a,
        greatest(CAST(wallet_address AS BIGINT), CAST(interacted_with AS BIGINT)) AS b
    FROM wallet_tx
    WHERE address_role = 'sender' AND interacted_with IS NOT NULL
      AND CAST(wallet_address AS BIGINT) <> CAST(interacted_with AS BIGINT)
),
sym0 AS MATERIALIZED (SELECT a AS s, b AS d FROM und UNION ALL SELECT b AS s, a AS d FROM und),""",
    ]
    # AS MATERIALIZED is load-bearing: each sym{r} references
    # sym{r-1} three times, so plain (inlinable) CTEs expand the
    # events scan 3^rounds times — measured as an fd-exhaustion
    # blowup, not just slowness.
    for r in range(1, rounds + 1):
        parts.append(
            f"keep{r} AS MATERIALIZED (SELECT s FROM sym{r - 1} GROUP BY s"
            f" HAVING COUNT(*) >= {k}),\n"
            f"sym{r} AS MATERIALIZED (SELECT e.s, e.d FROM sym{r - 1} e"
            f" JOIN keep{r} ka ON ka.s = e.s"
            f" JOIN keep{r} kb ON kb.s = e.d),"
        )
    parts.append(
        f"""all_nodes AS (SELECT DISTINCT s FROM sym0),
core AS (SELECT s, COUNT(*) AS core_degree FROM sym{rounds} GROUP BY s)
SELECT CAST(n.s AS VARCHAR) AS wallet_address,
       CAST(CASE WHEN c.s IS NULL THEN 0 ELSE 1 END AS INTEGER) AS in_core,
       CAST(COALESCE(c.core_degree, 0) AS BIGINT) AS core_degree
FROM all_nodes n LEFT JOIN core c ON c.s = n.s"""
    )
    return "\n".join(parts)


WALLET_KCORE_ORACLE = _kcore_oracle().format(wallet_tx_cte=WALLET_TX_ORACLE_CTE)


# --------------------------------------------------------------------------
# Per-wallet EWMA of daily net flow — the trend feature risk models
# prefer over raw means (recent behavior dominates, dormant history
# decays geometrically). The recurrence s_t = a*v_t + (1-a)*s_{t-1}
# is inherently sequential per wallet, so it runs as a higher-order
# fold (F.aggregate) over the wallet's sorted daily series — all
# JVM-side, no Python in the loop. Exactness: daily nets are DECIMAL
# sums (order-independent), cast to DOUBLE once, and both engines
# fold in identical day order with identical operations, so the
# doubles match bit-for-bit (list_reduce is the same left fold).
# Scale shape: ONE wallet exchange; the collected series is bounded
# by distinct active DAYS per wallet (calendar-bounded — years of
# daily history is thousands of entries, not transaction-count), so
# the per-group array can never inherit transaction skew.
EWMA_ALPHA = 0.5  # exactly representable; halving is exact in binary FP


def wallet_ewma_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    wt = wallet_transactions(spark, sf_dir)
    per_day = wt.groupBy(
        "wallet_address", F.to_date("ts").alias("day")
    ).agg(F.sum("signed_value").cast("double").alias("net"))
    series = per_day.groupBy("wallet_address").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.max("day").alias("last_day"),
        F.array_sort(F.collect_list(F.struct("day", "net"))).alias("s"),
    )
    a = EWMA_ALPHA
    ewma = F.expr(
        f"aggregate(slice(s, 2, size(s) - 1), s[0].net,"
        f" (acc, x) -> {a}D * x.net + {1 - a}D * acc)"
    )
    return series.select(
        "wallet_address",
        "n_days",
        F.col("last_day").cast("string").alias("last_day"),
        F.round(ewma, 6).alias("ewma_net"),
    )


WALLET_EWMA_VALUE_ORACLE = f"""
WITH {{wallet_tx_cte}},
per_day AS (
    SELECT wallet_address, CAST(ts AS DATE) AS day,
           CAST(SUM(signed_value) AS DOUBLE) AS net
    FROM wallet_tx
    GROUP BY 1, 2
),
series AS (
    SELECT wallet_address,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           MAX(day) AS last_day,
           list(net ORDER BY day) AS s
    FROM per_day
    GROUP BY 1
)
SELECT wallet_address, n_days, CAST(last_day AS VARCHAR) AS last_day,
       ROUND(list_reduce(s, (acc, x) ->
             {EWMA_ALPHA} * x + {1 - EWMA_ALPHA} * acc), 6) AS ewma_net
FROM series
""".format(wallet_tx_cte=WALLET_TX_ORACLE_CTE)


# --------------------------------------------------------------------------
# Lag-1 autocorrelation of daily net flow — the persistence signal
# beside wallet_ewma_value's trend: organic users' day-to-day flows
# are noisy (r ≈ 0), schedule-driven bots and drip-feed launderers
# show strongly positive r, oscillating in/out washers negative r.
# Pairs are (active day t, NEXT active day) via one LEAD over the
# (wallet, day) aggregate; Pearson r from exact integer-cents moments
# kept in DECIMAL(38,0) until ONE final double expression — the
# feature_correlations discipline (sketch_plans.py), so float
# summation order never enters. The degenerate-variance DECISION is
# the exact integer predicate n·Σx²−(Σx)² > 0 on BOTH axes (boundary
# -proof, and it keeps the double division away from /0 under ANSI).
# Scale shape: two map-side-combinable hash aggs + one window over
# the calendar-bounded per-day table.
AUTOCORR_MIN_PAIRS = 3


def wallet_flow_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    wt = wallet_transactions(spark, sf_dir)
    per_day = wt.groupBy(
        "wallet_address", F.to_date("ts").alias("day")
    ).agg(
        F.expr("cast(round(sum(signed_value) * 100) as decimal(38,0))").alias("net_c")
    )
    w = Window.partitionBy("wallet_address").orderBy("day")
    pairs = (
        per_day.select(
            "wallet_address",
            F.col("net_c").alias("x"),
            F.lead("net_c").over(w).alias("y"),
        )
        .filter(F.col("y").isNotNull())
    )
    sums = pairs.groupBy("wallet_address").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n_pairs").cast("decimal(38,0)")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    dx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = n * F.col("syy") - F.col("sy") * F.col("sy")
    r = F.round(
        num.cast("double") / F.sqrt(dx.cast("double") * dy.cast("double")), 6
    )
    return sums.select(
        "wallet_address",
        "n_pairs",
        F.when(
            (F.col("n_pairs") >= AUTOCORR_MIN_PAIRS) & (dx > 0) & (dy > 0), r
        ).alias("lag1_autocorr"),
    )


WALLET_FLOW_AUTOCORR_ORACLE = f"""
WITH {{wallet_tx_cte}},
per_day AS (
    SELECT wallet_address, CAST(ts AS DATE) AS day,
           CAST(round(SUM(signed_value) * 100) AS DECIMAL(38,0)) AS net_c
    FROM wallet_tx
    GROUP BY 1, 2
),
pairs AS (
    SELECT wallet_address, net_c AS x,
           LEAD(net_c) OVER (PARTITION BY wallet_address ORDER BY day) AS y
    FROM per_day
),
sums AS (
    SELECT wallet_address,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           SUM(x) AS sx, SUM(y) AS sy,
           SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
    FROM pairs
    WHERE y IS NOT NULL
    GROUP BY 1
)
SELECT wallet_address, n_pairs,
       CASE WHEN n_pairs >= {AUTOCORR_MIN_PAIRS}
                 AND n_pairs * sxx - sx * sx > 0
                 AND n_pairs * syy - sy * sy > 0
            THEN ROUND(CAST(n_pairs * sxy - sx * sy AS DOUBLE)
                       / sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
                              * CAST(n_pairs * syy - sy * sy AS DOUBLE)), 6)
            END AS lag1_autocorr
FROM sums
""".format(wallet_tx_cte=WALLET_TX_ORACLE_CTE)


# --------------------------------------------------------------------------
# CUSUM drift detector over daily net flow — the sequential
# change-point statistic monitoring teams run beside EWMA's trend and
# autocorr's persistence: s_t = max(0, s_{t-1} + (x_t - k)) climbs
# when a wallet's daily net flow drifts above the allowance k and
# resets on quiet days; s_t > h is the classic alarm rule. The
# recurrence LOOKS inherently sequential, but has an exact closed
# form: with d_t = x_t - k and prefix P_t = Σ_{j<=t} d_j (P_0 = 0),
#   s_t = max_{0<=j<=t} (P_t - P_j) = P_t - least(0, min_{j<=t} P_j)
# so the whole detector is TWO running windows (prefix SUM + running
# MIN) over the per-day table — no fold, no Python, no iteration.
# Exactness: x_t is integer cents, k/h are integer-cent constants;
# every P/M/s value is exact DECIMAL(38,0) arithmetic (the r8
# overflow discipline — a window SUM of lifetime cents must never
# ride BIGINT), and the alarm predicate compares exact integers.
# Final outputs cast to BIGINT (range-checked under the ANSI leg).
# Scale shape: one wallet exchange shared with the window family;
# windows run over the calendar-bounded per-day series, so partition
# size can never inherit transaction-count skew.
CUSUM_ALLOWANCE_C = 50_000  # k: $500/day drift allowance, in cents
CUSUM_ALARM_C = 500_000  # h: $5,000 cumulative-drift alarm, in cents


def wallet_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    wt = wallet_transactions(spark, sf_dir)
    per_day = wt.groupBy(
        "wallet_address", F.to_date("ts").alias("day")
    ).agg(
        F.expr(
            "cast(round(sum(signed_value) * 100) as decimal(38,0))"
        ).alias("net_c")
    )
    run = (
        Window.partitionBy("wallet_address")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = F.col("net_c") - F.lit(CUSUM_ALLOWANCE_C).cast("decimal(38,0)")
    staged = per_day.select(
        "wallet_address",
        "day",
        F.sum(d).over(run).alias("p"),
    ).select(
        "wallet_address",
        "day",
        (
            F.col("p")
            - F.least(F.lit(0).cast("decimal(38,0)"), F.min("p").over(run))
        ).alias("s_c"),
    )
    return staged.groupBy("wallet_address").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.max("s_c").cast("bigint").alias("max_cusum_c"),
        F.expr("max_by(s_c, day)").cast("bigint").alias("final_cusum_c"),
        F.sum(
            (F.col("s_c") > CUSUM_ALARM_C).cast("bigint")
        ).alias("n_alarm_days"),
    )


WALLET_CUSUM_DRIFT_ORACLE = f"""
WITH {{wallet_tx_cte}},
per_day AS (
    SELECT wallet_address, CAST(ts AS DATE) AS day,
           CAST(round(SUM(signed_value) * 100) AS DECIMAL(38,0)) AS net_c
    FROM wallet_tx
    GROUP BY 1, 2
),
prefixed AS (
    SELECT wallet_address, day,
           SUM(net_c - {CUSUM_ALLOWANCE_C}) OVER (
               PARTITION BY wallet_address ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS p
    FROM per_day
),
cusum AS (
    SELECT wallet_address, day,
           p - LEAST(CAST(0 AS DECIMAL(38,0)), MIN(p) OVER (
               PARTITION BY wallet_address ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           )) AS s_c
    FROM prefixed
)
SELECT wallet_address,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(MAX(s_c) AS BIGINT) AS max_cusum_c,
       CAST(max_by(s_c, day) AS BIGINT) AS final_cusum_c,
       CAST(SUM(CASE WHEN s_c > {CUSUM_ALARM_C} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_alarm_days
FROM cusum
GROUP BY 1
""".format(wallet_tx_cte=WALLET_TX_ORACLE_CTE)


# --------------------------------------------------------------------------
# Label-propagation communities — the near-linear community detector
# (Raghavan et al. 2007) risk desks run beside connected components:
# CC answers "who CAN reach whom", LPA answers "who CLUSTERS with
# whom" — mixing-service rings and exchange orbits separate even
# inside one giant component. Semantics: SYNCHRONOUS fixed-round
# propagation (LPA_ROUNDS), label(v) starts as v, each round every
# node adopts the most frequent neighbor label, ties to the SMALLEST
# label — fully deterministic by construction (no fixpoint claim:
# synchronous LPA can 2-cycle on bipartite shapes, so a fixed round
# count IS the spec, identical in plan and oracle). The argmax is a
# ROW_NUMBER over (count DESC, label ASC) in BOTH engines — never a
# packed count*K+label BIGINT encoding, which would silently cap node
# ids (the HHI overflow lesson). Scale shape per round: one
# |E|-linear join + a hash count on (node, label) — label diversity
# per node is degree-bounded — and a rank window partitioned on node;
# 3 rounds = 3 such passes, each persisted, exactly PageRank's
# iteration discipline.
LPA_ROUNDS = 3


def _lpa_graph(spark: SparkSession, sf_dir: str):
    """Shared LPA machinery: returns (und, sym, labels) — the distinct
    undirected edge set, its symmetric closure, and the (node, lbl)
    assignment after LPA_ROUNDS synchronous rounds. Used by the
    partition query and the modularity evaluation so both see the
    identical deterministic propagation.

    r16 (VERDICT r15 #6; equivalence-gated interleaved A/B 3.07 →
    1.85 s median, 0.59×): (a) the leg build is LAZY — wt is consumed
    exactly once here (into the distinct), the r15 §4 single-consumer
    rule this chain had missed; (b) ``sym`` persists ALREADY
    hash-partitioned on ``d``, the key EVERY LPA round joins on, so
    each round's sym⋈labels reads the cache's partitioning instead of
    re-exchanging |2E| rows per round (guide §2.4 — one exchange at
    build, amortized over all rounds; round 1's groupBy(s) and the
    modularity degree agg still combine map-side, so the d-layout
    costs them nothing extra)."""
    wt = wallet_transactions(spark, sf_dir)
    legs = wt.filter(
        (F.col("address_role") == "sender") & F.col("interacted_with").isNotNull()
    ).select(
        F.col("wallet_address").cast("bigint").alias("u"),
        F.col("interacted_with").cast("bigint").alias("v"),
    )
    und = (
        legs.select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = persist_tracked(
        und.select(F.col("a").alias("s"), F.col("b").alias("d"))
        .unionByName(und.select(F.col("b").alias("s"), F.col("a").alias("d")))
        .repartition("d")
    )
    # only the FINAL round is consumed (twice: sizes agg + join), so
    # the chain runs unpersisted end-to-end and just the result caches
    return und, sym, persist_tracked(_lpa_rounds(sym, persist_rounds=False)[-1])


def _lpa_rounds(
    sym: DataFrame, rounds: int = LPA_ROUNDS, persist_rounds: bool = True
) -> list[DataFrame]:
    """Run ``rounds`` synchronous LPA rounds over the symmetric edge
    set ``sym`` and return the label table AFTER EACH round (the last
    entry is the final partition). Exposing every round is what makes
    the warm-start incremental variant possible: a node at graph
    distance d from any new edge keeps its prior round-r label for all
    r ≤ d, so the incremental refresh stitches recomputed dirty-set
    labels against these stored per-round tables.

    ``persist_rounds=False`` is for callers that consume ONLY the last
    entry (the full partition query, the warm restart branch): each
    round feeds exactly the next one there, so the chain is linear and
    the per-round caches are pure materialization barriers — skipping
    them lets one job pipeline all rounds. Callers that read several
    rounds (the state build, the dirty-frontier stitch) keep the
    default."""
    # Round 1 directly: every node's round-0 label IS its id, so the
    # neighbor-label join against labels0 is the identity on d —
    # mode(d) gives round 1 without building labels0 at all (one
    # distinct and one join less; sym carries every node as an s).
    labels = (
        sym.groupBy("s")
        .agg(
            # mode(lbl, deterministic=true) IS the LPA pick — the most
            # frequent neighbor label, ties broken to the LOWEST label
            # — in a single hash aggregate: one exchange per round
            # instead of the groupBy(s, lbl) + row_number window pair
            # (two exchanges), identical semantics to the oracle's
            # QUALIFY ROW_NUMBER() OVER (ORDER BY c DESC, lbl ASC) = 1.
            F.mode("d", True).alias("lbl")
        )
        .select(F.col("s").alias("node"), "lbl")
    )
    if persist_rounds:
        labels = persist_tracked(labels)
    out: list[DataFrame] = [labels]
    for _ in range(rounds - 1):
        labels = (
            sym.join(labels, sym["d"] == labels["node"])
            .groupBy("s")
            .agg(F.mode("lbl", True).alias("lbl"))
            .select(F.col("s").alias("node"), "lbl")
        )
        if persist_rounds:
            labels = persist_tracked(labels)
        out.append(labels)
    return out


def wallet_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, labels = _lpa_graph(spark, sf_dir)
    # community sizes via AGG + join, not a full-partition window: a
    # giant community would otherwise be buffered whole in one task
    # (the weighted-median 100× OOM class, PLANS.md)
    sizes = labels.groupBy("lbl").agg(
        F.count(F.lit(1)).cast("bigint").alias("community_size")
    )
    return labels.join(sizes, "lbl").select(
        F.col("node").cast("string").alias("wallet_address"),
        F.col("lbl").cast("bigint").alias("community"),
        "community_size",
    )


def _lpa_chain(rounds: int = LPA_ROUNDS) -> str:
    """The WITH-chain shared by the LPA oracle and the modularity
    oracle: edges, symmetric closure, and the unrolled label rounds
    (ends with a trailing comma — callers append their own CTEs)."""
    parts = [
        "WITH {wallet_tx_cte},",
        """und AS (
    SELECT DISTINCT
        least(CAST(wallet_address AS BIGINT), CAST(interacted_with AS BIGINT)) AS a,
        greatest(CAST(wallet_address AS BIGINT), CAST(interacted_with AS BIGINT)) AS b
    FROM wallet_tx
    WHERE address_role = 'sender' AND interacted_with IS NOT NULL
      AND CAST(wallet_address AS BIGINT) <> CAST(interacted_with AS BIGINT)
),
sym AS MATERIALIZED (SELECT a AS s, b AS d FROM und UNION ALL SELECT b AS s, a AS d FROM und),
lab0 AS MATERIALIZED (SELECT DISTINCT s AS node, s AS lbl FROM sym),""",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"cnt{r} AS MATERIALIZED (SELECT e.s, l.lbl, COUNT(*) AS c"
            f" FROM sym e JOIN lab{r - 1} l ON l.node = e.d GROUP BY 1, 2),\n"
            f"lab{r} AS MATERIALIZED (SELECT s AS node, lbl FROM cnt{r}"
            f" QUALIFY ROW_NUMBER() OVER ("
            f"PARTITION BY s ORDER BY c DESC, lbl ASC) = 1),"
        )
    return "\n".join(parts)


def _lpa_oracle(rounds: int = LPA_ROUNDS) -> str:
    return (
        _lpa_chain(rounds)
        + f"""
sized AS (SELECT node, lbl, COUNT(*) OVER (PARTITION BY lbl) AS sz FROM lab{rounds})
SELECT CAST(node AS VARCHAR) AS wallet_address,
       CAST(lbl AS BIGINT) AS community,
       CAST(sz AS BIGINT) AS community_size
FROM sized"""
    )


WALLET_LABEL_PROPAGATION_ORACLE = _lpa_oracle().format(
    wallet_tx_cte=WALLET_TX_ORACLE_CTE
)


# --------------------------------------------------------------------------
# Community modularity — the evaluation every clustering needs before
# anyone ACTS on it: Newman's Q per community, Q_c = e_c/m −
# (d_c/2m)², over the LPA partition (positive ⇒ denser inside than a
# degree-preserving random graph; the sum over communities is the
# global Q). Numerics: e_c, d_c, m are exact integers; each reported
# contribution is e_c/m − b·b with b = d_c/(2m) — two exact-int
# double divisions, one multiply, one subtract, all correctly-rounded
# IEEE in identical order in both engines (and never POWER(), whose
# libm path is not pinned). The GLOBAL Q is deliberately NOT emitted:
# it would be a float SUM over per-community rows with
# engine-dependent order — consumers fold the rows themselves.
# Scale shape: reuses the LPA rounds (label diversity degree-bounded)
# + two |E|-linear joins against the final labels + a |communities|-
# keyed agg; m rides as a one-row broadcast.


def wallet_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    und, sym, labels = _lpa_graph(spark, sf_dir)
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
    deg = sym.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("dg"))
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


WALLET_COMMUNITY_MODULARITY_ORACLE = (
    _lpa_chain()
    + f"""
deg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS dg FROM sym GROUP BY s),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM und),
e_in AS (
    SELECT la.lbl, CAST(COUNT(*) AS BIGINT) AS e_in
    FROM und u
    JOIN lab{LPA_ROUNDS} la ON la.node = u.a
    JOIN lab{LPA_ROUNDS} lb ON lb.node = u.b
    WHERE la.lbl = lb.lbl
    GROUP BY 1
),
d_c AS (
    SELECT l.lbl,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(d.dg) AS BIGINT) AS d_tot
    FROM lab{LPA_ROUNDS} l JOIN deg d ON d.s = l.node
    GROUP BY 1
)
SELECT d_c.lbl AS community,
       d_c.n_nodes,
       COALESCE(e_in.e_in, CAST(0 AS BIGINT)) AS e_in,
       d_c.d_tot,
       ROUND(CAST(COALESCE(e_in.e_in, 0) AS DOUBLE) / CAST(m.m AS DOUBLE)
             - (CAST(d_c.d_tot AS DOUBLE) / CAST(2 * m.m AS DOUBLE))
               * (CAST(d_c.d_tot AS DOUBLE) / CAST(2 * m.m AS DOUBLE)), 6)
           AS q_contribution
FROM d_c LEFT JOIN e_in ON e_in.lbl = d_c.lbl
CROSS JOIN m
"""
).format(wallet_tx_cte=WALLET_TX_ORACLE_CTE)


# --------------------------------------------------------------------------
# Degree distribution of the counterparty graph — the structural
# sanity report every graph feature above (taint, PageRank,
# components, k-core, LPA) implicitly depends on: power-law-ish
# degree mass says the skew machinery matters; a bent head says a
# mixer/exchange supernode entered the data. Log₂ buckets via
# length(bin(degree)) — the INTEGER floor(log₂)+1, exact in both
# engines (never float log2, whose exact-power edges flip
# cross-libm). Scale shape: |E|-linear distinct + degree hash agg,
# then a ≤64-row bucket agg — no windows, no joins.


def wallet_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    wt = wallet_transactions(spark, sf_dir)
    legs = wt.filter(
        (F.col("address_role") == "sender") & F.col("interacted_with").isNotNull()
    ).select(
        F.col("wallet_address").cast("bigint").alias("u"),
        F.col("interacted_with").cast("bigint").alias("v"),
    )
    und = (
        legs.select(F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = und.select(F.col("a").alias("node")).unionByName(
        und.select(F.col("b").alias("node"))
    )
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    return (
        deg.groupBy(F.length(F.bin("degree")).cast("int").alias("deg_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.min("degree").cast("bigint").alias("min_degree"),
            F.max("degree").cast("bigint").alias("max_degree"),
        )
        .orderBy("deg_bucket")
    )


WALLET_DEGREE_DISTRIBUTION_ORACLE = f"""
WITH {{wallet_tx_cte}},
und AS (
    SELECT DISTINCT
        least(CAST(wallet_address AS BIGINT), CAST(interacted_with AS BIGINT)) AS a,
        greatest(CAST(wallet_address AS BIGINT), CAST(interacted_with AS BIGINT)) AS b
    FROM wallet_tx
    WHERE address_role = 'sender' AND interacted_with IS NOT NULL
      AND CAST(wallet_address AS BIGINT) <> CAST(interacted_with AS BIGINT)
),
deg AS (
    SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
    FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
    GROUP BY 1
)
SELECT CAST(length(bin(degree)) AS INTEGER) AS deg_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MIN(degree) AS BIGINT) AS min_degree,
       CAST(MAX(degree) AS BIGINT) AS max_degree
FROM deg
GROUP BY 1
ORDER BY 1
""".format(wallet_tx_cte=WALLET_TX_ORACLE_CTE)


# --------------------------------------------------------------------------
# Counterparty-signature similarity: collusion-pair detection
# --------------------------------------------------------------------------


def wallet_neighborhood_jaccard(
    spark: SparkSession, sf_dir: str, k: int = 5, max_df: int = 10_000
) -> DataFrame:
    """Collusion-pair detection via Jaccard similarity of top-``k``
    counterparty SIGNATURES — wallet pairs whose strongest (by lifetime
    cents) counterparties substantially overlap, the classic sybil /
    wash-trading screen over the counterparty graph (extends the
    reference's per-wallet counterparty features,
    queries/ethereum_wallet_features.sql unique-counterparty block,
    to PAIRWISE structure).

    Raw neighborhood Jaccard is scale-hostile AND signal-poor on dense
    graphs (every hub counterparty links everyone to everyone). The
    value-ranked top-k signature fixes both at once:

    - each wallet contributes ≤ k index rows, so the inverted index is
      |wallets|·k regardless of graph density;
    - pair candidates come from an equi self-join on the signature
      counterparty — never all-pairs — and a counterparty appearing in
      more than ``max_df`` signatures is dropped by the same occupancy
      guard as the containment/entity-block family (df ≈ 7 at sf0.01;
      the cap is the hub fuse, not a tuning knob);
    - ``shared_top >= 2`` bounds the output to pairs with real overlap.

    The top-k pick is a rank window over the per-(wallet, counterparty)
    AGGREGATE (partition size = distinct counterparties per wallet, and
    rank windows stream — not the unbounded-frame buffering class).
    Tie-break (cents DESC, counterparty ASC) is a strict total order in
    both engines, so the signature — and therefore every downstream
    count — is deterministic cross-engine.

    ``jaccard_top`` = shared/(|sig_a|+|sig_b|−shared) over signature
    sets (|sig| < k only for wallets with fewer counterparties); the
    ``is_collusive`` verdict is the pure-integer cross-multiplication
    2·shared ≥ |sig_a|+|sig_b|−shared (τ = 0.5), ANSI-safe.
    """
    wt = wallet_transactions(spark, sf_dir)
    legs = wt.filter(
        (F.col("address_role") == "sender")
        & F.col("interacted_with").isNotNull()
        & (F.col("current_value") > 0)
    )
    pair = legs.groupBy(
        "wallet_address", F.col("interacted_with").alias("counterparty")
    ).agg(
        F.sum(F.expr("CAST(round(current_value * 100) AS BIGINT)")).alias("cents")
    )
    rank_w = Window.partitionBy("wallet_address").orderBy(
        F.col("cents").desc(), F.col("counterparty").asc()
    )
    sig = (
        pair.withColumn("rn", F.row_number().over(rank_w))
        .filter(F.col("rn") <= k)
        .select("wallet_address", "counterparty")
    )
    dfs = sig.groupBy("counterparty").agg(F.count(F.lit(1)).alias("__df"))
    kept = (
        sig.join(dfs, "counterparty")
        .filter(F.col("__df") <= max_df)
        .select("wallet_address", "counterparty")
    )
    sz = kept.groupBy("wallet_address").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    capped = persist_tracked(kept.join(sz, "wallet_address"))
    inter = (
        capped.alias("a")
        .join(capped.alias("b"), "counterparty")
        .filter(F.col("a.wallet_address") < F.col("b.wallet_address"))
        .groupBy(
            F.col("a.wallet_address").alias("wallet_a"),
            F.col("b.wallet_address").alias("wallet_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("shared_top"),
            F.first("a.sz").alias("sz_a"),
            F.first("b.sz").alias("sz_b"),
        )
        .filter(F.col("shared_top") >= 2)
    )
    union_sz = F.col("sz_a") + F.col("sz_b") - F.col("shared_top")
    return inter.select(
        "wallet_a",
        "wallet_b",
        "shared_top",
        F.round(F.col("shared_top").cast("double") / union_sz.cast("double"), 6).alias(
            "jaccard_top"
        ),
        (F.lit(2) * F.col("shared_top") >= union_sz).alias("is_collusive"),
    )


WALLET_NBR_JACCARD_ORACLE = f"""
WITH {{wallet_tx_cte}},
pair AS (
    SELECT wallet_address,
           interacted_with AS counterparty,
           SUM(CAST(round(current_value * 100) AS BIGINT)) AS cents
    FROM wallet_tx
    WHERE address_role = 'sender'
      AND interacted_with IS NOT NULL
      AND current_value > 0
    GROUP BY 1, 2
),
sig AS (
    SELECT wallet_address, counterparty FROM (
        SELECT wallet_address, counterparty,
               ROW_NUMBER() OVER (PARTITION BY wallet_address
                                  ORDER BY cents DESC, counterparty ASC) AS rn
        FROM pair
    ) WHERE rn <= 5
),
dfs AS (SELECT counterparty, COUNT(*) AS df FROM sig GROUP BY 1),
kept AS (
    SELECT wallet_address, counterparty
    FROM sig JOIN dfs USING (counterparty)
    WHERE df <= 10000
),
sz AS (SELECT wallet_address, CAST(COUNT(*) AS BIGINT) AS sz FROM kept GROUP BY 1),
inter AS (
    SELECT a.wallet_address AS wallet_a,
           b.wallet_address AS wallet_b,
           CAST(COUNT(*) AS BIGINT) AS shared_top
    FROM kept a
    JOIN kept b ON a.counterparty = b.counterparty
               AND a.wallet_address < b.wallet_address
    GROUP BY 1, 2
)
SELECT wallet_a, wallet_b, shared_top,
       round(CAST(shared_top AS DOUBLE)
             / CAST(sa.sz + sb.sz - shared_top AS DOUBLE), 6) AS jaccard_top,
       2 * shared_top >= sa.sz + sb.sz - shared_top AS is_collusive
FROM inter
JOIN sz sa ON sa.wallet_address = wallet_a
JOIN sz sb ON sb.wallet_address = wallet_b
WHERE shared_top >= 2
""".format(wallet_tx_cte=WALLET_TX_ORACLE_CTE)


# --------------------------------------------------------------------------
# Temporal flow motifs: 2-hop pass-through (layering) detection
# --------------------------------------------------------------------------

FLOW_WINDOW_US = 86_400_000_000  # 24 h second-hop window
FLOW_FAST_US = 3_600_000_000  # "fast" pass-through: forwarded within 1 h
FLOW_MAX_DAILY_LEGS = 10_000  # per-(wallet, day) occupancy fuse


def wallet_flow_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal 2-hop flow motifs — for each intermediate wallet b,
    count a→b→c paths where the outgoing hop happens within 24 h AFTER
    the incoming hop and c ≠ a: the classic AML layering / pass-through
    screen (funds arriving and promptly forwarded through a middle
    wallet), the temporal-path sibling of the static triangle and
    reciprocity motifs (extends the reference's counterparty features
    to PATHS; cites queries/ethereum_wallet_features.sql counterparty
    block for the leg model).

    Scale shape — the join is day-BUCKETED and occupancy-FUSED:

    - the hop-pairing joins on (b, day(out_hop)) with the incoming hop
      exploded over day offsets {0, +1} (a 24 h band from day d can
      only land on d or d+1), so pairing work is per-(wallet, day)
      blocks, never per-wallet quadratic across history;
    - a wallet moving more than ``FLOW_MAX_DAILY_LEGS`` legs in a day
      on either side is an exchange-grade hub, not a layering
      candidate — its (wallet, day) blocks are excluded by the same
      occupancy-guard discipline as the entity-blocking family (the
      fuse is semantic and mirrored in the oracle; it never binds at
      test scale);
    - the exact (0, 24 h] band rides as an integer epoch-microsecond
      post-join filter (unix_micros ≡ epoch_us — the relational
      module's timestamp parity rule), so the day bucket is purely a
      physical strategy.

    The ``is_layering`` verdict (≥5 paths through ≥2 distinct sources
    and ≥2 distinct destinations) is all-integer, ANSI-safe.
    """
    legs, in_busy, out_busy = _flow_legs_and_fences(spark, sf_dir)
    pairs = _flow_pair_grain(
        _flow_paths(
            legs, legs, in_busy, out_busy,
            broadcast_fences=_flow_fences_broadcastable(sf_dir),
        )
    )
    return _flow_rollup(pairs)


# Footer-gated fence-broadcast bound (r16, the ngram family's
# discipline): the over-fuse hot list is bounded by |legs| /
# FLOW_MAX_DAILY_LEGS rows at ANY scale (each hot (wallet, day) block
# absorbs > 10⁴ legs), so at ≤ 1e9 source events (≤ 2e9 legs) the hot
# side is ≤ 2e5 rows ≈ a few MB built — force the broadcast and skip
# the AQE stage-barrier re-planning; beyond the bound fall back to
# AQE's runtime choice (the hot list still stays 10⁴× smaller than the
# legs, so the degradation is a hash join, never an OOM).
FLOW_BROADCAST_MAX_EVENTS = 1_000_000_000


def _flow_fences_broadcastable(sf_dir: str) -> bool:
    from ..sources.readers import table_row_count

    try:
        return table_row_count(sf_dir, "events") <= FLOW_BROADCAST_MAX_EVENTS
    except Exception:
        return False


def _fence_anti(legs, busy, leg_key: str, busy_key: str, busy_day: str,
                n_col: str, broadcast_fences: bool):
    """Apply one occupancy fence as a LEFT ANTI join against the
    bounded over-fuse list (r16; guide §2.3/§3). The old shape inner-
    joined the FULL per-(wallet, day) count table onto the legs —
    shuffling the whole leg stream by (wallet, day) just to read one
    bounded count — and then filtered ``n ≤ FLOW_MAX_DAILY_LEGS``.

    Caller contract (coverage): ``busy`` holds a row for every
    (``leg_key``, day) of ``legs``, i.e. the fences are counted over
    the legs being fenced or a superset of them. Every caller builds
    them that way: ``_flow_legs_and_fences`` counts over the legs its
    callers fence (the incremental face fences subsets of them), and
    the peel chain counts over its own ``raw``. Under the contract
    inner-join+filter ≡ anti-join against the complement hot list
    {(wallet, day): n > fuse}, whose size the fuse algebra bounds at
    |legs| / 10⁴ — so the big side is never shuffled for the fence at
    any scale. A leg with no fence row would be dropped by the inner
    join but kept here, so fences counted over fewer legs than they
    fence silently change the result."""
    hot = busy.filter(F.col(n_col) > FLOW_MAX_DAILY_LEGS).select(busy_key, busy_day)
    if broadcast_fences:
        hot = F.broadcast(hot)
    return legs.join(
        hot,
        (F.col(leg_key) == F.col(busy_key)) & (F.col("day") == F.col(busy_day)),
        "left_anti",
    )


def _flow_legs_and_fences(spark: SparkSession, sf_dir: str):
    """Sender legs + the per-(wallet, day) occupancy fences. The fences
    are computed over ALL legs — daily leg counts are additive, so a
    real deployment maintains them incrementally as table metadata and
    every (full or incremental) motif scan reads the same fence.

    r16: the legs persist as the PROJECTED six-column frame over a
    LAZY wt build, replacing reads of a full-width explosion cache —
    the chain's 4-6 leg consumers (fence aggs, hop streams, peel's
    depth init and rollup) read a cache that carries only what they
    use (guide §2.3 project-before-reuse). Equivalence-gated
    interleaved A/B on wallet_flow_motifs: 2.65 → 1.81 s median
    (0.68×)."""
    wt = wallet_transactions(spark, sf_dir)
    legs = persist_tracked(
        wt.filter(
            (F.col("address_role") == "sender")
            & F.col("interacted_with").isNotNull()
            & (F.col("current_value") > 0)
        ).select(
            "event_id",
            F.col("wallet_address").alias("src"),
            F.col("interacted_with").alias("dst"),
            F.unix_micros("ts").alias("us"),
            F.to_date("ts").alias("day"),
            F.expr("CAST(round(current_value * 100) AS BIGINT)").alias("cents"),
        )
    )
    in_busy = legs.groupBy(
        F.col("dst").alias("ib_b"), F.col("day").alias("ib_day")
    ).agg(F.count(F.lit(1)).alias("n_in"))
    out_busy = legs.groupBy(
        F.col("src").alias("ob_b"), F.col("day").alias("ob_day")
    ).agg(F.count(F.lit(1)).alias("n_out"))
    return legs, in_busy, out_busy


def _flow_paths(e1_legs, e2_legs, in_busy, out_busy, broadcast_fences=False):
    """Fenced a→b→c path rows (a, mid, c, gap_us) with the in-hop from
    ``e1_legs`` and the out-hop from ``e2_legs`` — parameterized so the
    incremental plan can pair only the trailing-window in-hops against
    the new out-hops while the full plan passes the whole table twice.
    Fences apply as bounded hot-list ANTI joins (``_fence_anti``), so
    neither leg stream is shuffled by (wallet, day) for the fence."""
    hop_in = _fence_anti(
        e1_legs, in_busy, "dst", "ib_b", "ib_day", "n_in", broadcast_fences
    ).select(
        F.col("src").alias("a"),
        F.col("dst").alias("mid"),
        F.col("us").alias("us_in"),
        F.explode(
            F.array(F.col("day"), F.date_add(F.col("day"), 1))
        ).alias("match_day"),
    )
    hop_out = _fence_anti(
        e2_legs, out_busy, "src", "ob_b", "ob_day", "n_out", broadcast_fences
    ).select(
        F.col("src").alias("mid2"),
        F.col("dst").alias("c"),
        F.col("us").alias("us_out"),
        F.col("day").alias("out_day"),
    )
    return (
        hop_in.join(
            hop_out,
            (F.col("mid") == F.col("mid2"))
            & (F.col("match_day") == F.col("out_day")),
        )
        .filter(
            (F.col("us_out") > F.col("us_in"))
            & (F.col("us_out") - F.col("us_in") <= F.lit(FLOW_WINDOW_US))
            & (F.col("c") != F.col("a"))
        )
        .select("a", "mid", "c", (F.col("us_out") - F.col("us_in")).alias("gap_us"))
    )


def _flow_pair_grain(paths):
    """(mid, a, c) pair-grain counts — the motif family's mergeable
    state grain: plain counts add across disjoint path sets, and the
    per-mid DISTINCT source/dest counts are recoverable from the grain
    itself, so incremental merge is a union + sum."""
    return paths.groupBy("mid", "a", "c").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("gap_us") <= F.lit(FLOW_FAST_US), 1).otherwise(0))
        .cast("bigint")
        .alias("n_fast"),
    )


def _flow_rollup(pairs):
    """Per-intermediate rollup from the pair grain (shared by the full
    and incremental plans — one code path, one expression tree)."""
    return (
        pairs.groupBy(F.col("mid").alias("intermediate_wallet"))
        .agg(
            F.sum("n").cast("bigint").alias("n_paths"),
            F.countDistinct("a").cast("bigint").alias("n_sources"),
            F.countDistinct("c").cast("bigint").alias("n_dests"),
            F.sum("n_fast").cast("bigint").alias("n_fast_paths"),
        )
        .select(
            "intermediate_wallet",
            "n_paths",
            "n_sources",
            "n_dests",
            "n_fast_paths",
            (
                (F.col("n_paths") >= 5)
                & (F.col("n_sources") >= 2)
                & (F.col("n_dests") >= 2)
            ).alias("is_layering"),
        )
    )


WALLET_FLOW_MOTIFS_ORACLE = f"""
WITH {{wallet_tx_cte}},
legs AS (
    SELECT wallet_address AS src,
           interacted_with AS dst,
           epoch_us(ts) AS us,
           CAST(ts AS DATE) AS day
    FROM wallet_tx
    WHERE address_role = 'sender'
      AND interacted_with IS NOT NULL
      AND current_value > 0
),
in_busy AS (SELECT dst AS b, day, COUNT(*) AS n_in FROM legs GROUP BY 1, 2),
out_busy AS (SELECT src AS b, day, COUNT(*) AS n_out FROM legs GROUP BY 1, 2),
paths AS (
    SELECT i.src AS a, i.dst AS mid, o.dst AS c, o.us - i.us AS gap_us
    FROM legs i
    JOIN in_busy ib ON ib.b = i.dst AND ib.day = i.day
    JOIN legs o ON o.src = i.dst
    JOIN out_busy ob ON ob.b = o.src AND ob.day = o.day
    WHERE ib.n_in <= {FLOW_MAX_DAILY_LEGS}
      AND ob.n_out <= {FLOW_MAX_DAILY_LEGS}
      AND o.us > i.us
      AND o.us - i.us <= {FLOW_WINDOW_US}
      AND o.dst <> i.src
)
SELECT mid AS intermediate_wallet,
       CAST(COUNT(*) AS BIGINT) AS n_paths,
       CAST(COUNT(DISTINCT a) AS BIGINT) AS n_sources,
       CAST(COUNT(DISTINCT c) AS BIGINT) AS n_dests,
       CAST(SUM(CASE WHEN gap_us <= {FLOW_FAST_US} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_fast_paths,
       COUNT(*) >= 5 AND COUNT(DISTINCT a) >= 2 AND COUNT(DISTINCT c) >= 2
           AS is_layering
FROM paths
GROUP BY 1
""".format(wallet_tx_cte=WALLET_TX_ORACLE_CTE)


# --------------------------------------------------------------------------
# Dormancy → revival: sleeper-wallet spike screen
# --------------------------------------------------------------------------

DORMANCY_US = 172_800_000_000  # 2 days at this corpus's 30-day span
MIN_REVIVAL_CENTS = 5_000  # $50 — above the corpus value median


def wallet_dormancy_revival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sleeper-wallet screen: wallets that go dormant (no activity in
    either role for ``DORMANCY_US``) and then wake with a
    value-carrying leg — the classic rug-pull / compromised-key
    precursor the reference's risk classifiers consume activity-recency
    features for (cites src/pipelines/analytics/features/queries/
    ethereum_wallet_features.sql activity-window block). At this
    corpus's 30-day span the dormancy bound is 2 days (the p99
    inter-event gap); a production deployment sets 90 d — the plan is
    threshold-independent.

    Per-wallet activity timeline = BOTH role legs ordered by the strict
    total order (us, event_id, address_role) — the third key breaks the
    self-transfer tie where one event yields two legs for the same
    wallet, identically in both engines. ``gap`` is one LAG over that
    order (streaming window, no frame buffering); everything after the
    gap filter is a hash agg to ≤|wallets| rows. All comparisons are
    integer (epoch µs, cents, integer-division day counts) — ANSI-safe,
    bit-equal cross-engine.
    """
    wt = wallet_transactions(spark, sf_dir)
    legs = wt.select(
        "wallet_address",
        F.unix_micros("ts").alias("us"),
        "event_id",
        "address_role",
        F.expr("CAST(round(current_value * 100) AS BIGINT)").alias("cents"),
    )
    w = Window.partitionBy("wallet_address").orderBy(
        "us", "event_id", "address_role"
    )
    gapped = legs.withColumn("gap", F.col("us") - F.lag("us").over(w))
    dormant = gapped.filter(F.col("gap") >= F.lit(DORMANCY_US))
    return (
        dormant.groupBy("wallet_address")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dormancy_gaps"),
            F.sum(
                F.when(F.col("cents") >= MIN_REVIVAL_CENTS, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_value_revivals"),
            F.max("gap").alias("__max_gap_us"),
            F.coalesce(
                F.max(
                    F.when(
                        F.col("cents") >= MIN_REVIVAL_CENTS, F.col("cents")
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("max_revival_cents"),
        )
        .select(
            "wallet_address",
            "n_dormancy_gaps",
            "n_value_revivals",
            F.expr("CAST(__max_gap_us DIV 86400000000 AS INT)").alias(
                "max_gap_days"
            ),
            "max_revival_cents",
            (F.col("n_value_revivals") >= 1).alias("is_sleeper_spike"),
        )
    )


WALLET_DORMANCY_ORACLE = f"""
WITH {{wallet_tx_cte}},
legs AS (
    SELECT wallet_address,
           epoch_us(ts) AS us,
           event_id,
           address_role,
           CAST(round(current_value * 100) AS BIGINT) AS cents
    FROM wallet_tx
),
gapped AS (
    SELECT wallet_address, cents,
           us - lag(us) OVER (PARTITION BY wallet_address
                              ORDER BY us, event_id, address_role) AS gap
    FROM legs
),
dormant AS (SELECT * FROM gapped WHERE gap >= {DORMANCY_US})
SELECT wallet_address,
       CAST(COUNT(*) AS BIGINT) AS n_dormancy_gaps,
       CAST(SUM(CASE WHEN cents >= {MIN_REVIVAL_CENTS} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_value_revivals,
       CAST(MAX(gap) // 86400000000 AS INTEGER) AS max_gap_days,
       CAST(COALESCE(MAX(CASE WHEN cents >= {MIN_REVIVAL_CENTS} THEN cents END), 0)
            AS BIGINT) AS max_revival_cents,
       SUM(CASE WHEN cents >= {MIN_REVIVAL_CENTS} THEN 1 ELSE 0 END) >= 1
           AS is_sleeper_spike
FROM dormant
GROUP BY 1
""".format(wallet_tx_cte=WALLET_TX_ORACLE_CTE)


def wallet_wash_cycles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal directed 3-cycles — wash-trading ring detection, the
    loop-CLOSING extension of ``wallet_flow_motifs``' open 2-hop paths:
    a→b→c→a with strictly increasing leg times inside a 24 h window.
    Strict temporal ordering makes each ring's earliest leg the unique
    anchor, so every cycle is found exactly once — no rotation
    canonicalization, identically in both engines. ``washed_cents`` is
    the per-cycle MIN leg (the volume that actually round-tripped),
    credited to all three members.

    Scale shape: one globally FENCED leg table (per-(wallet, day)
    occupancy ≤ ``FLOW_MAX_DAILY_LEGS`` on both the out and in side —
    exchange-grade hubs out, the flow-motif fuse applied once, mirrored
    in the oracle), then (1) the a→b ⋈ b→c pairing day-bucketed on
    (b, day(e2)) with e1 exploded over {0,+1} exactly as the 2-hop
    plan, and (2) the closing hop joined on the TWO-column equi key
    (src=c, dst=a) — per candidate path the closing matches are one
    wallet-pair's fenced daily legs, never a hub fan-out. Self-loop
    legs are dropped once (src ≠ dst), which by construction makes
    a, b, c pairwise distinct. All band math is integer epoch-µs;
    the verdict (≥3 rings) is integer, ANSI-safe.
    """
    # r16: lazy wt + persist the projected five-column frame (the
    # _flow_legs_and_fences discipline) — raw feeds two fence aggs and
    # the fenced leg build, which should read a narrow cache, not the
    # full-width explosion.
    wt = wallet_transactions(spark, sf_dir)
    raw = persist_tracked(
        wt.filter(
            (F.col("address_role") == "sender")
            & F.col("interacted_with").isNotNull()
            & (F.col("current_value") > 0)
            & (F.col("wallet_address") != F.col("interacted_with"))
        ).select(
            F.col("wallet_address").alias("src"),
            F.col("interacted_with").alias("dst"),
            F.unix_micros("ts").alias("us"),
            F.to_date("ts").alias("day"),
            F.expr("CAST(round(current_value * 100) AS BIGINT)").alias("cents"),
        )
    )
    out_busy = raw.groupBy(
        F.col("src").alias("ob_b"), F.col("day").alias("ob_day")
    ).agg(F.count(F.lit(1)).alias("n_out"))
    in_busy = raw.groupBy(
        F.col("dst").alias("ib_b"), F.col("day").alias("ib_day")
    ).agg(F.count(F.lit(1)).alias("n_in"))
    bcast = _flow_fences_broadcastable(sf_dir)
    legs = persist_tracked(
        _fence_anti(
            _fence_anti(raw, out_busy, "src", "ob_b", "ob_day", "n_out", bcast),
            in_busy, "dst", "ib_b", "ib_day", "n_in", bcast,
        ).select("src", "dst", "us", "day", "cents")
    )
    e1 = legs.select(
        F.col("src").alias("a"),
        F.col("dst").alias("b"),
        F.col("us").alias("us1"),
        F.col("cents").alias("c1"),
        F.explode(F.array(F.col("day"), F.date_add(F.col("day"), 1))).alias(
            "match_day"
        ),
    )
    e2 = legs.select(
        F.col("src").alias("b2"),
        F.col("dst").alias("c"),
        F.col("us").alias("us2"),
        F.col("cents").alias("c2"),
        F.col("day").alias("day2"),
    )
    e3 = legs.select(
        F.col("src").alias("c3"),
        F.col("dst").alias("a3"),
        F.col("us").alias("us3"),
        F.col("cents").alias("c3c"),
    )
    two = e1.join(
        e2, (F.col("b") == F.col("b2")) & (F.col("match_day") == F.col("day2"))
    ).filter(
        (F.col("us2") > F.col("us1"))
        & (F.col("us2") - F.col("us1") <= F.lit(FLOW_WINDOW_US))
    )
    cycles = two.join(
        e3, (F.col("c") == F.col("c3")) & (F.col("a") == F.col("a3"))
    ).filter(
        (F.col("us3") > F.col("us2"))
        & (F.col("us3") - F.col("us1") <= F.lit(FLOW_WINDOW_US))
    ).select(
        "a", "b", "c", F.least("c1", "c2", "c3c").alias("min_cents")
    )
    members = cycles.select(
        F.explode(F.array("a", "b", "c")).alias("wallet_address"), "min_cents"
    )
    return (
        members.groupBy("wallet_address")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cycles"),
            F.sum("min_cents").cast("bigint").alias("washed_cents"),
        )
        .select(
            "wallet_address",
            "n_cycles",
            "washed_cents",
            (F.col("n_cycles") >= 3).alias("is_wash_trader"),
        )
    )


WALLET_WASH_CYCLES_ORACLE = f"""
WITH {{wallet_tx_cte}},
raw AS (
    SELECT wallet_address AS src,
           interacted_with AS dst,
           epoch_us(ts) AS us,
           CAST(ts AS DATE) AS day,
           CAST(round(current_value * 100) AS BIGINT) AS cents
    FROM wallet_tx
    WHERE address_role = 'sender'
      AND interacted_with IS NOT NULL
      AND current_value > 0
      AND wallet_address <> interacted_with
),
out_busy AS (SELECT src AS b, day, COUNT(*) AS n_out FROM raw GROUP BY 1, 2),
in_busy AS (SELECT dst AS b, day, COUNT(*) AS n_in FROM raw GROUP BY 1, 2),
legs AS (
    SELECT r.src, r.dst, r.us, r.cents
    FROM raw r
    JOIN out_busy ob ON ob.b = r.src AND ob.day = r.day
    JOIN in_busy ib ON ib.b = r.dst AND ib.day = r.day
    WHERE ob.n_out <= {FLOW_MAX_DAILY_LEGS} AND ib.n_in <= {FLOW_MAX_DAILY_LEGS}
),
cycles AS (
    SELECT e1.src AS a, e1.dst AS b, e2.dst AS c,
           LEAST(e1.cents, e2.cents, e3.cents) AS min_cents
    FROM legs e1
    JOIN legs e2 ON e2.src = e1.dst
                AND e2.us > e1.us
                AND e2.us - e1.us <= {FLOW_WINDOW_US}
    JOIN legs e3 ON e3.src = e2.dst AND e3.dst = e1.src
                AND e3.us > e2.us
                AND e3.us - e1.us <= {FLOW_WINDOW_US}
),
members AS (
    SELECT a AS wallet_address, min_cents FROM cycles
    UNION ALL SELECT b, min_cents FROM cycles
    UNION ALL SELECT c, min_cents FROM cycles
)
SELECT wallet_address,
       CAST(COUNT(*) AS BIGINT) AS n_cycles,
       CAST(SUM(min_cents) AS BIGINT) AS washed_cents,
       COUNT(*) >= 3 AS is_wash_trader
FROM members
GROUP BY 1
""".format(wallet_tx_cte=WALLET_TX_ORACLE_CTE)


# --------------------------------------------------------------------------
# Peeling chains: value-conserving forward chains (layering by peel)
# --------------------------------------------------------------------------

PEEL_MAX_DEPTH = 4  # bounded like TAINT_MAX_HOPS — rounds, not recursion


def wallet_peel_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peeling-chain detection — the VALUE-conserving sibling of taint
    (reachability) and the motif family (counts): a peel step is an
    edge pair where the intermediate forwards 80–100% of what it just
    received within 24 h, and ``max_peel_depth`` is the longest such
    chain starting at each wallet's out-legs, capped at
    ``PEEL_MAX_DEPTH``. Classic AML layering signature: the same value
    hopping wallet-to-wallet with a small peel taken at each step.

    Scale shape: the successor relation P(e, f) is built ONCE with the
    flow-motif discipline (per-hop occupancy fences, day-bucketed
    pairing, integer epoch-µs band) plus two integer value
    cross-multiplications (4·in ≤ 5·out ∧ out ≤ in — no division);
    depth then takes ``PEEL_MAX_DEPTH − 1`` bounded rounds of
    d(e) ← max(d(e), 1 + max_{(e,f)∈P} d(f)) over the persisted pair
    table — the taint-hops iteration pattern, |P|-linear per round,
    never recursive path enumeration (the oracle's recursive CTE
    enumerates paths, which is fine for DuckDB at test scale and
    exactly what the distributed plan must NOT do).
    """
    legs, in_busy, out_busy = _flow_legs_and_fences(spark, sf_dir)
    bcast = _flow_fences_broadcastable(sf_dir)
    hop_in = _fence_anti(
        legs, in_busy, "dst", "ib_b", "ib_day", "n_in", bcast
    ).select(
        F.col("event_id").alias("e_id"),
        F.col("dst").alias("mid"),
        F.col("us").alias("us_in"),
        F.col("cents").alias("c_in"),
        F.explode(
            F.array(F.col("day"), F.date_add(F.col("day"), 1))
        ).alias("match_day"),
    )
    hop_out = _fence_anti(
        legs, out_busy, "src", "ob_b", "ob_day", "n_out", bcast
    ).select(
        F.col("event_id").alias("f_id"),
        F.col("src").alias("mid2"),
        F.col("us").alias("us_out"),
        F.col("cents").alias("c_out"),
        F.col("day").alias("out_day"),
    )
    P = persist_tracked(
        hop_in.join(
            hop_out,
            (F.col("mid") == F.col("mid2"))
            & (F.col("match_day") == F.col("out_day")),
        )
        .filter(
            (F.col("us_out") > F.col("us_in"))
            & (F.col("us_out") - F.col("us_in") <= F.lit(FLOW_WINDOW_US))
            & (F.lit(4) * F.col("c_in") <= F.lit(5) * F.col("c_out"))
            & (F.col("c_out") <= F.col("c_in"))
        )
        .select("e_id", "f_id")
    )
    depth = legs.select(F.col("event_id").alias("e_id")).withColumn(
        "d", F.lit(1).cast("bigint")
    )
    for i in range(PEEL_MAX_DEPTH - 1):
        # Round shape (r15 A/B, 0.94× the join form): contributions
        # UNION into the depth table and one MAX hash agg folds them —
        # the same d ← max(d, 1 + max_{(e,f)∈P} d(f)) recurrence as
        # the groupBy + left-join + greatest form it replaces, but two
        # shuffles per round instead of three (the successor probe
        # join and the fold agg; no second e_id-keyed join). |P|-linear
        # per round either way; fewer exchanges is also the shape that
        # wins when the per-round scheduler floor is amortized away at
        # scale.
        contrib = P.join(
            depth.select(F.col("e_id").alias("f_id"), F.col("d").alias("fd")),
            "f_id",
        ).select("e_id", (F.col("fd") + F.lit(1)).alias("d"))
        depth = (
            depth.unionByName(contrib).groupBy("e_id").agg(F.max("d").alias("d"))
        )
        # r16 (VERDICT r15 #2): the per-round persists are gone — the
        # rounds COMPOSE into one plan/one job (equivalence-gated
        # interleaved A/B vs the per-round-persisted shape: 4.64 →
        # 3.99 s median, 0.876×), with ONE midpoint persist kept so
        # the recompute fan-out of the composed depth tree stays ≤ 2×
        # at any scale instead of 2^(rounds−1) (each unpersisted
        # round's depth has two consumers: the successor probe and the
        # union leg). The midpoint form measured parity with the
        # fully-composed one locally (1.003) and is the safer 100 TB
        # shape, so it is the registered plan.
        if i == (PEEL_MAX_DEPTH - 2) // 2:
            depth = persist_tracked(depth)
    return (
        legs.select(F.col("event_id").alias("e_id"), "src")
        .join(depth, "e_id")
        .groupBy(F.col("src").alias("wallet_address"))
        .agg(
            F.max("d").cast("bigint").alias("max_peel_depth"),
            F.sum(F.when(F.col("d") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_peel_edges"),
        )
        .select(
            "wallet_address",
            "max_peel_depth",
            "n_peel_edges",
            (F.col("max_peel_depth") >= 3).alias("is_peeling"),
        )
    )


WALLET_PEEL_ORACLE = f"""
WITH RECURSIVE {{wallet_tx_cte}},
raw AS (
    SELECT event_id,
           wallet_address AS src,
           interacted_with AS dst,
           epoch_us(ts) AS us,
           CAST(ts AS DATE) AS day,
           CAST(round(current_value * 100) AS BIGINT) AS cents
    FROM wallet_tx
    WHERE address_role = 'sender'
      AND interacted_with IS NOT NULL
      AND current_value > 0
),
in_busy AS (SELECT dst AS b, day, COUNT(*) AS n_in FROM raw GROUP BY 1, 2),
out_busy AS (SELECT src AS b, day, COUNT(*) AS n_out FROM raw GROUP BY 1, 2),
P AS (
    SELECT i.event_id AS e_id, o.event_id AS f_id
    FROM raw i
    JOIN in_busy ib ON ib.b = i.dst AND ib.day = i.day
    JOIN raw o ON o.src = i.dst
    JOIN out_busy ob ON ob.b = o.src AND ob.day = o.day
    WHERE ib.n_in <= {FLOW_MAX_DAILY_LEGS}
      AND ob.n_out <= {FLOW_MAX_DAILY_LEGS}
      AND o.us > i.us
      AND o.us - i.us <= {FLOW_WINDOW_US}
      AND 4 * i.cents <= 5 * o.cents
      AND o.cents <= i.cents
),
chain(e_id, d) AS (
    SELECT event_id, 1 FROM raw
    UNION ALL
    SELECT p.e_id, c.d + 1
    FROM chain c JOIN P p ON p.f_id = c.e_id
    WHERE c.d < {PEEL_MAX_DEPTH}
),
md AS (SELECT e_id, MAX(d) AS d FROM chain GROUP BY 1)
SELECT r.src AS wallet_address,
       CAST(MAX(md.d) AS BIGINT) AS max_peel_depth,
       CAST(SUM(CASE WHEN md.d >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_peel_edges,
       MAX(md.d) >= 3 AS is_peeling
FROM raw r JOIN md ON md.e_id = r.event_id
GROUP BY 1
""".format(wallet_tx_cte=WALLET_TX_ORACLE_CTE)


def wallet_rolling_distinct_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window COUNT DISTINCT — 7-day rolling distinct
    counterparties per wallet, anchored at each of the wallet's active
    days: the counterparty-churn velocity feature (a wallet suddenly
    touching many fresh counterparties is the fan-out precursor the
    static n_counterparties total hides).

    Sliding DISTINCT is the aggregate windows can't stream (set union
    is not invertible — no O(1) frame update), so the plan solves it
    at the DAY GRAIN: the distinct (wallet, counterparty, day) table is
    exploded over the ≤7 window anchors each day can serve, re-
    distincted, and counted — total work is a fixed 7× the day-grain
    distinct table, independent of per-day event volume, and every step
    is a hash agg or equi join (no windows at all). Anchoring on active
    days keeps the output join-defined (no data-dependent calendar
    constant) and the row count ≤ |wallet-active-days|.
    """
    # Legs feed exactly ONE consumer (the day-grain distinct), so the
    # query streams the lazy build instead of materializing the
    # full-width legs; what IS consumed twice (active anchors + the
    # window explode) is the much smaller day-grain table — that is
    # the piece worth persisting (r15: 4.6 s → the full-width leg
    # cache write was the cold run's largest single cost).
    wt = wallet_transactions(spark, sf_dir)
    dg = persist_tracked(
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
    active = dg.select("wallet_address", "day").distinct()
    pairs = (
        dg.withColumn(
            "win_day",
            F.explode(F.expr("sequence(day, date_add(day, 6), interval 1 day)")),
        )
        .select("wallet_address", "counterparty", "win_day")
        .distinct()
    )
    return (
        pairs.join(
            active.withColumnRenamed("day", "win_day"),
            ["wallet_address", "win_day"],
        )
        .groupBy(
            "wallet_address",
            # dates leave the plan as formatted strings (the relational
            # module's timestamp-parity rule — raw DATE hashes as
            # datetime64 in one engine and date objects in the other)
            F.date_format("win_day", "yyyy-MM-dd").alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_distinct_7d"))
    )


WALLET_ROLLING_DISTINCT_ORACLE = f"""
WITH {{wallet_tx_cte}},
dg AS (
    SELECT DISTINCT wallet_address,
           interacted_with AS counterparty,
           CAST(ts AS DATE) AS day
    FROM wallet_tx
    WHERE address_role = 'sender' AND interacted_with IS NOT NULL
),
active AS (SELECT DISTINCT wallet_address, day FROM dg),
pairs AS (
    SELECT DISTINCT d.wallet_address, d.counterparty, CAST(w.win_day AS DATE) AS win_day
    FROM dg d,
         unnest(generate_series(d.day, d.day + INTERVAL 6 DAY, INTERVAL 1 DAY))
             AS w(win_day)
)
SELECT p.wallet_address, strftime(p.win_day, '%Y-%m-%d') AS day,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_7d
FROM pairs p
JOIN active a ON a.wallet_address = p.wallet_address AND a.day = p.win_day
GROUP BY 1, 2
""".format(wallet_tx_cte=WALLET_TX_ORACLE_CTE)
