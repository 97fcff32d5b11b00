"""Canonical wallet-transactions event model over the synthetic
``events`` table.

The reference's central fact table is ``ethereum_wallet_transactions``:
every transaction exploded into ≤2 (wallet, role) rows — a sender leg
and a receiver leg — tagged with transaction type priority and sentinel
transaction indexes (reference
analytics/transformations/ethereum_wallet_transactions.sql:86-147 for
the role explosion, queries/ethereum_wallet_features.sql:17-22 for the
999/1000 index sentinels). We rebuild the same shape from the driver's
``events`` table:

- wallet        = user_id      (sender side)
- counterparty  = props.k      (receiver side)
- contract      = event_type   (the "token" dimension)
- type/priority = purchase→normal/1, error→internal/2, else erc20/3
- value         = DECIMAL(38,9); forced to 0 on error legs
  (is_error semantics, ethereum_wallet_transactions.sql:17)
- tx_fee        = round(value/100, 5) on normal sender legs only
  (fee only on normal sender rows, ethereum_wallet_transactions.sql:17,44,71,129)

All arithmetic is DECIMAL so Spark and the DuckDB oracle produce
bit-identical numbers; doubles appear only at final projection.
``WALLET_TX_ORACLE_CTE`` is the DuckDB rendering of the exact same
model, shared by every feature-plan oracle.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import peek_session_memo, session_memo
from ..functions.scalars import VALUE_DECIMAL, bucket_key
from ..sources.readers import read_table

# Deterministic total order within a wallet: the reference layers four
# tie-breakers (timestamp, priority, sentinel tx index, role) plus the
# row number itself (queries/ethereum_wallet_features.sql:16-39).
# event_id is unique per source event, so (ts, priority,
# transaction_index, role_rank, event_id) is a strict total order.
ORDER_COLS = ("ts", "priority", "transaction_index", "role_rank", "event_id")


# The memo key of the role-exploded leg table: ~a dozen registry
# queries (feature rollups, DQ gates, every window family, the
# incremental engine) all start from the same scan → JSON-extract →
# inline() explosion; memoizing the persisted legs per (session,
# sf_dir) computes that base once per session instead of once per
# query. Blacklisted variants bypass the memo (different row set).
WT_MEMO = "wallet_transactions"


def wallet_transactions(
    spark: SparkSession, sf_dir: str, blacklist: tuple[str, ...] = ()
) -> DataFrame:
    """events → role-exploded wallet transaction legs (U3).

    ``blacklist`` drops pathological wallets before any window work —
    the reference's hot-wallet guard (P8,
    queries/ethereum_wallet_features.sql:381-390); combine with
    ``operators.skew.salted_running_sum`` when dropping them isn't
    acceptable.

    The unblacklisted legs are a session memo (``caching`` module
    docstring: the source must be immutable in-session)."""
    if blacklist:
        return _wallet_transactions_build(spark, sf_dir, blacklist)
    return session_memo(
        spark,
        (WT_MEMO, sf_dir),
        lambda: _wallet_transactions_build(spark, sf_dir, ()).persist(
            StorageLevel.MEMORY_AND_DISK
        ),
    )


def wallet_transactions_shared_or_lazy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opportunistic memo read for plans that consume the legs once
    but SHARE them when a nightly session has already materialized the
    table: return the session's memoized leg frame if one exists for
    this input (the runner warms it once per nightly — the deployed
    share), else the lazy unpersisted build (a single-query context
    cannot amortize a cache write it will read exactly once). Never
    BUILDS the memo itself — that choice stays with callers that know
    they fan out (``wallet_transactions``)."""
    hit = peek_session_memo(spark, (WT_MEMO, sf_dir))
    return hit if hit is not None else _wallet_transactions_build(spark, sf_dir, ())


def wallet_transactions_lazy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPERSISTED leg build for SINGLE-CONSUMER plans (VERDICT r13
    #5): a query that streams the legs through one window/agg chain
    exactly once should not pay the memo's InMemoryRelation
    materialization (cache write + read-back ≈ 2× the build itself at
    sf0.1 — measured on window_ordering, 2.0 s memo vs 1.0 s lazy).
    Multi-consumer and iterative plans (the adaptive running sum's
    hot-key count + branches, the graph family's edge tables) keep
    ``wallet_transactions``' shared persisted memo."""
    return _wallet_transactions_build(spark, sf_dir, ())


def wallet_transactions_delta(
    spark: SparkSession, sf_dir: str, since: str
) -> DataFrame:
    """Delta-only leg table for the warm (stored-prior-state) tier:
    ``ts >= since`` applied to a LAZY, UNPERSISTED build so the
    predicate reaches the parquet scan. The memoized
    ``wallet_transactions`` deliberately cannot serve this — its
    ``persist()`` puts an InMemoryRelation between the filter and the
    scan, so a "delta" read through the memo materializes (and caches)
    the FULL role explosion first: exactly the pre-split cost the warm
    tier exists to avoid (the r12 local-delta probe read warm/full
    ≥ 1 at 100× BECAUSE of this). On a date-partitioned events table
    the pushed predicate prunes to the delta's files; on unpartitioned
    parquet it still prunes row groups by ts stats, and only delta
    rows pay the explosion."""
    return _wallet_transactions_build(spark, sf_dir, (), since=since)


def _wallet_transactions_build(
    spark: SparkSession,
    sf_dir: str,
    blacklist: tuple[str, ...],
    since: str | None = None,
) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    if since is not None:
        # Filter BELOW the projections, directly on the scan: besides
        # pushing to parquet, this keeps the delta plan's shape
        # distinct from the memoized full build, so Spark's
        # CacheManager can never substitute the cached FULL explosion
        # for it (plan-fragment equality is the substitution rule —
        # a filter placed on TOP of an identical build fragment gets
        # the cache swapped in underneath and reads everything).
        ev = ev.filter(F.col("ts") >= F.lit(since).cast("timestamp"))
        if "date_partition" in ev.columns:
            # Date-partitioned events store (write_partitioned's
            # layout): mirror the ts bound onto the PARTITION column so
            # the scan prunes whole partition directories at planning
            # time — the ts row-group stats alone cannot prune the file
            # LISTING. This is the deployed 100 TB refresh shape: the
            # delta reads only the delta's files. ISO yyyy-MM-dd
            # strings compare correctly lexically; a leg at ts >= since
            # always lives in a partition >= since's date.
            ev = ev.filter(F.col("date_partition") >= F.lit(since[:10]))
    base = ev.select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
        F.when(F.col("event_type") == "purchase", "normal")
        .when(F.col("event_type") == "error", "internal")
        .otherwise("erc20")
        .alias("transaction_type"),
        F.when(F.col("event_type") == "error", F.lit(0))
        .otherwise(F.col("value"))
        .cast(VALUE_DECIMAL)
        .alias("current_value"),
    ).withColumn(
        "priority",
        F.when(F.col("transaction_type") == "normal", 1)
        .when(F.col("transaction_type") == "internal", 2)
        .otherwise(3),
    ).withColumn(
        # COALESCE(transaction_index, internal→999, erc20→1000)
        "transaction_index",
        F.when(F.col("transaction_type") == "normal", F.col("event_id"))
        .when(F.col("transaction_type") == "internal", F.lit(999))
        .otherwise(F.lit(1000)),
    ).withColumn(
        "tx_fee",
        F.when(
            F.col("transaction_type") == "normal",
            F.round(F.col("current_value").cast("double") * 0.01, 5),
        )
        .otherwise(F.lit(0.0))
        .cast(VALUE_DECIMAL),
    )

    # Single-scan role explosion: a UNION of sender/receiver
    # projections would scan the source twice (it is the reference's
    # shape, ethereum_wallet_transactions.sql:143-147, but Presto
    # reads the table twice for it too); inline() emits both legs from
    # one pass — at 100 TB that is one table scan instead of two.
    zero = F.lit(0).cast(VALUE_DECIMAL)
    sender_leg = F.struct(
        F.col("user_id").cast("string").alias("wallet_address"),
        F.col("k").cast("string").alias("interacted_with"),
        F.lit("sender").alias("address_role"),
        F.lit(1).alias("role_rank"),
        F.col("tx_fee").alias("tx_fee"),
        # Sender spends value + fee; receiver gains value
        # (queries/ethereum_wallet_features.sql:102-107).
        (-(F.col("current_value") + F.col("tx_fee"))).cast(VALUE_DECIMAL).alias("signed_value"),
    )
    receiver_leg = F.struct(
        F.col("k").cast("string").alias("wallet_address"),
        F.col("user_id").cast("string").alias("interacted_with"),
        F.lit("receiver").alias("address_role"),
        F.lit(0).alias("role_rank"),
        zero.alias("tx_fee"),
        F.col("current_value").cast(VALUE_DECIMAL).alias("signed_value"),
    )
    wt = base.select(
        "event_id",
        "ts",
        F.col("event_type").alias("contract_address"),
        "transaction_type",
        "priority",
        "transaction_index",
        "current_value",
        F.inline(F.array(sender_leg, receiver_leg)),
    )
    if blacklist:
        wt = wt.filter(~F.col("wallet_address").isin(*blacklist))
    return wt.withColumn("address_partition", bucket_key(F.col("wallet_address")))


def by_wallet(wt: DataFrame) -> DataFrame:
    """Repartition once on wallet_address before a window pipeline.

    Every window family in the feature engine clusters on
    (wallet_address, …) — and a hash partitioning on a SUBSET of a
    window's partition keys satisfies its clustering requirement. One
    explicit exchange here therefore serves the (wallet, contract)
    running windows, the (wallet, event) dedup rank, the (wallet)-level
    windows AND the final per-wallet rollup: 1 shuffle instead of 3-4.
    Skew note: hot wallets concentrate; the reference blacklists its 9
    pathological >20M-event wallets (SURVEY.md §4) — the same
    pre-filter applies here if needed, and AQE handles moderate skew.
    """
    return wt.repartition(F.col("wallet_address"))


# DuckDB rendering of the identical model (oracle side). Kept textually
# adjacent to the Spark builder above so drift is caught in review.
WALLET_TX_ORACLE_CTE = """
wt_base AS (
    SELECT
        event_id,
        ts,
        user_id,
        event_type,
        CAST(json_extract_string(props, '$.k') AS INT) AS k,
        CASE WHEN event_type = 'purchase' THEN 'normal'
             WHEN event_type = 'error' THEN 'internal'
             ELSE 'erc20' END AS transaction_type,
        CAST(CASE WHEN event_type = 'error' THEN 0 ELSE value END
             AS DECIMAL(38,9)) AS current_value
    FROM events
),
wt_typed AS (
    SELECT *,
        CASE transaction_type WHEN 'normal' THEN 1
                              WHEN 'internal' THEN 2
                              ELSE 3 END AS priority,
        CASE transaction_type WHEN 'normal' THEN event_id
                              WHEN 'internal' THEN 999
                              ELSE 1000 END AS transaction_index,
        CAST(CASE WHEN transaction_type = 'normal'
                  THEN round(CAST(current_value AS DOUBLE) * 0.01, 5)
                  ELSE 0.0 END AS DECIMAL(38,9)) AS tx_fee
    FROM wt_base
),
wallet_tx AS (
    SELECT event_id, ts,
        CAST(user_id AS VARCHAR) AS wallet_address,
        CAST(k AS VARCHAR) AS interacted_with,
        'sender' AS address_role, 1 AS role_rank,
        event_type AS contract_address,
        transaction_type, priority, transaction_index,
        current_value, tx_fee,
        substr(md5(CAST(user_id AS VARCHAR)), 1, 2) AS address_partition,
        CAST(-(current_value + tx_fee) AS DECIMAL(38,9)) AS signed_value
    FROM wt_typed
    UNION ALL
    SELECT event_id, ts,
        CAST(k AS VARCHAR) AS wallet_address,
        CAST(user_id AS VARCHAR) AS interacted_with,
        'receiver' AS address_role, 0 AS role_rank,
        event_type AS contract_address,
        transaction_type, priority, transaction_index,
        current_value, CAST(0 AS DECIMAL(38,9)) AS tx_fee,
        substr(md5(CAST(k AS VARCHAR)), 1, 2) AS address_partition,
        current_value AS signed_value
    FROM wt_typed
)
"""

# ORDER BY clause fragment matching ORDER_COLS (oracle side).
ORACLE_ORDER = "ts, priority, transaction_index, role_rank, event_id"
