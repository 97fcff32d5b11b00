"""Flagship plan: per-wallet feature rollup.

Re-expresses the reference's central feature query
(queries/ethereum_wallet_features.sql) Spark-first:

1. role-exploded wallet transactions (U3)          — plans.wallet_model
2. deterministic per-contract ordering (W1)         — row_number
3. canonical-leg dedup rank (W2)                    — dense_rank
4. running balance over an explicit row frame (W3)  — sum window
5. whole-partition totals / min-max-ever (W5/W6)    — unordered windows
6. final-state pick (W7/W8)                         — rank desc, rn=1
7. one feature row per wallet (A1/A2)               — groupBy rollup

All three window families share the (wallet, contract) partitioning, so
Catalyst plans ONE exchange + sort for steps 2-6 — the shape that
survives a 100 TB scale-up (per-wallet-contract event history is
bounded; the reference handles the 9 pathological >20M-event wallets by
blacklisting, SURVEY.md §4, which stays a pre-filter here if needed).

Every number is DECIMAL(38,9) until the final projection casts to
DOUBLE, so the DuckDB oracle matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import VALUE_DECIMAL
from ..operators.windows import (
    dedup_rank,
    deterministic_order,
    running_sum,
)
from .wallet_model import (
    ORACLE_ORDER,
    ORDER_COLS,
    WALLET_TX_ORACLE_CTE,
    by_wallet,
    wallet_transactions,
)

_KEY = ("wallet_address", "contract_address")


def contract_state_aggs() -> list:
    """The nine per-(wallet, contract) lifetime aggregates, defined
    ONCE: both the full snapshot (``contract_state_from``) and the
    incremental segment reduce (``streaming.incremental``) build their
    hash aggregate from this list, so the snapshot ≡ incremental
    equivalence the property tests pin can never drift through a
    one-sided edit. Inputs expected on the frame: ``balance`` (the
    running, possibly prior-seeded, balance), ``row_num``,
    ``hash_rank`` and the leg columns from ``wallet_transactions``."""
    zero = F.lit(0).cast(VALUE_DECIMAL)
    return [
        F.max_by("balance", "row_num").alias("final_balance"),
        F.sum(
            F.when(F.col("address_role") == "receiver", F.col("current_value")).otherwise(zero)
        ).alias("incoming_value"),
        F.sum(
            F.when(F.col("address_role") == "sender", F.col("current_value")).otherwise(zero)
        ).alias("outgoing_value"),
        F.sum("tx_fee").alias("contract_fees"),
        F.count(F.when(F.col("hash_rank") == 1, F.lit(1))).alias("contract_tx"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.max("balance").alias("max_balance"),
        F.min(F.when(F.col("balance") > 0, F.col("balance"))).alias("min_pos_balance"),
    ]


def contract_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steps 1-6: one row per (wallet, contract) with final balance and
    lifetime stats — the reference's ``last_coin_balances`` shape
    (queries/ethereum_wallet_coin_balances.sql).

    The chain consumes the legs exactly once, so it streams the lazy
    build (no cache write it would read once)."""
    return contract_state_from(wallet_transactions(spark, sf_dir))


def contract_state_from(wt: DataFrame) -> DataFrame:
    """Same, over an arbitrary wallet-transactions slice (the
    incremental engine feeds batch windows through this).

    Shape note (r8): the lifetime totals / min-max-ever / final-state
    pick are ONE hash AGGREGATE over the running-balance rows, not a
    stack of unbounded-frame windows. Semantically identical (the
    oracle always aggregated — ``arg_max(balance, row_num)``), but the
    window stack buffered each (wallet, contract) group in FIVE
    chained ``ExternalAppendOnlyUnsafeRowArray`` buffers per task —
    measured OOM at 100× density under ~0.75 GB/core, exactly where a
    memory-tight executor lives — while the aggregate holds one
    spillable hash map with map-side partial combine. Only the two
    genuinely ORDER-dependent windows remain (running balance +
    canonical-leg dedup rank), sharing the single wallet exchange."""
    wt = by_wallet(wt)
    # Window order matters to the PLAN, not the results: row_num and
    # the running balance share one window spec ((wallet, contract) ×
    # ORDER_COLS), so keeping them ADJACENT lets Catalyst fuse them
    # into a single Window node over a single sort; the dedup rank
    # partitions differently ((wallet, event_id) by priority) and
    # goes last — interleaving it between the two same-spec windows
    # forced a third sort of the full leg table (r15 plan diff:
    # 3 Sort + 3 Window → 2 Sort + 2 Window, one exchange as before).
    df = deterministic_order(wt, _KEY, ORDER_COLS, out="row_num")
    df = running_sum(df, F.col("signed_value"), _KEY, ORDER_COLS, out="balance")
    df = dedup_rank(df, ("wallet_address", "event_id"), ("priority",), out="hash_rank")
    return df.groupBy("wallet_address", "contract_address").agg(*contract_state_aggs())


def wallet_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Step 7: the per-wallet feature row (A1 rollup,
    queries/ethereum_wallet_features.sql:278-325)."""
    return wallet_features_from(contract_state(spark, sf_dir))


def wallet_features_from(cs: DataFrame) -> DataFrame:
    """The A1 rollup over an arbitrary contract-state frame — lets a
    single-consumer caller (the DQ constraint gate) feed a LAZY,
    unpersisted leg build so the whole pipeline streams scan → explode
    → window → agg in one pass instead of materializing a leg table it
    will read exactly once."""
    return (
        cs.groupBy("wallet_address")
        .agg(
            F.count("*").alias("n_contracts"),
            F.sum("contract_tx").alias("n_tx"),
            F.sum("incoming_value").cast("double").alias("total_incoming"),
            F.sum("outgoing_value").cast("double").alias("total_outgoing"),
            F.sum("contract_fees").cast("double").alias("total_fees"),
            F.sum("final_balance").cast("double").alias("net_balance"),
            F.max("max_balance").cast("double").alias("max_balance_ever"),
            # COALESCE(MIN(positive minimum), 0) — A2 convention
            F.coalesce(F.min("min_pos_balance"), F.lit(0)).cast("double").alias("min_pos_balance"),
            F.unix_micros(F.min("first_ts")).alias("first_tx_us"),
            F.unix_micros(F.max("last_ts")).alias("last_tx_us"),
            (F.unix_micros(F.max("last_ts")) - F.unix_micros(F.min("first_ts"))).alias("life_us"),
        )
    )


WALLET_FEATURES_ORACLE = f"""
WITH {WALLET_TX_ORACLE_CTE},
ordered AS (
    SELECT *,
        ROW_NUMBER() OVER (
            PARTITION BY wallet_address, contract_address
            ORDER BY {ORACLE_ORDER}) AS row_num,
        DENSE_RANK() OVER (
            PARTITION BY wallet_address, event_id
            ORDER BY priority) AS hash_rank
    FROM wallet_tx
),
balanced AS (
    SELECT *,
        SUM(signed_value) OVER (
            PARTITION BY wallet_address, contract_address
            ORDER BY {ORACLE_ORDER}
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS balance
    FROM ordered
),
contract_state AS (
    SELECT
        wallet_address,
        contract_address,
        arg_max(balance, row_num) AS final_balance,
        SUM(CASE WHEN address_role = 'receiver' THEN current_value
                 ELSE CAST(0 AS DECIMAL(38,9)) END) AS incoming_value,
        SUM(CASE WHEN address_role = 'sender' THEN current_value
                 ELSE CAST(0 AS DECIMAL(38,9)) END) AS outgoing_value,
        SUM(tx_fee) AS contract_fees,
        SUM(CASE WHEN hash_rank = 1 THEN 1 ELSE 0 END) AS contract_tx,
        MIN(ts) AS first_ts,
        MAX(ts) AS last_ts,
        MAX(balance) AS max_balance,
        MIN(CASE WHEN balance > 0 THEN balance END) AS min_pos_balance
    FROM balanced
    GROUP BY 1, 2
)
SELECT
    wallet_address,
    CAST(COUNT(*) AS BIGINT) AS n_contracts,
    CAST(SUM(contract_tx) AS BIGINT) AS n_tx,
    CAST(SUM(incoming_value) AS DOUBLE) AS total_incoming,
    CAST(SUM(outgoing_value) AS DOUBLE) AS total_outgoing,
    CAST(SUM(contract_fees) AS DOUBLE) AS total_fees,
    CAST(SUM(final_balance) AS DOUBLE) AS net_balance,
    CAST(MAX(max_balance) AS DOUBLE) AS max_balance_ever,
    CAST(COALESCE(MIN(min_pos_balance), 0) AS DOUBLE) AS min_pos_balance,
    epoch_us(MIN(first_ts)) AS first_tx_us,
    epoch_us(MAX(last_ts)) AS last_tx_us,
    epoch_us(MAX(last_ts)) - epoch_us(MIN(first_ts)) AS life_us
FROM contract_state
GROUP BY 1
"""
