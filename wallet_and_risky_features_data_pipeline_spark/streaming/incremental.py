"""Incremental (watermark) engine — SURVEY.md §3 EP2/EP3 semantics.

The reference's incremental loop is: probe MAX(watermark column) on the
target, substitute it into a SQL template's ``-- incremental load``
half, execute INSERT-with-NOT-EXISTS or Iceberg MERGE
(stage_data_ingestion_pipeline.py:44-108; features_pipeline.py:78-126).
Here the same contract is a small library:

- ``WatermarkStore``        — durable watermark metadata (JSON file;
  a Delta/Iceberg table in production). Replaces the reference's
  MAX()-probe + string substitution. The runner keeps only the stage
  and serving watermarks here: the features watermark is the tag its
  MERGE commits with (``sources.writers.merge_upsert``).
- ``incremental_append``    — watermark filter → anti-join dedup →
  partitioned append (J9 + S7).
- ``incremental_contract_state`` — seed running aggregates with prior
  state and stitch lifetime min/max — the reference's hardest block
  (queries/ethereum_wallet_features.sql:481-612: COALESCE(prior,0)
  seeding, min/max-ever merge with the 0-vs-NULL convention). It
  returns the MERGE batch: the new state of the pairs the batch
  touched, nothing else. ``merge_upsert`` carries the untouched rows
  forward on disk and ``operators.joins.upsert_rows`` in memory, and
  an empty batch yields an empty MERGE, which commits nothing.
  Guarantees upsert(prior, incremental(prior, b2)) ≡ full(b1∪b2) for
  prior = full(b1); the property test in tests/test_incremental.py
  enforces it exactly.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import cache_scope, persist_tracked
from ..operators.joins import anti_dedup
from ..sources.writers import write_partitioned


class WatermarkStore:
    """File-backed watermark metadata, one value per table key."""

    def __init__(self, path: str) -> None:
        self.path = path

    def _load(self) -> dict:
        if os.path.exists(self.path):
            with open(self.path) as f:
                return json.load(f)
        return {}

    def get(self, table: str, default=None):
        return self._load().get(table, default)

    def set(self, table: str, value) -> None:
        self.set_many({table: value})

    def set_many(self, values: dict) -> None:
        """Update several keys in ONE atomic publish (tmp + rename):
        either every key lands or none does, and a crash mid-write can
        never leave a truncated JSON behind. The cross-store commit
        primitive — e.g. the serving sync records its watermark AND
        the features generation it exported in a single rename."""
        state = self._load()
        state.update(values)
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        tmp = f"{self.path}.tmp-{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self.path)


@cache_scope()
def incremental_append(
    spark: SparkSession,
    source: DataFrame,
    target_path: str,
    table: str,
    natural_key: Sequence[str],
    watermark_col: str,
    store: WatermarkStore,
    partition_cols: Sequence[str] = ("date_partition",),
) -> int:
    """Watermark-filtered, anti-join-deduped partitioned append.

    Returns the number of rows appended and advances the watermark to
    the batch max. The anti-join makes replays idempotent even when the
    watermark write is lost (at-least-once → effectively-once), exactly
    like the reference's NOT EXISTS guard on top of its MAX() probe.
    """
    from pyspark.errors import AnalysisException

    wm = store.get(table)
    batch = source if wm is None else source.filter(F.col(watermark_col) > F.lit(wm))
    try:
        existing = spark.read.parquet(target_path).select(*natural_key)
        fresh = anti_dedup(batch, existing, natural_key)
    except AnalysisException:
        # target-absent first load only; transient IO errors propagate
        # (skipping the anti-join on a transient failure would re-append
        # already-present rows)
        fresh = batch
    fresh = persist_tracked(fresh)
    n = fresh.count()
    if n:
        write_partitioned(fresh, target_path, partition_cols, mode="append")
        # Spark's text in the session time zone, never a Python-local datetime
        new_wm = batch.agg(F.max(watermark_col).cast("string")).first()[0]
        if new_wm is not None:
            store.set(table, new_wm)
    return n


_NUM = "decimal(38,9)"


def incremental_contract_state(prior: DataFrame, new_wt: DataFrame) -> DataFrame:
    """Exact incremental update of the per-(wallet, contract) state:
    the new rows of the pairs ``new_wt`` touches, i.e. the MERGE batch.

    The reference seeds the new batch's running balance with the stored
    prior balance *inside* the window computation
    (queries/ethereum_wallet_features.sql:481-541), because lifetime
    extrema are over the absolute series — a post-hoc shift of
    locally-computed extrema is wrong for min-of-positives (the
    positivity filter must see shifted values). Steps:

    1. left-join prior final balance as the seed per key (0 if new);
    2. run the standard deterministic-order + running-sum windows over
       the new events, with ``balance = seed + local running sum``;
    3. reduce the segment to per-key state over absolute balances;
    4. stitch lifetime stats with the prior snapshot (min/max-ever
       merge, NULL-skipping MIN convention —
       ethereum_wallet_features.sql:549-612).

    Untouched prior rows are not part of the result: a MERGE carries
    them over (U5). Invariant (tests/test_incremental.py): for any
    split b1∪b2, with ``prior = contract_state(b1)``,
    ``upsert_rows(prior, incremental(prior, b2), key) ==
    contract_state(b1∪b2)`` to the last decimal digit.
    """
    from ..operators.windows import (
        dedup_rank,
        deterministic_order,
        running_sum,
    )
    from ..plans.wallet_model import ORDER_COLS, by_wallet

    key = ["wallet_address", "contract_address"]
    zero = F.lit(0).cast(_NUM)
    seeds = prior.select(*key, F.col("final_balance").alias("__seed"))

    # dedup_rank LAST: row_num and the local balance share one window
    # spec and fuse into a single Window node over a single sort when
    # adjacent; the differently-partitioned rank between them forced a
    # third full sort of the batch (plans.wallet_features r15).
    df = deterministic_order(by_wallet(new_wt), key, ORDER_COLS, out="row_num")
    df = running_sum(df, F.col("signed_value"), key, ORDER_COLS, out="__local_bal")
    df = dedup_rank(df, ("wallet_address", "event_id"), ("priority",), out="hash_rank")
    df = df.join(seeds, on=key, how="left").withColumn(
        "balance", (F.coalesce(F.col("__seed"), zero) + F.col("__local_bal")).cast(_NUM)
    )
    # Segment totals as ONE hash aggregate over the seeded-balance rows
    # (the r8 flagship shape — plans/wallet_features.py docstring): the
    # prior unbounded-window stack OOMed memory-tight executors, and
    # the incremental path runs in production merges where that
    # matters most. The aggregate SPEC is shared with the full
    # snapshot (contract_state_aggs) so the snapshot ≡ incremental
    # equivalence can never drift through a one-sided edit.
    from ..plans.wallet_features import contract_state_aggs

    seg = df.groupBy(*key).agg(*contract_state_aggs())

    p = prior.select(*key, *[F.col(c).alias(f"p_{c}") for c in prior.columns if c not in key])
    joined = seg.join(p, on=key, how="left")
    return joined.select(
        *key,
        F.col("final_balance").cast(_NUM).alias("final_balance"),
        (F.coalesce(F.col("p_incoming_value"), zero) + F.col("incoming_value"))
        .cast(_NUM)
        .alias("incoming_value"),
        (F.coalesce(F.col("p_outgoing_value"), zero) + F.col("outgoing_value"))
        .cast(_NUM)
        .alias("outgoing_value"),
        (F.coalesce(F.col("p_contract_fees"), zero) + F.col("contract_fees"))
        .cast(_NUM)
        .alias("contract_fees"),
        (F.coalesce(F.col("p_contract_tx"), F.lit(0)) + F.col("contract_tx")).alias("contract_tx"),
        F.least(F.coalesce(F.col("p_first_ts"), F.col("first_ts")), F.col("first_ts")).alias(
            "first_ts"
        ),
        F.greatest(F.coalesce(F.col("p_last_ts"), F.col("last_ts")), F.col("last_ts")).alias(
            "last_ts"
        ),
        F.greatest(F.coalesce(F.col("p_max_balance"), F.col("max_balance")), F.col("max_balance"))
        .cast(_NUM)
        .alias("max_balance"),
        F.when(
            F.col("p_min_pos_balance").isNotNull() & F.col("min_pos_balance").isNotNull(),
            F.least(F.col("p_min_pos_balance"), F.col("min_pos_balance")),
        )
        .otherwise(F.coalesce(F.col("p_min_pos_balance"), F.col("min_pos_balance")))
        .cast(_NUM)
        .alias("min_pos_balance"),
    )


_AUC_SEC_US = 86_400_000_000  # microseconds per day (days_above_zero unit)


def wallet_auc_state(wt: DataFrame) -> DataFrame:
    """Per-wallet AUC snapshot of one batch — the prior-state side of
    the reference's time-integral stitch
    (ethereum_wallet_features_with_auc.sql:627-637).

    The LEAD-delta formulation assigns each row the time gap TO ITS
    SUCCESSOR, so a batch boundary leaves exactly one term open: the
    batch's last row carries dt = 0 locally, but in the full series its
    dt is the gap to the next batch's first event. The snapshot
    therefore keeps everything the bridge needs:

    - ``final_balance`` / ``last_ts``  — the open term's balance and
      start time;
    - ``auc_total``        — running AUC at the last row (its own dt
      contributes 0, so this is exact up to the boundary);
    - ``max_auc_excl_last`` — max running AUC over all rows EXCEPT the
      last (NULL for single-row wallets): the last row's running AUC
      changes once the bridge term lands, so it must be re-maxed at
      stitch time, not baked in here;
    - ``pos_time_us``      — time-above-zero, again excluding the open
      term;
    - ``first_signed``     — FIRST_VALUE carried for the final rollup.
    """
    from ..operators.windows import deterministic_order, lead_delta, running_sum
    from ..plans.wallet_model import ORDER_COLS, by_wallet

    key = ("wallet_address",)
    df = by_wallet(wt)
    df = running_sum(df, F.col("signed_value"), key, ORDER_COLS, out="bal")
    df = lead_delta(df, F.unix_micros("ts"), key, ORDER_COLS, out="dt_us")
    auc_term = F.col("bal").cast("decimal(20,9)") * F.col("dt_us").cast("decimal(16,0)")
    df = running_sum(df, auc_term, key, ORDER_COLS, out="auc_us")
    df = deterministic_order(df, key, ORDER_COLS, out="rn")
    # "not the last row" ⇔ dt_us IS NOT NULL (lead_delta yields NULL
    # exactly once, at the partition's final row) — replaces a
    # full-partition COUNT window that buffered entire mega-wallet
    # partitions per task (the weighted-median 100× OOM class,
    # PLANS.md §probe-caught OOM)
    return df.groupBy("wallet_address").agg(
        F.min_by(F.col("signed_value"), F.col("rn")).alias("first_signed"),
        F.max("ts").alias("last_ts"),
        F.max_by(F.col("bal"), F.col("rn")).alias("final_balance"),
        F.max_by(F.col("auc_us"), F.col("rn")).alias("auc_total"),
        F.max(F.when(F.col("dt_us").isNotNull(), F.col("auc_us"))).alias("max_auc_excl_last"),
        F.sum(F.when(F.col("bal") > 0, F.col("dt_us")).otherwise(F.lit(0))).alias("pos_time_us"),
    )


def incremental_auc_rollup(prior: DataFrame, new_wt: DataFrame) -> DataFrame:
    """Exact incremental version of ``wallet_auc_rollup``: stitch a new
    batch onto a ``wallet_auc_state`` snapshot so that
    ``incremental(state(b1), b2) == full_rollup(b1 ∪ b2)`` to the last
    decimal digit (property-tested in tests/test_incremental.py; also
    driver-verified against the FULL-recompute oracle as
    ``wallet_auc_incremental``).

    The stitch mirrors the reference's ``ts - prior_last_ts`` seeding of
    the first incremental event
    (ethereum_wallet_features_with_auc.sql:627-637), expressed in the
    LEAD formulation: the bridge term
    ``prior_balance × (first_new_ts - prior_last_ts)`` closes the prior
    snapshot's open integral term, new-batch balances are seeded with
    the prior final balance (the integrand is the ABSOLUTE balance), and
    the running-AUC offset for new rows is ``prior_total + bridge``.
    All integral arithmetic stays in exact decimal; time-above-zero
    stays in exact BIGINT microseconds until one final division — so
    batch-split associativity is exact, never float-approximate.
    """
    from ..operators.windows import lead_delta, running_sum
    from ..plans.wallet_model import ORDER_COLS, by_wallet

    key = ["wallet_address"]
    p = prior.select(
        "wallet_address",
        *[
            F.col(c).alias(f"p_{c}")
            for c in prior.columns
            if c != "wallet_address"
        ],
    )
    df = by_wallet(new_wt)
    df = running_sum(df, F.col("signed_value"), key, ORDER_COLS, out="__local_bal")
    df = lead_delta(df, F.unix_micros("ts"), key, ORDER_COLS, out="dt_us")
    df = df.join(p, on=key, how="left")
    zero = F.lit(0).cast(_NUM)
    df = df.withColumn(
        "bal", (F.coalesce(F.col("p_final_balance"), zero) + F.col("__local_bal")).cast(_NUM)
    )
    auc_term = F.col("bal").cast("decimal(20,9)") * F.col("dt_us").cast("decimal(16,0)")
    df = running_sum(df, auc_term, key, ORDER_COLS, out="__local_auc")

    agg = df.groupBy("wallet_address").agg(
        F.min("ts").alias("__first_ts"),
        F.max("__local_auc").alias("__local_auc_max"),
        F.min_by(F.col("signed_value"), F.struct(*ORDER_COLS)).alias("__local_first_signed"),
        F.sum(F.when(F.col("bal") > 0, F.col("dt_us")).otherwise(F.lit(0))).alias("__pos_b2"),
        # prior-state columns are constant per wallet (broadcast join)
        *[F.max(f"p_{c}").alias(f"p_{c}") for c in prior.columns if c != "wallet_address"],
    )
    bridge_dt = F.unix_micros(F.col("__first_ts")) - F.unix_micros(F.col("p_last_ts"))
    bridge_term = F.col("p_final_balance").cast("decimal(20,9)") * bridge_dt.cast(
        "decimal(16,0)"
    )
    dec0 = F.lit(0).cast("decimal(38,9)")
    offset = F.coalesce(F.col("p_auc_total"), dec0) + F.coalesce(bridge_term, dec0)
    stitched = agg.select(
        "wallet_address",
        F.greatest(
            F.col("p_max_auc_excl_last"),
            F.col("p_auc_total") + bridge_term,  # prior last row, bridge closed
            offset + F.col("__local_auc_max"),
        )
        .cast("decimal(38,9)")
        .cast("string")
        .alias("max_auc_us"),
        (
            (
                F.coalesce(F.col("p_pos_time_us"), F.lit(0))
                + F.when(F.col("p_final_balance") > 0, bridge_dt).otherwise(F.lit(0))
                + F.col("__pos_b2")
            )
            / F.lit(_AUC_SEC_US)
        ).alias("days_above_zero"),
        F.coalesce(F.col("p_first_signed"), F.col("__local_first_signed"))
        .cast("double")
        .alias("first_signed_value"),
    )
    untouched = anti_dedup(prior, new_wt.select(*key), key).select(
        "wallet_address",
        F.greatest(F.col("max_auc_excl_last"), F.col("auc_total"))
        .cast("decimal(38,9)")
        .cast("string")
        .alias("max_auc_us"),
        (F.col("pos_time_us") / F.lit(_AUC_SEC_US)).alias("days_above_zero"),
        F.col("first_signed").cast("double").alias("first_signed_value"),
    )
    return stitched.unionByName(untouched)
