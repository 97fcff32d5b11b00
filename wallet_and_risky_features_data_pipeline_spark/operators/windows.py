"""Window operator kit (SURVEY.md §2.5 W1-W13).

The heart of the reference's feature engine is one giant Presto SQL file
of window functions (queries/ethereum_wallet_features.sql). Here each
window shape is a reusable, explicitly deterministic operator.

Determinism note (SURVEY.md §7.5): Presto's default frame for
``ORDER BY`` is RANGE UNBOUNDED PRECEDING..CURRENT ROW, which is only
deterministic because the reference fully tie-breaks its orderings. We
make that explicit: every running window here uses ``rowsBetween`` over
a caller-supplied *strict total order* — same results, and Spark never
has to build RANGE frames (cheaper: row frames are streaming, range
frames need per-peer-group scans).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def _w(partition: Sequence[str], order: Sequence[str | Column] = ()) -> WindowSpec:
    w = Window.partitionBy(*partition)
    return w.orderBy(*order) if order else w


def deterministic_order(
    df: DataFrame,
    partition: Sequence[str],
    order: Sequence[str | Column],
    out: str = "row_num",
) -> DataFrame:
    """W1 — row_number over a strict total order within a partition
    (reference row_num_by_contract / row_num_by_wallet,
    queries/ethereum_wallet_features.sql:16-39).
    """
    return df.withColumn(out, F.row_number().over(_w(partition, order)))


def dedup_rank(
    df: DataFrame,
    partition: Sequence[str],
    order: Sequence[str | Column],
    out: str = "hash_rank",
) -> DataFrame:
    """W2 — dense_rank marking the canonical leg of a multi-leg event
    (hash_rank=1, queries/ethereum_wallet_features.sql:45,128-133)."""
    return df.withColumn(out, F.dense_rank().over(_w(partition, order)))


def running_sum(
    df: DataFrame,
    value: Column,
    partition: Sequence[str],
    order: Sequence[str | Column],
    out: str,
) -> DataFrame:
    """W3/W4 — running balance: cumulative sum over an explicit row
    frame (queries/ethereum_wallet_features.sql:102-121)."""
    w = _w(partition, order).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(out, F.sum(value).over(w))


def latest_per_key(
    df: DataFrame,
    partition: Sequence[str],
    order_desc: Sequence[str | Column],
    keep: str = "rn",
) -> DataFrame:
    """W7/A7 — rank-and-filter latest row per key
    (queries/ethereum_wallet_features.sql:187-198;
    analytics/transformations/ethereum_erc20_transactions.sql:15-29)."""
    order = [F.col(c).desc() if isinstance(c, str) else c for c in order_desc]
    return (
        df.withColumn(keep, F.row_number().over(_w(partition, order)))
        .filter(F.col(keep) == 1)
        .drop(keep)
    )


def lead_delta(
    df: DataFrame,
    ts: Column,
    partition: Sequence[str],
    order: Sequence[str | Column],
    out: str = "time_delta",
) -> DataFrame:
    """W9 — LEAD time-to-next-event with COALESCE(...,0) tail
    (queries/ethereum_wallet_features_with_auc.sql:181-199)."""
    w = _w(partition, order)
    return df.withColumn(out, F.coalesce(F.lead(ts).over(w) - ts, F.lit(0)))
