"""Data-quality plans: the reference's feature-constraint gate
(queries/data_quality_ethereum_wallet_features.sql) as an
oracle-verified query — a UNION of check rows (U6) over the flagship
feature output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.quality import feature_constraints
from .wallet_features import WALLET_FEATURES_ORACLE


def dq_feature_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lazy legs (ADVICE r14): this gate consumes the features exactly
    # ONCE and collapses them to 4 check rows, so it streams the scan
    # → explode → window → aggs in one pass (an InMemoryRelation
    # materialization is pure overhead for a single consumer, ~1 s at
    # sf0.1 — VERDICT r13 #5).
    from .wallet_features import contract_state_from, wallet_features_from
    from .wallet_model import wallet_transactions

    legs = wallet_transactions(spark, sf_dir)
    return feature_constraints(wallet_features_from(contract_state_from(legs)))


DQ_FEATURE_CONSTRAINTS_ORACLE = f"""
WITH feat AS ({WALLET_FEATURES_ORACLE}),
agg AS (
    SELECT
        CAST(COUNT(CASE WHEN n_tx < 0 THEN 1 END) AS DOUBLE) AS neg_tx,
        CAST(COUNT(CASE WHEN total_fees < 0 THEN 1 END) AS DOUBLE) AS neg_fees,
        CAST(COUNT(CASE WHEN last_tx_us < first_tx_us THEN 1 END) AS DOUBLE) AS time_travel,
        CAST(COUNT(CASE WHEN min_pos_balance = 0 THEN 1 END) AS DOUBLE)
            / COUNT(*) * 100.0 AS zero_pct
    FROM feat
)
SELECT 'negative_tx_count' AS check_name, neg_tx AS observed, neg_tx > 0 AS is_fail FROM agg
UNION ALL
SELECT 'negative_fees', neg_fees, neg_fees > 0 FROM agg
UNION ALL
SELECT 'time_travel_wallets', time_travel, time_travel > 0 FROM agg
UNION ALL
SELECT 'zero_min_balance_pct', zero_pct, zero_pct > 95.0 FROM agg
"""


# --------------------------------------------------------------------------
# Ledger reconciliation: the double-entry invariant as a corpus-wide
# DQ query — every event's two legs must net to exactly −tx_fee
# (sender pays value+fee, receiver gets value), so Σlegs + fee = 0 per
# event, in EXACT decimals. An accounting close would run this nightly;
# any violation count > 0 means the role explosion or a downstream
# rewrite corrupted a leg. One hash agg on event_id (co-located legs)
# + a tiny per-type rollup.
def ledger_reconciliation(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from .wallet_model import wallet_transactions

    wt = wallet_transactions(spark, sf_dir)
    per_event = wt.groupBy("event_id", "transaction_type").agg(
        F.sum("signed_value").alias("net"),
        F.max("tx_fee").alias("fee"),
        F.count(F.lit(1)).alias("n_legs"),
    )
    return (
        per_event.groupBy("transaction_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(
                ((F.col("net") + F.col("fee")) != 0).cast("int")
            )
            .cast("bigint")
            .alias("net_violations"),
            F.sum((F.col("n_legs") != 2).cast("int"))
            .cast("bigint")
            .alias("leg_violations"),
            F.sum("fee").cast("double").alias("total_fees"),
        )
        .orderBy("transaction_type")
    )


from .wallet_model import WALLET_TX_ORACLE_CTE as _WT_CTE

LEDGER_RECONCILIATION_ORACLE = f"""
WITH {_WT_CTE},
per_event AS (
    SELECT event_id, transaction_type,
           SUM(signed_value) AS net,
           MAX(tx_fee) AS fee,
           COUNT(*) AS n_legs
    FROM wallet_tx
    GROUP BY 1, 2
)
SELECT transaction_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN net + fee <> 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS net_violations,
       CAST(SUM(CASE WHEN n_legs <> 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS leg_violations,
       CAST(SUM(fee) AS DOUBLE) AS total_fees
FROM per_event
GROUP BY 1
ORDER BY 1
"""


# --------------------------------------------------------------------------
# k-anonymity audit — the privacy gate a training-data pipeline runs
# before release: every quasi-identifier combination must be shared
# by >= K individuals, else those rows re-identify and must be
# generalized or suppressed. Quasi-identifiers here: (nation,
# market segment) over customers, with account-balance sign as the
# sensitive-adjacent attribute summarized per cell. ONE hash agg on
# the QI key (map-side combinable); the suppression candidate list is
# the < K tail, tiny by construction. At 100 TB the same plan holds:
# cell cardinality is |QI-space|-bounded, never row-bounded.
K_ANONYMITY_K = 5


def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..sources.readers import read_table

    cust = read_table(spark, sf_dir, "customer")
    cells = cust.groupBy(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("mktsegment"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_individuals"),
        F.sum((F.col("c_acctbal") < 0).cast("bigint")).alias("n_negative_bal"),
    )
    return cells.select(
        "nationkey",
        "mktsegment",
        "n_individuals",
        "n_negative_bal",
        (F.col("n_individuals") >= K_ANONYMITY_K).cast("int").alias("meets_k"),
    )


DQ_K_ANONYMITY_ORACLE = f"""
SELECT c_nationkey AS nationkey,
       c_mktsegment AS mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_individuals,
       CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_negative_bal,
       CAST(COUNT(*) >= {K_ANONYMITY_K} AS INTEGER) AS meets_k
FROM customer
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Benford first-digit audit — the classic fabricated-numbers screen a
# DQ gate runs over any organic money column: naturally-occurring
# amounts follow P(d) = log10(1 + 1/d); invented or rounded-off data
# does not. Determinism recipe: the digit is extracted from the
# STRING form of the exact integer cents (CAST(price*100 AS BIGINT)
# is exact for DECIMAL(15,2)) — never via log10 on a double, whose
# last-ulp behavior at exact powers of ten is engine-specific — and
# the expected shares are Python-side literals baked into BOTH plan
# and oracle, so no engine ever evaluates a transcendental. share =
# n/total divides two exact <2^53 integers as doubles: correctly
# rounded, identical IEEE in both engines. Scale shape: one
# map-side-combinable agg onto a 9-key space + a window over those 9
# rows — nothing row-scaled past the scan.
BENFORD_EXPECTED = {
    1: 0.30103, 2: 0.176091, 3: 0.124939, 4: 0.09691, 5: 0.079181,
    6: 0.066947, 7: 0.057992, 8: 0.051153, 9: 0.045757,
}


def dq_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..sources.readers import read_table

    li = read_table(spark, sf_dir, "lineitem")
    digit = F.substring(
        F.expr("cast(cast(l_extendedprice * 100 as bigint) as string)"), 1, 1
    ).cast("int")
    counts = li.groupBy(digit.alias("digit")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    expected = F.create_map(
        *[F.lit(x) for kv in BENFORD_EXPECTED.items() for x in kv]
    )[F.col("digit")]
    share = F.col("n").cast("double") / F.sum("n").over(
        Window.partitionBy()
    ).cast("double")
    return counts.select(
        "digit",
        "n",
        F.round(share, 6).alias("share"),
        expected.alias("expected_share"),
        F.round(F.abs(share - expected), 6).alias("abs_dev"),
    )


def _benford_oracle() -> str:
    case = " ".join(
        f"WHEN {d} THEN {p}" for d, p in BENFORD_EXPECTED.items()
    )
    return f"""
WITH counts AS (
    SELECT CAST(substring(CAST(CAST(l_extendedprice * 100 AS BIGINT)
                               AS VARCHAR), 1, 1) AS INTEGER) AS digit,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY 1
)
SELECT digit, n,
       ROUND(CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE), 6) AS share,
       (CASE digit {case} END) AS expected_share,
       ROUND(ABS(CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE)
                 - (CASE digit {case} END)), 6) AS abs_dev
FROM counts
"""


DQ_BENFORD_DIGITS_ORACLE = _benford_oracle()


# --------------------------------------------------------------------------
# Per-nation Gini concentration of account balances — the inequality
# summary a risk desk reads per market: G = Σᵢ(2i − n − 1)·xᵢ /
# (n·Σx) over the ASCENDING-sorted non-negative series. TPC-H
# balances go negative, so the series is SHIFTED within each nation
# (x' = cents − min(cents)) — the standard non-negativity fix, named
# in the output as gini_shifted. Exactness: rank i comes from a
# ROW_NUMBER with the (cents, custkey) total order; every moment
# (2i − n − 1)·x' stays DECIMAL(38,0) (i and n are group-sized, x'
# lifetime cents — the product must never ride BIGINT); ONE final
# double division, guarded by the exact Σx' > 0 predicate (all-equal
# balances have no defined concentration; NULL, and no /0 under
# ANSI). Scale shape: windows partition on the |nation|-bounded key;
# the per-nation sort is the query's one real cost and is exactly the
# sort a 100 TB report would pay — there is no rank-free Gini.


def dq_gini_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..sources.readers import read_table

    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"),
        "c_custkey",
        F.expr("cast(c_acctbal * 100 as decimal(38,0))").alias("cents"),
    )
    # per-nation (min, n) via AGG + broadcast join — full-partition
    # window frames buffer the whole row-scaled nation partition per
    # task (the weighted-median 100× OOM class, PLANS.md); the rank's
    # running frame streams
    by_nation = Window.partitionBy("nationkey")
    stats = cust.groupBy("nationkey").agg(
        F.min("cents").alias("min_c"), F.count(F.lit(1)).alias("n")
    )
    ranked = cust.join(F.broadcast(stats), "nationkey").select(
        "nationkey",
        (F.col("cents") - F.col("min_c")).alias("x"),
        F.row_number()
        .over(by_nation.orderBy("cents", "c_custkey"))
        .cast("long")
        .alias("i"),
        "n",
    )
    term = (
        (F.lit(2).cast("decimal(38,0)") * F.col("i") - F.col("n") - 1)
        .cast("decimal(38,0)")
        * F.col("x")
    )
    agg = ranked.groupBy("nationkey").agg(
        F.max("n").cast("bigint").alias("n_customers"),
        F.sum(term).alias("num"),
        F.sum("x").alias("sum_x"),
    )
    denom = F.col("n_customers").cast("decimal(38,0)") * F.col("sum_x")
    return agg.select(
        "nationkey",
        "n_customers",
        F.when(
            F.col("sum_x") > 0,
            F.round(F.col("num").cast("double") / denom.cast("double"), 6),
        ).alias("gini_shifted"),
    )


DQ_GINI_ACCTBAL_ORACLE = """
WITH ranked AS (
    SELECT c_nationkey AS nationkey,
           CAST(c_acctbal * 100 AS DECIMAL(38,0))
               - MIN(CAST(c_acctbal * 100 AS DECIMAL(38,0)))
                 OVER (PARTITION BY c_nationkey) AS x,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY c_nationkey
               ORDER BY CAST(c_acctbal * 100 AS DECIMAL(38,0)), c_custkey
           ) AS BIGINT) AS i,
           CAST(COUNT(*) OVER (PARTITION BY c_nationkey) AS BIGINT) AS n
    FROM customer
),
agg AS (
    SELECT nationkey,
           CAST(MAX(n) AS BIGINT) AS n_customers,
           SUM(CAST(2 * i - n - 1 AS DECIMAL(38,0)) * x) AS num,
           SUM(x) AS sum_x
    FROM ranked
    GROUP BY 1
)
SELECT nationkey, n_customers,
       CASE WHEN sum_x > 0
            THEN ROUND(CAST(num AS DOUBLE)
                       / CAST(CAST(n_customers AS DECIMAL(38,0)) * sum_x
                              AS DOUBLE), 6)
            END AS gini_shifted
FROM agg
"""


# --------------------------------------------------------------------------
# Referential-integrity sweep — the FK audit a DQ gate runs across
# the WHOLE star schema in one report: for every declared
# child→parent edge, how many child rows point at a missing parent.
# Implementation: one LEFT ANTI join per edge (NOT EXISTS — J9's
# operator, applied as a sweep), dimension sides broadcast where
# small; the 7 per-edge counts union into a fixed-height report.
# Scale shape: each edge is one join whose build side is the PARENT
# key set (dimension-sized for 5 of 7 edges; orders/supplier-sized
# for the fact-fact edges, plain shuffled anti joins) — never a
# row-scaled output, and each child table is scanned with only its
# FK column (column pruning does the rest).
FK_EDGES = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    (
        "lineitem.l_suppkey->supplier",
        "lineitem",
        "l_suppkey",
        "supplier",
        "s_suppkey",
    ),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    (
        "customer.c_nationkey->nation",
        "customer",
        "c_nationkey",
        "nation",
        "n_nationkey",
    ),
    (
        "supplier.s_nationkey->nation",
        "supplier",
        "s_nationkey",
        "nation",
        "n_nationkey",
    ),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
)
_FK_BROADCAST_PARENTS = {"part", "supplier", "customer", "nation", "region"}


def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..sources.readers import read_table

    reports = []
    for fk_name, child, ck, parent, pk in FK_EDGES:
        c = read_table(spark, sf_dir, child).select(F.col(ck).alias("__k"))
        p = read_table(spark, sf_dir, parent).select(F.col(pk).alias("__k"))
        if parent in _FK_BROADCAST_PARENTS:
            p = F.broadcast(p)
        orphans = c.join(p, "__k", "left_anti")
        reports.append(
            c.agg(F.count(F.lit(1)).cast("bigint").alias("n_child")).crossJoin(
                orphans.agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_orphans")
                )
            ).select(F.lit(fk_name).alias("fk"), "n_child", "n_orphans")
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def _refint_oracle() -> str:
    parts = []
    for fk_name, child, ck, parent, pk in FK_EDGES:
        parts.append(
            f"SELECT '{fk_name}' AS fk,\n"
            f"       CAST((SELECT COUNT(*) FROM {child}) AS BIGINT) AS n_child,\n"
            f"       CAST((SELECT COUNT(*) FROM {child} c WHERE NOT EXISTS\n"
            f"             (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{ck}))\n"
            f"            AS BIGINT) AS n_orphans"
        )
    return "\nUNION ALL\n".join(parts)


DQ_REFERENTIAL_INTEGRITY_ORACLE = _refint_oracle()


# --------------------------------------------------------------------------
# Weekday-uniformity chi-square: per event_type, the χ² statistic of
# event counts across the 7 days of week against the uniform
# expectation — the seasonality/anomaly screen a DQ suite runs before
# trusting time-bucketed features (a scraper that only runs Mondays or
# an outage that blanks weekends shows up here first). Algebra makes it
# exact: Σ(oᵢ − n/7)²/(n/7) = (7·Σoᵢ² − n²)/n, so the numerator is an
# exact DECIMAL(38,0) integer (o² overflows BIGINT at n≈3e9 rows/type —
# routine at 100 TB) and the only float op is ONE final division, the
# feature_correlations discipline. The non-uniformity verdict is a
# pure-integer cross-multiplication against the χ²(df=6, α=0.01)
# critical value 16.81: 100·num > 1681·n — no float in the predicate,
# ANSI-safe, cross-engine deterministic.
#
# 100 TB shape: one map-side-combinable hash agg to ≤7 rows per
# event_type, then a ≤|event_type|·7-row rollup. The day-of-week label
# never leaves the plan (Spark dayofweek() is 1=Sunday, DuckDB dow()
# is 0=Sunday — same PARTITION of days, different names), so the
# engines agree without a calendar shim.
def event_weekday_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..sources.readers import read_table

    ev = read_table(spark, sf_dir, "events").select(
        "event_type", F.expr("dayofweek(ts)").alias("dow")
    )
    counts = ev.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )
    o_d = F.col("o").cast("decimal(19,0)")
    per_type = counts.groupBy("event_type").agg(
        F.sum("o").cast("bigint").alias("n"),
        F.sum(o_d * o_d).cast("decimal(38,0)").alias("sum_sq"),
        F.count(F.lit(1)).cast("bigint").alias("n_active_days"),
    )
    num = (
        F.lit(7).cast("decimal(38,0)") * F.col("sum_sq")
        - F.col("n").cast("decimal(19,0)") * F.col("n").cast("decimal(19,0)")
    )
    return per_type.select(
        "event_type",
        F.col("n").alias("n_events"),
        "n_active_days",
        F.round(num.cast("double") / F.col("n").cast("double"), 6).alias("chisq"),
        (
            F.lit(100).cast("decimal(38,0)") * num
            > F.lit(1681).cast("decimal(38,0)") * F.col("n").cast("decimal(19,0)")
        ).alias("is_nonuniform"),
    )


EVENT_WEEKDAY_CHISQ_ORACLE = """
WITH counts AS (
    SELECT event_type, dayofweek(ts) AS dow, CAST(COUNT(*) AS BIGINT) AS o
    FROM events GROUP BY 1, 2
),
per_type AS (
    SELECT event_type,
           CAST(SUM(o) AS BIGINT) AS n,
           CAST(SUM(CAST(o AS DECIMAL(19,0)) * CAST(o AS DECIMAL(19,0)))
                AS DECIMAL(38,0)) AS sum_sq,
           CAST(COUNT(*) AS BIGINT) AS n_active_days
    FROM counts GROUP BY 1
)
SELECT event_type,
       n AS n_events,
       n_active_days,
       round(CAST(7 * sum_sq - CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))
                  AS DOUBLE) / CAST(n AS DOUBLE), 6) AS chisq,
       100 * (7 * sum_sq - CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0)))
           > 1681 * CAST(n AS DECIMAL(19,0)) AS is_nonuniform
FROM per_type
"""


def dq_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-quality gate — the embedding table's member of the DQ
    constraint family: per label, count zero vectors and vectors whose
    norm strays >1% from unit (either breaks cosine ANN: a zero vector
    poisons normalization, an unnormalized one biases every dot-product
    ranking), plus the exact norm² envelope. Entirely on the engine's
    1e-6 integer grid: norm² = Σq² is one JVM-side ``aggregate`` over
    the quantized array (no explode, no shuffle before the final ≤
    |labels|-row hash agg), unit-band membership is the integer
    interval |norm² − 10¹²| ≤ 10¹⁰, and the verdict is an integer
    count comparison — ANSI-safe, bit-equal cross-engine.
    """
    from pyspark.sql import functions as F

    from ..sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    n2 = F.expr(
        "aggregate(transform(embedding,"
        " x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)),"
        " CAST(0 AS BIGINT), (a, q) -> a + q * q)"
    )
    UNIT = 1_000_000_000_000  # (1e6)² — unit norm² on the grid
    TOL = 10_000_000_000  # 1% of unit
    rows = emb.select("label", n2.alias("n2"))
    return (
        rows.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.sum(F.when(F.col("n2") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_zero"),
            F.sum(
                F.when(
                    F.abs(F.col("n2") - F.lit(UNIT)) > F.lit(TOL), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_off_unit"),
            F.min("n2").alias("min_norm2"),
            F.max("n2").alias("max_norm2"),
        )
        .select(
            "label",
            "n_vectors",
            "n_zero",
            "n_off_unit",
            "min_norm2",
            "max_norm2",
            ((F.col("n_zero") == 0) & (F.col("n_off_unit") == 0)).alias(
                "is_ann_safe"
            ),
        )
    )


DQ_EMBEDDING_NORMS_ORACLE = """
WITH rows_n AS (
    SELECT label,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(
                   list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)),
                   q -> q * q)),
               (a, v) -> a + v) AS n2
    FROM embeddings
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       CAST(SUM(CASE WHEN abs(n2 - 1000000000000) > 10000000000 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_off_unit,
       MIN(n2) AS min_norm2,
       MAX(n2) AS max_norm2,
       SUM(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) = 0
       AND SUM(CASE WHEN abs(n2 - 1000000000000) > 10000000000 THEN 1 ELSE 0 END) = 0
           AS is_ann_safe
FROM rows_n
GROUP BY 1
"""
