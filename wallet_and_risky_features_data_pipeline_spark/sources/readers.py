"""Table readers (SURVEY.md §2.1 S4/S10).

The reference reads raw CSVs with pandas and queries parquet through
Athena; here every source is a Spark scan so predicate pushdown and
column pruning reach the parquet reader (check with
``df.explain`` → ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _ensure_session_confs(spark: SparkSession) -> None:
    """Self-provision the runtime confs correctness depends on, so the
    engine behaves identically under a caller-provided SparkSession
    (e.g. the verification driver's): nanos-parquet reading and UTC
    timestamp semantics. Both are dynamic SQL confs.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # AQE's stage-wise materialization is load-bearing for the dedup
    # operators' persist-without-eager-count pattern (the broadcast
    # bucket guard must fill the cache before the self-join stages
    # scan it — see operators/dedup.py::lsh_candidate_pairs); with AQE
    # off those stages race and recompute the signature scan. get_spark
    # pins it at build time; pin it here too so a caller-provided
    # session (the verification driver's) gets the same plan shape.
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # write_partitioned's mode="overwrite" replaces only the partitions
    # present in its frame; under the default static mode the same write
    # TRUNCATES the whole table first. (The generation writers stage
    # into a fresh directory, so they do not depend on this mode.)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to session-UTC TIMESTAMP whatever
    the writer produced. Branches on the *observed* Spark dtype — never
    the assumed on-disk physical type, since a real lake has
    mixed-writer files:

    - ``bigint``        — parquet TIMESTAMP(NANOS) surfaced as a nanos
      long under ``spark.sql.legacy.parquet.nanosAsLong``; truncate to
      micros (what DuckDB's reader does) so both engines agree.
    - ``timestamp_ntz`` — parquet TIMESTAMP(isAdjustedToUTC=false) as
      Spark 4 reads it; reinterpret as session-UTC TIMESTAMP.
    - ``timestamp``     — already normalized; no-op.

    Works on both batch and streaming DataFrames (schema inspection
    only — no action is triggered).
    """
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if dtype == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan for one synthetic table (columnar, prunable).

    ``events.ts`` has shipped under two physical encodings across data
    generations: TIMESTAMP(NANOS) — which Spark reads as a nanos long
    under ``spark.sql.legacy.parquet.nanosAsLong`` — and
    TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark 4 reads as
    TIMESTAMP_NTZ. Branch on the *observed* dtype, never the assumed
    on-disk type: a real lake has mixed-writer files. Nanos longs are
    truncated to micros (what DuckDB's reader does) so both engines
    see identical timestamps; NTZ is normalized by the cast loop below.
    """
    _ensure_session_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_event_ts(df)
    # Spark 4 infers parquet TIMESTAMP(isAdjustedToUTC=false) as
    # TIMESTAMP_NTZ; normalize to session-UTC TIMESTAMP so epoch
    # functions work and semantics match DuckDB's naive timestamps.
    for field in df.schema.fields:
        if field.dataType.typeName() == "timestamp_ntz":
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure enough partitions for CPU-heavy per-row work.

    A small table often arrives as one parquet split, which would pin
    expensive expression work (md5 signatures, decimal dot products,
    decode UDFs) to a single core. Guarded to local mode: on a cluster
    inputs arrive pre-split (maxPartitionBytes) and the probe itself —
    let alone an unconditional round-robin shuffle — would cost more
    than it saves, so this is an unconditional no-op there. The local
    probe uses the scan's file listing (pure metadata), not
    ``df.rdd.getNumPartitions()``, which would force physical planning
    of the scan on every call (VERDICT r04 §wrong#3).
    """
    sc = df.sparkSession.sparkContext
    if not sc.master.startswith("local"):
        return df
    target = min_partitions or sc.defaultParallelism
    try:
        n_splits = len(df.inputFiles())
    except Exception:
        n_splits = target
    if n_splits < target:
        return df.repartition(target)
    return df


def table_row_count(sf_dir: str, name: str) -> int:
    """Exact row count from parquet FOOTER metadata — no Spark job.

    The cheap cardinality source for sizing decisions made at
    plan-build time (e.g. the IVF √n cell count): parquet footers
    record per-row-group counts, so ``count_rows`` is a metadata walk,
    not a scan. Building a plan must never launch a job."""
    import pyarrow.dataset as ds

    return ds.dataset(f"{sf_dir}/{name}.parquet", format="parquet").count_rows()


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> None:
    """Register tables as temp views for ``spark.sql`` plans.

    Pass the subset a query actually touches: each registration is a
    parquet footer read + catalog write on the query's critical path,
    and registering all ten tables for a single-table statement was
    measured at ~3 s of pure overhead per call at sf0.1 concurrency.
    """
    for name in tables:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_csv(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """CSV scan with declared schema — replaces the reference's
    ``pd.read_csv`` raw-layer staging (raw_data_ingestion_pipeline.py:104)
    with a distributed scan; schema is enforced, never inferred, matching
    the reference's fixed per-table schema registry (src/schemas/*.py).

    FAILFAST, not the default PERMISSIVE: a row that can't parse into
    the declared schema must abort the scan, the same way pd.read_csv
    throws — silently nulling malformed rows would corrupt a lake
    partition without a trace. (Empty strings are still typed NULLs —
    FAILFAST rejects malformed values, not missing ones.)
    """
    return (
        spark.read.option("header", True)
        .option("mode", "FAILFAST")
        .schema(schema)
        .csv(path)
    )
