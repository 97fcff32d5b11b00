"""SparkSession factory tuned for the engine.

Defaults target local[N] testing but are chosen to scale: AQE handles
skew joins and coalesces post-shuffle partitions at runtime (the
reference mitigated skew manually with a 9-wallet blacklist and 256-way
driver-side chunking — reference features_pipeline.py:96-126); dynamic
partition-overwrite gives us an Iceberg-MERGE-like idempotent writer in
plain parquet; UTC session time keeps timestamp semantics engine-neutral
so results hash-match the DuckDB oracle.

Every plan also passes through one cache: Spark compiles each distinct
generated class (whole-stage codegen, projections, predicates) once
and keeps it in a per-JVM class cache. At Spark's defaults (100
entries, class names that carry the codegen stage id) a long-lived
session thrashes it: perfbench's 7-query ``graph_dedup`` pass compiled
344 classes cold and 339 on every warm pass. Keying classes on plan
shape and sizing the cache to the query registry's working set cut
that to 233 cold and 0-2 warm. ``codegen_compiles`` counts compiles,
so a plan that defeats the cache shows up in bench.py's isolated tier.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Codegen class cache size (Spark's default is 100). Run one at a time
# in one session, the 212-query registry compiles 2,607 distinct classes
# at sf0.001, 29 more at sf0.01, and 29 per rerun from plans whose
# generated code differs per run (streaming encoders' lambda-variable
# ids, AQE join-side flips). 4,096 holds that with ~50% headroom.
# Measured after a full-registry warm and a GC, against 100 entries:
# +25 MB Metaspace, +107 MB heap.
CODEGEN_CACHE_MAX_ENTRIES = 4096


def codegen_compiles(spark: SparkSession) -> int:
    """Cumulative count of classes this JVM's code generator compiled,
    i.e. codegen cache misses. Take deltas around a run. This is the
    compile-time histogram's event count, which is exact; summing its
    reservoir is not (it keeps 1,028 samples)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def get_spark(
    app_name: str = "wallet-risk-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``SPARK_GRAFT_CPUS`` drives local parallelism; shuffle partitions
    default to the same so a local run doesn't over-partition tiny SFs,
    while AQE coalescing keeps the setting safe at 1000-executor scale.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: runtime re-plan, skew-join splitting, and
        # post-shuffle coalesce — replaces the reference's manual
        # 256-bucket chunk fan-out (analytics_data_ingestion_pipeline.py:107-140).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # Arrow for any pandas-UDF path (similarity / multimodal ops);
        # large batches amortize per-batch Python overhead — vectorized
        # UDF bodies want fewer, fatter batches.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        # Deterministic, engine-neutral timestamps (oracle parity).
        .config("spark.sql.session.timeZone", "UTC")
        # Only write_partitioned depends on this: its overwrite replaces
        # just the partitions present in its frame. The generation
        # writers stage into a fresh directory and do not.
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # 128 MB input splits — sane at 100 TB; irrelevant at test SFs.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # The synthetic events table stores TIMESTAMP(NANOS) which Spark
        # rejects by default; read as long and convert in readers
        # (DuckDB truncates nanos→micros, we do the same).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Generated classes keyed on plan shape, not stage id: two stages
        # of the same shape share one compiled class.
        .config("spark.sql.codegen.useIdInClassName", "false")
        # Static: read once, when the JVM's code generator first runs.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
    )
    return builder.getOrCreate()
