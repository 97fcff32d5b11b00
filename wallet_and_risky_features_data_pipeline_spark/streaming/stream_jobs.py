"""Structured Streaming equivalents of the batch incremental patterns
(SURVEY.md §2.9 — the reference runs batches-with-watermarks and names
streaming as the future direction; this is that direction on Spark).

``windowed_event_counts`` runs a real streaming query: file source →
event-time watermark → ``dropDuplicates`` keyed on the natural key (the
streaming rendering of the reference's NOT EXISTS anti-join dedup) →
tumbling-window aggregation → parquet sink, driven to completion with
an ``availableNow`` trigger (the reference's cron micro-batch cadence).
The result is read back as a normal DataFrame, so the driver's DuckDB
oracle can value-check an actual streaming execution.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import checkpoint_tracked
from ..sources.readers import _ensure_session_confs, normalize_event_ts



def events_stream(spark: SparkSession, sf_dir: str, schema, max_files_per_trigger=None):
    """Streaming reader for the events table, tolerant of BOTH physical
    layouts a parquet table ships in: a single ``events.parquet`` FILE
    (the driver's testdata) needs the directory scan glob-filtered down
    to that file, while an ``events.parquet/`` DIRECTORY of part files
    (any Spark-written store, the scale-probe replicas) is streamed
    directly — a glob on the dir name would match no leaf file and the
    stream would silently see zero batches. Local-FS check here; a
    cloud deployment swaps in the FileSystem API."""
    import os

    table = f"{sf_dir}/events.parquet"
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        # chop the availableNow run into real micro-batches (state
        # probes need >1 batch to see whether latency stays flat as
        # state fills) — a single-file source is always one batch
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if os.path.isdir(table):
        return reader.parquet(table)
    if not os.path.isfile(table):
        # Without this, the glob branch over a missing/typo'd dir would
        # stream ZERO batches and terminate "successfully" — the silent
        # empty-result failure this helper exists to prevent.
        raise FileNotFoundError(f"events table not found at {table}")
    return reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)

def _round_half_up(x: float, ndigits: int) -> float:
    """Spark's ROUND(double, n): half AWAY from zero on the shortest
    decimal repr (BigDecimal.valueOf → setScale(n, HALF_UP)). Python's
    built-in round() is banker's (half-to-even) — exact .5 ties
    diverge, which broke the entropy mirror's 'equal, not
    approximately equal' claim (ADVICE r9). repr(float) and
    Double.toString both emit the shortest round-trip decimal, so
    quantizing that string with decimal.ROUND_HALF_UP replays the JVM
    bit-for-bit."""
    import decimal

    q = decimal.Decimal(1).scaleb(-ndigits)
    return float(
        decimal.Decimal(repr(x)).quantize(q, rounding=decimal.ROUND_HALF_UP)
    )


def _round_half_up_int(x: float) -> int:
    """Spark's ROUND(double) to scale 0, as an int (for the 1e-6 ln
    quantization grid)."""
    import decimal

    return int(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP
        )
    )


# ---- ordered-arrival contract enforcement (VERDICT r9 #2) ----------
# The contract-bound mirrors (rolling z-score, event transitions,
# CUSUM) require event-time-ordered arrival ACROSS micro-batches; an
# out-of-order file used to diverge them from their batch oracles
# SILENTLY. Each now carries a per-key high-water mark
# (max (ts, event_id) consumed) in state; rows arriving at or behind
# it are counted as violations — a dead-letter COUNT, not a behavior
# change: the math still runs, but the divergence is LOUD. The count
# rides on every output row (`ooo` column, dropped from the
# registered result so oracle parity is untouched) and the total per
# job lands in LAST_OOO_VIOLATIONS for callers/tests to assert on.
# Sentinel high-water mark: far before any real event time, so the
# first batch never flags.
_OOO_NONE = -(2**62)

# job name → total out-of-order rows observed by its LAST run in this
# process (driver-side diagnostic; read after the job returns).
LAST_OOO_VIOLATIONS: dict[str, int] = {}

# Every sink/checkpoint dir any stream job creates, reaped in one
# atexit hook (ADVICE r11: a long-lived session re-invoking the ~30
# jobs — the bench loop — grew /tmp without bound). Reaped at EXIT,
# not per-call: the returned read-back DataFrames are lazy over these
# dirs for the rest of the session.
_TEMP_DIRS: list[str] = []


def _reap_temp_dirs() -> None:
    import shutil

    while _TEMP_DIRS:
        shutil.rmtree(_TEMP_DIRS.pop(), ignore_errors=True)


def _tracked_mkdtemp(prefix: str) -> str:
    """``tempfile.mkdtemp`` + registration with the process-exit
    reaper — the tracked-tempdir mirror of ``caching.persist_tracked``."""
    import atexit

    if not _TEMP_DIRS:
        atexit.register(_reap_temp_dirs)
    d = tempfile.mkdtemp(prefix=prefix)
    _TEMP_DIRS.append(d)
    return d


def _ooo_count(batch, last_us: int, last_eid: int) -> int:
    """Rows of a (sorted) micro-batch at or behind the (ts, event_id)
    high-water mark — each is an ordering-contract violation (a late
    or redelivered row the batch oracle would have placed earlier)."""
    ts_us = batch["ts"].to_numpy(dtype="datetime64[ns]").astype("int64") // 1000
    eid = batch["event_id"].to_numpy(dtype="int64")
    behind = (ts_us < last_us) | ((ts_us == last_us) & (eid <= last_eid))
    return int(behind.sum())


def _ooo_total(snaps, job_name: str) -> None:
    """Aggregate the per-key cumulative `ooo` column of a finished
    job's sink table into LAST_OOO_VIOLATIONS[job_name] (max per key —
    the column is cumulative — summed over keys; one small agg)."""
    row = (
        snaps.groupBy("user_id")
        .agg(F.max("ooo").alias("__m"))
        .agg(F.sum("__m"))
        .first()
    )
    LAST_OOO_VIOLATIONS[job_name] = int(row[0] or 0)


def _run_append_to_parquet(spark, stream, ckpt_dir: str, prefix: str, query_out=None):
    """Drain an append-mode stream through a PARQUET sink and read the
    result back. The memory sink parks every emitted row in the DRIVER
    heap — fine for the bounded snapshot emitters (PSI's O(16)
    histograms, drift's O(64) sums, hours×types OHLC, the
    complete/update-mode rollups whose retained table is the result
    grain), but a row- or pair-scaled append emitter is a driver OOM
    at scale (observed: stream_transitions_reorder at the r11 100×
    structure probe, 8 g heap). The file sink keeps emission
    executor-side at any volume; the explicit schema keeps a
    zero-emission run readable (no part files to infer from); and a
    parquet scan mints fresh attribute ids per read, so the
    MemoryPlan self-join hazard (conflicting attributes) cannot reach
    rollups over the returned frame."""
    out_dir = _tracked_mkdtemp(prefix=prefix)
    q = (
        stream.writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt_dir)
        .format("parquet")
        .option("path", out_dir)
        .start()
    )
    if query_out is not None:
        query_out.append(q)
    q.awaitTermination()
    return spark.read.schema(stream.schema).parquet(out_dir)


def _run_foreach_to_parquet(
    spark, stream, ckpt_dir: str, prefix: str, mode: str, query_out=None
):
    """complete/update-mode streams cannot use a file sink directly —
    but the memory sink COLLECTS every emission to the driver, and for
    a key-scaled result grain that is the same driver-residency class
    `_run_append_to_parquet` closes for append mode: the
    session-scaled complete table blew spark.driver.maxResultSize
    (1 GiB) at the r11 100× structure probe. foreachBatch hands each
    trigger's table to a DISTRIBUTED parquet write instead:
    ``complete`` overwrites per trigger (the last trigger's full table
    is the final result under availableNow), ``update`` appends the
    changed rows (callers recover latest-per-key with the same rollup
    they ran over the memory sink's accumulated rows)."""
    out_dir = _tracked_mkdtemp(prefix=prefix)
    write_mode = "overwrite" if mode == "complete" else "append"

    def _sink(batch_df, _batch_id):
        batch_df.write.mode(write_mode).parquet(out_dir)

    q = (
        stream.writeStream.outputMode(mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt_dir)
        .foreachBatch(_sink)
        .start()
    )
    if query_out is not None:
        query_out.append(q)
    q.awaitTermination()
    return spark.read.schema(stream.schema).parquet(out_dir)


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_rocksdb_ok: bool | None = None


def _rocksdb_available(spark: SparkSession) -> bool:
    """Once-per-process probe for the RocksDB state-store provider on
    the driver classpath (bundled with Spark ≥3.2; absent on stripped
    builds — fall back to the default provider, never fail)."""
    global _rocksdb_ok
    if _rocksdb_ok is None:
        try:
            spark._jvm.java.lang.Class.forName(_ROCKSDB_PROVIDER)
            _rocksdb_ok = True
        except Exception:
            _rocksdb_ok = False
    return _rocksdb_ok


def _stream_session(spark: SparkSession, shuffle_partitions: int = 4) -> SparkSession:
    """Isolated SQLConf for one streaming query.

    Stateful operators create one state-store instance per shuffle
    partition, pinned by the checkpoint for the query's lifetime — so
    each job sizes shuffle partitions to its expected STATE volume,
    not the batch default. Mutating the SHARED session conf for that
    (the old set/restore pattern) races concurrently-planned batch
    queries, which would silently pick up the streaming value — under
    the bench's concurrent pool this showed up as 2-6x swings on
    unrelated queries. ``newSession()`` shares the SparkContext but
    owns its SQLConf, so the setting is scoped to this query and
    nothing needs restoring.

    State store: the default HDFS-backed provider keeps EVERY key's
    state on the executor HEAP — at a 100 TB keyspace that is an OOM,
    not a slowdown. RocksDB spills state to local disk with a bounded
    block cache, so state volume is limited by disk, not heap; it is
    the provider every stateful job here gets whenever the class is on
    the classpath (disable with SPARK_GRAFT_STATE_STORE=hdfs — the
    env-gated fallback, e.g. to reproduce heap-provider behavior).

    ``SPARK_GRAFT_STREAM_SHUFFLE`` overrides the per-job partition
    count globally — the deploy-time knob for sizing state parallelism
    to the real keyspace (scale probes use it; a 1000-executor cluster
    would set it to O(cores))."""
    s = spark.newSession()
    _ensure_session_confs(s)
    shuffle_partitions = int(
        os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE", shuffle_partitions)
    )
    s.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    # Carry the caller's ANSI mode into the child session (newSession
    # starts from the base conf): the ANSI test leg (VERDICT r9 #6)
    # must reach the streaming jobs' sink rollups and pre-state casts,
    # not silently drop back to wrapping arithmetic. Default-off
    # callers are unaffected.
    try:
        s.conf.set(
            "spark.sql.ansi.enabled", spark.conf.get("spark.sql.ansi.enabled")
        )
    except Exception:
        pass
    if os.environ.get(
        "SPARK_GRAFT_STATE_STORE", "rocksdb"
    ).lower() == "rocksdb" and _rocksdb_available(s):
        s.conf.set("spark.sql.streaming.stateStore.providerClass", _ROCKSDB_PROVIDER)
    return s


def state_store_metrics(query) -> list[dict]:
    """Per-batch state rows/bytes pulled from the finished query's
    progress events (the StreamingQueryListener feed, read off
    ``recentProgress`` once the availableNow run terminates) — the
    observability hook that makes state growth a measurable number
    instead of an executor-heap surprise. RocksDB reports file size;
    the heap provider reports ``memoryUsedBytes``."""
    out: list[dict] = []
    for p in query.recentProgress:
        for op in p.get("stateOperators", []):
            custom = op.get("customMetrics", {}) or {}
            out.append(
                {
                    "batch_id": p.get("batchId"),
                    "operator": op.get("operatorName"),
                    "state_rows": op.get("numRowsTotal"),
                    "state_bytes": custom.get(
                        "rocksdbSstFileSize", op.get("memoryUsedBytes")
                    ),
                    "batch_duration_ms": p.get("batchDuration")
                    or (p.get("durationMs") or {}).get("triggerExecution"),
                    "n_input_rows": p.get("numInputRows"),
                }
            )
    return out



def windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily tumbling-window counts per event type, computed by a
    Structured Streaming query with watermark + dedup state.

    Sink note: append-to-parquet would hold back the final day (a
    window only closes when the watermark passes its end, and the
    watermark can never pass the last event). For the verification
    harness we use a complete-mode memory sink so every window —
    including the unclosed tail — is emitted; a production pipeline
    keeps the parquet/Delta sink and accepts watermark-delayed finality.
    """
    spark = _stream_session(spark)
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    ckpt_dir = _tracked_mkdtemp(prefix="wrf_stream_ckpt_")

    # Stateful operators create one state-store instance per shuffle
    # partition, pinned by the checkpoint for the query's lifetime —
    # size it to expected STATE volume (keys in flight), not the batch
    # shuffle default. Tiny local state → few instances; a production
    # job with millions of in-flight keys raises this.

    stream = (
        events_stream(spark, sf_dir, static.schema)
        .transform(normalize_event_ts)
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
        .groupBy(F.window("ts", "1 day").alias("win"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("total_value"),
        )
    )
    name = "wrf_windowed_event_counts"
    q = (
        stream.writeStream.outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt_dir)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.awaitTermination()

    return spark.table(name).select(
        F.unix_micros(F.col("win.start")).alias("day_start_us"),
        "event_type",
        "n_events",
        F.col("total_value").cast("double").alias("total_value"),
    )


WINDOWED_EVENT_COUNTS_ORACLE = """
SELECT
    epoch_us(date_trunc('day', ts)) AS day_start_us,
    event_type,
    CAST(COUNT(*) AS BIGINT) AS n_events,
    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


def monotone_user_upsert(spark: SparkSession, batch: DataFrame, store: str) -> None:
    """One foreachBatch step of the streaming MERGE: reduce the batch to
    its latest state per user (deterministic ``(ts, event_id)`` order)
    and merge into ``store`` — monotone in event time, so a late batch
    carrying only OLDER events for a user never regresses stored state
    (the property the reference gets from its ordered Iceberg MERGE
    loop, features_pipeline.py:96-126)."""
    latest = batch.groupBy("user_id").agg(
        F.max_by(
            F.struct("ts", "event_type", "value", "event_id"),
            F.struct("ts", "event_id"),
        ).alias("s")
    )
    snapshot = latest.select(
        "user_id",
        (F.col("user_id") % 16).alias("bucket"),
        F.unix_micros("s.ts").alias("last_ts_us"),
        F.col("s.event_id").alias("last_event_id"),
        F.col("s.event_type").alias("last_event_type"),
        F.col("s.value").cast("double").alias("last_value"),
    )
    # No prior state in exactly two cases: the store is absent (first
    # batch), or a first commit crashed between its rename and its flip
    # (gen dirs but no _LATEST: resolve_store refuses them, and
    # merge_upsert's retry redoes the commit). A store written before
    # generations existed reads as-is. Any other listing/IO failure
    # must fail the micro-batch — swallowing it would silently disable
    # the monotone guard and let merge_upsert degrade to an overwrite
    # of partial state (ADVICE r02).
    from pyspark.errors import AnalysisException

    from ..sources.writers import merge_upsert, read_store

    try:
        stored = read_store(spark, store)
    except (AnalysisException, FileNotFoundError):
        stored = None
    if stored is not None:
        if "last_event_id" not in stored.columns:
            # Schema migration: stores written before last_event_id
            # existed backfill with -1 (below any real event_id), so the
            # monotone filter keeps its strict total order instead of
            # being silently skipped on a NULL comparison (ADVICE r02).
            stored = stored.withColumn("last_event_id", F.lit(-1).cast("long"))
        stored = stored.select(
            "user_id",
            F.col("last_ts_us").alias("__ts"),
            F.col("last_event_id").alias("__eid"),
        )
    if stored is not None:
        snapshot = (
            snapshot.join(stored, on="user_id", how="left")
            .filter(
                F.col("__ts").isNull()
                | (F.struct("last_ts_us", "last_event_id") > F.struct("__ts", "__eid"))
            )
            .drop("__ts", "__eid")
        )
    # ``bucket`` is a column of the flat generation (the oracle
    # projects it), not a directory level.
    merge_upsert(spark, snapshot, store, key=["user_id"])
    # A long-running stream commits one generation per micro-batch;
    # without retention the store accretes one full snapshot per batch
    # and keeps every superseded row alive (bad for disk AND for
    # erasure — old snapshots retain deleted subjects). Keep the live
    # generation plus one rollback snapshot, exactly like the
    # reference's scheduled VACUUM after its MERGE loop
    # (features_pipeline.py:128-138).
    # SINGLE-MAINTAINER precondition (vacuum's contract): it holds here
    # because a Structured Streaming query owns its sink store
    # exclusively — the checkpoint lock serializes epochs, so no rival
    # writer can be mid-publish when this batch's vacuum runs. Do NOT
    # copy this call into a multi-writer merge loop; vacuum there can
    # delete a rival's renamed-but-unflipped generation mid-commit.
    from ..sources.writers import vacuum_generations

    vacuum_generations(store, keep=2)


def stream_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest → MERGE upsert: the full SURVEY.md §2.9 mapping
    (file source → watermark → streaming dedup → ``foreachBatch`` MERGE
    into the serving table — the Structured-Streaming rendering of the
    reference's cron batch + NOT-EXISTS dedup + Iceberg MERGE loop,
    features_pipeline.py:96-126).

    Each micro-batch is reduced to one latest-state row per user
    (``max_by`` over the deterministic (ts, event_id) order) and merged
    into a parquet feature store by ``merge_upsert``, which commits
    the whole store as one flat generation per micro-batch. The final
    store is returned for oracle verification: a latest-event-per-user
    snapshot, regardless of how many batches the stream delivered the
    data in.
    """
    spark = _stream_session(spark)
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    ckpt_dir = _tracked_mkdtemp(prefix="wrf_merge_ckpt_")
    store = _tracked_mkdtemp(prefix="wrf_merge_store_") + "/user_state"

    def upsert_batch(batch: DataFrame, _epoch: int) -> None:
        monotone_user_upsert(spark, batch, store)

    q = (
        events_stream(spark, sf_dir, static.schema)
        .transform(normalize_event_ts)
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", ckpt_dir)
        .foreachBatch(upsert_batch)
        .start()
    )
    q.awaitTermination()
    from ..sources.writers import read_store

    return read_store(spark, store).select(
        "user_id", "bucket", "last_ts_us", "last_event_type", "last_value"
    )


STREAM_MERGE_UPSERT_ORACLE = """
SELECT user_id,
       CAST(user_id % 16 AS BIGINT) AS bucket,
       epoch_us(ts) AS last_ts_us,
       event_type AS last_event_type,
       CAST(value AS DOUBLE) AS last_value
FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
) WHERE rn = 1
"""


def stateful_user_totals(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger=None,
    metrics_out: list | None = None,
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``
    (SURVEY.md §2.9's Spark mapping for operators the built-in windowed
    aggregations can't express): per-user running totals maintained in
    explicit group state across micro-batches.

    Totals accumulate in integer cents so the result is independent of
    row order within a batch (float summation order isn't) — which is
    what lets a streaming execution match an exact batch oracle.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import StructType

    # 16 state partitions: per-key state is O(1) but the KEYSPACE is
    # |users| and every key pays a Python-side invocation per batch —
    # state-task parallelism is the lever (the reorder job's r11
    # finding); SPARK_GRAFT_STREAM_SHUFFLE still overrides.
    spark = _stream_session(spark, shuffle_partitions=16)
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    ckpt_dir = _tracked_mkdtemp(prefix="wrf_state_ckpt_")

    out_schema = StructType.fromDDL("user_id long, n_events long, total_cents long")
    state_schema = StructType.fromDDL("n long, cents long")

    def update(key, pdfs, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # floor(x+0.5), not pandas .round(): pandas rounds half to
            # EVEN while the DuckDB oracle rounds half away from zero —
            # identical on 2-decimal inputs, divergent the day the data
            # gains precision. floor(x+0.5) == DuckDB round for x >= 0.
            cents += int(np.floor(pdf["value"] * 100 + 0.5).astype("int64").sum())
        state.update((n, cents))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_cents": [cents]})

    stream = (
        events_stream(spark, sf_dir, static.schema, max_files_per_trigger)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )
    # foreachBatch → parquet, not a memory sink: update-mode emission
    # is |users|-scaled per batch, the driver-residency class (see
    # _run_foreach_to_parquet)
    queries: list = []
    out = _run_foreach_to_parquet(
        spark, stream, ckpt_dir, "wrf_stateful_user_totals_out_", "update",
        query_out=queries,
    )
    if metrics_out is not None:
        metrics_out.extend(state_store_metrics(queries[0]))

    # latest state per key (single-file source → one batch, but stay
    # correct under multi-batch replays)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


STATEFUL_USER_TOTALS_ORACLE = """
SELECT
    user_id,
    CAST(COUNT(*) AS BIGINT) AS n_events,
    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM events
GROUP BY 1
"""


def session_window_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming gap-based sessionization via ``session_window`` — the
    native Structured-Streaming rendering of the batch LAG + running-sum
    sessionizer (``plans.sessionization``): state merges windows whose
    gap to the previous event is under 30 minutes, per user.

    Mode note: session-window aggregation rejects update mode (state
    merges would retract rows), so the harness runs complete mode
    under an ``availableNow`` trigger — every final merged session is
    emitted, including unclosed tails (append mode would withhold any
    session the final watermark hasn't passed). The sink is
    foreachBatch → parquet, NOT a memory sink: the complete table is
    SESSION-scaled, and collecting it to the driver blew
    spark.driver.maxResultSize at the r11 100× structure probe
    (1054 MiB > 1 GiB) — the probe-caught failure
    ``_run_foreach_to_parquet`` exists to close.

    Boundary semantics (mirrored in the oracle): ``session_window``
    merges only OVERLAPPING windows, so a gap of exactly the timeout
    starts a NEW session — the batch sessionizer's ``gap > timeout``
    convention differs at that single point, hence the oracle uses
    ``>=`` here.
    """
    spark = _stream_session(spark)
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    ckpt_dir = _tracked_mkdtemp(prefix="wrf_session_ckpt_")

    stream = (
        events_stream(spark, sf_dir, static.schema)
        .transform(normalize_event_ts)
        .withWatermark("ts", "1 hour")
        .groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("win"),
            F.col("user_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("session_value"),
        )
    )
    rows = _run_foreach_to_parquet(
        spark, stream, ckpt_dir, "wrf_session_window_totals_out_", "complete"
    )

    return rows.select(
        "user_id",
        F.unix_micros(F.col("win.start")).alias("session_start_us"),
        F.unix_micros(F.col("win.end")).alias("session_end_us"),
        "n_events",
        F.col("session_value").cast("double").alias("session_value"),
    )


SESSION_WINDOW_TOTALS_ORACLE = """
WITH gapped AS (
    SELECT *,
        epoch_us(ts) - LAG(epoch_us(ts)) OVER (
            PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
    FROM events
),
marked AS (
    -- session_window merges only OVERLAPPING windows: a gap equal to
    -- the 30-minute timeout starts a new session (>=, not >)
    SELECT *,
        CASE WHEN gap_us IS NULL OR gap_us >= 30 * 60000000
             THEN 1 ELSE 0 END AS new_session
    FROM gapped
),
sessioned AS (
    SELECT *,
        SUM(new_session) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM marked
)
SELECT
    user_id,
    epoch_us(MIN(ts)) AS session_start_us,
    epoch_us(MAX(ts) + INTERVAL 30 MINUTE) AS session_end_us,
    CAST(COUNT(*) AS BIGINT) AS n_events,
    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS session_value
FROM sessioned
GROUP BY user_id, session_id
"""


def stream_stream_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join: the click stream joined to
    the purchase stream per user within a ±1 hour event-time band — the
    streaming rendering of the batch band join (operators.joins.band_join /
    theta_band_window).

    State-bound shape: BOTH sides carry watermarks and the join
    predicate is a symmetric event-time range, which is exactly what
    lets Spark derive state-eviction bounds — each side keeps only
    rows inside (watermark − band), so state is O(band × rate), not
    O(stream). Without the time-range predicate a stream-stream join
    must keep every row ever seen. Inner-join results emit as matches
    arrive (append mode), so the output equals the batch band join on
    the same files, which is what the oracle replays.
    """
    spark = _stream_session(spark)
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    ckpt_dir = _tracked_mkdtemp(prefix="wrf_ssjoin_ckpt_")

    def side(event_type: str, prefix: str):
        return (
            events_stream(spark, sf_dir, static.schema)
            .transform(normalize_event_ts)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", "1 hour")
        )

    joined = side("click", "c").join(
        side("purchase", "p"),
        F.expr(
            "c_user = p_user"
            " AND p_ts >= c_ts - INTERVAL 1 HOUR"
            " AND p_ts <= c_ts + INTERVAL 1 HOUR"
        ),
    )
    rows = _run_append_to_parquet(spark, joined, ckpt_dir, "wrf_stream_stream_band_join_out_")

    return rows.select(
        F.col("c_id").alias("click_id"),
        F.col("p_id").alias("purchase_id"),
        F.col("c_user").alias("user_id"),
        (F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("c_ts"))).alias("delta_us"),
    )


STREAM_STREAM_BAND_JOIN_ORACLE = """
SELECT
    c.event_id AS click_id,
    p.event_id AS purchase_id,
    c.user_id AS user_id,
    epoch_us(p.ts) - epoch_us(c.ts) AS delta_us
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts - INTERVAL 1 HOUR
 AND p.ts <= c.ts + INTERVAL 1 HOUR
"""


def stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment — the third §2.9 join shape
    beside the stateful stream-stream band join and the foreachBatch
    MERGE: a stateless streaming join against a batch dimension.

    The static side (per-(type, day) average value) is a plain batch
    DataFrame; Spark re-plans it into each micro-batch and, being tiny,
    it broadcasts — the streaming side never shuffles and the join
    carries NO state store (nothing to evict, no watermark needed for
    correctness; at scale this is how reference-data enrichment runs:
    dimension refreshes are picked up at micro-batch boundaries).
    Double math note: the average divides two exact quantities
    (decimal sum cast to double, bigint count cast to double) so the
    division is one correctly-rounded IEEE op — replayable in the
    oracle.
    """
    spark = _stream_session(spark)
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    ckpt_dir = _tracked_mkdtemp(prefix="wrf_enrich_ckpt_")

    dim = (
        static.transform(normalize_event_ts)
        .groupBy(
            F.col("event_type"),
            F.date_trunc("day", F.col("ts")).alias("day"),
        )
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("type_day_avg")
        )
    )

    stream = (
        events_stream(spark, sf_dir, static.schema)
        .transform(normalize_event_ts)
        .filter(F.col("event_type") == "purchase")
        .withColumn("day", F.date_trunc("day", F.col("ts")))
    )
    joined = stream.join(F.broadcast(dim), ["event_type", "day"]).select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("day")).alias("day_us"),
        "value",
        "type_day_avg",
        (F.col("value") - F.col("type_day_avg")).alias("deviation"),
    )
    rows = _run_append_to_parquet(spark, joined, ckpt_dir, "wrf_stream_static_enrichment_out_")

    return rows


STREAM_STATIC_ENRICHMENT_ORACLE = """
WITH dim AS (
    SELECT event_type, date_trunc('day', ts) AS day,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS type_day_avg
    FROM events GROUP BY 1, 2
)
SELECT e.event_id, e.user_id,
       epoch_us(date_trunc('day', e.ts)) AS day_us,
       e.value, d.type_day_avg,
       e.value - d.type_day_avg AS deviation
FROM events e
JOIN dim d ON d.event_type = e.event_type
          AND d.day = date_trunc('day', e.ts)
WHERE e.event_type = 'purchase'
"""


THRESHOLD_CENTS = 100_000  # emit an alert at each $1000 boundary


def _threshold_alert_rows(key, batch, total: int):
    """Row-level state machine shared by both stateful-API renderings:
    process a user's batch in deterministic (ts, event_id) order,
    accumulate integer cents, and emit one alert row per crossed
    THRESHOLD_CENTS boundary. Returns (alert_frame, new_total)."""
    import numpy as np
    import pandas as pd

    batch = batch.sort_values(["ts", "event_id"], kind="mergesort")
    out = {k: [] for k in ("user_id", "event_id", "ts_us", "total_cents", "level")}
    # Sign-aware half-away-from-zero: floor(|x|+0.5) with the sign
    # restored matches DuckDB/Spark ROUND for negatives (refunds) too;
    # plain floor(x+0.5) would round -0.5 cents toward zero and pandas
    # .round() is half-to-even — both latent oracle mismatches.
    v = batch["value"].to_numpy() * 100
    cents = (np.copysign(np.floor(np.abs(v) + 0.5), v)).astype("int64")
    # Epoch micros derived from the series' OWN resolution — pandas 2
    # can surface Arrow timestamps at ns or us depending on the
    # conversion path, and a hard-coded //1000 silently yields
    # ms-scale values on a datetime64[us] series.
    ts_i = batch["ts"].astype("int64")
    unit = getattr(batch["ts"].dt, "unit", "ns")
    to_us = {"s": 1_000_000, "ms": 1_000, "us": 1}.get(unit)
    ts_us = ts_i // 1_000 if to_us is None else ts_i * to_us
    for eid, c, t in zip(batch["event_id"], cents, ts_us):
        new_total = total + int(c)
        if new_total // THRESHOLD_CENTS > total // THRESHOLD_CENTS:
            out["user_id"].append(key)
            out["event_id"].append(int(eid))
            out["ts_us"].append(int(t))
            out["total_cents"].append(new_total)
            out["level"].append(new_total // THRESHOLD_CENTS)
        total = new_total
    return pd.DataFrame(out), total


def stream_threshold_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator: per-user cumulative value
    tracked in group state, emitting one alert row each time the
    running total crosses a ``THRESHOLD_CENTS`` boundary — a row-level
    state machine no windowed aggregation expresses (output
    cardinality depends on state, not on windows; SURVEY.md §2.9
    custom-stateful mapping).

    Rows are processed in deterministic (ts, event_id) order inside
    each batch and totals accumulate in integer cents, so a streaming
    execution reproduces the exact batch running-sum oracle.

    API note: rendered on ``applyInPandasWithState``. Spark 4's
    ``transformWithStateInPandas`` (ValueState + RocksDB provider) is
    the successor API and the same ``_threshold_alert_rows`` core
    drops in, but its driver worker imports ``google.protobuf``,
    which this container does not ship — so the portable API is the
    default and the upgrade is a mechanical swap at this one site.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import StructType

    # 16 state partitions (r16, the stateful-totals/reorder jobs' rule
    # extended): this job shuffles the FULL event stream into Python
    # state tasks, so addBatch scales with rows-per-partition — measured
    # 2.7 -> 1.6 s (zscore) / 2.2 -> 1.5 s (cusum) / 2.7 -> 2.0 s
    # (transitions) at 16 vs 4, while 32 regressed (per-partition state
    # store overhead). Key-bounded snapshot jobs (PSI, drift) keep the
    # 4-partition default (32 partitions there measured 2.4x WORSE).
    # SPARK_GRAFT_STREAM_SHUFFLE still overrides for deployment sizing.
    spark = _stream_session(spark, shuffle_partitions=16)
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    ckpt_dir = _tracked_mkdtemp(prefix="wrf_alert_ckpt_")

    out_schema = StructType.fromDDL(
        "user_id long, event_id long, ts_us long, total_cents long, level long"
    )
    state_schema = StructType.fromDDL("cents long")

    def update(key, pdfs, state: GroupState):
        total = state.get[0] if state.exists else 0
        frames = []
        for pdf in pdfs:
            frame, total = _threshold_alert_rows(key[0], pdf, total)
            frames.append(frame)
        state.update((total,))
        yield pd.concat(frames) if frames else pd.DataFrame(
            {k: [] for k in ("user_id", "event_id", "ts_us", "total_cents", "level")}
        )

    stream = (
        events_stream(spark, sf_dir, static.schema)
        .transform(normalize_event_ts)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )
    rows = _run_append_to_parquet(spark, stream, ckpt_dir, "wrf_threshold_alerts_out_")
    return rows


STREAM_THRESHOLD_ALERTS_ORACLE = f"""
WITH ordered AS (
    SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           CAST(round(value * 100) AS BIGINT) AS cents,
           SUM(CAST(round(value * 100) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS run
    FROM events
)
SELECT user_id, event_id, ts_us,
       run AS total_cents,
       run // {THRESHOLD_CENTS} AS level
FROM ordered
WHERE run // {THRESHOLD_CENTS} > (run - cents) // {THRESHOLD_CENTS}
"""


def vocab_merge_batch(spark: SparkSession, store: str, batch: DataFrame, epoch: int) -> bool:
    """One fenced merge step of the vocab-maintenance stream — the
    at-least-once discipline for an ADDITIVE (non-idempotent) store
    merge. ``foreachBatch`` redelivers an epoch whose commit succeeded
    but whose checkpoint acknowledgment didn't (crash in between); the
    epoch id recorded atomically WITH the committed generation
    (``commit_generation(tag=...)``) is the fence — a replayed epoch
    <= the live generation's tag is skipped, so counts can never
    double. (The HLL register store's MAX-merge wouldn't need this
    fence — idempotent merges are replay-proof by algebra; additive
    SUM is not, hence the explicit epoch gate.) Returns True iff the
    batch was applied."""
    from ..plans.llm_ops import merge_token_stats, token_freqs
    from ..sources.writers import (
        commit_generation,
        generation_tag,
        read_store,
        store_committed,
    )

    applied = generation_tag(store)
    if applied is not None and int(applied) >= epoch:
        return False
    counts = token_freqs(batch)
    # pointer probe, not a gen-dir probe: a crashed first commit
    # leaves ghost dirs that resolve_store refuses — the next
    # commit must heal the store, not wedge on reading it
    if store_committed(store):
        counts = merge_token_stats(read_store(spark, store), counts)
    commit_generation(counts, store, tag=str(epoch))
    return True


def stream_vocab_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus-stats maintenance: documents land as files, and
    every micro-batch's partial token counts MERGE into a generation-
    committed frequency store (``merge_token_stats`` inside
    ``foreachBatch``); the final vocabulary derives from the store and
    is held to the FULL-recompute vocab oracle — batching can never
    drift the stats, because bigint count-merge is exactly associative.

    The corpus is landed as a 4-file staging dir streamed with
    ``maxFilesPerTrigger=1``, so the merge loop REALLY runs multiple
    times (store generations 1→4), not once. Each commit goes through
    ``commit_generation``'s staged-write → atomic ``_LATEST`` flip, so
    a stats reader concurrent with maintenance sees one complete
    snapshot, and the generation history doubles as stats time travel
    (which corpus state produced yesterday's tokenizer?).
    """
    from ..plans.llm_ops import _vocab_from_freqs
    from ..sources.writers import read_store

    spark = _stream_session(spark)
    # Land only the column the merge consumes (r16, guide §6/§4.1):
    # the token merge reads nothing but ``text``, so staging the full
    # document rows would shuffle and write every other column 4-ways
    # just to drop them at the stream scan. Result-neutral: the store
    # merge is an order-invariant count fold over text alone.
    static = spark.read.parquet(f"{sf_dir}/documents.parquet").select("text")
    land = _tracked_mkdtemp(prefix="wrf_vocab_land_")
    static.repartition(4).write.mode("overwrite").parquet(land)
    ckpt_dir = _tracked_mkdtemp(prefix="wrf_vocab_ckpt_")
    store = _tracked_mkdtemp(prefix="wrf_vocab_store_") + "/token_freqs"

    def merge_batch(batch: DataFrame, epoch: int) -> None:
        vocab_merge_batch(spark, store, batch, epoch)

    q = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(land)
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", ckpt_dir)
        .foreachBatch(merge_batch)
        .start()
    )
    q.awaitTermination()
    return _vocab_from_freqs(read_store(spark, store))


def _funnel_stage_rows(key, batch, stage: int, last_ts_us: int):
    """Row-level funnel state machine shared by the stateful stream and
    its unit tests: advance view → click → purchase in deterministic
    (ts, event_id) order, emit ONE completion row the moment stage 3 is
    reached (stage 4 = already alerted, absorb everything after).

    Each advance requires the event's ts STRICTLY greater than the
    previous stage's ts (carried in state) — matching the batch
    oracle's ``e.ts > t_prev`` comparisons exactly. Without it, a
    click/purchase sharing the previous stage's timestamp would
    advance or not depending on event_id sort order — an equal-ts
    divergence the micros-resolution corpus never exercises but a
    coarser clock would. Returns (alert_frame, new_stage, new_last_ts).
    """
    import pandas as pd

    batch = batch.sort_values(["ts", "event_id"], kind="mergesort")
    out = {"user_id": [], "completed_ts_us": []}
    types = batch["event_type"].to_numpy()
    ts_us = (batch["ts"].astype("int64") // 1000).to_numpy()
    for i in range(len(batch)):
        t, t_us = types[i], int(ts_us[i])
        if stage == 0 and t == "view":
            stage, last_ts_us = 1, t_us
        elif stage == 1 and t == "click" and t_us > last_ts_us:
            stage, last_ts_us = 2, t_us
        elif stage == 2 and t == "purchase" and t_us > last_ts_us:
            stage, last_ts_us = 4, t_us
            out["user_id"].append(key)
            out["completed_ts_us"].append(t_us)
    return pd.DataFrame(out), stage, last_ts_us


def stream_funnel_alerts(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger=None,
    metrics_out: list | None = None,
) -> DataFrame:
    """Stateful sequence detection: alert the FIRST time a user
    completes the strict view → click → purchase funnel — a multi-step
    pattern no windowed aggregation expresses (the alert depends on
    the path through per-user state, not on any window's contents).
    The per-user stage lives in group state (one tiny int per user —
    RocksDB-backed like every stateful job here); rows advance the
    machine in deterministic (ts, event_id) order, so the streaming
    run reproduces the batch funnel oracle exactly — the streaming
    rendering of ``funnel_conversion``'s per-user stage logic.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import StructType

    # 16 state partitions (r16, the stateful-totals/reorder jobs' rule
    # extended): this job shuffles the FULL event stream into Python
    # state tasks, so addBatch scales with rows-per-partition — measured
    # 2.7 -> 1.6 s (zscore) / 2.2 -> 1.5 s (cusum) / 2.7 -> 2.0 s
    # (transitions) at 16 vs 4, while 32 regressed (per-partition state
    # store overhead). Key-bounded snapshot jobs (PSI, drift) keep the
    # 4-partition default (32 partitions there measured 2.4x WORSE).
    # SPARK_GRAFT_STREAM_SHUFFLE still overrides for deployment sizing.
    spark = _stream_session(spark, shuffle_partitions=16)
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    ckpt_dir = _tracked_mkdtemp(prefix="wrf_funnel_ckpt_")

    out_schema = StructType.fromDDL("user_id long, completed_ts_us long")
    state_schema = StructType.fromDDL("stage long, last_ts_us long")

    def update(key, pdfs, state: GroupState):
        stage, last_ts_us = state.get if state.exists else (0, 0)
        frames = []
        for pdf in pdfs:
            frame, stage, last_ts_us = _funnel_stage_rows(
                key[0], pdf, stage, last_ts_us
            )
            frames.append(frame)
        state.update((stage, last_ts_us))
        yield pd.concat(frames) if frames else pd.DataFrame(
            {"user_id": [], "completed_ts_us": []}
        )

    stream = (
        events_stream(spark, sf_dir, static.schema, max_files_per_trigger)
        .transform(normalize_event_ts)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )
    queries: list = []
    rows = _run_append_to_parquet(
        spark, stream, ckpt_dir, "wrf_funnel_alerts_out_", query_out=queries
    )
    if metrics_out is not None:
        metrics_out.extend(state_store_metrics(queries[0]))
    return rows


STREAM_FUNNEL_ALERTS_ORACLE = """
WITH u1 AS (
    SELECT user_id, MIN(ts) FILTER (WHERE event_type = 'view') AS t_view
    FROM events GROUP BY 1
),
u2 AS (
    SELECT u1.user_id, u1.t_view,
           MIN(e.ts) FILTER (WHERE e.event_type = 'click' AND e.ts > u1.t_view)
               AS t_click
    FROM u1 LEFT JOIN events e USING (user_id)
    GROUP BY 1, 2
),
u3 AS (
    SELECT u2.user_id,
           MIN(e.ts) FILTER (WHERE e.event_type = 'purchase' AND e.ts > u2.t_click)
               AS t_purchase
    FROM u2 LEFT JOIN events e USING (user_id)
    GROUP BY 1
)
SELECT user_id, epoch_us(t_purchase) AS completed_ts_us
FROM u3 WHERE t_purchase IS NOT NULL
"""


def stream_hourly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC candles: the batch ``hourly_ohlc`` rollup
    maintained by a Structured Streaming query — tumbling 1-hour
    event-time windows per event type, watermarked, dedup-fenced.
    Open/close are NOT order-of-arrival (streams deliver out of
    order): they ride min/max over a (order-key, value) STRUCT —
    struct min/max compares lexicographically by the leading zero-
    padded (micros, id) key, is associative/commutative, and therefore
    a legal streaming aggregate that converges to the event-time-first
    /-last value regardless of arrival order (min_by/max_by would be
    the batch spelling; the struct trick is the incremental-merge
    form). Complete-mode memory sink for the harness, same finality
    note as windowed_event_counts.
    """
    spark = _stream_session(spark)
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    ckpt_dir = _tracked_mkdtemp(prefix="wrf_ohlc_ckpt_")

    ordv = F.struct(
        F.expr(
            "concat(lpad(cast(unix_micros(ts) as string), 20, '0'), ':',"
            " lpad(cast(event_id as string), 12, '0'))"
        ).alias("k"),
        F.col("value").cast("decimal(18,4)").alias("v"),
    )
    stream = (
        events_stream(spark, sf_dir, static.schema)
        .transform(normalize_event_ts)
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
        .withColumn("ordv", ordv)
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(
            F.min("ordv").alias("first_ov"),
            F.max("ordv").alias("last_ov"),
            F.max(F.col("value").cast("decimal(18,4)")).alias("high"),
            F.min(F.col("value").cast("decimal(18,4)")).alias("low"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("volume"),
            F.count(F.lit(1)).cast("bigint").alias("n_ticks"),
        )
    )
    name = "wrf_stream_hourly_ohlc"
    q = (
        stream.writeStream.outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt_dir)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "event_type",
        F.unix_micros(F.col("win.start")).alias("bucket_us"),
        F.col("first_ov.v").cast("double").alias("open"),
        F.col("high").cast("double").alias("high"),
        F.col("low").cast("double").alias("low"),
        F.col("last_ov.v").cast("double").alias("close"),
        F.col("volume").cast("double").alias("volume"),
        "n_ticks",
    )


def stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load-bearing streaming deduplication: the source is read TWICE
    and unioned — a faithful simulation of at-least-once redelivery
    (every event arrives exactly two times) — and watermarked
    ``dropDuplicates`` on the event key must collapse the stream back
    to exactly-once semantics before the aggregate. The oracle counts
    the SINGLE-copy batch table, so a dedup that leaks even one
    duplicate doubles a count and hash-mismatches (contrast
    windowed_event_counts, where the dedup guard runs against an
    already-unique source). State is one key per event inside the
    watermark horizon — RocksDB-backed, and the watermark expires it;
    totals in integer cents (floor(x·100+0.5), the stateful-totals
    recipe) so arrival order can never move a sum."""
    spark = _stream_session(spark)
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    ckpt_dir = _tracked_mkdtemp(prefix="wrf_dedup_ckpt_")

    redelivered = events_stream(spark, sf_dir, static.schema).unionByName(
        events_stream(spark, sf_dir, static.schema)
    )
    stream = (
        redelivered.transform(normalize_event_ts)
        .withWatermark("ts", "1 day")
        # dropDuplicatesWithinWatermark (ADVICE r8): the dedup
        # guarantee is keyed to the REDELIVERY LAG — duplicates whose
        # event times fall within the 1-day delay of each other are
        # collapsed regardless of which micro-batch each copy lands
        # in. Plain dropDuplicates instead evicts state as the GLOBAL
        # watermark passes an event's ts, so under a multi-batch
        # source a second copy delivered after eviction double-counts
        # and a late first copy vanishes. Contract: exactly-once holds
        # for any redelivery skew ≤ the watermark delay (pinned by
        # test_stream_dedup_cross_batch_redelivery).
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            # COUNT(DISTINCT) is unsupported over streams (it isn't an
            # incrementally mergeable agg); the distinct-user question
            # belongs to the HLL tier at this point in a pipeline
            F.sum(
                F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
            ).alias("total_cents"),
        )
    )
    name = "wrf_dedup_counts"
    q = (
        stream.writeStream.outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt_dir)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


STREAM_DEDUP_COUNTS_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM events
GROUP BY 1
"""


def stream_dedup_counts_from_dir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_dedup_counts' cross-batch variant: the source directory
    ALREADY holds each event twice (redelivered files), consumed one
    file per micro-batch — so the two copies of an event land in
    DIFFERENT batches, the case the in-job union (same files, same
    batches) cannot produce. Same watermark + inter-arrival dedup +
    aggregate pipeline; exists so the cross-batch exactly-once
    guarantee is a pinned test, not an assumption (ADVICE r8)."""
    spark = _stream_session(spark)
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    ckpt_dir = _tracked_mkdtemp(prefix="wrf_dedupx_ckpt_")
    stream = (
        events_stream(spark, sf_dir, static.schema, max_files_per_trigger=1)
        .transform(normalize_event_ts)
        .withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
            ).alias("total_cents"),
        )
    )
    name = "wrf_dedup_counts_xbatch"
    q = (
        stream.writeStream.outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt_dir)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def stream_rolling_zscore(
    spark: SparkSession, sf_dir: str, max_files_per_trigger=None
) -> DataFrame:
    """Custom stateful operator: the batch trailing-window z-score
    (``plans.sketch_plans.rolling_zscore_outliers``) maintained as
    per-user group state — the anomaly monitor running ON the stream
    instead of over the lake. No built-in streaming window expresses
    "the 10 rows before this one, per key", so the state is the
    user's trailing value deque (``applyInPandasWithState``); rows
    advance it in deterministic (ts, event_id) order, the funnel
    job's convention. Scoring repeats the batch discipline exactly:
    integer-cents moments from the deque, z as one float expression
    over exact ints, the outlier flag from the all-integer predicate
    — so the STREAMING execution is held to the BATCH query's own
    DuckDB oracle, the strongest equivalence the harness can state.
    Cold-start (< 5 prior rows) and zero-variance baselines emit NULL
    z (None through Arrow, never NaN — NaN would hash-mismatch the
    SQL NULL).

    ORDERING CONTRACT (ADVICE r8): batch equivalence requires arrival
    to be event-time ordered ACROSS micro-batches — rows are sorted by
    (ts, event_id) only WITHIN a batch, so a later batch carrying an
    earlier-ts event would advance the trailing deque out of global
    order and silently diverge from the batch oracle. That holds for
    (a) the registered single-file/single-batch config and (b) any
    multi-batch source whose file splits are event-time ordered (the
    normal shape of an append-only event log; pinned by
    test_rolling_zscore_multibatch_ts_ordered_splits). Out-of-order
    redelivery needs the watermark+re-sort pattern, not this job.
    ENFORCED (VERDICT r9 #2): state carries the per-key (ts,
    event_id) high-water mark; rows arriving at or behind it are
    counted into LAST_OOO_VIOLATIONS["stream_rolling_zscore"] — a
    violated contract is now LOUD (nonzero dead-letter count),
    never a silent divergence.

    Inner loop (VERDICT r8 #5): the per-row itertuples walk is
    replaced by numpy sliding-window moments (Σc, Σc² over the ≤10
    trailing entries per row) on an int64 fast path, guarded by the
    exactness bound |cents| < FAST_MAX ≈ 7.2e7 (the outlier
    predicate's 9·var_n2 ≤ 9·W²·max² must stay below 2⁶²; see the
    FAST_MAX derivation below); groups exceeding the bound fall back to the exact
    arbitrary-precision Python path, so vectorization can never
    reintroduce the silent-overflow class the r9 ANSI leg exists to
    kill."""
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import StructType

    from ..plans.sketch_plans import ZSCORE_MIN_BASELINE, ZSCORE_WINDOW

    # 16 state partitions (r16, the stateful-totals/reorder jobs' rule
    # extended): this job shuffles the FULL event stream into Python
    # state tasks, so addBatch scales with rows-per-partition — measured
    # 2.7 -> 1.6 s (zscore) / 2.2 -> 1.5 s (cusum) / 2.7 -> 2.0 s
    # (transitions) at 16 vs 4, while 32 regressed (per-partition state
    # store overhead). Key-bounded snapshot jobs (PSI, drift) keep the
    # 4-partition default (32 partitions there measured 2.4x WORSE).
    # SPARK_GRAFT_STREAM_SHUFFLE still overrides for deployment sizing.
    spark = _stream_session(spark, shuffle_partitions=16)
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    ckpt_dir = _tracked_mkdtemp(prefix="wrf_zscore_ckpt_")

    out_schema = StructType.fromDDL(
        "user_id long, event_id long, ts timestamp, cents long, "
        "n_baseline long, z double, is_outlier int, ooo long"
    )
    state_schema = StructType.fromDDL(
        "tail array<long>, last_us long, last_eid long, ooo long"
    )

    import numpy as np

    W = ZSCORE_WINDOW
    # int64 fast path is exact iff every |cents| < FAST_MAX: the
    # largest intermediate is the outlier predicate's 9·var_n2 ≤
    # 9·W²·max² (num² ≤ 4·W²·max² and windowed Σc² ≤ W·max² are
    # smaller), which must stay under 2⁶². With W=10 that is
    # ≈7.2e7 cents — a $716k single event; bigger values take the
    # exact-int path.
    FAST_MAX = int(((2 ** 62) / (9 * W * W)) ** 0.5)

    def _cents_exact(value, ts_unused=None):
        # round half AWAY FROM ZERO, matching the batch plan's
        # round(value*100) on both engines for either sign
        # (floor(x+0.5) alone diverges at negative .5 ties)
        v100 = value * 100
        return (
            int(math.floor(v100 + 0.5))
            if v100 >= 0
            else -int(math.floor(-v100 + 0.5))
        )

    def update(key, pdfs, state: GroupState):
        tail, last_us, last_eid, ooo = (
            state.get if state.exists else ([], _OOO_NONE, _OOO_NONE, 0)
        )
        tail = [int(t) for t in tail]
        last_us, last_eid, ooo = int(last_us), int(last_eid), int(ooo)
        # Concatenate the WHOLE micro-batch before sorting: pdfs yields
        # Arrow chunks (maxRecordsPerBatch slices), and sorting each
        # chunk alone would advance the trailing state out of global
        # (ts, event_id) order for any group spanning chunks — exactly
        # the silent oracle divergence this job exists to preclude.
        chunks = list(pdfs)
        batch = pd.concat(chunks) if chunks else pd.DataFrame()
        if not len(batch):
            state.update((tail, last_us, last_eid, ooo))
            yield pd.DataFrame(
                {c: [] for c in ("user_id", "event_id", "ts", "cents",
                                 "n_baseline", "z", "is_outlier", "ooo")}
            )
            return
        batch = batch.sort_values(["ts", "event_id"])
        ooo += _ooo_count(batch, last_us, last_eid)
        tail_row = batch.iloc[-1]
        # lexicographic (ts, event_id) max — the hwm is a PAIR, never
        # a componentwise max (which would over-flag at equal ts)
        if (int(tail_row.ts.value // 1000), int(tail_row.event_id)) > (
            last_us,
            last_eid,
        ):
            last_us = int(tail_row.ts.value // 1000)
            last_eid = int(tail_row.event_id)
        v100 = batch["value"].to_numpy(dtype=np.float64) * 100.0
        # same float expression as _cents_exact, vectorized
        cents_f = np.where(v100 >= 0, np.floor(v100 + 0.5), -np.floor(-v100 + 0.5))
        T, B = len(tail), len(batch)
        if np.all(np.abs(cents_f) < FAST_MAX) and all(abs(c) < FAST_MAX for c in tail):
            cents = cents_f.astype(np.int64)
            full = np.concatenate([np.asarray(tail, dtype=np.int64), cents])
            # left-pad with W zeros so row i's trailing window is the
            # fixed slice padded[i+T : i+T+W]; the pad contributes 0
            # to Σc and Σc², and n counts only the real entries
            padded = np.concatenate([np.zeros(W, dtype=np.int64), full])
            rows = np.lib.stride_tricks.sliding_window_view(padded, W)[T : T + B]
            s_arr = rows.sum(axis=1)
            q_arr = (rows * rows).sum(axis=1)
            n_arr = np.minimum(np.arange(T, T + B, dtype=np.int64), W)
            num = n_arr * cents - s_arr
            var_n2 = n_arr * q_arr - s_arr * s_arr
            usable = (n_arr >= ZSCORE_MIN_BASELINE) & (var_n2 > 0)
            z_vals = num / np.sqrt(np.where(usable, var_n2, 1).astype(np.float64))
            outlier = (usable & (num * num > 9 * var_n2)).astype("int32")
            z_obj = pd.Series(z_vals, dtype=object)
            z_obj[~usable] = None
            frame = pd.DataFrame(
                {
                    "user_id": np.full(B, key[0], dtype=np.int64),
                    "event_id": batch["event_id"].to_numpy(),
                    "ts": batch["ts"].to_numpy(),
                    "cents": cents,
                    "n_baseline": n_arr,
                    "z": z_obj.to_numpy(),
                    "is_outlier": outlier,
                    "ooo": np.full(B, ooo, dtype=np.int64),
                }
            )
            tail = [int(c) for c in full[-W:]]
        else:
            # exact arbitrary-precision fallback (same math, Python
            # ints): correctness can never be traded for speed
            out = {c: [] for c in
                   ("user_id", "event_id", "ts", "cents", "n_baseline", "z", "is_outlier")}
            for row in batch.itertuples():
                cents = _cents_exact(row.value)
                n, s, q = len(tail), sum(tail), sum(c * c for c in tail)
                num = n * cents - s
                var_n2 = n * q - s * s
                usable = n >= ZSCORE_MIN_BASELINE and var_n2 > 0
                out["user_id"].append(key[0])
                out["event_id"].append(row.event_id)
                out["ts"].append(row.ts)
                out["cents"].append(cents)
                out["n_baseline"].append(n)
                out["z"].append(num / math.sqrt(var_n2) if usable else None)
                out["is_outlier"].append(
                    1 if usable and num * num > 9 * var_n2 else 0
                )
                tail.append(cents)
                if len(tail) > W:
                    tail.pop(0)
            frame = pd.DataFrame(out)
            # object dtype keeps missing z as None -> Arrow null (a
            # float column would smuggle NaN, which is NOT SQL NULL)
            frame["z"] = frame["z"].astype(object)
            frame["ooo"] = ooo
        state.update((tail, last_us, last_eid, ooo))
        yield frame

    stream = (
        events_stream(spark, sf_dir, static.schema, max_files_per_trigger)
        .transform(normalize_event_ts)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )
    snaps = _run_append_to_parquet(spark, stream, ckpt_dir, "wrf_rolling_zscore_out_")
    _ooo_total(snaps, "stream_rolling_zscore")
    return snaps.select(
        "user_id", "event_id", "ts", "cents", "n_baseline", "z", "is_outlier"
    )


def stream_event_transitions(
    spark: SparkSession, sf_dir: str, max_files_per_trigger=None
) -> DataFrame:
    """Stateful Markov pair extraction ON the stream: per-user group
    state holds only the LAST event (ts, event_id, type); each
    micro-batch sorts its rows into the deterministic (ts, event_id)
    order, chains them behind the remembered last event, and emits
    one (from_type, to_type) pair per consecutive step — the
    transition LOG a behavioral-drift monitor tails. The memory sink
    holds that log; the returned DataFrame is the serving rollup
    (counts, distinct users, per-source probability) over it, held to
    the BATCH ``event_transitions`` query's own DuckDB oracle — the
    z-score job's streaming ≡ batch discipline with O(1) state per
    key instead of a deque.

    ORDERING CONTRACT: identical to stream_rolling_zscore — batch
    equivalence requires event-time-ordered arrival ACROSS
    micro-batches (single-batch registered config, or ts-ordered file
    splits: the append-only log shape). ENFORCED (VERDICT r9 #2):
    rows at or behind the chain-prev (ts, event_id) mark are counted
    into LAST_OOO_VIOLATIONS["stream_event_transitions"]."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import StructType

    # 16 state partitions (r16, the stateful-totals/reorder jobs' rule
    # extended): this job shuffles the FULL event stream into Python
    # state tasks, so addBatch scales with rows-per-partition — measured
    # 2.7 -> 1.6 s (zscore) / 2.2 -> 1.5 s (cusum) / 2.7 -> 2.0 s
    # (transitions) at 16 vs 4, while 32 regressed (per-partition state
    # store overhead). Key-bounded snapshot jobs (PSI, drift) keep the
    # 4-partition default (32 partitions there measured 2.4x WORSE).
    # SPARK_GRAFT_STREAM_SHUFFLE still overrides for deployment sizing.
    spark = _stream_session(spark, shuffle_partitions=16)
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    ckpt_dir = _tracked_mkdtemp(prefix="wrf_transitions_ckpt_")

    out_schema = StructType.fromDDL(
        "user_id long, from_type string, to_type string, ooo long"
    )
    state_schema = StructType.fromDDL(
        "last_us long, last_event_id long, last_type string, ooo long"
    )

    def update(key, pdfs, state: GroupState):
        prev = state.get if state.exists else None
        ooo = int(prev[3]) if prev is not None else 0
        chunks = list(pdfs)
        batch = pd.concat(chunks) if chunks else pd.DataFrame()
        if not len(batch):
            if prev is not None:
                state.update(prev)
            yield pd.DataFrame(
                {c: [] for c in ("user_id", "from_type", "to_type", "ooo")}
            )
            return
        # whole-batch sort (never per-Arrow-chunk): the z-score job's
        # cross-chunk ordering rule
        batch = batch.sort_values(["ts", "event_id"])
        if prev is not None:
            # the chain-prev row IS the (ts, event_id) high-water mark
            # under the ordered-arrival contract — rows at or behind it
            # are counted as violations (the marker itself then moves
            # with the chain, so a straggler batch moves it backward;
            # the violation is already counted, loudly)
            ooo += _ooo_count(batch, int(prev[0]), int(prev[1]))
        types = batch["event_type"].tolist()
        out_from, out_to = [], []
        if prev is not None:
            out_from.append(prev[2])
            out_to.append(types[0])
        out_from.extend(types[:-1])
        out_to.extend(types[1:])
        last = batch.iloc[-1]
        state.update(
            (
                int(last.ts.value // 1000),
                int(last.event_id),
                str(last.event_type),
                ooo,
            )
        )
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out_from),
                "from_type": out_from,
                "to_type": out_to,
                "ooo": [ooo] * len(out_from),
            }
        )

    stream = (
        events_stream(spark, sf_dir, static.schema, max_files_per_trigger)
        .transform(normalize_event_ts)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )
    pairs = _run_append_to_parquet(spark, stream, ckpt_dir, "wrf_event_transitions_out_")
    from pyspark.sql import Window

    _ooo_total(pairs, "stream_event_transitions")
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )
    per_from = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n_transitions",
        "n_users",
        F.round(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(per_from).cast("double"),
            6,
        ).alias("p_transition"),
    )


def stream_cusum_monitor(
    spark: SparkSession, sf_dir: str, max_files_per_trigger=None
) -> DataFrame:
    """Streaming CUSUM — the change-point monitor ON the stream,
    registered against the BATCH ``user_cusum_alerts`` oracle
    (streaming ≡ batch). The closed form is what makes this cheap:
    because s_t = P_t − least(0, min P), the per-user group state is
    exactly TWO numbers — the running prefix sum and its running min
    — not a value window (z-score carries a deque; this carries a
    pair). State rides as STRINGS and the arithmetic is Python int
    (arbitrary precision), so the streaming path can never overflow
    where the batch plan's DECIMAL(38,0) would not — the ANSI-leg
    discipline applied to state math. Per-event s values land in the
    memory sink; the returned rollup repeats the batch aggregate over
    them (per-event s_c fits BIGINT far past bench scales; the batch
    plan's own BIGINT casts are the same bound).

    ORDERING CONTRACT: identical to stream_rolling_zscore — batch
    equivalence requires event-time-ordered arrival ACROSS
    micro-batches (single-batch registered config, or ts-ordered
    file splits: the append-only log shape). ENFORCED (VERDICT r9
    #2): state carries the per-key (ts, event_id) high-water mark;
    rows at or behind it are counted into
    LAST_OOO_VIOLATIONS["stream_cusum_monitor"]."""
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import StructType

    from ..plans.sketch_plans import CUSUM_EVENT_ALLOWANCE_C, CUSUM_EVENT_ALARM_C

    # 16 state partitions (r16, the stateful-totals/reorder jobs' rule
    # extended): this job shuffles the FULL event stream into Python
    # state tasks, so addBatch scales with rows-per-partition — measured
    # 2.7 -> 1.6 s (zscore) / 2.2 -> 1.5 s (cusum) / 2.7 -> 2.0 s
    # (transitions) at 16 vs 4, while 32 regressed (per-partition state
    # store overhead). Key-bounded snapshot jobs (PSI, drift) keep the
    # 4-partition default (32 partitions there measured 2.4x WORSE).
    # SPARK_GRAFT_STREAM_SHUFFLE still overrides for deployment sizing.
    spark = _stream_session(spark, shuffle_partitions=16)
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    ckpt_dir = _tracked_mkdtemp(prefix="wrf_cusum_ckpt_")

    out_schema = StructType.fromDDL(
        "user_id long, event_id long, ts timestamp, s_c long, ooo long"
    )
    state_schema = StructType.fromDDL(
        "p string, minp string, last_us long, last_eid long, ooo long"
    )

    def _cents(value: float) -> int:
        v100 = value * 100
        return (
            int(math.floor(v100 + 0.5))
            if v100 >= 0
            else -int(math.floor(-v100 + 0.5))
        )

    def update(key, pdfs, state: GroupState):
        p, minp, last_us, last_eid, ooo = (
            (
                int(state.get[0]),
                int(state.get[1]),
                int(state.get[2]),
                int(state.get[3]),
                int(state.get[4]),
            )
            if state.exists
            else (0, 0, _OOO_NONE, _OOO_NONE, 0)
        )
        chunks = list(pdfs)
        batch = pd.concat(chunks) if chunks else pd.DataFrame()
        if not len(batch):
            state.update((str(p), str(minp), last_us, last_eid, ooo))
            yield pd.DataFrame(
                {c: [] for c in ("user_id", "event_id", "ts", "s_c", "ooo")}
            )
            return
        # whole-batch sort, never per-Arrow-chunk (the z-score rule)
        batch = batch.sort_values(["ts", "event_id"])
        ooo += _ooo_count(batch, last_us, last_eid)
        tail_row = batch.iloc[-1]
        if (int(tail_row.ts.value // 1000), int(tail_row.event_id)) > (
            last_us,
            last_eid,
        ):
            last_us = int(tail_row.ts.value // 1000)
            last_eid = int(tail_row.event_id)
        out_s = []
        for v in batch["value"].tolist():
            p += _cents(v) - CUSUM_EVENT_ALLOWANCE_C
            minp = min(minp, p)
            out_s.append(p - min(0, minp))
        state.update((str(p), str(minp), last_us, last_eid, ooo))
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out_s),
                "event_id": batch["event_id"].to_numpy(),
                "ts": batch["ts"].to_numpy(),
                "s_c": out_s,
                "ooo": [ooo] * len(out_s),
            }
        )

    stream = (
        events_stream(spark, sf_dir, static.schema, max_files_per_trigger)
        .transform(normalize_event_ts)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )
    rows = _run_append_to_parquet(spark, stream, ckpt_dir, "wrf_cusum_monitor_out_")
    from pyspark.sql import Window

    _ooo_total(rows, "stream_cusum_monitor")
    last = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    staged = rows.withColumn("__rn", F.row_number().over(last))
    return staged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max("s_c").cast("bigint").alias("max_cusum_c"),
        F.max(F.when(F.col("__rn") == 1, F.col("s_c")))
        .cast("bigint")
        .alias("final_cusum_c"),
        F.sum(
            (F.col("s_c") > CUSUM_EVENT_ALARM_C).cast("bigint")
        ).alias("n_alarms"),
    )


def stream_activity_entropy(
    spark: SparkSession, sf_dir: str, max_files_per_trigger=None
) -> DataFrame:
    """Streaming hour-of-day activity entropy — the behavioral
    profile maintained ON the stream, held to the BATCH
    ``user_activity_entropy`` oracle (streaming ≡ batch). State is a
    fixed 24-slot count histogram per user — O(24) regardless of
    event volume, the bounded-state family (CUSUM's pair, the
    transition job's last event). Each micro-batch folds its events
    into the histogram and emits the CURRENT profile snapshot; the
    serving rollup keeps each user's LAST snapshot (max n_events —
    the count is strictly monotone in batches, so "latest" is an
    exact integer argmax, no batch-sequence bookkeeping). Entropy
    math replays the batch plan bit-for-bit: p = c/n as one IEEE
    division, ln(p) quantized to the 1e-6 grid, terms added in
    hour-ASC order — Python floats are the same doubles, so the
    streaming and batch values are equal, not approximately equal.

    Unlike the ordering-sensitive jobs (z-score, CUSUM, transitions),
    a histogram is ORDER-INVARIANT: this mirror is exact under ANY
    arrival order, multi-batch or not — the strongest streaming ≡
    batch contract in the module."""
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import StructType

    # 16 state partitions (r16, the stateful-totals/reorder jobs' rule
    # extended): this job shuffles the FULL event stream into Python
    # state tasks, so addBatch scales with rows-per-partition — measured
    # 2.7 -> 1.6 s (zscore) / 2.2 -> 1.5 s (cusum) / 2.7 -> 2.0 s
    # (transitions) at 16 vs 4, while 32 regressed (per-partition state
    # store overhead). Key-bounded snapshot jobs (PSI, drift) keep the
    # 4-partition default (32 partitions there measured 2.4x WORSE).
    # SPARK_GRAFT_STREAM_SHUFFLE still overrides for deployment sizing.
    spark = _stream_session(spark, shuffle_partitions=16)
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    ckpt_dir = _tracked_mkdtemp(prefix="wrf_entropy_ckpt_")

    out_schema = StructType.fromDDL(
        "user_id long, n_events long, n_active_hours long,"
        " top_hour int, hour_entropy double"
    )
    state_schema = StructType.fromDDL("counts array<long>")

    def update(key, pdfs, state: GroupState):
        (counts,) = state.get if state.exists else ([0] * 24,)
        counts = [int(c) for c in counts]
        chunks = list(pdfs)
        batch = pd.concat(chunks) if chunks else pd.DataFrame()
        if not len(batch):
            state.update((counts,))
            yield pd.DataFrame(
                {c: [] for c in ("user_id", "n_events", "n_active_hours",
                                 "top_hour", "hour_entropy")}
            )
            return
        for h in batch["ts"].dt.hour.tolist():
            counts[int(h)] += 1
        state.update((counts,))
        n = sum(counts)
        active = [(h, c) for h, c in enumerate(counts) if c > 0]
        top = min(h for h, c in active if c == max(c for _, c in active))
        ent = 0.0
        for h, c in active:  # hour-ASC by construction
            p = c / n
            ent += -p * (_round_half_up_int(math.log(p) * 1e6) / 1e6)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "n_active_hours": [len(active)],
                "top_hour": [top],
                "hour_entropy": [_round_half_up(ent, 6)],
            }
        )

    stream = (
        events_stream(spark, sf_dir, static.schema, max_files_per_trigger)
        .transform(normalize_event_ts)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )
    snaps = _run_append_to_parquet(spark, stream, ckpt_dir, "wrf_activity_entropy_out_")
    from pyspark.sql import Window

    last = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        snaps.withColumn("__rk", F.row_number().over(last))
        .filter(F.col("__rk") == 1)
        .select(
            "user_id", "n_events", "n_active_hours", "top_hour", "hour_entropy"
        )
    )


# Reorder window for the order-invariant transitions mirror: events
# may arrive in ANY order as long as their delay behind the per-key
# event-time maximum stays under this bound (1 h — sized to the
# redelivery lag the dedup job keys to). Delay beyond it is
# dead-lettered loudly, never silently mis-chained.
TRANSITIONS_REORDER_WINDOW_US = 3_600_000_000


def stream_transitions_reorder(
    spark: SparkSession, sf_dir: str, max_files_per_trigger=None
) -> DataFrame:
    """ORDER-INVARIANT Markov transitions ON the stream (VERDICT r9
    #3's designed alternative, built): a watermark-delayed reorder
    buffer instead of the contract-bound chain. Per-user state is the
    SET of events younger than ``max_ts_seen − W`` (three parallel
    arrays) plus the last SEALED event; each batch folds its rows into
    the buffer, SEALS everything older than the horizon (no
    within-window arrival can precede it anymore), and emits sealed
    pairs as final (provisional=0) plus the current pending chain as
    provisional=1 with a per-user batch seq. The serving rollup keeps
    sealed rows and the provisional rows of each user's LAST seq —
    together the complete (ts, event_id)-ordered chain.

    Invariance: sealed output depends only on the event SET below the
    horizon (sorted before chaining), the provisional tail only on the
    final pending SET — so the result is EXACT under ANY arrival order
    whose delay stays under W, not merely under ordered file splits
    (test: the hostile inverted-mtime delivery that trips the
    contract-bound mirror's dead-letter counter reproduces the batch
    oracle here bit-for-bit). Beyond-window stragglers (older than the
    last sealed event) cannot be inserted behind already-final pairs:
    they are EXCLUDED and counted into
    LAST_OOO_VIOLATIONS["stream_transitions_reorder"] — loud, like the
    enforced mirrors, never silent. State is O(events inside the
    window) per key — the price of invariance over the O(1)
    contract-bound chain; the window bounds it."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import StructType

    # 16 state partitions, not the 4-partition default: this is the
    # family's heaviest per-key state (the O(window-events) reorder
    # buffer), and state parallelism == shuffle partitions; the r11
    # 100x probe ran 35x at 4 partitions purely on state-task
    # serialization. SPARK_GRAFT_STREAM_SHUFFLE still overrides.
    spark = _stream_session(spark, shuffle_partitions=16)
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    ckpt_dir = _tracked_mkdtemp(prefix="wrf_transitions_ro_ckpt_")

    out_schema = StructType.fromDDL(
        "user_id long, from_type string, to_type string,"
        " provisional int, seq long, dead long"
    )
    state_schema = StructType.fromDDL(
        "p_ts array<long>, p_eid array<long>, p_et array<string>,"
        " last_ts long, last_eid long, last_type string, seq long, dead long"
    )
    W = TRANSITIONS_REORDER_WINDOW_US

    def update(key, pdfs, state: GroupState):
        p_ts, p_eid, p_et, last_ts, last_eid, last_type, seq, dead = (
            state.get
            if state.exists
            else ([], [], [], _OOO_NONE, _OOO_NONE, None, 0, 0)
        )
        pend = [
            (int(t), int(e), str(y)) for t, e, y in zip(p_ts, p_eid, p_et)
        ]
        last_ts, last_eid, seq, dead = (
            int(last_ts), int(last_eid), int(seq), int(dead)
        )
        chunks = list(pdfs)
        batch = pd.concat(chunks) if chunks else pd.DataFrame()
        cols = ("user_id", "from_type", "to_type", "provisional", "seq", "dead")
        if not len(batch):
            state.update(
                ([t for t, _, _ in pend], [e for _, e, _ in pend],
                 [y for _, _, y in pend], last_ts, last_eid, last_type,
                 seq, dead)
            )
            yield pd.DataFrame({c: [] for c in cols})
            return
        seq += 1
        for row in batch.itertuples():
            ts_us, eid = int(row.ts.value // 1000), int(row.event_id)
            if (ts_us, eid) <= (last_ts, last_eid):
                # older than the last SEALED event: beyond the reorder
                # window — cannot be inserted behind final pairs
                dead += 1
                continue
            pend.append((ts_us, eid, str(row.event_type)))
        pend.sort()
        horizon = (max(t for t, _, _ in pend) if pend else last_ts) - W
        sealed = [e for e in pend if e[0] < horizon]
        pend = [e for e in pend if e[0] >= horizon]
        out = {c: [] for c in cols}

        def emit(frm, to, prov):
            out["user_id"].append(key[0])
            out["from_type"].append(frm)
            out["to_type"].append(to)
            out["provisional"].append(prov)
            out["seq"].append(seq)
            out["dead"].append(dead)

        prev = last_type
        for _, _, et in sealed:
            if prev is not None:
                emit(prev, et, 0)
            prev = et
        if sealed:
            last_ts, last_eid, last_type = sealed[-1]
            prev = last_type
        # provisional tail: the chain over the current pending set
        for _, _, et in pend:
            if prev is not None:
                emit(prev, et, 1)
            prev = et
        state.update(
            ([t for t, _, _ in pend], [e for _, e, _ in pend],
             [y for _, _, y in pend], last_ts, last_eid, last_type,
             seq, dead)
        )
        yield pd.DataFrame(out)

    stream = (
        events_stream(spark, sf_dir, static.schema, max_files_per_trigger)
        .transform(normalize_event_ts)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )
    # FILE sink, not a memory sink: this job's output is PAIR-SCALED
    # (every sealed transition plus each batch's provisional tail),
    # and a memory sink parks all of it in the driver heap — observed
    # as a driver OOM at the r11 100× structure probe. See
    # _run_append_to_parquet.
    rows = _run_append_to_parquet(
        spark, stream, ckpt_dir, "wrf_transitions_ro_out_"
    )
    from pyspark.sql import Window
    _ooo_total(rows.withColumnRenamed("dead", "ooo"), "stream_transitions_reorder")
    # max seq per user via AGG + join-back, not a full-partition window
    # (the r9 OOM-class sweep: the sink table is pair-scaled)
    max_seq = (
        rows.groupBy("user_id")
        .agg(F.max("seq").alias("mseq"))
        .toDF("__uid", "__mseq")
    )
    pairs = (
        rows.join(max_seq, F.col("user_id") == F.col("__uid"))
        .filter((F.col("provisional") == 0) | (F.col("seq") == F.col("__mseq")))
        .select("user_id", "from_type", "to_type")
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )
    per_from = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n_transitions",
        "n_users",
        F.round(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(per_from).cast("double"),
            6,
        ).alias("p_transition"),
    )


def stream_source_psi(
    spark: SparkSession, sf_dir: str, max_files_per_trigger=None
) -> DataFrame:
    """Streaming PSI drift monitor — the per-source length-distribution
    histograms maintained ON the document stream, held to the batch
    ``corpus_source_psi`` oracle (streaming ≡ batch). State is a fixed
    16-slot integer histogram per source — O(16) regardless of corpus
    volume, the bounded-state family — and a count histogram is
    ORDER-INVARIANT: exact under ANY arrival order, the entropy
    mirror's contract class, no reorder buffer needed.

    PSI itself compares each source against the GLOBAL histogram —
    cross-key state that per-key streaming state cannot hold — so the
    division of labor is: the stream maintains per-source histograms
    and emits dense 16-row snapshots (n_docs strictly monotone per
    source → "latest" is an exact integer argmax, no batch-sequence
    bookkeeping); the serving rollup assembles the latest snapshots
    and computes PSI through ``plans.llm_ops.psi_from_histogram`` —
    the SAME function, and therefore the same IEEE expression tree,
    as the batch plan. Streaming and batch values are equal, not
    approximately equal, by construction.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import StructType

    from ..plans.llm_ops import PSI_BINS, PSI_BIN_WIDTH, psi_from_histogram

    spark = _stream_session(spark)
    # land as 4 files so maxFilesPerTrigger=1 exercises REAL
    # multi-batch state carry (the vocab job's staging recipe) — only
    # the two columns the binning reads (r16, guide §6): staging the
    # document TEXT 4-ways just to drop it at the stream scan was most
    # of the landing write's bytes
    static = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "source", "n_chars"
    )
    land = _tracked_mkdtemp(prefix="wrf_psi_land_")
    static.repartition(4).write.mode("overwrite").parquet(land)
    ckpt_dir = _tracked_mkdtemp(prefix="wrf_psi_ckpt_")

    out_schema = StructType.fromDDL("source string, n_docs long, bin int, ca long")
    state_schema = StructType.fromDDL("counts array<long>")

    def update(key, pdfs, state: GroupState):
        (counts,) = state.get if state.exists else ([0] * PSI_BINS,)
        counts = [int(c) for c in counts]
        for pdf in pdfs:
            for b in pdf["bin"].tolist():
                counts[int(b)] += 1
        state.update((counts,))
        n = sum(counts)
        yield pd.DataFrame(
            {
                "source": [key[0]] * PSI_BINS,
                "n_docs": [n] * PSI_BINS,
                "bin": list(range(PSI_BINS)),
                "ca": counts,
            }
        )

    binned = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger or 1))
        .parquet(land)
        .select(
            "source",
            # integer DIV — the batch plan's bin rule, verbatim
            F.least(
                F.expr(f"CAST(n_chars DIV {PSI_BIN_WIDTH} AS INT)"),
                F.lit(PSI_BINS - 1),
            ).alias("bin"),
        )
    )
    stream = binned.groupBy("source").applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
    snaps = _run_append_to_parquet(spark, stream, ckpt_dir, "wrf_source_psi_out_")
    from pyspark.sql import Window

    latest = Window.partitionBy("source", "bin").orderBy(F.col("n_docs").desc())
    # MemoryPlan scans reuse attribute ids (no newInstance), so the
    # PSI tail's self-joins over this lineage would conflict — pin the
    # tiny sources×16 histogram to a LogicalRDD first (the transitions
    # rollup's toDF trick, in checkpoint form)
    per = checkpoint_tracked(
        snaps.withColumn("__rk", F.row_number().over(latest))
        .filter(F.col("__rk") == 1)
        .select("source", "bin", "ca")
    )
    return psi_from_histogram(per)


def stream_embedding_drift(
    spark: SparkSession, sf_dir: str, max_files_per_trigger=None
) -> DataFrame:
    """Streaming embedding-drift monitor — per-label quantized
    component sums maintained ON the vector stream, held to the batch
    ``embedding_label_drift`` oracle (streaming ≡ batch). State per
    label is 64 BIGINT component sums + a count — O(dims), and integer
    sums are commutative/associative, so the mirror is ORDER-INVARIANT
    (the entropy/PSI contract class): exact under ANY arrival order,
    no reorder buffer.

    Like PSI, the drift comparison needs CROSS-key state (the global
    centroid), so the stream emits dense monotone snapshots
    (n_vectors strictly monotone per label → "latest" is an exact
    integer argmax) and the serving rollup assembles global sums and
    the cosine from the latest snapshots with the batch plan's own
    moment discipline (DECIMAL(19,0)²→(38,0), one final double,
    ROUND 6) — the numbers are equal, not approximately equal.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import StructType

    spark = _stream_session(spark)
    # only the two columns the quantized fold reads (r16, guide §6)
    static = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "label", "embedding"
    )
    land = _tracked_mkdtemp(prefix="wrf_embdrift_land_")
    static.repartition(4).write.mode("overwrite").parquet(land)
    ckpt_dir = _tracked_mkdtemp(prefix="wrf_embdrift_ckpt_")

    out_schema = StructType.fromDDL("label int, n_vectors long, dim int, s long")
    state_schema = StructType.fromDDL("n long, sums array<long>")

    def update(key, pdfs, state: GroupState):
        import numpy as np

        n, sums = state.get if state.exists else (0, None)
        n = int(n)
        sums = [int(x) for x in sums] if sums is not None else None
        for pdf in pdfs:
            if not len(pdf):
                continue
            # vectorized fold (the z-score fast-path precedent): one
            # int64 matrix sum per Arrow batch instead of a per-row
            # Python zip loop. Exactness holds — components are on the
            # 1e-6 grid (|q| ≤ ~1e6), so per-batch column sums stay
            # ≤ rows·1e6 ≪ 2⁶³ and int64 addition is exact.
            mat = np.stack(pdf["qvec"].to_numpy()).astype(np.int64)
            batch_sums = mat.sum(axis=0, dtype=np.int64)
            if sums is None:
                sums = [0] * len(batch_sums)
            sums = [a + int(b) for a, b in zip(sums, batch_sums)]
            n += int(mat.shape[0])
        if sums is None:
            sums = []
        state.update((n, sums))
        yield pd.DataFrame(
            {
                "label": [key[0]] * len(sums),
                "n_vectors": [n] * len(sums),
                "dim": list(range(len(sums))),
                "s": sums,
            }
        )

    qvecs = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger or 1))
        .parquet(land)
        .select(
            "label",
            # the engine-wide QUANT_VEC recipe, verbatim
            F.expr(
                "transform(embedding,"
                " x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
            ).alias("qvec"),
        )
    )
    stream = qvecs.groupBy("label").applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
    snaps = _run_append_to_parquet(spark, stream, ckpt_dir, "wrf_embedding_drift_out_")
    from pyspark.sql import Window

    latest = Window.partitionBy("label", "dim").orderBy(F.col("n_vectors").desc())
    # labels×64 — tiny; LogicalRDD pin for the same MemoryPlan
    # self-join reason as the PSI rollup
    label_sums = checkpoint_tracked(
        snaps.withColumn("__rk", F.row_number().over(latest))
        .filter(F.col("__rk") == 1)
        .select("label", "dim", "s", F.col("n_vectors").alias("n_rows"))
    )
    global_sums = label_sums.groupBy("dim").agg(F.sum("s").alias("g"))
    s19 = F.col("s").cast("decimal(19,0)")
    g19 = F.col("g").cast("decimal(19,0)")
    per_label = (
        label_sums.join(F.broadcast(global_sums), "dim")
        .groupBy("label")
        .agg(
            F.max("n_rows").alias("n_vectors"),
            F.sum(s19 * g19).cast("decimal(38,0)").alias("__dot"),
            F.sum(s19 * s19).cast("decimal(38,0)").alias("__na"),
            F.sum(g19 * g19).cast("decimal(38,0)").alias("__nb"),
        )
    )
    cos = F.round(
        F.col("__dot").cast("double")
        / F.sqrt(F.col("__na").cast("double") * F.col("__nb").cast("double")),
        6,
    )
    return per_label.select(
        "label",
        "n_vectors",
        cos.alias("cosine_to_global"),
        (cos < F.lit(0.95)).alias("is_drifted"),
    )


def value_freq_merge_batch(
    spark: SparkSession, store: str, batch: DataFrame, epoch: int
) -> bool:
    """One fenced merge step of the value-frequency maintenance stream
    — the vocab job's at-least-once discipline applied to the robust-
    stats state: per-(event_type, cents) counts are ADDITIVE (replay
    would double them), so the epoch id rides the generation tag and a
    redelivered epoch ≤ the live tag is skipped. Returns True iff the
    batch was applied."""
    from ..sources.writers import (
        commit_generation,
        generation_tag,
        read_store,
        store_committed,
    )

    applied = generation_tag(store)
    if applied is not None and int(applied) >= epoch:
        return False
    counts = (
        batch.filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    if store_committed(store):
        counts = (
            read_store(spark, store)
            .unionByName(counts)
            .groupBy("event_type", "cents")
            .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        )
    commit_generation(counts, store, tag=str(epoch))
    return True


def stream_value_freq_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MAD-outlier maintenance — robust stats ON the event
    stream via the STORE-MERGE family (the vocab job's pattern, not the
    O(1)-per-key state family): each micro-batch's per-(event_type,
    cents) counts merge into a generation-committed value-frequency
    store (bigint count-merge is exactly associative, so batching can
    never drift the state, and the epoch fence makes the additive merge
    replay-proof); the rollup computes medians/MAD/outliers from the
    store through ``plans.sketch_plans.mad_from_freq`` — the SAME
    function as the batch plan, so streaming ≡ batch by construction,
    held to the batch oracle. Order-INVARIANT (counts commute).

    Why store-merge and not applyInPandasWithState: the state is the
    value-frequency table, whose size grows with the DISTINCT value
    domain — unbounded per key, the wrong shape for per-key state, and
    exactly what the generation store already handles (committed,
    time-travelable, crash-safe)."""
    from ..plans.sketch_plans import mad_from_freq
    from ..sources.writers import read_store

    spark = _stream_session(spark)
    # only the two columns the (event_type, cents) count merge reads
    # (r16, guide §6) — the events table's other columns were being
    # staged 4-ways just to be dropped inside the merge
    static = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "value"
    )
    land = _tracked_mkdtemp(prefix="wrf_vfreq_land_")
    static.repartition(4).write.mode("overwrite").parquet(land)
    ckpt_dir = _tracked_mkdtemp(prefix="wrf_vfreq_ckpt_")
    store = _tracked_mkdtemp(prefix="wrf_vfreq_store_") + "/value_freqs"

    def merge_batch(batch: DataFrame, epoch: int) -> None:
        value_freq_merge_batch(spark, store, batch, epoch)

    q = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(land)
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", ckpt_dir)
        .foreachBatch(merge_batch)
        .start()
    )
    q.awaitTermination()
    return mad_from_freq(read_store(spark, store))
