"""Phase profiler for the streaming-mirror family (VERDICT r15 #5).

Wraps driver-side chokepoints with timers — DataFrameWriter.parquet
(the landing writes and foreachBatch store merges),
StreamingQuery.awaitTermination (the availableNow run, plus each
batch's durationMs breakdown from recentProgress), and
_stream_session — then runs each named streaming query through the
bench's isolated recipe and prints where the wall time went:

    python tools/stream_profile.py streaming_value_freq_mad ...

Everything is read-only instrumentation; no behavior changes.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.readwriter as RW
import pyspark.sql.streaming.query as SQ

from wallet_and_risky_features_data_pipeline_spark.caching import timed_isolated
from wallet_and_risky_features_data_pipeline_spark.plans.registry import QUERIES
from wallet_and_risky_features_data_pipeline_spark.session import get_spark
from wallet_and_risky_features_data_pipeline_spark.streaming import stream_jobs as SJ

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

EVENTS: list[tuple] = []

_orig_parquet = RW.DataFrameWriter.parquet


def _timed_parquet(self, path, *a, **k):
    t0 = time.perf_counter()
    r = _orig_parquet(self, path, *a, **k)
    EVENTS.append(("write.parquet", os.path.basename(path.rstrip("/"))[:40],
                   round(time.perf_counter() - t0, 3)))
    return r


RW.DataFrameWriter.parquet = _timed_parquet

_orig_await = SQ.StreamingQuery.awaitTermination


def _timed_await(self, timeout=None):
    t0 = time.perf_counter()
    r = _orig_await(self, timeout)
    took = round(time.perf_counter() - t0, 3)
    prog = []
    try:
        for p in self.recentProgress or []:
            prog.append(
                {
                    "batchId": p.get("batchId"),
                    "rows": p.get("numInputRows"),
                    "durationMs": p.get("durationMs"),
                }
            )
    except Exception as e:  # progress introspection must never fail the run
        prog.append({"err": str(e)})
    EVENTS.append(("stream.await", "", took))
    EVENTS.append(("progress", "", prog))
    return r


SQ.StreamingQuery.awaitTermination = _timed_await

_orig_sess = SJ._stream_session


def _timed_sess(spark, shuffle_partitions=4):
    t0 = time.perf_counter()
    s = _orig_sess(spark, shuffle_partitions)
    EVENTS.append(("newSession", "", round(time.perf_counter() - t0, 3)))
    return s


SJ._stream_session = _timed_sess


def main() -> None:
    names = sys.argv[1:] or [n for n in QUERIES if n.startswith("streaming_")]
    spark = get_spark("wrf-stream-profile")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        fn = QUERIES[name]
        # one warm pass (codegen/JIT), then the profiled pass
        timed_isolated(spark, fn, SF_DIR)
        EVENTS.clear()
        total = round(timed_isolated(spark, fn, SF_DIR), 3)
        print(f"\n=== {name}: total {total}s ===")
        accounted = 0.0
        for kind, label, val in EVENTS:
            if kind == "progress":
                for b in val:
                    print(f"    batch {b.get('batchId')}: rows={b.get('rows')} "
                          f"durationMs={b.get('durationMs')}")
            else:
                print(f"  {kind} {label}: {val}s")
                accounted += val
        print(f"  (accounted {round(accounted, 3)}s of {total}s; "
              f"rest = plan/readback/rollup driver work)")


if __name__ == "__main__":
    main()
