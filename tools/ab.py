"""Interleaved, equivalence-gated A/B of two registry queries.

Both queries' collected outputs must be equal (order-insensitive)
before anything is timed; a pair whose outputs differ is refused with
a non-zero exit. Then ``PAIRS`` pairs of isolated runs
(``caching.timed_isolated``), alternating which side goes first so box
drift and any first-runner advantage cancel. Prints one JSON line:
each side's median and quartiles in seconds, and the pairs each side
won (ties count for neither). Reads ``$SPARK_GRAFT_SF_DIR``.

Usage:
    python tools/ab.py QUERY_A QUERY_B
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from wallet_and_risky_features_data_pipeline_spark.caching import (  # noqa: E402
    cache_scope,
    reset_session_memos,
    timed_isolated,
)
from wallet_and_risky_features_data_pipeline_spark.plans.registry import QUERIES  # noqa: E402
from wallet_and_risky_features_data_pipeline_spark.session import get_spark  # noqa: E402
from wallet_and_risky_features_data_pipeline_spark.sources.readers import (  # noqa: E402
    DEFAULT_SF_DIR,
)

PAIRS = 10


def _rows(spark, name: str, sf_dir: str) -> list[str]:
    reset_session_memos(spark)
    with cache_scope():
        return sorted(repr(tuple(r)) for r in QUERIES[name](spark, sf_dir).collect())


def ab(spark, query_a: str, query_b: str, sf_dir: str, pairs: int = PAIRS) -> dict:
    names = (query_a, query_b)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    if _rows(spark, query_a, sf_dir) != _rows(spark, query_b, sf_dir):
        raise SystemExit(f"{query_a} and {query_b} outputs differ; not timed")
    runs: tuple[list[float], list[float]] = ([], [])
    for p in range(pairs):
        sides = (0, 1) if p % 2 == 0 else (1, 0)
        for side in sides:
            runs[side].append(timed_isolated(spark, QUERIES[names[side]], sf_dir))
    a_wins = sum(a < b for a, b in zip(*runs))
    b_wins = sum(b < a for a, b in zip(*runs))
    out = {"sf_dir": sf_dir, "pairs": pairs}
    for label, name, times, wins in (("a", query_a, runs[0], a_wins), ("b", query_b, runs[1], b_wins)):
        q1, median, q3 = (round(float(v), 4) for v in np.percentile(times, [25, 50, 75]))
        out[label] = {"query": name, "median_s": median, "q1_s": q1, "q3_s": q3, "wins": wins}
    return out


def main() -> None:
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    spark = get_spark("wrf-ab")
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps(ab(spark, sys.argv[1], sys.argv[2], DEFAULT_SF_DIR)))


if __name__ == "__main__":
    main()
