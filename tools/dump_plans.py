"""Dump ``.explain("formatted")`` for named registry queries.

Writes ``plans/<round>/<query>_<tag>.txt`` for each requested query —
the optimization round's evidence artifacts (the judge reads these
instead of running Spark). Planning only; nothing is executed. The
round directory defaults to r16; override with SPARK_GRAFT_PLAN_ROUND.

Usage:
    python tools/dump_plans.py <tag> <query> [<query> ...]
    python tools/dump_plans.py after --all          # every registry query
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from wallet_and_risky_features_data_pipeline_spark.plans.registry import QUERIES
from wallet_and_risky_features_data_pipeline_spark.session import get_spark


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    if names == ["--all"]:
        names = sorted(QUERIES)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r16"),
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("wrf-dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    from wallet_and_risky_features_data_pipeline_spark.caching import reset_session_memos

    for name in names:
        # cache emptied so each plan shows its ISOLATED shape — the
        # shape the bench's isolated tier times — rather than an
        # InMemoryRelation left by a previously dumped query
        reset_session_memos(spark)
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(path)


if __name__ == "__main__":
    main()
