"""VERDICT r15 #7 — pagerank warm-vs-full at scaled graph density.

Reuses scale_probe's local-delta replica (graph grows COPIES×, the
post-split nightly delta stays 1× and copy-0-confined) and times, with
the bench's isolated recipe: (a) the full recompute, (b) the warm
refresh against committed state (build excluded — amortized once per
snapshot in deployment), both at sf0.1 and at the scaled input.
Equivalence (warm ≡ full) is asserted at both scales.

Usage:
    SPARK_GRAFT_SCALE_MODE=local-delta python tools/pagerank_delta_probe.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_SCALE_MODE", "local-delta")

from tools import scale_probe as SP  # noqa: E402
from wallet_and_risky_features_data_pipeline_spark.caching import (  # noqa: E402
    cache_scope,
    reset_session_memos,
    timed_isolated,
)
from wallet_and_risky_features_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    import wallet_and_risky_features_data_pipeline_spark.plans.incremental_plans as inc
    from wallet_and_risky_features_data_pipeline_spark.plans.risk_features import (
        wallet_pagerank,
    )

    spark = get_spark("wrf-pagerank-delta-probe")
    spark.sparkContext.setLogLevel("ERROR")
    SP.build_replica(spark, {"events"})

    for label, d in (("sf0.1", SP.SRC), (f"{SP.COPIES}x", SP.DST)):
        # commit state once (build excluded from the refresh timing)
        timed_isolated(spark, inc.wallet_pagerank_warm, d)
        runs_full = [timed_isolated(spark, wallet_pagerank, d) for _ in range(3)]
        runs_warm = [timed_isolated(spark, inc.wallet_pagerank_warm, d) for _ in range(3)]
        t_full, t_warm = min(runs_full), min(runs_warm)
        print(
            f"pagerank_delta {label:6s} full={t_full:7.2f} s "
            f"warm_refresh={t_warm:7.2f} s warm/full={t_warm / t_full:5.2f} "
            f"(full_runs={[round(t, 2) for t in runs_full]}, "
            f"warm_runs={[round(t, 2) for t in runs_warm]})",
            flush=True,
        )
        reset_session_memos(spark)
        with cache_scope():
            warm = {
                tuple(r) for r in inc.wallet_pagerank_warm(spark, d).collect()
            }
            full = {tuple(r) for r in wallet_pagerank(spark, d).collect()}
        assert warm == full, f"{label}: warm != full ({len(warm ^ full)} rows differ)"
        print(f"pagerank_delta {label:6s} warm == full ({len(full)} rows)", flush=True)


if __name__ == "__main__":
    main()
