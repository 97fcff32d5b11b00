"""Recompute the expected answers under ``perfbench/expected/`` with the
queries' DuckDB oracles over the benchmark's generated inputs:

    python3 perfbench/regen_expected.py

Run it only when the input generator or an oracle changes. The
dedup/components oracles are slow (recursive SQL), which is why the
answers are stored instead of recomputed on every benchmark run.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

import inputs  # noqa: E402
from workloads import GRAPH_DEDUP  # noqa: E402

from wallet_and_risky_features_data_pipeline_spark.plans.registry import ORACLES  # noqa: E402

NAMES = ["wallet_features", *GRAPH_DEDUP]


def oracle_answers(
    full_dir: str, names: list[str], threads: int = 4, verbose: bool = True
) -> dict[str, pd.DataFrame]:
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    for t in ("events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{full_dir}/{t}.parquet'")
    out = {}
    for name in names:
        t0 = time.perf_counter()
        out[name] = con.execute(ORACLES[name]).fetchdf()
        if verbose:
            print(f"{name}: {len(out[name])} rows in {time.perf_counter() - t0:.1f}s", flush=True)
    return out


def main() -> int:
    tables = inputs.content()
    out_dir = os.path.join(HERE, "expected")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(os.path.join(HERE, "work"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(HERE, "work")) as tmp:
        facts = inputs.write(tmp, seed=0, tables=tables)
        answers = oracle_answers(facts["full"], NAMES)
    for name, df in answers.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        df.to_parquet(path, index=False)
        back = pd.read_parquet(path)
        if not (back.dtypes.equals(df.dtypes) and back.equals(df)):
            raise SystemExit(f"{name}: parquet round trip changed the answer")
    manifest = {
        "regenerate": "python3 perfbench/regen_expected.py",
        "inputs_digest": inputs.digest(tables),
        "duckdb": duckdb.__version__,
        "rows": {n: len(df) for n, df in answers.items()},
    }
    with open(os.path.join(out_dir, "MANIFEST.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
