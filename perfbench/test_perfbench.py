"""Tests of the benchmark itself (not part of the repository's test tier):

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from checks import docs_diff, load_docs, read_store_stale, replay_syncs, same_rows  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [*SPEC["command"], *args], cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )


# --- negative tests: the checker must reject wrong outputs -------------


def test_same_rows_accepts_reordered_and_rejects_perturbed_result():
    expected = pd.read_parquet(os.path.join(HERE, "expected", "wallet_pagerank.parquet"))
    shuffled = expected.sample(frac=1.0, random_state=1)[list(reversed(expected.columns))]
    assert same_rows(shuffled, expected) == (True, "ok")

    perturbed = expected.copy()
    col = next(c for c in perturbed.columns if perturbed[c].dtype.kind == "f")
    perturbed.loc[perturbed.index[0], col] += 1e-9
    assert not same_rows(perturbed, expected)[0]
    assert not same_rows(expected.iloc[1:], expected)[0]
    assert not same_rows(expected.rename(columns={col: "other"}), expected)[0]


def _write_sync(d: str, name: str, docs: list[dict]) -> str:
    path = os.path.join(d, f"part-{name}.jsonl")
    with open(path, "w") as f:
        for doc in docs:
            f.write(json.dumps({"_key": doc["wallet_address"], **doc}) + "\n")
    return path


def test_serving_replay_rejects_corrupted_doc(tmp_path):
    cold = [{"wallet_address": "1", "n": 1}, {"wallet_address": "2", "n": 5}]
    nightly = [{"wallet_address": "1", "n": 2}]
    expected = {"1": {"wallet_address": "1", "n": 2}, "2": {"wallet_address": "2", "n": 5}}
    syncs = [[_write_sync(tmp_path, "b", cold)], [_write_sync(tmp_path, "a", nightly)]]
    assert docs_diff(replay_syncs(syncs), expected) == []

    # the store's own reader merges in filename order: "a" (nightly)
    # before "b" (cold), so wallet 1 reads back stale — the known defect
    assert read_store_stale(str(tmp_path), expected) == 1

    with open(syncs[1][0], "w") as f:
        f.write(json.dumps({"_key": "1", "wallet_address": "1", "n": 3}) + "\n")
    assert docs_diff(replay_syncs(syncs), expected) == ["1"]
    assert docs_diff(load_docs(syncs[0]), expected) == ["1"]


# --- the benchmark through its command line ---------------------------


def _result(p: subprocess.CompletedProcess) -> tuple[dict, dict]:
    assert p.returncode == 0, p.stderr[-3000:]
    *_, detail, result = p.stdout.strip().splitlines()
    return json.loads(detail), json.loads(result)


def test_smoke_graph_dedup_one_query():
    detail, result = _result(run("--workload", "graph_dedup", "--seed", "3", "--seconds", "0",
                                 "--trace", "0", "--scale", "0.1", "--ops", "1"))
    assert result["correct"], detail["problems"]
    assert result["attempted"] == 2 and result["failed"] == 0
    assert set(result["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(m["value"] > 0 for m in result["metrics"].values())
    assert detail["schema_version"] == 1 and "loaded" in detail


def test_smoke_nightly_pipeline_traced():
    detail, result = _result(run("--workload", "nightly_pipeline", "--seed", "3", "--seconds", "0",
                                 "--trace", "1", "--scale", "0.1"))
    assert result["correct"], detail["problems"]
    assert result["failed"] == 0
    assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    for name in ("spark.jobs", "trace.pass_s", "plans.build_s", "exec.write_s"):
        assert result["metrics"][name]["value"] > 0, name
    layers = detail["layers"]
    assert layers["sources.writers.merge_upsert.nightly_rows"] > 0
    assert layers["streaming.incremental.incremental_append.empty_rows"] == 0
    assert "sources.serving.read_store_stale" in detail["known_defects"]


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("work", "__pycache__"))
    p = run("--workload", "graph_dedup", "--seed", "1", "--seconds", "1", "--trace", "0",
            cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
