"""Every registered query must match its DuckDB oracle at sf0.01 —
the same gate the driver applies (CORRECTNESS_r{N}.json)."""

from __future__ import annotations

import pytest

from wallet_and_risky_features_data_pipeline_spark.plans.registry import ORACLES, QUERIES

from .conftest import SF_MEDIUM
from .oracle_compare import compare, duck_connection


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_MEDIUM)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, name):
    df = QUERIES[name](spark, SF_MEDIUM)
    ok, msg = compare(df, duck, ORACLES[name])
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_MEDIUM)
    assert df.count() >= 0


def test_driver_gate_slots_stable():
    """The verification driver's correctness gate reads the FIRST 50
    registered queries — registration order is load-bearing. Pin the
    gate set to the round-4 driver output so new queries always append
    BEHIND the gate instead of silently evicting a verified slot."""
    import json

    with open("/root/repo/CORRECTNESS_r04.json") as f:
        gate = set(json.load(f))
    assert len(gate) == 50
    assert set(list(QUERIES)[:50]) == gate


def test_cluster_assignment_is_checkpointed_per_query(spark):
    """dedup_cluster_assign and dedup_decisions each compute the
    MinHash→LSH→CC assignment in their own query, cut to a
    localCheckpoint, so a consumer that reads it twice does not rerun
    the iteration; two computations agree row for row."""
    from wallet_and_risky_features_data_pipeline_spark.plans import llm_ops

    a = llm_ops._cluster_assignment(spark, SF_MEDIUM)
    b = llm_ops._cluster_assignment(spark, SF_MEDIUM)
    assert a._jdf.queryExecution().logical().nodeName() == "LogicalRDD"
    assert sorted(a.collect()) == sorted(b.collect())
    decided = llm_ops.dedup_decisions(spark, SF_MEDIUM)
    assert decided.filter("keep = 1").count() > 0


def test_coverage_md_ids_map_to_gate_or_tests():
    """SURVEY.md §2 audit automation: every reference-parity operator ID
    row in COVERAGE.md must name at least one query inside the driver's
    50-slot gate (or cite a pytest), and every `q:` token anywhere in
    COVERAGE.md must name a registered query. Registry growth can then
    never silently push §2 coverage past slot 50, and the doc can't
    drift from the code."""
    import re

    with open("/root/repo/COVERAGE.md") as f:
        text = f.read()

    # Registry names all contain "_"; the underscore filter drops prose
    # words swallowed by the comma continuation ("q: foo, the §2.9 ...").
    def extract(s):
        return {
            n
            for m in re.finditer(r"q:\s*([a-z0-9_]+(?:\s*,\s*[a-z0-9_]+)*)", s)
            for n in re.split(r"\s*,\s*", m.group(1))
            if "_" in n
        }

    assert all("_" in n for n in QUERIES)
    q_names = extract(text)
    unknown = q_names - set(QUERIES)
    assert not unknown, f"COVERAGE.md cites unregistered queries: {sorted(unknown)}"

    gate = set(list(QUERIES)[:50])
    bad_rows = []
    seen_ids = set()
    for line in text.splitlines():
        cells = [c.strip() for c in line.strip().strip("|").split("|")]
        if len(cells) < 3 or not re.match(r"^[SPJAWU]\d", cells[0]):
            continue
        seen_ids.add(cells[0])
        row_qs = extract(line)
        # A citation must be an actual test reference (file or function),
        # not a prose substring like "latest" or "train/val/test split"
        # (ADVICE r6: the loose `"test" in line` passed vacuously).
        cites_test = re.search(r"tests/test_\w+\.py|\btest_\w+\b", line)
        if not (row_qs & gate) and not cites_test:
            bad_rows.append(cells[0])
    assert not bad_rows, f"§2 IDs with no in-gate query and no test: {bad_rows}"
    # sanity: the parser actually saw the §2 inventory
    assert len(seen_ids) >= 35, f"only parsed {len(seen_ids)} ID rows"

    # The totals header must match the live registry (VERDICT r11 #4:
    # the "(r7): 124 registered" header rotted for four rounds).
    m = re.search(
        r"\*\*Current totals:\*\* (\d+) registered queries — (\d+) with full"
        r" DuckDB value\s*\noracles",
        text,
    )
    assert m, "COVERAGE.md totals header missing or reformatted"
    assert int(m.group(1)) == len(QUERIES), (
        f"COVERAGE.md header says {m.group(1)} queries, registry has "
        f"{len(QUERIES)} — update the header"
    )
    assert int(m.group(2)) == len(ORACLES), (
        f"COVERAGE.md header says {m.group(2)} oracled, registry has "
        f"{len(ORACLES)} — update the header"
    )


def test_plans_md_close_out_pinned():
    """PLANS.md's close-out registry counts must match the live
    registry (VERDICT r12 #4: the r12 close was recorded three ways —
    202/198, 207/203, 208/204 — and only the final addendum was right).
    Every occurrence of the canonical bold pattern is checked, so a
    stale copy in an older section fails too (older sections either
    use different prose or carry an explicit 'superseded' stamp and
    not the pattern)."""
    import os
    import re

    plans_md = os.path.join(os.path.dirname(__file__), "..", "PLANS.md")
    with open(plans_md) as f:
        text = f.read()
    hits = re.findall(
        r"\*\*Registry at close:\*\* (\d+) queries / (\d+) value-oracled",
        text,
    )
    assert hits, "PLANS.md close-out line missing or reformatted"
    for q, o in hits:
        assert (int(q), int(o)) == (len(QUERIES), len(ORACLES)), (
            f"PLANS.md close-out says {q}/{o}, registry has "
            f"{len(QUERIES)}/{len(ORACLES)} — update the close-out line"
        )


def test_bench_paired_warm_pairs_are_registered():
    """bench.py's paired interleaved warm/full tier (VERDICT r13 #1)
    names its pairs statically — a registry rename must fail HERE, not
    silently shrink the paired tier on the next driver record."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    # exactly the warm families with a recorded win over full recompute,
    # in the paired or the scaled tier
    assert bench.PAIRED_WARM == {
        "wallet_components": "wallet_components_warm",
        "wallet_coin_balances": "wallet_coin_balances_warm",
        "wallet_auc_rollup": "wallet_auc_warm",
        "wallet_rolling_distinct_7d": "wallet_rolling_distinct_warm",
        "dedup_minhash_lsh": "dedup_minhash_warm",
    }
    assert bench.PAIRED_WARM_SCALED == {
        "wallet_coin_balances": "wallet_coin_balances_warm_scaled",
        "dedup_minhash_lsh": "dedup_minhash_warm_scaled",
        "wallet_auc_rollup": "wallet_auc_warm_scaled",
    }
    for pairs in (bench.PAIRED_WARM, bench.PAIRED_WARM_SCALED):
        for full, warm in pairs.items():
            assert full in QUERIES, f"paired tier names unregistered full query {full}"
            assert warm in QUERIES, f"paired tier names unregistered warm query {warm}"
