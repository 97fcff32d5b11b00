"""Unit tests for operator semantics on tiny hand-built fixtures —
the reference's intended-semantics tests (SURVEY.md §5.1) rebuilt:
balance signs, ordering tie-breakers, as-of tolerance/direction,
merge-upsert behavior, DQ gates, scalar guards."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from wallet_and_risky_features_data_pipeline_spark.functions.scalars import (
    bucket_key,
    norm_round,
    safe_high_precision,
)
from wallet_and_risky_features_data_pipeline_spark.operators.joins import asof_join
from wallet_and_risky_features_data_pipeline_spark.operators.quality import (
    DataQualityError,
    count_reconciliation,
    enforce,
    feature_constraints,
    missing_sequence,
)
from wallet_and_risky_features_data_pipeline_spark.sources.writers import merge_upsert, read_store


def test_norm_round_negative_zero(spark):
    df = spark.createDataFrame([(-0.0000001,), (1.234567,), (0.0,)], "x double")
    out = [r[0] for r in df.select(norm_round(F.col("x"))).collect()]
    # -0.0000001 rounds to -0.0 which must normalize to +0.0
    assert str(out[0]) == "0.0" and out[1] == 1.23457 and out[2] == 0.0


def test_safe_high_precision_guards(spark):
    df = spark.createDataFrame(
        [("123.5",), ("9" * 60,), ("garbage",), (None,)], "v string"
    )
    out = [r[0] for r in df.select(safe_high_precision(F.col("v"))).collect()]
    assert float(out[0]) == 123.5
    assert out[1] is not None  # truncated to 28 chars, still castable
    assert float(out[2]) == 0.0 and float(out[3]) == 0.0


def test_bucket_key_is_256_way(spark):
    df = spark.range(2000).select(bucket_key(F.col("id")).alias("b"))
    n = df.distinct().count()
    assert 200 < n <= 256


def test_asof_backward_vs_nearest(spark):
    ev = spark.createDataFrame(
        [(1, "a", dt.datetime(2024, 1, 10)), (2, "a", dt.datetime(2024, 1, 2))],
        "event_id long, key string, ts timestamp",
    )
    quotes = spark.createDataFrame(
        [
            ("a", dt.datetime(2024, 1, 8), 8.0),
            ("a", dt.datetime(2024, 1, 11), 11.0),
            ("a", dt.datetime(2023, 12, 20), 1.0),
        ],
        "key string, qts timestamp, price double",
    )
    back = asof_join(ev, quotes, ["key"], ["event_id"], "ts", "qts", "INTERVAL 7 DAYS", "backward")
    got = {r["event_id"]: r["price"] for r in back.collect()}
    assert got[1] == 8.0  # Jan 8 quote, not the future Jan 11 one
    assert got[2] is None  # nothing within 7 days backward
    near = asof_join(ev, quotes, ["key"], ["event_id"], "ts", "qts", "INTERVAL 7 DAYS", "nearest")
    got = {r["event_id"]: r["price"] for r in near.collect()}
    assert got[1] == 11.0  # Jan 11 is 1 day away vs Jan 8's 2 days
    assert got[2] == 8.0  # Jan 8 is 6 days ahead — inside the ±7d band


def test_asof_day_bucketed_equals_plain(spark):
    """The day-bucketed plan (quote explode + (key, day) equi join) is
    a pure physical rewrite: for both directions it must return exactly
    what the un-bucketed band join returns, including edge-of-window
    sub-day precision and no-match NULLs."""
    ev = spark.createDataFrame(
        [
            (1, "a", dt.datetime(2024, 1, 10, 12, 30)),
            (2, "a", dt.datetime(2024, 1, 2, 0, 0)),
            (3, "b", dt.datetime(2024, 1, 15, 23, 59)),
            (4, "z", dt.datetime(2024, 1, 15)),
        ],
        "event_id long, key string, ts timestamp",
    )
    quotes = spark.createDataFrame(
        [
            ("a", dt.datetime(2024, 1, 8, 1), 8.0),
            ("a", dt.datetime(2024, 1, 11, 2), 11.0),
            ("a", dt.datetime(2023, 12, 20), 1.0),
            # exactly 7d+1h before event 1 — outside backward tolerance
            ("a", dt.datetime(2024, 1, 3, 11, 30), 3.0),
            ("b", dt.datetime(2024, 1, 9, 5), 9.0),
        ],
        "key string, qts timestamp, price double",
    )
    for direction in ("backward", "nearest"):
        plain = asof_join(
            ev, quotes, ["key"], ["event_id"], "ts", "qts", "INTERVAL 7 DAYS", direction
        )
        bucketed = asof_join(
            ev, quotes, ["key"], ["event_id"], "ts", "qts", "INTERVAL 7 DAYS", direction,
            bucket_days=7, broadcast_quotes=True,
        )
        key = lambda rows: sorted((r["event_id"], r["price"], r["qts"]) for r in rows)
        assert key(bucketed.collect()) == key(plain.collect()), direction


def test_band_join_day_bucketed_equals_plain(spark):
    from wallet_and_risky_features_data_pipeline_spark.operators.joins import band_join

    facts = spark.createDataFrame(
        [(1, "a", dt.datetime(2024, 1, 10)), (2, "b", dt.datetime(2024, 1, 12))],
        "fact_id long, key string, fday timestamp",
    )
    dim = spark.createDataFrame(
        [
            ("a", dt.datetime(2024, 1, 9), 1.0),
            ("a", dt.datetime(2024, 1, 10), 2.0),
            ("a", dt.datetime(2024, 1, 11), 3.0),
            ("b", dt.datetime(2024, 1, 1), 4.0),
        ],
        "key string, dday timestamp, v double",
    )
    kwargs = dict(
        key=["key"],
        fact_ts=F.col("fday"),
        dim_ts=F.col("dday"),
        lower=F.expr("INTERVAL 1 DAY"),
        upper=F.expr("INTERVAL 0 DAY"),
        how="inner",
    )
    plain = band_join(facts, dim, **kwargs)
    bucketed = band_join(facts, dim, **kwargs, bucket_days=(1, 0), broadcast_dim=True)
    key = lambda rows: sorted((r["fact_id"], r["v"]) for r in rows)
    assert key(bucketed.collect()) == key(plain.collect())


def test_asof_tie_breaks_to_later_quote(spark):
    ev = spark.createDataFrame(
        [(1, "a", dt.datetime(2024, 1, 10))], "event_id long, key string, ts timestamp"
    )
    quotes = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 8), 8.0), ("a", dt.datetime(2024, 1, 12), 12.0)],
        "key string, qts timestamp, price double",
    )
    near = asof_join(ev, quotes, ["key"], ["event_id"], "ts", "qts", "INTERVAL 7 DAYS", "nearest")
    assert near.first()["price"] == 12.0  # equidistant → later quote wins


def test_merge_upsert(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 10.0, "p1"), (2, "b", 20.0, "p1"), (3, "c", 30.0, "p2")],
        "id long, name string, v double, part string",
    )
    merge_upsert(spark, base, path, key=["id"])
    updates = spark.createDataFrame(
        [(2, "b2", 21.0, "p1"), (4, "d", 40.0, "p1")],
        "id long, name string, v double, part string",
    )
    merge_upsert(spark, updates, path, key=["id"])
    got = {r["id"]: (r["name"], r["v"]) for r in read_store(spark, path).collect()}
    assert got == {1: ("a", 10.0), 2: ("b2", 21.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_flat_merge_over_partitioned_generation(spark, tmp_path):
    """A MERGE onto a hive-partitioned generation commits it whole and
    flat: no partition dir survives into the new generation (that would
    duplicate rows), and the former partition column keeps its string
    values even where every dir name reads as a number."""
    import os

    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        commit_generation,
        resolve_store,
    )

    path = str(tmp_path / "t")
    schema = "id long, name string, part string"
    base = spark.createDataFrame([(1, "a", "07"), (2, "b", "12")], schema)
    commit_generation(base, path, partition_by=["part"])
    assert sorted(e for e in os.listdir(resolve_store(path)) if e.startswith("part=")) == [
        "part=07", "part=12"
    ]
    updates = spark.createDataFrame([(2, "b2", "12"), (3, "c", "30")], schema)
    assert merge_upsert(spark, updates, path, key=["id"]) == 3
    assert not [e for e in os.listdir(resolve_store(path)) if e.startswith("part=")]
    back = read_store(spark, path)
    assert dict(back.dtypes)["part"] == "string"
    assert sorted(tuple(r) for r in back.select("id", "name", "part").collect()) == [
        (1, "a", "07"), (2, "b2", "12"), (3, "c", "30")
    ]


def test_merge_upsert_empty_batch_is_noop(spark, tmp_path):
    """An empty update batch (the trailing availableNow micro-batch)
    must never touch the target — static-mode overwrite of an empty
    frame used to truncate the whole table (CORRECTNESS_r01)."""
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 10.0, "p1")], "id long, name string, v double, part string"
    )
    merge_upsert(spark, base, path, key=["id"])
    empty = base.filter(F.lit(False))
    assert merge_upsert(spark, empty, path, key=["id"]) == 0
    assert read_store(spark, path).count() == 1


def test_merge_upsert_under_static_overwrite_mode(spark, tmp_path):
    """A caller session left in static partition-overwrite mode (the
    driver gate's bare session) still gets a MERGE, not a table
    truncation: the commit stages into a fresh directory."""
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 10.0, "p1"), (3, "c", 30.0, "p2")],
        "id long, name string, v double, part string",
    )
    merge_upsert(spark, base, path, key=["id"])
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        updates = spark.createDataFrame(
            [(2, "b", 20.0, "p1")], "id long, name string, v double, part string"
        )
        merge_upsert(spark, updates, path, key=["id"])
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    got = {r["id"] for r in read_store(spark, path).collect()}
    assert got == {1, 2, 3}  # id 3 carried over, id 2 merged


def test_stream_merge_upsert_monotone(spark, tmp_path):
    """A later batch carrying only OLDER events must not regress stored
    state (ADVICE r01): drive the foreachBatch merge step directly with
    two out-of-order hand batches."""
    from wallet_and_risky_features_data_pipeline_spark.streaming.stream_jobs import (
        monotone_user_upsert,
    )

    store = str(tmp_path / "store")
    schema = "user_id long, event_id long, event_type string, value double, ts timestamp"
    newer = spark.createDataFrame(
        [(7, 100, "purchase", 5.0, dt.datetime(2024, 2, 1))], schema
    )
    older = spark.createDataFrame(
        [(7, 50, "signup", 1.0, dt.datetime(2024, 1, 1)),
         (8, 51, "signup", 2.0, dt.datetime(2024, 1, 2))],
        schema,
    )
    monotone_user_upsert(spark, newer, store)
    monotone_user_upsert(spark, older, store)  # must not regress user 7
    got = {r["user_id"]: r["last_event_type"] for r in read_store(spark, store).collect()}
    assert got == {7: "purchase", 8: "signup"}


def test_monotone_upsert_retries_a_crashed_first_commit(spark, tmp_path, monkeypatch):
    """A first micro-batch that crashed between its generation rename
    and the ``_LATEST`` flip must not wedge the stream: the retried
    batch reads no prior state and commits exactly what a clean run of
    the same batch commits (latest event per user, flat ``bucket``)."""
    import os

    from wallet_and_risky_features_data_pipeline_spark.sources import writers
    from wallet_and_risky_features_data_pipeline_spark.streaming.stream_jobs import (
        monotone_user_upsert,
    )

    schema = "user_id long, event_id long, event_type string, value double, ts timestamp"
    batch = spark.createDataFrame(
        [(7, 50, "signup", 1.0, dt.datetime(2024, 1, 1)),
         (7, 100, "purchase", 5.0, dt.datetime(2024, 2, 1)),
         (23, 51, "signup", 2.0, dt.datetime(2024, 1, 2))],
        schema,
    )
    store = str(tmp_path / "store")

    def crash(*a, **k):
        raise RuntimeError("injected crash before publish")

    with monkeypatch.context() as m:
        m.setattr(writers, "_flip_latest", crash)
        with pytest.raises(RuntimeError, match="injected"):
            monotone_user_upsert(spark, batch, store)
    assert writers.list_generations(store) == ["gen-000001"]
    assert not writers.store_committed(store)

    monotone_user_upsert(spark, batch, store)
    clean = str(tmp_path / "clean")
    monotone_user_upsert(spark, batch, clean)
    def rows(p):
        return sorted(tuple(r) for r in read_store(spark, p).collect())

    assert rows(store) == rows(clean)
    got = {
        r["user_id"]: (r["bucket"], r["last_event_type"], r["last_value"])
        for r in read_store(spark, store).collect()
    }
    assert got == {7: (7, "purchase", 5.0), 23: (7, "signup", 2.0)}
    assert not [e for e in os.listdir(writers.resolve_store(store)) if e.startswith("bucket=")]


def test_monotone_upsert_backfills_missing_store_column(spark, tmp_path):
    """A store written before ``last_event_id`` existed must NOT
    silently disable the monotone guard: the column is backfilled as -1
    on read, so an older-only late batch still can't regress stored
    state (ADVICE r02 regression guard)."""
    from wallet_and_risky_features_data_pipeline_spark.streaming.stream_jobs import (
        monotone_user_upsert,
    )

    store = str(tmp_path / "user_state")
    fresh = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 20), "purchase", 5.0, 100)],
        "user_id long, ts timestamp, event_type string, value double, event_id long",
    )
    monotone_user_upsert(spark, fresh, store)
    # simulate the pre-last_event_id store schema
    old = read_store(spark, store).drop("last_event_id").localCheckpoint(eager=True)
    import shutil

    shutil.rmtree(store)
    old.write.partitionBy("bucket").parquet(store)

    stale = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 5), "click", 1.0, 7)],
        "user_id long, ts timestamp, event_type string, value double, event_id long",
    )
    monotone_user_upsert(spark, stale, store)
    row = read_store(spark, store).filter(F.col("user_id") == 1).first()
    assert row["last_value"] == 5.0  # stale batch rejected by the guard


def test_missing_sequence_and_reconciliation(spark):
    df = spark.createDataFrame([(1,), (2,), (4,), (7,)], "k long")
    missing = sorted(r["k"] for r in missing_sequence(df, "k").collect())
    assert missing == [3, 5, 6]

    facts = spark.createDataFrame([(1,), (1,), (2,)], "g long")
    rollup = spark.createDataFrame([(1, 2), (2, 2)], "g long, expected long")
    bad = count_reconciliation(facts, rollup, "g", "expected").collect()
    assert len(bad) == 1 and bad[0]["g"] == 2 and bad[0]["actual_count"] == 1


def test_feature_constraints_enforce(spark):
    ok = spark.createDataFrame(
        [(10, 1.0, 100, 200, 0.5)],
        "n_tx long, total_fees double, first_tx_us long, last_tx_us long, min_pos_balance double",
    )
    enforce(feature_constraints(ok))  # no raise
    bad = spark.createDataFrame(
        [(-1, 1.0, 100, 200, 0.5)],
        "n_tx long, total_fees double, first_tx_us long, last_tx_us long, min_pos_balance double",
    )
    with pytest.raises(DataQualityError):
        enforce(feature_constraints(bad))


def test_hll_merge_associativity(spark):
    """sketch(b1 ∪ b2) ≡ finalize(merge(registers(b1), registers(b2))):
    the property that makes the HLL accumulator streamable and
    cross-partition combinable."""
    from wallet_and_risky_features_data_pipeline_spark.operators.sketches import (
        hll_finalize,
        hll_merge,
        hll_register_sums,
        hll_registers,
    )

    from .conftest import SF_SMALL

    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    b1, b2 = ev.filter(F.col("event_id") % 2 == 0), ev.filter(F.col("event_id") % 2 == 1)
    merged = hll_finalize(
        hll_merge(
            hll_registers(b1, F.col("user_id"), ["event_type"]),
            hll_registers(b2, F.col("user_id"), ["event_type"]),
            ["event_type"],
        ),
        ["event_type"],
    )
    full = hll_register_sums(ev, F.col("user_id"), ["event_type"])
    canon = lambda df: sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())
    assert canon(merged) == canon(full)


def test_cms_overestimates_and_merges(spark):
    """CMS guarantees est >= true count for every key (collisions only
    add), and partial sketches from disjoint batches merge by plain
    counter SUM into exactly the full-input sketch."""
    from wallet_and_risky_features_data_pipeline_spark.operators.sketches import (
        cms_counters,
        cms_estimate,
    )

    from .conftest import SF_SMALL

    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    keys = ev.select("user_id").distinct()
    sketch = cms_counters(ev, F.col("user_id"))
    est = cms_estimate(sketch, keys, "user_id")
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    bad = est.join(exact, "user_id").filter(F.col("cms_estimate") < F.col("n"))
    assert bad.count() == 0

    b1, b2 = ev.filter(F.col("event_id") % 2 == 0), ev.filter(F.col("event_id") % 2 == 1)
    merged = (
        cms_counters(b1, F.col("user_id"))
        .unionByName(cms_counters(b2, F.col("user_id")))
        .groupBy("__j", "__c")
        .agg(F.sum("__n").alias("__n"))
    )
    canon = lambda df: sorted(tuple(r) for r in df.collect())
    assert canon(merged) == canon(sketch)


def test_bloom_no_false_negatives(spark):
    """Every true member tests positive — the bloom guarantee that
    makes it safe as a join-pruning pre-filter (false positives only
    cost work; a false negative would drop rows)."""
    from wallet_and_risky_features_data_pipeline_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )

    from .conftest import SF_SMALL

    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    members = ev.filter(F.col("user_id") % 5 == 0).select("user_id").distinct()
    bloom = bloom_build(members, F.col("user_id"))
    probed = bloom_probe(bloom, ev.select("user_id").distinct(), "user_id")
    missed = probed.join(members, "user_id").filter(~F.col("bloom_member"))
    assert missed.count() == 0


def test_incremental_lsh_equals_full(spark):
    """incremental(new vs stored) == full-corpus candidate pairs
    restricted to pairs touching a new doc — the property that makes
    stored signatures + per-batch pairing safe at corpus scale."""
    from wallet_and_risky_features_data_pipeline_spark.operators.dedup import (
        incremental_lsh_pairs,
        lsh_candidate_pairs,
        minhash_signature,
    )

    from .conftest import SF_SMALL

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    signed = minhash_signature(docs, "doc_id", "text")
    stored = signed.filter(F.col("doc_id") % 3 != 0)
    new = signed.filter(F.col("doc_id") % 3 == 0)
    inc = incremental_lsh_pairs(stored, new, "doc_id")
    full = lsh_candidate_pairs(signed, "doc_id").filter(
        (F.col("doc_a") % 3 == 0) | (F.col("doc_b") % 3 == 0)
    )
    canon = lambda df: sorted(tuple(r) for r in df.collect())
    assert canon(inc) == canon(full)


def test_connected_components_chain_and_singletons(spark):
    """A 4-node chain collapses to its min id in O(diameter) rounds;
    edgeless nodes keep their own id; two components stay separate."""
    from wallet_and_risky_features_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 7, 10, 11]], "doc_id long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs, nodes, "doc_id").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 10: 10, 11: 10}


def test_connected_components_is_deterministic(spark):
    from wallet_and_risky_features_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(5, 3), (3, 9), (9, 1), (2, 8)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 10)], "doc_id long")
    a = sorted(map(tuple, connected_components(pairs, nodes, "doc_id").collect()))
    b = sorted(map(tuple, connected_components(pairs, nodes, "doc_id").collect()))
    assert a == b
    assert dict(a)[5] == 1 and dict(a)[2] == 2


def test_connected_components_matches_union_find(spark):
    """Property: on random graphs, the iterative Spark propagation
    produces exactly the components a driver-side union-find does."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from wallet_and_risky_features_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        edges=st.lists(
            st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
                lambda p: p[0] != p[1]
            ),
            min_size=0,
            max_size=40,
        )
    )
    def check(edges):
        parent = list(range(31))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {v: find(v) for v in range(31)}
        # canonical label = min member of the component
        comp_min = {}
        for v, r in expected.items():
            comp_min[r] = min(comp_min.get(r, v), v)
        expected = {v: comp_min[r] for v, r in expected.items()}

        pairs = spark.createDataFrame(
            edges or [(0, 0)], "doc_a long, doc_b long"
        ).filter("doc_a != doc_b")
        nodes = spark.createDataFrame([(i,) for i in range(31)], "doc_id long")
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components(pairs, nodes, "doc_id").collect()
        }
        assert got == expected

    check()


def test_connected_components_long_chain_converges(spark):
    """A 60-node path (diameter 59) converges under the default
    max_iter because each round pairs neighbor propagation with
    pointer doubling — a pure propagation loop would need 59 rounds
    and silently mislabel the tail of the chain (the r5 advisory's
    repro was a 40-node chain yielding 13 wrong cluster ids)."""
    from wallet_and_risky_features_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    n = 60
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs, nodes, "doc_id").collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_connected_components_pairs_rounds_per_action(spark):
    """r15: rounds are applied in PAIRS per convergence probe (the
    per-action scheduler round-trip was ~0.7 s of a 2-round
    convergence at sf0.1). Pin the action accounting: LAST_CC_ROUNDS
    counts two rounds per probe (always even), and a shallow graph —
    a triangle, fixpoint after the folded init round — converges on
    the FIRST probe (2 counted rounds, where the single-round loop
    took two probes). The stop rule is exact with pairing because it
    reads only the LAST sub-round's flags: if round B moved nothing,
    round A's output is a neighbor-min fixpoint, which alone pins
    every label to the component min."""
    import wallet_and_risky_features_data_pipeline_spark.operators.dedup as dd
    from wallet_and_risky_features_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    dd.LAST_CC_ROUNDS = None
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs, nodes, "doc_id").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1}
    assert dd.LAST_CC_ROUNDS == 2  # one probe action, two counted rounds

    # diameter-4 path (5 nodes — ADVICE r15: the old 6-node graph
    # didn't match this comment): init folds round 1, pairs cover
    # rounds 2+3 and 4+5 — two probe actions, exactly 4 counted rounds
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], "doc_a long, doc_b long"
    )
    cnodes = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    dd.LAST_CC_ROUNDS = None
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(chain, cnodes, "doc_id").collect()
    }
    assert got == {i: 0 for i in range(5)}
    assert dd.LAST_CC_ROUNDS == 4


def test_connected_components_raises_instead_of_silent_nonconvergence(spark):
    """Exhausting max_iter while labels still move must raise — a
    silently non-converged assignment would keep/drop the wrong docs."""
    from wallet_and_risky_features_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    nodes = spark.createDataFrame([(1,), (2,)], "doc_id long")
    with pytest.raises(RuntimeError, match="non-converged"):
        connected_components(pairs, nodes, "doc_id", max_iter=0).collect()


def test_cache_scope_releases_tracked_persists(spark):
    """persist_tracked inside cache_scope is unpersisted at scope exit
    (the bench's per-query storage hygiene); outside any scope it
    behaves like a plain persist."""
    from wallet_and_risky_features_data_pipeline_spark.caching import (
        cache_scope,
        persist_tracked,
    )

    df = spark.range(10)
    with cache_scope():
        df = persist_tracked(df)
        df.count()
        assert df.is_cached
    assert not df.is_cached

    unscoped = persist_tracked(spark.range(5))
    try:
        assert unscoped.is_cached
    finally:
        unscoped.unpersist()


def test_threshold_alert_rows_sign_aware_cents_and_ts_unit():
    """The stateful alert core: cent rounding is half-away-from-zero
    for BOTH signs (refunds), and epoch-us derives from the ts series'
    own resolution — a datetime64[us] batch (future pandas/Arrow
    default) must not silently emit ms-scale ts_us."""
    import pandas as pd

    from wallet_and_risky_features_data_pipeline_spark.streaming.stream_jobs import (
        _threshold_alert_rows,
    )

    ts = pd.to_datetime(["2021-01-01 00:00:00"])
    epoch_us = 1609459200 * 1_000_000

    for unit in ("ns", "us"):
        batch = pd.DataFrame(
            {
                "event_id": [1],
                "ts": pd.Series(ts).astype(f"datetime64[{unit}]"),
                "value": [1000.0],
            }
        )
        alerts, total = _threshold_alert_rows(7, batch, 0)
        assert total == 100_000
        assert list(alerts["ts_us"]) == [epoch_us], unit
        assert list(alerts["level"]) == [1]

    # -1.125 dollars = -112.5 cents exactly (1.125 is binary-exact):
    # half-away rounds to -113; the old floor(x+0.5) gave -112.
    refund = pd.DataFrame(
        {"event_id": [2], "ts": pd.Series(ts), "value": [-1.125]}
    )
    alerts, total = _threshold_alert_rows(7, refund, 0)
    assert total == -113
    assert alerts.empty


def test_mix_rebalance_downsamples_skewed_source(spark):
    """With a 90/10 source skew and a uniform target, the giant source
    gets keep_bp = floor(10000*total/(n_src*src_docs)) and actually
    drops docs, while the small source keeps everything (rate capped at
    10000). The kept count must land within integer-rounding distance
    of the target share."""
    from wallet_and_risky_features_data_pipeline_spark.plans.llm_ops import (
        MIX_BP,
        mix_rebalance,
    )

    rows = [(i, "big") for i in range(900)] + [(900 + i, "small") for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = mix_rebalance(docs).toPandas()
    big = out[out.source == "big"]
    small = out[out.source == "small"]
    # exact rate math: 10000*1000 // (2*900) = 5555 bp; small capped
    assert set(big.keep_bp) == {10000 * 1000 // (2 * 900)}
    assert set(small.keep_bp) == {MIX_BP}
    assert small.sampled.sum() == 100
    # md5 buckets are ~uniform: kept big docs ≈ 900 * 0.5555 = 500 ± noise
    kept = big.sampled.sum()
    assert 400 < kept < 600, kept
    # determinism: the same docs sample identically on a second run
    again = mix_rebalance(docs).toPandas().sort_values("doc_id")
    assert list(again.sampled) == list(out.sort_values("doc_id").sampled)


def test_audio_window_features_exact_math(spark):
    """Windowed PCM stats on a crafted payload that the ASCII gate
    corpus can't exercise: samples straddling the 128 midpoint (so
    mid_crossings > 0) and a payload spanning a window boundary (257
    bytes -> a full 256-sample window + a 1-sample tail)."""
    from wallet_and_risky_features_data_pipeline_spark.operators.multimodal import (
        audio_window_features,
    )

    # 4 samples: 100, 200, 100, 200 -> 3 crossings; then 253 zeros to
    # fill window 0; one 255 sample lands alone in window 1.
    payload = bytes([100, 200, 100, 200] + [0] * 252 + [255])
    df = spark.createDataFrame([(1, bytearray(payload))], "doc_id long, payload binary")
    rows = {r["window_idx"]: r for r in audio_window_features(df).collect()}
    w0, w1 = rows[0], rows[1]
    assert w0["n_samples"] == 256
    assert w0["sum_amp"] == 100 + 200 + 100 + 200
    assert w0["sum_sq"] == 100**2 + 200**2 + 100**2 + 200**2
    # crossings: 100->200, 200->100, 100->200, 200->0 = 4
    assert w0["mid_crossings"] == 4
    assert (w1["n_samples"], w1["sum_amp"], w1["sum_sq"], w1["mid_crossings"]) == (
        1, 255, 255**2, 0,
    )

    # empty payload -> no rows, and the empty Arrow batch must not error
    empty = spark.createDataFrame([(2, bytearray(b""))], "doc_id long, payload binary")
    assert audio_window_features(empty).count() == 0


def test_events_stream_reads_directory_layout(spark, tmp_path):
    """The streaming file source must see the events table in BOTH
    physical layouts: the driver testdata ships a single events.parquet
    FILE, while any Spark-written store (scale-probe replicas, real
    lakes) is an events.parquet/ DIRECTORY of part files — with the old
    dir-name glob filter the directory layout silently streamed zero
    batches (no leaf file matches 'events.parquet')."""
    import tempfile

    from wallet_and_risky_features_data_pipeline_spark.streaming.stream_jobs import (
        events_stream,
    )

    static = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    dir_sf = str(tmp_path / "sfdir")
    static.limit(50).write.parquet(f"{dir_sf}/events.parquet")

    for sf_dir, want in (("/root/testdata/sf0.001", static.count()), (dir_sf, 50)):
        out = tempfile.mkdtemp(prefix="wrf_layout_out_")
        q = (
            events_stream(spark, sf_dir, static.schema)
            .writeStream.trigger(availableNow=True)
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", tempfile.mkdtemp(prefix="wrf_layout_ckpt_"))
            .start()
        )
        q.awaitTermination()
        assert spark.read.parquet(out).count() == want, sf_dir


def test_merge_upsert_generation_commit_is_atomic(spark, tmp_path):
    """The verdict's kill-mid-commit probe: inject a crash AFTER the new
    generation landed in staging but BEFORE its publish (the
    tag+rename+pointer-flip step). Readers must still see generation
    N−1 complete and untouched; the retried merge must succeed and
    converge to the same result."""
    import os

    import pytest

    from wallet_and_risky_features_data_pipeline_spark.sources import writers

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 10.0, "p1"), (2, "b", 20.0, "p1"), (3, "c", 30.0, "p2")],
        "id long, name string, v double, part string",
    )
    merge_upsert(spark, base, path, key=["id"])
    before = {r["id"]: (r["name"], r["v"]) for r in read_store(spark, path).collect()}

    updates = spark.createDataFrame(
        [(2, "b2", 21.0, "p1"), (4, "d", 40.0, "p1")],
        "id long, name string, v double, part string",
    )

    class Boom(RuntimeError):
        pass

    real_publish = writers._publish

    def crash(*a, **k):
        raise Boom("injected crash mid-commit")

    writers._publish = crash
    try:
        with pytest.raises(Boom):
            merge_upsert(spark, updates, path, key=["id"])
    finally:
        writers._publish = real_publish

    # crash left staging behind but the live generation is intact
    assert [e for e in os.listdir(path) if e.startswith(".tmp-gen-")]
    assert writers.list_generations(path) == ["gen-000001"]
    after_crash = {r["id"]: (r["name"], r["v"]) for r in read_store(spark, path).collect()}
    assert after_crash == before
    # retry converges; crashed staging is cleaned up, not committed
    merge_upsert(spark, updates, path, key=["id"])
    got = {r["id"]: (r["name"], r["v"]) for r in read_store(spark, path).collect()}
    assert got == {1: ("a", 10.0), 2: ("b2", 21.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_merge_upsert_time_travel_and_vacuum(spark, tmp_path):
    """Every merge commits a new immutable generation: old snapshots
    stay readable (time travel) until vacuum_generations expires them."""
    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        list_generations,
        vacuum_generations,
    )

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 10.0, "p1"), (3, "c", 30.0, "p2")],
        "id long, name string, v double, part string",
    )
    merge_upsert(spark, base, path, key=["id"])
    updates = spark.createDataFrame(
        [(2, "b", 20.0, "p1")], "id long, name string, v double, part string"
    )
    merge_upsert(spark, updates, path, key=["id"])
    assert list_generations(path) == ["gen-000001", "gen-000002"]

    # time travel: generation 1 still shows the pre-merge state
    g1 = {r["id"] for r in read_store(spark, path, generation=1).collect()}
    g2 = {r["id"] for r in read_store(spark, path, generation=2).collect()}
    assert g1 == {1, 3} and g2 == {1, 2, 3}

    removed = vacuum_generations(path, keep=1)
    assert removed == ["gen-000001"]
    assert read_store(spark, path).count() == 3  # live gen untouched
    import pytest

    with pytest.raises(FileNotFoundError):
        read_store(spark, path, generation=1)


def test_merge_upsert_adopts_legacy_flat_store(spark, tmp_path):
    """A store written by the pre-generational writer (flat partition
    dirs, no _LATEST) is adopted crash-safely as generation 1 on the
    first merge and the merge proceeds normally."""
    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        list_generations,
    )

    path = str(tmp_path / "flat")
    spark.createDataFrame(
        [(1, "a", 10.0, "p1"), (3, "c", 30.0, "p2")],
        "id long, name string, v double, part string",
    ).write.partitionBy("part").parquet(path)

    updates = spark.createDataFrame(
        [(1, "a2", 11.0, "p1")], "id long, name string, v double, part string"
    )
    merge_upsert(spark, updates, path, key=["id"])
    assert list_generations(path) == ["gen-000001", "gen-000002"]
    got = {r["id"]: r["v"] for r in read_store(spark, path).collect()}
    assert got == {1: 11.0, 3: 30.0}


def test_decoder_contract(spark):
    """The decoder seam contract any real codec (PIL/ffmpeg/soundfile)
    must satisfy to slot into the multimodal stages:

    - image: ``decoder(payload: bytes) -> (width: int, height: int,
      n_frames: int)``, total (never raises on valid payloads),
      deterministic.
    - frames: ``frame_decoder(payload) -> iterator of (frame_idx,
      frame_bytes)`` with strictly increasing frame_idx from 0.
    - audio: ``pcm_decoder(payload) -> integer ndarray`` of samples
      (pass ``midpoint=0`` for signed PCM).

    Drives all three stages with NON-stub decoders (a fake "header
    codec" parsing dimensions from the payload, as a real container
    parser would) and pins that the Spark-side plumbing — schema,
    row cardinality, values — follows the injected decoder."""
    import numpy as np

    from wallet_and_risky_features_data_pipeline_spark.operators.multimodal import (
        attach_payload,
        audio_window_features,
        decode_image_meta,
        sample_frames,
    )

    docs = spark.createDataFrame(
        [(1, "\x03\x02abcdef"), (2, "\x05\x01xy")], "doc_id long, text string"
    )
    payload = attach_payload(docs, "doc_id", "text")

    # image: "header codec" — first byte = width/16, second = height/16
    def header_decoder(b: bytes):
        return 16 * b[0], 16 * b[1], 1

    rows = {r["doc_id"]: r for r in decode_image_meta(payload, decoder=header_decoder).collect()}
    assert (rows[1]["width"], rows[1]["height"], rows[1]["n_frames"]) == (48, 32, 1)
    assert (rows[2]["width"], rows[2]["height"]) == (80, 16)

    # frames: 2-byte frames, every frame (every_nth=1)
    def two_byte_frames(b: bytes):
        for i in range((len(b) + 1) // 2):
            yield i, b[2 * i : 2 * i + 2]

    frames = sample_frames(payload, every_nth=1, frame_decoder=two_byte_frames)
    per_doc = {r[0]: r[1] for r in frames.groupBy("doc_id").count().collect()}
    assert per_doc == {1: 4, 2: 2}  # 8 bytes -> 4 frames, 4 bytes -> 2

    # audio: signed-PCM decoder (midpoint 0)
    def signed_pcm(b: bytes):
        return np.frombuffer(b, np.uint8).astype(np.int64) - 128

    feats = audio_window_features(
        payload, window=4, pcm_decoder=signed_pcm, midpoint=0
    ).collect()
    assert {r["doc_id"] for r in feats} == {1, 2}
    byte_sum = sum(r["sum_amp"] for r in feats if r["doc_id"] == 1)
    assert byte_sum == sum(b - 128 for b in "\x03\x02abcdef".encode())


def test_wav_codec_roundtrip_and_rejects_non_wav(spark):
    """REAL codec through the decoder seam (VERDICT r13 #7): the WAV
    payloads built by ``encode_wav_u8`` are genuine RIFF/WAVE
    containers (magic bytes + header fields asserted), the stdlib
    ``wave`` READER round-trips the samples exactly, the Spark-side
    ``decode_wav_meta`` stage agrees with local math, the windowed
    audio stage driven with the REAL ``wav_pcm_decoder`` equals the
    stub path over the contained samples, and a non-WAV payload fails
    LOUDLY — a stub would have silently read header bytes as samples."""
    import numpy as np
    import pytest

    from wallet_and_risky_features_data_pipeline_spark.operators.multimodal import (
        attach_payload,
        attach_wav_payload,
        audio_window_features,
        decode_wav_meta,
        encode_wav_u8,
        wav_container_meta,
        wav_pcm_decoder,
    )

    # local roundtrip: a real RIFF/WAVE container, parsed by a real parser
    raw = bytes(range(256)) * 3 + b"tail"
    wav = encode_wav_u8(raw)
    assert wav[:4] == b"RIFF" and wav[8:12] == b"WAVE"
    assert len(wav) == len(raw) + 44
    assert wav_container_meta(wav) == (1, 1, 8000, len(raw))
    assert wav_pcm_decoder(wav).tolist() == list(raw)

    # a non-WAV payload must raise, not be mis-read as samples
    with pytest.raises(Exception):
        wav_pcm_decoder(b"definitely not a RIFF container")

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, ""), (3, "x" * 300)],
        "doc_id long, text string",
    )
    wav_df = attach_wav_payload(docs, "doc_id", "text")
    rows = {r["doc_id"]: r for r in decode_wav_meta(wav_df).collect()}
    assert set(rows) == {1, 2, 3}
    for doc_id, text in ((1, b"hello world"), (2, b""), (3, b"x" * 300)):
        r = rows[doc_id]
        assert (r["n_channels"], r["bits_per_sample"], r["framerate"]) == (1, 8, 8000)
        assert r["n_frames"] == len(text)
        assert r["container_bytes"] == len(text) + 44
        assert r["duration_us"] == len(text) * 125
        assert r["sum_amp"] == sum(text)
        assert r["sum_sq"] == sum(b * b for b in text)

    # the REAL codec through the EXISTING windowed stage equals the
    # stub path over the raw sample bytes — only the decoder changed
    real = sorted(
        tuple(r)
        for r in audio_window_features(wav_df, pcm_decoder=wav_pcm_decoder).collect()
    )
    stub = sorted(
        tuple(r)
        for r in audio_window_features(attach_payload(docs, "doc_id", "text")).collect()
    )
    assert real == stub


def test_ppm_codec_roundtrip_and_rejects_malformed(spark):
    """REAL image codec through the seam (the PPM half of VERDICT r13
    #7): encode_ppm_rgb builds a genuine P6 container, ppm_decoder
    parses the header (comments tolerated per the netpbm spec) and
    VALIDATES dimensions against the pixel payload; malformed
    containers fail loudly; the same decoder drives the existing
    decode_image_meta seam."""
    import pytest

    from wallet_and_risky_features_data_pipeline_spark.operators.multimodal import (
        attach_ppm_payload,
        decode_image_meta,
        decode_ppm_meta,
        encode_ppm_rgb,
        ppm_decoder,
        ppm_pixels,
    )

    pixels = bytes(range(96))  # two 16-px RGB rows
    ppm = encode_ppm_rgb(pixels, 16)
    assert ppm.startswith(b"P6\n16 2\n255\n")
    assert ppm_decoder(ppm) == (16, 2, 1)
    assert ppm_pixels(ppm) == pixels
    # header comments are legal netpbm and must parse
    commented = b"P6\n# a comment\n16 2\n255\n" + pixels
    assert ppm_decoder(commented) == (16, 2, 1)

    for bad in (
        b"P5\n16 2\n255\n" + pixels,        # wrong magic
        b"P6\n16 2\n65535\n" + pixels,      # 16-bit unsupported
        b"P6\n16 3\n255\n" + pixels,        # dims disagree with payload
        b"not an image at all",
    ):
        with pytest.raises(ValueError):
            ppm_decoder(bad)
    with pytest.raises(ValueError):
        encode_ppm_rgb(b"xy", 16)  # not whole RGB rows

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, ""), (3, "x" * 100)],
        "doc_id long, text string",
    )
    wavs = attach_ppm_payload(docs, "doc_id", "text")
    rows = {r["doc_id"]: r for r in decode_ppm_meta(wavs).collect()}
    for doc_id, nb in ((1, 11), (2, 0), (3, 100)):
        height = max(1, -(-nb // 48))
        r = rows[doc_id]
        assert (r["width"], r["height"], r["n_frames"]) == (16, height, 1)
        assert r["container_bytes"] == 11 + len(str(height)) + 48 * height
    assert rows[3]["sum_r"] == sum((b"x" * 100)[0::3])
    assert rows[3]["sum_g"] == sum((b"x" * 100)[1::3])

    # the REAL decoder through the EXISTING image seam — zero-diff swap
    seam = {
        r["doc_id"]: (r["width"], r["height"], r["n_frames"])
        for r in decode_image_meta(wavs, decoder=ppm_decoder).collect()
    }
    assert seam == {1: (16, 1, 1), 2: (16, 1, 1), 3: (16, 3, 1)}


def test_merge_upsert_detects_concurrent_commit(spark, tmp_path):
    """Optimistic concurrency: a merge computed against snapshot N must
    NOT publish if another writer committed N+1 meanwhile (publishing
    would silently drop the other writer's rows). Simulated by
    committing a second merge after the loser read generation 1 but
    before its commit tail numbers its own generation: the loser's
    rename to gen-000003 then succeeds, so only a CAS whose base is the
    generation the loser READ can refuse it."""
    import os

    import pytest

    from wallet_and_risky_features_data_pipeline_spark.sources import writers
    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        ConcurrentCommitError,
        list_generations,
    )

    path = str(tmp_path / "t")
    schema = "id long, name string, v double, part string"
    merge_upsert(
        spark,
        spark.createDataFrame([(1, "a", 10.0, "p1")], schema),
        path,
        key=["id"],
    )

    real_next = writers._next_gen_number
    raced = {"done": False}

    def racing_next(p):
        # the RIVAL writer lands a full commit while we are mid-commit
        if not raced["done"]:
            raced["done"] = True
            merge_upsert(
                spark,
                spark.createDataFrame([(2, "rival", 20.0, "p1")], schema),
                path,
                key=["id"],
            )
        return real_next(p)

    writers._next_gen_number = racing_next
    try:
        with pytest.raises(ConcurrentCommitError, match="already advanced gen-000001"):
            merge_upsert(
                spark,
                spark.createDataFrame([(3, "loser", 30.0, "p1")], schema),
                path,
                key=["id"],
            )
    finally:
        writers._next_gen_number = real_next

    # rival's commit survives untouched; loser left no published rows
    # and no generation dir behind
    got = {r["id"]: r["name"] for r in read_store(spark, path).collect()}
    assert got == {1: "a", 2: "rival"}
    assert list_generations(path) == ["gen-000001", "gen-000002"]
    assert not [e for e in os.listdir(path) if e.startswith(".tmp-gen-")]
    # loser's retry against the new snapshot now succeeds
    merge_upsert(
        spark,
        spark.createDataFrame([(3, "loser", 30.0, "p1")], schema),
        path,
        key=["id"],
    )
    got = {r["id"]: r["name"] for r in read_store(spark, path).collect()}
    assert got == {1: "a", 2: "rival", 3: "loser"}
    assert len(list_generations(path)) >= 3


def test_merge_upsert_recovers_crashed_first_commit(spark, tmp_path):
    """A first commit that crashed between the generation rename and
    the _LATEST flip left an UNPUBLISHED gen dir. The retry must NOT
    mis-adopt it as a flat store (that used to wedge the store with an
    empty generation) — it clears the unpublished dir and converges."""
    import os

    import pytest

    from wallet_and_risky_features_data_pipeline_spark.sources import writers

    path = str(tmp_path / "t")
    schema = "id long, name string, v double, part string"
    base = spark.createDataFrame([(1, "a", 10.0, "p1")], schema)

    real_flip = writers._flip_latest

    def crash_flip(*a, **k):
        raise RuntimeError("injected crash before publish")

    writers._flip_latest = crash_flip
    try:
        with pytest.raises(RuntimeError, match="injected"):
            merge_upsert(spark, base, path, key=["id"])
    finally:
        writers._flip_latest = real_flip

    # no committed snapshot exists: readers refuse rather than misread
    assert os.path.isdir(os.path.join(path, "gen-000001"))
    with pytest.raises(FileNotFoundError, match="no _LATEST"):
        read_store(spark, path)

    # retry converges to a correct published snapshot
    merge_upsert(spark, base, path, key=["id"])
    got = {r["id"]: r["name"] for r in read_store(spark, path).collect()}
    assert got == {1: "a"}


def test_vacuum_removes_uncommitted_generation(spark, tmp_path):
    """A commit that crashed between rename and flip leaves a gen dir
    NEWER than the live pointer. vacuum_generations must remove it —
    erasure depends on this: an unpublished snapshot still holds the
    erased subject's rows on disk."""
    import os
    import shutil

    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        list_generations,
        vacuum_generations,
    )

    path = str(tmp_path / "t")
    schema = "id long, name string, v double, part string"
    merge_upsert(
        spark,
        spark.createDataFrame([(1, "a", 10.0, "p1")], schema),
        path,
        key=["id"],
    )
    # simulate the crash leftover: a complete but unreferenced gen-000002
    shutil.copytree(os.path.join(path, "gen-000001"), os.path.join(path, "gen-000002"))
    assert list_generations(path) == ["gen-000001", "gen-000002"]

    removed = vacuum_generations(path, keep=1)
    assert "gen-000002" in removed
    assert list_generations(path) == ["gen-000001"]
    assert read_store(spark, path).count() == 1  # live gen untouched


def test_semantic_dedup_keep_first_exemplar(spark):
    """SemDeDup keep/drop semantics on hand-crafted vectors: within a
    cell, a vector is dropped iff a SMALLER-id near-identical vector
    exists; near-dups in different cells are untouched; the exemplar
    (smallest id of each duplicate group) is always kept."""
    from wallet_and_risky_features_data_pipeline_spark.operators.dedup import (
        semantic_dedup,
    )

    # two orthogonal cells; ids 10,11 near-identical in cell A,
    # id 12 distinct in cell A, id 20 alone in cell B
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),   # centroid A
        (1, [0.0, 1.0, 0.0, 0.0]),   # centroid B
        (10, [0.9, 0.1, 0.0, 0.0]),
        (11, [0.9, 0.1001, 0.0, 0.0]),  # ~= vec 10 -> dropped
        (12, [0.7, 0.0, 0.7, 0.0]),     # cell A but dissimilar -> kept
        (20, [0.1, 0.9, 0.0, 0.0]),     # cell B -> kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = df.filter(F.col("vec_id") < 2)
    got = {
        r["vec_id"]: (r["cell_id"], r["keep"])
        for r in semantic_dedup(df, cents, tau=0.995).collect()
    }
    assert got[10][1] == 1 and got[11][1] == 0  # keep-first within the pair
    assert got[12][1] == 1                       # dissimilar survives
    assert got[20][1] == 1                       # other cell untouched
    assert got[10][0] == got[11][0] == got[12][0] == 0  # cell A
    assert got[20][0] == 1                               # cell B
    # every input vector gets exactly one verdict row
    assert set(got) == {0, 1, 10, 11, 12, 20}


def test_rrf_fusion_dual_list_outranks_and_tie_breaks(spark):
    """A candidate on BOTH lists must outrank one holding a better rank
    on a single list (1/61+1/62 > 1/61), and equal scores break by
    c_id — the determinism the value oracle depends on."""
    from wallet_and_risky_features_data_pipeline_spark.operators.similarity import rrf_fuse

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 13, 3)], "q_id long, c_id long, rank int"
    )
    b = spark.createDataFrame(
        [(1, 11, 1), (1, 12, 2), (1, 14, 3)], "q_id long, c_id long, rank int"
    )
    got = {r.c_id: (r.rrf_rank, r.rrf_score) for r in rrf_fuse(a, b, k=5).collect()}
    # 11 is rank 2 + rank 1 -> beats 10 (single rank 1)
    assert got[11][0] == 1
    assert got[10][0] == 2
    # 12 (single rank 2) and 13/14 (single rank 3): 12 next, then c_id
    # breaks the 13-vs-14 score tie (both 1/63) in id order
    assert got[12][0] == 3
    assert (got[13][0], got[14][0]) == (4, 5)
    assert abs(got[11][1] - (1 / 62 + 1 / 61)) < 1e-15


def test_vocab_coverage_monotone_and_bounded(spark):
    from wallet_and_risky_features_data_pipeline_spark.plans.llm_ops import (
        corpus_vocab_coverage,
    )
    from .conftest import SF_SMALL

    rows = corpus_vocab_coverage(spark, SF_SMALL).orderBy("vocab_rank").collect()
    assert rows, "vocab must be non-empty"
    cov = [r.cum_coverage for r in rows]
    assert all(b >= a for a, b in zip(cov, cov[1:])), "coverage must be monotone"
    assert 0 < cov[-1] <= 1.0
    freqs = [r.freq for r in rows]
    assert freqs == sorted(freqs, reverse=True), "rank order is by frequency"


def test_quality_funnel_partitions_the_corpus(spark):
    """Every doc lands in exactly one stage: stage counts sum to the
    corpus size and shares sum to 1 (first-failing-stage attribution)."""
    from wallet_and_risky_features_data_pipeline_spark.plans.llm_ops import (
        corpus_quality_funnel,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.readers import read_table
    from .conftest import SF_SMALL

    rows = corpus_quality_funnel(spark, SF_SMALL).collect()
    total = read_table(spark, SF_SMALL, "documents").count()
    assert sum(r.n_docs for r in rows) == total
    assert abs(sum(r.doc_share for r in rows) - 1.0) < 1e-9
    assert {r.stage for r in rows} <= {"kept", "too_short", "low_quality", "duplicate"}


def test_commit_generation_snapshots_time_travel_and_self_merge(spark, tmp_path):
    """Full-snapshot commits: monotone gen numbering, time travel to
    any committed generation, and the stats-merge loop's self-reference
    (the next snapshot computed FROM the live one) all hold; an
    unpublished crash leftover is cleared, not counted."""
    import os

    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        commit_generation,
        read_store,
        vacuum_generations,
    )

    store = str(tmp_path / "freqs")
    g1 = commit_generation(
        spark.createDataFrame([("a", 1), ("b", 2)], "token string, freq long"), store
    )
    assert g1 == "gen-000001"
    # self-merge: next snapshot reads the live one
    prior = read_store(spark, store)
    merged = prior.unionByName(
        spark.createDataFrame([("a", 3)], "token string, freq long")
    ).groupBy("token").agg(F.sum("freq").alias("freq"))
    assert commit_generation(merged, store) == "gen-000002"
    live = {(r.token, r.freq) for r in read_store(spark, store).collect()}
    assert live == {("a", 4), ("b", 2)}
    old = {(r.token, r.freq) for r in read_store(spark, store, generation=1).collect()}
    assert old == {("a", 1), ("b", 2)}
    # a renamed-but-never-published generation is a ghost: the hot path
    # SKIPS its number (clearing it could delete a rival mid-publish);
    # vacuum_generations (single-maintainer) reclaims it
    os.makedirs(os.path.join(store, "gen-000009"))
    g3 = commit_generation(
        spark.createDataFrame([("c", 9)], "token string, freq long"), store
    )
    assert g3 == "gen-000010"
    assert os.path.exists(os.path.join(store, "gen-000009"))  # left for vacuum
    assert vacuum_generations(store, keep=1) == [
        "gen-000001",
        "gen-000002",
        "gen-000009",
    ]
    assert {(r.token, r.freq) for r in read_store(spark, store).collect()} == {("c", 9)}


def test_generation_commit_cas_excludes_stale_base_any_number(spark, tmp_path):
    """The advance marker is a CAS on the BASE snapshot: a writer that
    computed against a stale base fails even when it targets a
    DIFFERENT generation number than the winner — the lost-update the
    per-number check could not catch."""
    import os
    import shutil as sh

    import pytest

    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        ConcurrentCommitError,
        _flip_latest,
        commit_generation,
        read_store,
    )

    store = str(tmp_path / "s")
    commit_generation(spark.createDataFrame([("a", 1)], "token string, freq long"), store)
    # writer A advances gen-000001 → gen-000002 and fully publishes
    sh.copytree(os.path.join(store, "gen-000001"), os.path.join(store, "gen-000002"))
    _flip_latest(store, "gen-000002", expected_base="gen-000001")
    # writer B computed against gen-000001 too, but — having seen A's
    # renamed dir — picked number 3: the old per-number CAS would have
    # let it publish over A; the per-base CAS must refuse
    sh.copytree(os.path.join(store, "gen-000001"), os.path.join(store, "gen-000003"))
    with pytest.raises(ConcurrentCommitError):
        _flip_latest(store, "gen-000003", expected_base="gen-000001")
    assert read_store(spark, store) is not None
    with open(os.path.join(store, "_LATEST")) as f:
        assert f.read().strip() == "gen-000002", "A's committed rows were lost"


def test_generation_commit_rolls_crashed_intent_forward(spark, tmp_path):
    """A winner that crashed between its advance marker and the pointer
    flip leaves a write-ahead intent; the next writer from the same
    base COMPLETES the crashed publish (no wedge, no lost rows) and its
    own retry then lands on top."""
    import os
    import shutil as sh

    import pytest

    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        ConcurrentCommitError,
        commit_generation,
        read_store,
    )

    store = str(tmp_path / "s")
    commit_generation(spark.createDataFrame([("a", 1)], "token string, freq long"), store)
    # crashed writer: renamed gen-000002 and won the advance marker for
    # gen-000001, but died before flipping the pointer
    sh.copytree(os.path.join(store, "gen-000001"), os.path.join(store, "gen-000002"))
    with open(os.path.join(store, ".advance-gen-000001"), "w") as f:
        f.write("gen-000002")
    # next writer (computed against the still-live gen-000001) loses —
    # and rolls the crashed intent forward as it does
    with pytest.raises(ConcurrentCommitError):
        commit_generation(
            spark.createDataFrame([("b", 2)], "token string, freq long"), store
        )
    with open(os.path.join(store, "_LATEST")) as f:
        assert f.read().strip() == "gen-000002", "crashed commit was not completed"
    # the retry now computes against gen-000002 and succeeds
    g = commit_generation(
        spark.createDataFrame([("b", 2)], "token string, freq long"), store
    )
    assert g == "gen-000003"
    assert {(r.token, r.freq) for r in read_store(spark, store).collect()} == {("b", 2)}


def test_generation_commit_race_one_winner_store_always_readable(spark, tmp_path):
    """8 threads race commit_generation on one store. Invariants: every
    generation number has exactly ONE winner (losers raise
    ConcurrentCommitError, nobody silently 'succeeds' into a rival's
    number), the live snapshot after the storm is one thread's intact
    payload, and a reader polling mid-storm always resolves a complete
    committed snapshot."""
    import threading

    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        ConcurrentCommitError,
        commit_generation,
        read_store,
    )

    store = str(tmp_path / "raced")
    commit_generation(
        spark.createDataFrame([(0, 0)], "writer int, payload int"), store
    )
    wins, losses, reader_errors = [], [], []
    barrier = threading.Barrier(9)

    def writer(i: int) -> None:
        df = spark.createDataFrame([(i, j) for j in range(5)], "writer int, payload int")
        barrier.wait()
        for _ in range(4):
            try:
                wins.append((commit_generation(df, store), i))
            except ConcurrentCommitError:
                losses.append(i)

    def reader() -> None:
        barrier.wait()
        for _ in range(20):
            try:
                rows = read_store(spark, store).collect()
                ws = {r.writer for r in rows}
                if len(ws) != 1:  # a torn snapshot would mix writers
                    reader_errors.append(f"mixed snapshot: {ws}")
            except Exception as e:  # noqa: BLE001 — any read failure is the bug
                reader_errors.append(repr(e))

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(1, 9)]
    threads.append(threading.Thread(target=reader))
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    gens = [g for g, _ in wins]
    assert len(gens) == len(set(gens)), f"two winners for one generation: {wins}"
    assert wins, "at least one commit must win"
    assert not reader_errors, reader_errors
    final = read_store(spark, store).collect()
    assert len({r.writer for r in final}) == 1 and len(final) == 5


def test_decode_image_meta_empty_payload(spark):
    """An empty payload must not crash the vectorized stub path, and
    both stub paths (vectorized default and injected scalar) must agree
    on it — the guard the scalar stub always had."""
    from wallet_and_risky_features_data_pipeline_spark.operators.multimodal import (
        attach_payload,
        decode_image_meta,
        stub_image_decoder,
    )

    docs = spark.createDataFrame(
        [(1, ""), (2, "x"), (3, "some longer payload")], "doc_id long, text string"
    )
    payloads = attach_payload(docs, "doc_id", "text")
    fast = {r.doc_id: (r.width, r.height, r.n_frames)
            for r in decode_image_meta(payloads).collect()}
    slow = {r.doc_id: (r.width, r.height, r.n_frames)
            for r in decode_image_meta(payloads, decoder=stub_image_decoder).collect()}
    assert fast == slow
    assert fast[1] == (16, 16, 0)  # empty: byte 0 → 16x16, zero frames


def test_line_dedup_cuts_corpus_boilerplate_and_reassembles(spark):
    """C4-rule contract: a 5-token passage shared by >=3 docs is cut
    from every doc; passage boundaries are non-overlapping windows, so
    the same boilerplate OFF the window grid survives; surviving
    passages reassemble in original order."""
    from wallet_and_risky_features_data_pipeline_spark.plans.llm_ops import line_dedup

    boiler = "all rights reserved click here"
    rows = [
        # boilerplate on the grid (tokens 1-5) in three docs
        (0, f"{boiler} alpha beta gamma delta eps"),
        (1, f"{boiler} one two three four five"),
        (2, f"{boiler} six seven eight nine ten"),
        # same words shifted one token: off-grid, must survive
        (3, f"pad {boiler} tail1 tail2 tail3 tail4"),
        # unique doc: untouched
        (4, "totally unique words only here now"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in line_dedup(docs).collect()}

    for d in (0, 1, 2):
        assert out[d]["n_dropped"] == 1, out[d]
        assert boiler not in out[d]["clean_text"]
        assert out[d]["kept_tokens"] == 5
    # off-grid shift: its windows are 'pad all rights reserved click'
    # and 'here tail1 ...' — neither matches the doomed passage
    assert out[3]["n_dropped"] == 0
    assert boiler in out[3]["clean_text"]
    assert out[4]["n_dropped"] == 0
    assert out[4]["clean_text"] == "totally unique words only here now"
    # order preserved: doc 0's survivor is its second window verbatim
    assert out[0]["clean_text"] == "alpha beta gamma delta eps"


def test_hll_merge_replay_idempotent(spark):
    """Register-MAX merge is idempotent: re-merging an already-merged
    batch leaves the sketch bit-identical — at-least-once delivery
    into the sketch store needs no dedup fence (the additive vocab
    store, by contrast, would double-count; that contrast is the point
    of pinning this)."""
    from pyspark.sql import functions as F

    from wallet_and_risky_features_data_pipeline_spark.operators.sketches import (
        hll_finalize,
        hll_merge,
        hll_registers,
    )

    ev = spark.createDataFrame(
        [(i, f"u{i % 37}", "click" if i % 3 else "view") for i in range(500)],
        "event_id long, user_id string, event_type string",
    )
    batch = hll_registers(ev, F.col("user_id"), ["event_type"])
    once = hll_finalize(batch, ["event_type"]).collect()
    twice = hll_finalize(
        hll_merge(batch, batch, ["event_type"]), ["event_type"]
    ).collect()
    assert sorted(map(tuple, once)) == sorted(map(tuple, twice))


def test_funnel_stage_rows_state_machine(spark):
    """The streaming funnel core: strict order (a click before the
    first view doesn't advance), one alert per user ever (stage 4
    absorbs), state carries across batches."""
    import pandas as pd

    from wallet_and_risky_features_data_pipeline_spark.streaming.stream_jobs import (
        _funnel_stage_rows,
    )

    ts = pd.to_datetime(
        ["2024-01-01 00:00:00", "2024-01-01 00:01:00", "2024-01-01 00:02:00"]
    )
    # click first, then view: only the view advances
    b1 = pd.DataFrame(
        {"ts": ts, "event_id": [1, 2, 3], "event_type": ["click", "view", "click"]}
    )
    alerts, stage, last = _funnel_stage_rows(7, b1, 0, 0)
    assert alerts.empty and stage == 2  # view at #2, click-after-view at #3

    # next batch (later timestamps) completes it; a second purchase
    # does NOT re-alert
    ts2 = pd.to_datetime(
        ["2024-01-01 00:03:00", "2024-01-01 00:04:00", "2024-01-01 00:05:00"]
    )
    b2 = pd.DataFrame(
        {
            "ts": ts2,
            "event_id": [4, 5, 6],
            "event_type": ["purchase", "purchase", "view"],
        }
    )
    alerts, stage, last = _funnel_stage_rows(7, b2, stage, last)
    assert stage == 4
    assert list(alerts["user_id"]) == [7]
    assert len(alerts) == 1

    # absorbed forever after
    alerts, stage, last = _funnel_stage_rows(7, b2, stage, last)
    assert alerts.empty and stage == 4

    # equal-ts tie: a click at EXACTLY the first view's timestamp must
    # NOT advance (the oracle's strict e.ts > t_view), regardless of
    # event_id order
    tie = pd.DataFrame(
        {
            "ts": pd.to_datetime(["2024-01-01", "2024-01-01"]),
            "event_id": [1, 2],
            "event_type": ["view", "click"],
        }
    )
    alerts, stage, last = _funnel_stage_rows(9, tie, 0, 0)
    assert alerts.empty and stage == 1


def test_decoder_contract_real_codecs_if_available(spark):
    """Zero-diff swap check for REAL codecs: if PIL / soundfile ever
    appear in the container, drive the same seam with them — a real
    PNG through decode_image_meta, a real WAV through
    audio_window_features — and pin that only the decoder argument
    changes, never the Spark-side plumbing. Skipped (not failed)
    while the imports are absent."""
    import importlib.util

    import pytest as _pytest

    has_pil = importlib.util.find_spec("PIL") is not None
    has_sf = importlib.util.find_spec("soundfile") is not None
    if not (has_pil or has_sf):
        _pytest.skip("no real codec libraries in this container")

    import base64

    from wallet_and_risky_features_data_pipeline_spark.operators.multimodal import (
        audio_window_features,
        decode_image_meta,
    )

    if has_pil:
        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.new("RGB", (48, 32)).save(buf, format="PNG")
        png = buf.getvalue()

        def pil_decoder(payload: bytes):
            img = Image.open(io.BytesIO(payload))
            return img.width, img.height, getattr(img, "n_frames", 1)

        payload = spark.createDataFrame(
            [(1, base64.b64encode(png).decode())], "doc_id long, b64 string"
        ).selectExpr("doc_id", "unbase64(b64) AS payload", "length(b64) AS n_bytes")
        row = decode_image_meta(payload, decoder=pil_decoder).collect()[0]
        assert (row["width"], row["height"], row["n_frames"]) == (48, 32, 1)

    if has_sf:
        import io

        import numpy as np
        import soundfile as sf

        buf = io.BytesIO()
        samples = (np.sin(np.linspace(0, 20, 800)) * 1000).astype(np.int16)
        sf.write(buf, samples, 8000, format="WAV", subtype="PCM_16")

        def sf_decoder(payload: bytes):
            data, _rate = sf.read(io.BytesIO(payload), dtype="int16")
            return data.astype(np.int64)

        payload = spark.createDataFrame(
            [(1, base64.b64encode(buf.getvalue()).decode())],
            "doc_id long, b64 string",
        ).selectExpr("doc_id", "unbase64(b64) AS payload", "length(b64) AS n_bytes")
        out = audio_window_features(payload, pcm_decoder=sf_decoder, midpoint=0)
        assert out.count() > 0
