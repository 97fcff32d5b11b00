"""Tests for the scale/serving/cleanse operators: salted running sum
equivalence, document-store sink protocol, serving pagination, stage
cleanse, CSV reader."""

from __future__ import annotations

import pytest

import re

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wallet_and_risky_features_data_pipeline_spark.operators.cleanse import (
    repair_topics,
    stage_clean,
)
from wallet_and_risky_features_data_pipeline_spark.operators.skew import salted_running_sum
from wallet_and_risky_features_data_pipeline_spark.plans.wallet_model import (
    ORDER_COLS,
    wallet_transactions,
)
from wallet_and_risky_features_data_pipeline_spark.sources.readers import read_csv
from wallet_and_risky_features_data_pipeline_spark.sources.serving import (
    DictStoreClient,
    export_pages,
    foreach_partition_upsert,
)

from .conftest import SF_SMALL


def test_salted_running_sum_equals_plain(spark):
    """Chunked two-phase running sum == the serial window, on the real
    wallet-transactions model, chunked by day bucket."""
    wt = wallet_transactions(spark, SF_SMALL)
    plain = wt.withColumn(
        "expected",
        F.sum("signed_value").over(
            Window.partitionBy("wallet_address")
            .orderBy(*ORDER_COLS)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    salted = salted_running_sum(
        wt,
        F.col("signed_value"),
        ["wallet_address"],
        list(ORDER_COLS),
        out="got",
        chunk_expr=F.date_trunc("day", F.col("ts")),
    )
    key = ["event_id", "wallet_address", "address_role"]
    merged = (
        plain.select(*key, "expected")
        .join(salted.select(*key, "got"), on=key)
        .filter(F.col("expected") != F.col("got"))
    )
    assert merged.count() == 0


def test_stage_clean_and_uuid(spark):
    df = spark.createDataFrame(
        [(1, "0xabc", "2024-03-05 10:00:00"), (1, "0xabc", "2024-03-05 10:00:00"), (2, "0xdef", "2024-04-01 00:00:00")],
        "id long, addr string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = stage_clean(df, ["id"], "ts", "addr").collect()
    assert len(out) == 2  # natural-key dedup
    by_id = {r["id"]: r for r in out}
    assert by_id[1]["date_partition"] == "2024-03"
    assert re.fullmatch(r"[0-9a-f]{2}", by_id[1]["hash_partition"])
    assert re.fullmatch(r"[0-9a-f-]{36}", by_id[1]["uuid"])
    assert by_id[1]["uuid"] != by_id[2]["uuid"]


def test_repair_topics(spark):
    df = spark.createDataFrame(
        [(["['0xaa', '0xbb']"],), (["0xaa", "0xbb"],)],
        T.StructType([T.StructField("topics", T.ArrayType(T.StringType()))]),
    )
    out = [r[0] for r in df.select(repair_topics(F.col("topics"))).collect()]
    assert out[0] == ["0xaa", "0xbb"]  # repaired blob
    assert out[1] == ["0xaa", "0xbb"]  # already-good array untouched


def test_read_csv_with_schema(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("id,name,v\n1,a,1.5\n2,b,2.5\n")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    df = read_csv(spark, str(p), schema)
    assert df.schema == schema and df.count() == 2


def test_export_pages_and_foreach_sink(spark, tmp_path, monkeypatch):
    import uuid

    df = spark.createDataFrame(
        [(i, f"w{i}", float(i)) for i in range(25)], "ts long, wallet string, score double"
    )
    pages = list(export_pages(df, "ts", last_exported=4, page_size=10))
    assert [len(p) for p in pages] == [10, 10]  # 20 rows newer than ts=4
    uri = str(tmp_path / "sink")
    foreach_partition_upsert(
        df, key="wallet", client_factory=lambda: DictStoreClient(uri), batch_size=7
    )
    store = DictStoreClient.read_store(uri)
    assert len(store) == 25 and store["w7"]["score"] == 7.0

    # a later sync of changed values wins the merge even when its
    # file's uuid sorts before every earlier one
    monkeypatch.setattr(uuid, "uuid4", lambda: uuid.UUID(int=0))
    client = DictStoreClient(uri)
    client.bulk_upsert(
        [{"ts": i, "wallet": f"w{i}", "score": 10.0 * i} for i in range(25)], "wallet"
    )
    client.close()
    store = DictStoreClient.read_store(uri)
    assert len(store) == 25
    assert all(store[f"w{i}"]["score"] == 10.0 * i for i in range(25))


def test_ivf_exhaustive_probe_equals_brute_force(spark):
    """Probing every cell degenerates IVF to exact search — the recall
    invariant that pins the index/search plumbing."""
    from wallet_and_risky_features_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.readers import read_table

    from .conftest import SF_SMALL

    emb = read_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    centroids = emb.filter(F.col("vec_id") < 8)
    exact = {
        (r.q_id, r.rank): r.c_id
        for r in brute_force_topk(queries, emb, k=3).collect()
    }
    ivf = {
        (r.q_id, r.rank): r.c_id
        for r in ivf_topk(queries, emb, centroids, k=3, n_probe=8).collect()
    }
    assert ivf == exact and len(ivf) > 0


def test_mllib_tier_mechanics(spark):
    """KMeans-IVF and LR scoring: row preservation, prediction domain,
    and determinism under the fixed seed."""
    from wallet_and_risky_features_data_pipeline_spark.plans.ml_ops import (
        risk_score_lr,
        similarity_ivf_kmeans_topk,
    )
    from .conftest import SF_SMALL

    ann = similarity_ivf_kmeans_topk(spark, SF_SMALL)
    rows = ann.collect()
    assert len(rows) > 0
    per_q = {}
    for r in rows:
        per_q.setdefault(r.q_id, []).append(r.rank)
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))  # dense ranks from 1
    assert rows == similarity_ivf_kmeans_topk(spark, SF_SMALL).collect()  # seed-stable

    scored = risk_score_lr(spark, SF_SMALL)
    n_in = scored.count()
    assert n_in == scored.select("vec_id").distinct().count()  # one score per vector
    labels = {r.label for r in scored.select("label").distinct().collect()}
    preds = {r.predicted_label for r in scored.select("predicted_label").distinct().collect()}
    assert preds <= labels  # argmax stays in the trained class set


def _canonical_assignment_digest(pairs):
    """Permutation-invariant digest of a (vec_id, cell_id) assignment:
    relabel cells in order of their smallest member vec_id, then md5
    the sorted pairs. Stable under k-means label renumbering; any
    change in the actual PARTITION of vectors changes the digest."""
    import hashlib
    from collections import defaultdict

    members = defaultdict(list)
    for vec_id, cell_id in pairs:
        members[cell_id].append(vec_id)
    relabel = {
        cell: i
        for i, cell in enumerate(sorted(members, key=lambda c: min(members[c])))
    }
    canon = sorted((v, relabel[c]) for v, c in pairs)
    sizes = sorted(len(m) for m in members.values())
    digest = hashlib.md5(";".join(f"{v}:{c}" for v, c in canon).encode()).hexdigest()
    return digest, sizes


def test_kmeans_assignment_matches_golden(spark):
    """Determinism harness for the MLlib IVF trainer wiring (the
    rows-only registry entry the DuckDB gate can't value-check):
    fixed-seed k-means at sf0.01 must reproduce the STORED golden
    assignment — cell membership (canonicalized ids, not float
    distances) and cluster-size histogram. A regression in the trainer
    plumbing (sampling, seeding, feature assembly, argmax tie-break)
    changes the digest. Regenerate after an intentional change with
    SPARK_GRAFT_REGEN_GOLDEN=1 (also auto-writes on first run; the
    file then pins every later run of the same testdata)."""
    import json
    import os

    from wallet_and_risky_features_data_pipeline_spark.operators.similarity import (
        ivf_assign,
        train_ivf_centroids,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.readers import read_table

    import math

    emb = read_table(spark, "/root/testdata/sf0.01", "embeddings")
    # same adaptive sizing as the registry entry (max(16, isqrt(n)))
    centroids = train_ivf_centroids(emb, n_cells=max(16, math.isqrt(emb.count())), seed=42)
    pairs = [
        (r["c_id"], r["cell_id"])
        for r in ivf_assign(emb, centroids).select("c_id", "cell_id").collect()
    ]
    digest, sizes = _canonical_assignment_digest(pairs)

    golden_path = os.path.join(os.path.dirname(__file__), "golden", "kmeans_ivf_sf001.json")
    if os.environ.get("SPARK_GRAFT_REGEN_GOLDEN") == "1" or not os.path.exists(golden_path):
        with open(golden_path, "w") as f:
            json.dump(
                {"digest": digest, "cluster_sizes": sizes, "n_vectors": len(pairs)},
                f,
                indent=1,
            )
    with open(golden_path) as f:
        golden = json.load(f)
    assert len(pairs) == golden["n_vectors"]
    assert sizes == golden["cluster_sizes"], "cluster-size histogram drifted"
    assert digest == golden["digest"], "assignment partition drifted"


def test_lr_prediction_matches_golden(spark):
    """Determinism harness for the LR risk scorer (the other rows-only
    MLlib entry): the convex L2 fit at sf0.01 must reproduce the STORED
    golden — per-class prediction histogram, training accuracy, and a
    digest of the predicted-label sequence in vec_id order (integer
    labels only, no float scores). A regression in feature assembly,
    label casting, or solver config changes the digest. Regenerate with
    SPARK_GRAFT_REGEN_GOLDEN=1."""
    import hashlib
    import json
    import os

    from wallet_and_risky_features_data_pipeline_spark.plans.ml_ops import risk_score_lr

    rows = sorted(
        (r.vec_id, r.label, r.predicted_label)
        for r in risk_score_lr(spark, "/root/testdata/sf0.01").collect()
    )
    digest = hashlib.md5(
        ";".join(f"{v}:{p}" for v, _, p in rows).encode()
    ).hexdigest()
    hist: dict[str, int] = {}
    for _, _, p in rows:
        hist[str(p)] = hist.get(str(p), 0) + 1
    acc = sum(1 for _, y, p in rows if y == p) / len(rows)

    golden_path = os.path.join(os.path.dirname(__file__), "golden", "lr_risk_sf001.json")
    if os.environ.get("SPARK_GRAFT_REGEN_GOLDEN") == "1" or not os.path.exists(golden_path):
        with open(golden_path, "w") as f:
            json.dump(
                {
                    "digest": digest,
                    "prediction_hist": hist,
                    "train_accuracy": round(acc, 6),
                    "n_rows": len(rows),
                },
                f,
                indent=1,
            )
    with open(golden_path) as f:
        golden = json.load(f)
    assert len(rows) == golden["n_rows"]
    assert hist == golden["prediction_hist"], "prediction histogram drifted"
    assert round(acc, 6) == golden["train_accuracy"], "training accuracy drifted"
    assert digest == golden["digest"], "prediction sequence drifted"


def test_doc_quality_lr_matches_golden(spark):
    """Determinism harness for the quality-classifier filter (third
    rows-only MLlib entry): the convex L2 fit at sf0.01 must reproduce
    the STORED golden — keep-rate histogram and a digest of the integer
    keep decisions in doc_id order (no float scores in the digest).
    Also pins the filter semantics: every doc is scored, score in
    [0, 1], keep == (score >= 0.5). Regenerate with
    SPARK_GRAFT_REGEN_GOLDEN=1."""
    import hashlib
    import json
    import os

    from wallet_and_risky_features_data_pipeline_spark.plans.ml_ops import doc_quality_lr

    out = doc_quality_lr(spark, "/root/testdata/sf0.01").collect()
    assert len(out) == 500
    for r in out:
        assert 0.0 <= r.quality_score <= 1.0
        assert r.keep == int(r.quality_score >= 0.5)
    # discriminative, not vacuous: the filter must actually split
    kept_n = sum(r.keep for r in out)
    assert 0 < kept_n < len(out)
    rows = sorted((r.doc_id, r.keep) for r in out)
    digest = hashlib.md5(";".join(f"{d}:{k}" for d, k in rows).encode()).hexdigest()
    kept = sum(k for _, k in rows)

    golden_path = os.path.join(
        os.path.dirname(__file__), "golden", "lr_quality_sf001.json"
    )
    if os.environ.get("SPARK_GRAFT_REGEN_GOLDEN") == "1" or not os.path.exists(
        golden_path
    ):
        with open(golden_path, "w") as f:
            json.dump({"digest": digest, "n_kept": kept, "n_rows": len(rows)}, f, indent=1)
    with open(golden_path) as f:
        golden = json.load(f)
    assert digest == golden["digest"]
    assert kept == golden["n_kept"]
    assert len(rows) == golden["n_rows"]


def test_entity_hot_block_collapses_before_fuzzy_match(spark, tmp_path):
    """The mechanical hot-block guard: a block holding 30 identical
    copies of one entity must collapse to ONE representative before
    the levenshtein stage (candidate work ∝ distinct², not rows²),
    the occupancy audit must surface the block, and the expanded
    output must still match the brute-force oracle exactly."""
    import duckdb

    from wallet_and_risky_features_data_pipeline_spark.plans.relational import (
        ENTITY_MATCH_ORACLE,
        _entity_groups,
        entity_block_occupancy,
        entity_match_pairs,
    )

    from .oracle_compare import compare

    rows = [(k, "Customer#X", 1, 500.0, "BUILDING") for k in range(1, 31)]
    rows += [
        (31, "Customer#Y", 1, 520.0, "BUILDING"),  # cross-group match ×30
        (32, "Customer#Q", 1, 9000.0, "BUILDING"),  # out of every band
        (33, "Customer#Z", 1, 490.0, "BUILDING"),  # adjacent band, matches
    ]
    df = spark.createDataFrame(
        rows, "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string"
    )
    path = str(tmp_path / "customer.parquet")
    df.write.parquet(path)

    # collapse: 30 copies → 1 rep; 4 distinct entities total
    groups = _entity_groups(spark, str(tmp_path)).collect()
    assert len(groups) == 4
    hot = next(g for g in groups if g["c_name"] == "Customer#X")
    assert len(hot["members"]) == 30 and hot["gid"] == 1

    # audit: the hot block is visible as rows >> entities
    occ = {
        (r["band"]): (r["n_rows"], r["n_entities"])
        for r in entity_block_occupancy(spark, str(tmp_path)).collect()
    }
    assert occ[5] == (31, 2)  # 30 copies + Customer#Y, but only 2 entities

    # output: exact brute-force parity (435 within + 61 cross pairs)
    pairs = entity_match_pairs(spark, str(tmp_path))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    ok, msg = compare(pairs, con, ENTITY_MATCH_ORACLE)
    con.close()
    assert ok, msg
    assert pairs.count() == 435 + 30 + 30 + 1


def test_ngram_decontamination_span_merge(spark, tmp_path):
    """Hand-computed span semantics for corpus_decontaminate_ngram
    (the oracle mirrors the same merge formula, so a shared formula
    bug would cross-match; this pins the intended union-of-windows
    arithmetic): hit at position i contaminates tokens [i, i+N-1];
    overlapping windows merge; N=4 here."""
    from wallet_and_risky_features_data_pipeline_spark.plans.llm_ops import (
        corpus_decontaminate_ngram,
    )

    rows = [
        (0, "a b c d e f", "en", "t", 11),  # bench (0 % 97 == 0)
        (1, "a b c d e f x y", "en", "t", 15),  # hits pos 1,2,3 -> 1 span
        (2, "a b c d z z z z c d e f", "en", "t", 23),  # hits 1,9 -> 2 spans
        (3, "z z z z z", "en", "t", 9),  # clean
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = {
        r["doc_id"]: r
        for r in corpus_decontaminate_ngram(spark, str(tmp_path)).collect()
    }
    assert set(out) == {1, 2, 3}  # bench doc excluded
    # doc 1: windows [1,4],[2,5],[3,6] merge to one span covering 6 tokens
    assert (out[1]["n_grams"], out[1]["n_hits"], out[1]["n_spans"]) == (5, 3, 1)
    assert out[1]["contaminated_tokens"] == 6 and out[1]["keep"] == 0
    # doc 2: windows [1,4] and [9,12] stay disjoint (gap 8 > N-1)
    assert (out[2]["n_grams"], out[2]["n_hits"], out[2]["n_spans"]) == (9, 2, 2)
    assert out[2]["contaminated_tokens"] == 8 and out[2]["keep"] == 0
    # doc 3: shorter than any collision, keep
    assert (out[3]["n_hits"], out[3]["keep"]) == (0, 1)


def test_ivf_int8_recall_and_degenerate_exactness(spark):
    """The quantized scan must cost nothing in answer quality here:
    (a) probing all cells with an unbounded rerank degenerates int8
    IVF to exact brute force (the same invariant the float path
    pins), and (b) at the registered probe settings the int8 path
    returns the IDENTICAL top-k set as float IVF — quantization
    residue stays below the rerank boundary."""
    from wallet_and_risky_features_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_int8_topk,
        ivf_topk,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.readers import read_table

    emb = read_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    cent = emb.filter(F.col("vec_id") < 8)
    n = emb.count()

    exact = {(r.q_id, r.c_id) for r in brute_force_topk(queries, emb, k=3).collect()}
    degen = {
        (r.q_id, r.c_id)
        for r in ivf_int8_topk(queries, emb, cent, k=3, n_probe=8, rerank=n).collect()
    }
    assert degen == exact and len(degen) > 0

    flt = {(r.q_id, r.c_id) for r in ivf_topk(queries, emb, cent, k=3, n_probe=3).collect()}
    i8 = {
        (r.q_id, r.c_id)
        for r in ivf_int8_topk(queries, emb, cent, k=3, n_probe=3, rerank=6).collect()
    }
    assert i8 == flt


def test_entity_collapse_matches_brute_force_property(spark, tmp_path):
    """Property: on random customer tables — duplicate records, names
    one edit apart, balances pinned on band boundaries, negatives —
    collapse-then-expand entity_match_pairs emits EXACTLY the pairs a
    driver-side brute force over all within-(nation, segment) pairs
    does. The band explode-probe and the group expansion can't lose or
    double a pair anywhere in that space."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from wallet_and_risky_features_data_pipeline_spark.plans.relational import (
        ENTITY_BAL_DELTA,
        ENTITY_NAME_DIST,
        entity_match_pairs,
    )

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    names = st.sampled_from(["ab", "ac", "abc", "abd", "xbc", "zz", "zzq"])
    # balances ON the 100-band boundary, adjacent, negative, and far
    bals = st.sampled_from([-150.0, -100.0, -0.5, 0.0, 99.9, 100.0, 199.9, 500.0])
    rows_st = st.lists(
        st.tuples(names, st.integers(1, 2), bals), min_size=2, max_size=12
    )

    counter = [0]

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(rows=rows_st)
    def check(rows):
        counter[0] += 1
        recs = [
            (k + 1, name, nat, bal, "SEG") for k, (name, nat, bal) in enumerate(rows)
        ]
        d = tmp_path / f"case{counter[0]}"
        d.mkdir(exist_ok=True)
        spark.createDataFrame(
            recs,
            "c_custkey long, c_name string, c_nationkey int, "
            "c_acctbal double, c_mktsegment string",
        ).write.mode("overwrite").parquet(str(d / "customer.parquet"))

        expected = set()
        for i in range(len(recs)):
            for j in range(i + 1, len(recs)):
                a, b = recs[i], recs[j]
                if (
                    a[2] == b[2]
                    and lev(a[1], b[1]) <= ENTITY_NAME_DIST
                    and abs(a[3] - b[3]) < ENTITY_BAL_DELTA
                ):
                    expected.add((a[0], b[0]))
        got = {
            (r["a_key"], r["b_key"])
            for r in entity_match_pairs(spark, str(d)).collect()
        }
        assert got == expected, (sorted(got ^ expected), recs)

    check()


def test_adaptive_routing_matches_plain_window(spark):
    """Occupancy-triggered routing (VERDICT r8 #7): with the threshold
    forced low enough that real wallets trip it, hot keys go through
    the chunked two-phase path, cold keys through the serial window,
    and the union equals the plain window over everything. Also pins
    that the hot branch actually ROUTED rows (a threshold nobody
    crosses would make this test vacuous)."""
    from wallet_and_risky_features_data_pipeline_spark.operators.skew import (
        adaptive_running_sum,
    )

    wt = wallet_transactions(spark, SF_SMALL)
    key = ["wallet_address"]
    threshold = 50  # sf0.001 wallets: several exceed 50 legs

    hot_n = (
        wt.groupBy("wallet_address")
        .count()
        .filter(F.col("count") > threshold)
        .count()
    )
    assert hot_n > 0, "threshold must split the keys for a meaningful test"

    plain = wt.withColumn(
        "expected",
        F.sum("signed_value").over(
            Window.partitionBy("wallet_address")
            .orderBy(*ORDER_COLS)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    adaptive = adaptive_running_sum(
        wt,
        F.col("signed_value"),
        key,
        list(ORDER_COLS),
        out="got",
        chunk_expr=F.date_trunc("day", F.col("ts")),
        threshold=threshold,
    )
    jk = ["event_id", "wallet_address", "address_role"]
    merged = (
        plain.select(*jk, "expected")
        .join(adaptive.select(*jk, "got"), on=jk)
    )
    assert merged.count() == plain.count()
    assert merged.filter(F.col("expected") != F.col("got")).count() == 0


@pytest.mark.fullsuite
def test_range_search_sound_and_recall(spark):
    """lsh_range_search is SOUND (every returned pair truly has
    cosine ≥ τ — exact-decimal verified against brute force) and its
    one-sided approximation recovers a reasonable share of the true
    radius neighbors on the synthetic corpus. Soundness must be exact;
    recall is the documented LSH trade."""
    from pyspark.sql import functions as F

    from wallet_and_risky_features_data_pipeline_spark.operators.similarity import (
        _dot,
        lsh_range_search,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.readers import read_table

    tau = 0.2
    emb = read_table(spark, SF_SMALL, "embeddings")
    got = {
        (r.a_id, r.b_id): r.cosine
        for r in lsh_range_search(emb, threshold=tau).collect()
    }

    a = emb.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_vec"))
    b = emb.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_vec"))
    cosine = _dot("a_vec", "b_vec") / (
        F.sqrt(_dot("a_vec", "a_vec")) * F.sqrt(_dot("b_vec", "b_vec"))
    )
    brute = {
        (r.a_id, r.b_id): r.cosine
        for r in a.crossJoin(b)
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("cosine", cosine)
        .filter(F.col("cosine") >= tau - 1e-5)
        .collect()
    }
    # soundness: subset of the brute radius set (the emitted cosine is
    # the integer-quantized recipe, the brute here the decimal one —
    # they agree to quantization error, and a boundary pair can only
    # differ by that error, hence the epsilon on the radius filter)
    for pair, cos in got.items():
        assert pair in brute, pair
        assert abs(brute[pair] - cos) < 1e-5, (pair, cos, brute[pair])
    # recall: banded OR (4 bands x 4 bits) must beat the single
    # 8-bit bucket's measured 0.9% collapse by a wide margin
    assert brute, "tau too high for the synthetic corpus"
    recall = len(got) / len(brute)
    assert recall >= 0.15, f"recall collapsed: {recall:.3f} ({len(got)}/{len(brute)})"


def test_kcore_invariants_and_maximality(spark):
    """Semantic invariants the oracle can't state: (a) every in-core
    node keeps >= K neighbors INSIDE the core (k-core closure), (b)
    maximality — no peeled node still has >= K in-core neighbors (the
    peel never stops early), (c) the core's edge set is the induced
    subgraph of the full counterparty graph."""
    from wallet_and_risky_features_data_pipeline_spark.plans.risk_features import (
        KCORE_K,
        wallet_kcore,
    )
    from wallet_and_risky_features_data_pipeline_spark.plans.wallet_model import (
        wallet_transactions,
    )

    res = wallet_kcore(spark, SF_SMALL).toPandas()
    assert (res.loc[res.in_core == 1, "core_degree"] >= KCORE_K).all()
    assert (res.loc[res.in_core == 0, "core_degree"] == 0).all()

    wt = wallet_transactions(spark, SF_SMALL)
    legs = (
        wt.filter(
            (F.col("address_role") == "sender")
            & F.col("interacted_with").isNotNull()
        )
        .select(
            F.col("wallet_address").cast("bigint").alias("u"),
            F.col("interacted_with").cast("bigint").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
    )
    und = (
        legs.select(F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b"))
        .distinct()
        .toPandas()
    )
    core = set(res.loc[res.in_core == 1, "wallet_address"].astype("int64"))
    # recompute in-core neighbor counts from the raw edge set
    from collections import Counter

    in_core_deg: Counter = Counter()
    for a, b in zip(und.a, und.b):
        if a in core and b in core:
            in_core_deg[a] += 1
            in_core_deg[b] += 1
    for _, row in res.iterrows():
        w = int(row.wallet_address)
        if row.in_core == 1:
            assert in_core_deg[w] == row.core_degree
        else:
            # maximality: adding w back would NOT give it K in-core edges
            neighbors_in_core = sum(
                1
                for a, b in zip(und.a, und.b)
                if (a == w and b in core) or (b == w and a in core)
            )
            assert neighbors_in_core < KCORE_K


def test_bpe_pairs_match_pure_python_recount(spark):
    """Exact recount of the BPE pair table from the raw corpus in
    pure Python (no truncation ambiguity: compare the top-K slice
    under the same (freq desc, pair asc) total order)."""
    from collections import Counter

    from wallet_and_risky_features_data_pipeline_spark.plans.llm_ops import (
        BPE_TOP_K,
        corpus_bpe_pairs,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.readers import (
        read_table,
    )

    res = corpus_bpe_pairs(spark, SF_SMALL).toPandas()
    texts = read_table(spark, SF_SMALL, "documents").select("text").toPandas()
    wc: Counter = Counter()
    for t in texts.text:
        for w in t.strip().lower().split():
            if len(w) >= 2:
                wc[w] += 1
    pc: Counter = Counter()
    for w, n in wc.items():
        for i in range(len(w) - 1):
            pc[(w[i], w[i + 1])] += n
    expect = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[:BPE_TOP_K]
    got = [((r.left_sym, r.right_sym), r.freq) for r in res.itertuples()]
    assert got == expect


def test_event_transitions_pure_python_recount(spark):
    """Exact recount of the Markov transition matrix in pure Python
    (per-user (ts, event_id) total order), plus the distribution
    invariant the oracle can't state directly: probabilities are
    n/sum(n) per source type (sum to ~1 over each from_type)."""
    from collections import Counter, defaultdict

    from wallet_and_risky_features_data_pipeline_spark.plans.sessionization import (
        event_transitions,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.readers import (
        read_table,
    )

    res = event_transitions(spark, SF_SMALL).toPandas()
    ev = (
        read_table(spark, SF_SMALL, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .toPandas()
    )
    by_user = defaultdict(list)
    for r in ev.itertuples():
        by_user[r.user_id].append((r.ts, r.event_id, r.event_type))
    pairs: Counter = Counter()
    users = defaultdict(set)
    for u, rows in by_user.items():
        rows.sort()
        for (_, _, a), (_, _, b) in zip(rows, rows[1:]):
            pairs[(a, b)] += 1
            users[(a, b)].add(u)
    got = {(r.from_type, r.to_type): (r.n_transitions, r.n_users) for r in res.itertuples()}
    assert got == {k: (n, len(users[k])) for k, n in pairs.items()}
    per_from = res.groupby("from_type")["p_transition"].sum()
    assert ((per_from - 1.0).abs() < 1e-4).all(), per_from


def test_wallet_ewma_matches_pure_python_fold(spark):
    """Recompute the EWMA fold in pure Python from the wallet's daily
    decimal nets — same init (first day), same recurrence, same
    rounding — and require exact equality after round(6)."""
    from collections import defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    from wallet_and_risky_features_data_pipeline_spark.plans.risk_features import (
        EWMA_ALPHA,
        wallet_ewma_value,
    )
    from wallet_and_risky_features_data_pipeline_spark.plans.wallet_model import (
        wallet_transactions,
    )

    res = wallet_ewma_value(spark, SF_SMALL).toPandas()
    wt = (
        wallet_transactions(spark, SF_SMALL)
        .select("wallet_address", F.to_date("ts").alias("day"), "signed_value")
        .toPandas()
    )
    nets: dict = defaultdict(lambda: defaultdict(Decimal))
    for r in wt.itertuples():
        nets[r.wallet_address][r.day] += Decimal(str(r.signed_value))
    for r in res.itertuples():
        series = [float(v) for _, v in sorted(nets[r.wallet_address].items())]
        acc = series[0]
        for v in series[1:]:
            acc = EWMA_ALPHA * v + (1 - EWMA_ALPHA) * acc
        # Spark/DuckDB ROUND is half-away-from-zero on the double's
        # shortest decimal repr; Python's round is banker's — mirror
        # the engines, not Python
        want = float(
            Decimal(repr(acc)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)
        )
        assert want == r.ewma_net, (r.wallet_address, acc, want, r.ewma_net)
        assert r.n_days == len(series)


def test_zorder_layout_invariants(spark):
    """Morton-cell invariants: (a) every cell's z envelope stays
    inside the cell's fixed bit prefix (min_z>>shift == cell_id ==
    max_z>>shift — the property that makes cells prunable), (b) the
    cells partition the corpus (n_docs sums to the doc count), (c) a
    pure-Python bit interleave over the raw dims reproduces the
    per-cell occupancy exactly."""
    from collections import Counter

    from wallet_and_risky_features_data_pipeline_spark.plans.llm_ops import (
        ZORDER_BITS,
        ZORDER_CELL_SHIFT,
        corpus_zorder_layout,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.readers import (
        read_table,
    )

    res = corpus_zorder_layout(spark, SF_SMALL).toPandas()
    cell_div = 1 << ZORDER_CELL_SHIFT
    assert ((res.min_z // cell_div) == res.cell_id).all()
    assert ((res.max_z // cell_div) == res.cell_id).all()
    assert (res.min_chars <= res.max_chars).all()
    assert (res.min_tokens <= res.max_tokens).all()

    docs = read_table(spark, SF_SMALL, "documents").select("text", "n_chars").toPandas()
    cap = (1 << ZORDER_BITS) - 1

    def interleave(x: int, y: int) -> int:
        z = 0
        for i in range(ZORDER_BITS):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    cells: Counter = Counter()
    for r in docs.itertuples():
        x = min(int(r.n_chars), cap)
        y = min(len(r.text.strip().split()), cap)
        cells[interleave(x, y) >> ZORDER_CELL_SHIFT] += 1
    assert cells == {int(r.cell_id): int(r.n_docs) for r in res.itertuples()}
    assert res.n_docs.sum() == len(docs)


def test_wallet_autocorr_pure_python_recount(spark):
    """Exact-arithmetic recount of the lag-1 Pearson r from raw daily
    cents (Python ints for the moments, one float division at the
    end), plus |r| <= 1 and the degenerate-variance guard."""
    from collections import defaultdict
    from decimal import Decimal

    from wallet_and_risky_features_data_pipeline_spark.plans.risk_features import (
        AUTOCORR_MIN_PAIRS,
        wallet_flow_autocorr,
    )
    from wallet_and_risky_features_data_pipeline_spark.plans.wallet_model import (
        wallet_transactions,
    )

    res = wallet_flow_autocorr(spark, SF_SMALL).toPandas()
    wt = (
        wallet_transactions(spark, SF_SMALL)
        .select("wallet_address", F.to_date("ts").alias("day"), "signed_value")
        .toPandas()
    )
    nets: dict = defaultdict(lambda: defaultdict(Decimal))
    for r in wt.itertuples():
        nets[r.wallet_address][r.day] += Decimal(str(r.signed_value))
    import math

    for row in res.itertuples():
        days = sorted(nets[row.wallet_address].items())
        cents = [
            int((v * 100).quantize(Decimal("1"), rounding="ROUND_HALF_UP"))
            for _, v in days
        ]
        pairs = list(zip(cents, cents[1:]))
        assert row.n_pairs == len(pairs)
        n = len(pairs)
        sx = sum(x for x, _ in pairs)
        sy = sum(y for _, y in pairs)
        sxy = sum(x * y for x, y in pairs)
        sxx = sum(x * x for x, _ in pairs)
        syy = sum(y * y for _, y in pairs)
        dx, dy = n * sxx - sx * sx, n * syy - sy * sy
        if n < AUTOCORR_MIN_PAIRS or dx <= 0 or dy <= 0:
            assert row.lag1_autocorr is None or math.isnan(row.lag1_autocorr)
        else:
            r_exact = float(n * sxy - sx * sy) / math.sqrt(float(dx) * float(dy))
            assert abs(r_exact) <= 1.0 + 1e-12
            assert abs(row.lag1_autocorr - r_exact) < 1.5e-6, (
                row.wallet_address,
                row.lag1_autocorr,
                r_exact,
            )


def test_bm25_matches_pure_python(spark):
    """Pure-Python BM25 recount (math.log idf, same quantization) —
    scores match to float tolerance and every scored doc contains at
    least one query term; docs with no term never appear."""
    import math

    from wallet_and_risky_features_data_pipeline_spark.plans.llm_ops import (
        BM25_B,
        BM25_K1,
        BM25_QUERY_TERMS,
        text_bm25_search,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.readers import (
        read_table,
    )

    res = text_bm25_search(spark, SF_SMALL).toPandas().set_index("doc_id")
    docs = read_table(spark, SF_SMALL, "documents").select("doc_id", "text").toPandas()
    toks = {r.doc_id: r.text.strip().lower().split() for r in docs.itertuples()}
    n = len(toks)
    sum_dl = sum(len(t) for t in toks.values())
    tf = {
        d: {t: ts.count(t) for t in BM25_QUERY_TERMS} for d, ts in toks.items()
    }
    df = {t: sum(1 for d in tf if tf[d][t] > 0) for t in BM25_QUERY_TERMS}
    idf = {
        t: round(math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0) * 1e6) / 1e6
        for t in BM25_QUERY_TERMS
    }
    hits = 0
    for d, ts in toks.items():
        dl = len(ts)
        norm = 1.0 - BM25_B + BM25_B * (dl * float(n) / sum_dl)
        score = sum(
            idf[t]
            * (tf[d][t] * (BM25_K1 + 1.0) / (tf[d][t] + BM25_K1 * norm))
            for t in BM25_QUERY_TERMS
        )
        if score > 0:
            hits += 1
            assert d in res.index, d
            assert abs(res.loc[d, "bm25"] - score) < 1e-5, (d, score)
            assert any(tf[d][t] > 0 for t in BM25_QUERY_TERMS)
        else:
            assert d not in res.index, d
    assert hits == len(res)


def test_cusum_matches_pure_python_recurrence(spark):
    """The closed form (prefix sum − running min) must equal the
    LITERAL recurrence s_t = max(0, s_{t−1} + x_t − k) replayed in
    exact Python ints — the identity the plan's two-window shape
    rests on, checked on real data rather than trusted from algebra."""
    from wallet_and_risky_features_data_pipeline_spark.plans.risk_features import (
        CUSUM_ALARM_C,
        CUSUM_ALLOWANCE_C,
        wallet_cusum_drift,
    )
    from wallet_and_risky_features_data_pipeline_spark.plans.wallet_model import (
        wallet_transactions,
    )

    got = {
        r.wallet_address: (r.n_days, r.max_cusum_c, r.final_cusum_c, r.n_alarm_days)
        for r in wallet_cusum_drift(spark, SF_SMALL).collect()
    }
    legs = wallet_transactions(spark, SF_SMALL).collect()
    per_day = {}
    for r in legs:
        key = (r.wallet_address, r.ts.date())
        per_day[key] = per_day.get(key, 0) + r.signed_value
    series = {}
    for (w, day), net in per_day.items():
        series.setdefault(w, []).append((day, int(round(net * 100))))
    assert set(series) == set(got)
    for w, days in series.items():
        s = 0
        mx = alarms = 0
        for _, net_c in sorted(days):
            s = max(0, s + net_c - CUSUM_ALLOWANCE_C)
            mx = max(mx, s)
            alarms += 1 if s > CUSUM_ALARM_C else 0
        assert got[w] == (len(days), mx, s, alarms), w


def test_benford_shares_sum_and_bounds(spark):
    """Digits are exactly 1..9, shares sum to 1 (every price has a
    first digit), counts recount against a pure-Python digit walk."""
    from wallet_and_risky_features_data_pipeline_spark.plans.dq_plans import (
        BENFORD_EXPECTED,
        dq_benford_digits,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.readers import (
        read_table,
    )

    rows = dq_benford_digits(spark, SF_SMALL).collect()
    prices = [
        r.l_extendedprice
        for r in read_table(spark, SF_SMALL, "lineitem")
        .select("l_extendedprice")
        .collect()
    ]
    want = {}
    for p in prices:
        d = int(str(int(p * 100))[0])
        want[d] = want.get(d, 0) + 1
    assert {r.digit: r.n for r in rows} == want
    assert all(1 <= r.digit <= 9 for r in rows)
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert r.expected_share == BENFORD_EXPECTED[r.digit]
        assert abs(r.abs_dev - abs(r.share - r.expected_share)) < 1e-5


def test_gini_matches_pure_python(spark):
    """O(n log n) exact-int recount of the shifted Gini per nation,
    plus the [0, 1) bound the shifted series guarantees."""
    from fractions import Fraction

    from wallet_and_risky_features_data_pipeline_spark.plans.dq_plans import (
        dq_gini_acctbal,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.readers import (
        read_table,
    )

    got = {
        r.nationkey: (r.n_customers, r.gini_shifted)
        for r in dq_gini_acctbal(spark, SF_SMALL).collect()
    }
    cust = (
        read_table(spark, SF_SMALL, "customer")
        .select("c_nationkey", "c_custkey", "c_acctbal")
        .collect()
    )
    nations = {}
    for r in cust:
        nations.setdefault(r.c_nationkey, []).append(
            (int(round(r.c_acctbal * 100)), r.c_custkey)
        )
    assert set(nations) == set(got)
    for nk, vals in nations.items():
        vals.sort()
        lo = min(c for c, _ in vals)
        xs = [c - lo for c, _ in vals]
        n, sx = len(xs), sum(xs)
        if sx == 0:
            assert got[nk] == (n, None)
            continue
        num = sum((2 * (i + 1) - n - 1) * x for i, x in enumerate(xs))
        g = Fraction(num, n * sx)
        assert 0 <= g < 1
        assert got[nk][0] == n
        assert abs(got[nk][1] - float(g)) < 1e-5, nk


def test_lpa_matches_pure_python_sync_rounds(spark):
    """Literal synchronous LPA replay in Python dicts — same edge
    set, same (count DESC, label ASC) argmax, LPA_ROUNDS rounds —
    must reproduce every node's community and the community sizes."""
    from collections import Counter, defaultdict

    from wallet_and_risky_features_data_pipeline_spark.plans.risk_features import (
        LPA_ROUNDS,
        wallet_label_propagation,
    )
    from wallet_and_risky_features_data_pipeline_spark.plans.wallet_model import (
        wallet_transactions,
    )

    got = {
        r.wallet_address: (r.community, r.community_size)
        for r in wallet_label_propagation(spark, SF_SMALL).collect()
    }
    legs = wallet_transactions(spark, SF_SMALL).collect()
    adj = defaultdict(set)
    for r in legs:
        if r.address_role == "sender" and r.interacted_with is not None:
            u, v = int(r.wallet_address), int(r.interacted_with)
            if u != v:
                adj[u].add(v)
                adj[v].add(u)
    lbl = {n: n for n in adj}
    for _ in range(LPA_ROUNDS):
        nxt = {}
        for n, nbrs in adj.items():
            cnt = Counter(lbl[m] for m in nbrs)
            best = max(cnt.values())
            nxt[n] = min(l for l, c in cnt.items() if c == best)
        lbl = nxt
    sizes = Counter(lbl.values())
    want = {str(n): (l, sizes[l]) for n, l in lbl.items()}
    assert got == want


def test_pmi_matches_pure_python(spark):
    """math.log recount of PMI over pure-Python bigram/unigram counts
    (same 1e-6 quantization); the returned top-k must equal the
    recount's own (pmi desc, w1, w2) head."""
    import math
    from collections import Counter

    from wallet_and_risky_features_data_pipeline_spark.plans.llm_ops import (
        PMI_MIN_PAIR_COUNT,
        PMI_TOP_K,
        corpus_pmi_collocations,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.readers import (
        read_table,
    )

    rows = corpus_pmi_collocations(spark, SF_SMALL).collect()
    docs = read_table(spark, SF_SMALL, "documents").select("text").collect()
    uni, pair = Counter(), Counter()
    for r in docs:
        tk = r.text.strip().lower().split()
        uni.update(tk)
        pair.update(zip(tk, tk[1:]))
    n_tok, n_big = sum(uni.values()), sum(pair.values())
    scored = []
    for (w1, w2), c12 in pair.items():
        if c12 < PMI_MIN_PAIR_COUNT:
            continue
        pmi = round(
            math.log((c12 * n_tok * n_tok) / (n_big * uni[w1] * uni[w2])) * 1e6
        ) / 1e6
        scored.append((-pmi, w1, w2, c12, uni[w1], uni[w2]))
    scored.sort()
    want = [
        (w1, w2, c12, c1, c2, -np)
        for np, w1, w2, c12, c1, c2 in scored[:PMI_TOP_K]
    ]
    got = [(r.w1, r.w2, r.n_pair, r.n_w1, r.n_w2, r.pmi) for r in rows]
    assert got == want


def test_user_cusum_closed_form_matches_recurrence(spark):
    """Closed form (prefix − running min) ≡ literal event-grain
    recurrence replayed in exact Python ints over (ts, event_id)
    order — the same identity test as the daily detector, at the
    grain the streaming mirror runs on."""
    from wallet_and_risky_features_data_pipeline_spark.plans.sketch_plans import (
        CUSUM_EVENT_ALARM_C,
        CUSUM_EVENT_ALLOWANCE_C,
        user_cusum_alerts,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.readers import (
        read_table,
        normalize_event_ts,
    )

    got = {
        r.user_id: (r.n_events, r.max_cusum_c, r.final_cusum_c, r.n_alarms)
        for r in user_cusum_alerts(spark, SF_SMALL).collect()
    }
    ev = (
        normalize_event_ts(read_table(spark, SF_SMALL, "events"))
        .select("user_id", "event_id", "ts", "value")
        .collect()
    )
    series = {}
    for r in ev:
        series.setdefault(r.user_id, []).append((r.ts, r.event_id, r.value))
    assert set(series) == set(got)
    for u, evs in series.items():
        s = mx = alarms = 0
        for _, _, v in sorted(evs, key=lambda t: (t[0], t[1])):
            v100 = v * 100
            cents = (
                int(v100 + 0.5) if v100 >= 0 else -int(-v100 + 0.5)
            )
            s = max(0, s + cents - CUSUM_EVENT_ALLOWANCE_C)
            mx = max(mx, s)
            alarms += 1 if s > CUSUM_EVENT_ALARM_C else 0
        assert got[u] == (len(evs), mx, s, alarms), u


def test_refint_edges_and_clean_fixture(spark):
    """Every declared FK edge reports; the generated star schema is
    referentially clean (0 orphans everywhere), and child counts
    match the raw table counts."""
    from wallet_and_risky_features_data_pipeline_spark.plans.dq_plans import (
        FK_EDGES,
        dq_referential_integrity,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.readers import (
        read_table,
    )

    rows = {r.fk: (r.n_child, r.n_orphans) for r in
            dq_referential_integrity(spark, SF_SMALL).collect()}
    assert set(rows) == {e[0] for e in FK_EDGES}
    for fk_name, child, _, _, _ in FK_EDGES:
        n_child, n_orphans = rows[fk_name]
        assert n_orphans == 0, fk_name
        assert n_child == read_table(spark, SF_SMALL, child).count()


def test_modularity_matches_pure_python(spark):
    """Exact recount: rebuild the LPA labels with the dict replay
    (already pinned by the LPA test), then recompute e_c, d_c, m and
    every community's Q contribution in Python floats with the same
    operation order; also checks Σ n_nodes covers the graph and each
    |contribution| < 1."""
    from collections import Counter, defaultdict

    from wallet_and_risky_features_data_pipeline_spark.plans.risk_features import (
        LPA_ROUNDS,
        wallet_community_modularity,
    )
    from wallet_and_risky_features_data_pipeline_spark.plans.wallet_model import (
        wallet_transactions,
    )

    got = {
        r.community: (r.n_nodes, r.e_in, r.d_tot, r.q_contribution)
        for r in wallet_community_modularity(spark, SF_SMALL).collect()
    }
    legs = wallet_transactions(spark, SF_SMALL).collect()
    edges = set()
    for r in legs:
        if r.address_role == "sender" and r.interacted_with is not None:
            u, v = int(r.wallet_address), int(r.interacted_with)
            if u != v:
                edges.add((min(u, v), max(u, v)))
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    lbl = {n: n for n in adj}
    for _ in range(LPA_ROUNDS):
        nxt = {}
        for n, nbrs in adj.items():
            cnt = Counter(lbl[m] for m in nbrs)
            best = max(cnt.values())
            nxt[n] = min(l for l, c in cnt.items() if c == best)
        lbl = nxt
    m = len(edges)
    e_in, d_tot, n_nodes = Counter(), Counter(), Counter()
    for a, b in edges:
        if lbl[a] == lbl[b]:
            e_in[lbl[a]] += 1
    for n in adj:
        d_tot[lbl[n]] += len(adj[n])
        n_nodes[lbl[n]] += 1
    assert set(got) == set(n_nodes)
    assert sum(nn for nn, _, _, _ in got.values()) == len(adj)
    for c in n_nodes:
        b = d_tot[c] / (2 * m)
        q = round(e_in[c] / m - b * b, 6)
        assert got[c] == (n_nodes[c], e_in[c], d_tot[c], q), c
        assert abs(q) < 1


def test_entropy_matches_pure_python(spark):
    """math.log recount with identical quantization and hour-order
    fold; uniformity bound H <= ln(n_active_hours) + fold-order slack."""
    import math
    from collections import Counter, defaultdict

    from wallet_and_risky_features_data_pipeline_spark.plans.sessionization import (
        user_activity_entropy,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.readers import (
        read_table,
    )

    got = {
        r.user_id: (r.n_events, r.n_active_hours, r.top_hour, r.hour_entropy)
        for r in user_activity_entropy(spark, SF_SMALL).collect()
    }
    ev = read_table(spark, SF_SMALL, "events").select("user_id", "ts").collect()
    hours = defaultdict(Counter)
    for r in ev:
        hours[r.user_id][r.ts.hour] += 1
    assert set(hours) == set(got)
    for u, cnt in hours.items():
        n = sum(cnt.values())
        top = min(h for h, c in cnt.items() if c == max(cnt.values()))
        h_val = 0.0
        for hh in sorted(cnt):
            p = cnt[hh] / n
            h_val += -p * (round(math.log(p) * 1e6) / 1e6)
        h_val = round(h_val, 6)
        assert got[u] == (n, len(cnt), top, h_val), u
        assert h_val <= math.log(len(cnt)) + 1e-6


def test_weighted_median_matches_pure_python(spark):
    """Exact integer recount: expand each lineitem to (cents, qty)
    per brand, sort, walk cumulative weights to the 2*cum >= total
    crossing — plus the defining property: weight strictly below the
    median < half total, weight at-or-below >= half."""
    from collections import defaultdict

    from wallet_and_risky_features_data_pipeline_spark.plans.sketch_plans import (
        brand_weighted_median,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.readers import (
        read_table,
    )

    got = {
        r.p_brand: (r.n_items, r.total_weight, r.median_price_c)
        for r in brand_weighted_median(spark, SF_SMALL).collect()
    }
    li = read_table(spark, SF_SMALL, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_quantity"
    ).collect()
    brand = {
        r.p_partkey: r.p_brand
        for r in read_table(spark, SF_SMALL, "part").select(
            "p_partkey", "p_brand"
        ).collect()
    }
    rows = defaultdict(list)
    for r in li:
        rows[brand[r.l_partkey]].append(
            (int(round(r.l_extendedprice * 100)), int(r.l_quantity))
        )
    assert set(rows) == set(got)
    for b, items in rows.items():
        items.sort()
        total = sum(w for _, w in items)
        cum = 0
        median = None
        for cents, w in items:
            cum += w
            if 2 * cum >= total:
                median = cents
                break
        assert got[b] == (len(items), total, median), b
        below = sum(w for c, w in items if c < median)
        at_or_below = sum(w for c, w in items if c <= median)
        assert 2 * below < total <= 2 * at_or_below


def test_assoc_rules_matches_pure_python(spark):
    """Counter recount of session membership, pair counts, and all
    four metrics — plus the sanity identities conf_a_to_b * n_a ==
    n_ab and lift symmetry."""
    from collections import Counter, defaultdict

    from wallet_and_risky_features_data_pipeline_spark.plans.sessionization import (
        ASSOC_MIN_SUPPORT_COUNT,
        SESSION_GAP_MIN,
        session_association_rules,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.readers import (
        read_table,
    )

    got = {
        (r.a, r.b): (r.n_ab, r.n_a, r.n_b, r.support,
                     r.conf_a_to_b, r.conf_b_to_a, r.lift)
        for r in session_association_rules(spark, SF_SMALL).collect()
    }
    ev = (
        read_table(spark, SF_SMALL, "events")
        .select("user_id", "event_id", "ts", "event_type")
        .collect()
    )
    by_user = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append((r.ts, r.event_id, r.event_type))
    sessions = []
    for u, rows in by_user.items():
        rows.sort(key=lambda t: (t[0], t[1]))
        cur, last = None, None
        for ts, _, et in rows:
            if last is None or (ts - last).total_seconds() > SESSION_GAP_MIN * 60:
                if cur:
                    sessions.append(cur)
                cur = set()
            cur.add(et)
            last = ts
        if cur:
            sessions.append(cur)
    n_sessions = len(sessions)
    item, pair = Counter(), Counter()
    for s in sessions:
        for t in s:
            item[t] += 1
        ts = sorted(s)
        for i, a in enumerate(ts):
            for b in ts[i + 1:]:
                pair[(a, b)] += 1
    want = {}
    for (a, b), n_ab in pair.items():
        if n_ab < ASSOC_MIN_SUPPORT_COUNT:
            continue
        want[(a, b)] = (
            n_ab, item[a], item[b],
            round(n_ab / n_sessions, 6),
            round(n_ab / item[a], 6),
            round(n_ab / item[b], 6),
            round((n_ab * n_sessions) / (item[a] * item[b]), 6),
        )
    assert got == want
    for (a, b), (n_ab, n_a, n_b, _, cab, cba, lift) in got.items():
        assert abs(cab * n_a - n_ab) < 1e-3 and abs(cba * n_b - n_ab) < 1e-3


def test_range_band_r_selection_matches_oracle_case_sql(spark):
    """ADVICE r9: the plan's adaptive band width and the oracle's SQL
    CASE must pick the SAME r at every corpus size. Both now derive r
    from all-integer thresholds off the same constant; this drives the
    generated CASE through DuckDB against range_band_bits for corpus
    sizes bracketing every threshold (and the old float-edge zone)."""
    import duckdb

    from wallet_and_risky_features_data_pipeline_spark.operators.similarity import (
        RANGE_TARGET_PAIRS_PER_BAND,
        range_band_bits,
    )
    from wallet_and_risky_features_data_pipeline_spark.plans.llm_ops import (
        _range_r_sql,
    )

    # CAST like the real COUNT(*) (BIGINT) — a bare INT32 literal
    # overflows n*n in DuckDB at n≈46k, which the oracle never does
    case_sql = _range_r_sql().replace(
        "(SELECT COUNT(*) AS n FROM embeddings)",
        "(SELECT CAST(? AS BIGINT) AS n)",
    )
    con = duckdb.connect()
    sizes = [0, 1, 100, 1000]
    for r in range(4, 9):
        edge = int((RANGE_TARGET_PAIRS_PER_BAND * (1 << r)) ** 0.5)
        sizes += [edge - 1, edge, edge + 1]
    sizes += [8000, 8001, 20_000, 56_000, 100_000, 1_000_000]
    for n in sizes:
        (got,) = con.execute(f"SELECT {case_sql}".replace("?", str(n))).fetchone()
        assert got == range_band_bits(n), (n, got, range_band_bits(n))


def test_range_band_bucket_keys_match_oracle_prefix_sql(spark):
    """Layout parity at EVERY band width, not just the sf0.01 r=4:
    for each pool and each r in 4..8, the plan's lsh_bucket key over
    pool[:r] must equal the first r characters of the oracle's
    generated 8-bit key SQL on the same vectors. Together with the
    r-selection parity test this proves the candidate joins agree at
    any scale — the two sides bucket identically, so they join
    identically."""
    import duckdb

    from wallet_and_risky_features_data_pipeline_spark.operators.similarity import (
        RANGE_BAND_POOLS,
        lsh_bucket,
    )
    from wallet_and_risky_features_data_pipeline_spark.plans.llm_ops import (
        _pool_bits_sql,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.readers import read_table

    emb = read_table(spark, SF_SMALL, "embeddings").limit(50)
    pdf = emb.select("vec_id", "embedding").toPandas()
    con = duckdb.connect()
    con.register("embeddings", pdf)
    for pool in RANGE_BAND_POOLS:
        sql_bits = {
            i: b
            for i, b in con.execute(
                f"SELECT e.vec_id, {_pool_bits_sql('e', pool)} FROM embeddings e"
            ).fetchall()
        }
        for r in range(4, len(pool) + 1):
            spark_bits = {
                row["vec_id"]: row["bucket"]
                for row in lsh_bucket(emb, "embedding", pool[:r]).collect()
            }
            assert spark_bits == {i: b[:r] for i, b in sql_bits.items()}, (pool, r)


def test_psi_matches_pure_python(spark):
    """PSI recount with math.log + the plan's exact smoothing/binning
    — the semantic check the SQL oracle can't state (it shares the
    quantization; this verifies the FORMULA against the textbook
    definition with independent arithmetic), plus PSI ≥ 0 is NOT an
    invariant of the smoothed form — instead pin the per-source doc
    counts sum to the corpus."""
    import math
    from collections import Counter

    from wallet_and_risky_features_data_pipeline_spark.plans.llm_ops import (
        PSI_BIN_WIDTH,
        PSI_BINS,
        corpus_source_psi,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.readers import read_table

    got = {
        r["source"]: (r["n_docs"], r["psi"])
        for r in corpus_source_psi(spark, SF_SMALL).collect()
    }
    docs = read_table(spark, SF_SMALL, "documents").select("source", "n_chars").collect()
    bins = Counter()
    for r in docs:
        bins[(r["source"], min(r["n_chars"] // PSI_BIN_WIDTH, PSI_BINS - 1))] += 1
    sources = sorted({s for s, _ in bins})
    na = {s: sum(c for (s2, _), c in bins.items() if s2 == s) for s in sources}
    cg = {b: sum(c for (_, b2), c in bins.items() if b2 == b) for b in range(PSI_BINS)}
    ng = sum(cg.values())
    want = {}
    for s in sources:
        psi = 0.0
        for b in range(PSI_BINS):
            ca = bins.get((s, b), 0)
            p = (ca + 1.0) / (na[s] + PSI_BINS)
            q = (cg.get(b, 0) + 1.0) / (ng + PSI_BINS)
            ratio = ((ca + 1.0) * (ng + PSI_BINS)) / ((cg.get(b, 0) + 1.0) * (na[s] + PSI_BINS))
            psi += (p - q) * (round(math.log(ratio) * 1e6) / 1e6)
        want[s] = (na[s], round(psi, 6))
    assert set(got) == set(want)
    for s in want:
        assert got[s][0] == want[s][0]
        assert abs(got[s][1] - want[s][1]) < 1e-9, (s, got[s], want[s])
    assert sum(n for n, _ in got.values()) == len(docs)


def test_zipf_fit_matches_pure_python(spark):
    """Exact-moment recount of the Zipf regression: quantized-ln ints,
    arbitrary-precision Python sums (the DECIMAL(38,0) mirror), the
    same two pinned divisions — plus the semantic floor that a Zipfy
    rank-frequency curve slopes DOWN."""
    import math
    import re
    from collections import Counter

    from wallet_and_risky_features_data_pipeline_spark.plans.llm_ops import (
        corpus_zipf_fit,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources.readers import read_table

    (row,) = corpus_zipf_fit(spark, SF_SMALL).collect()
    docs = read_table(spark, SF_SMALL, "documents").select("text").collect()
    vocab = Counter()
    for r in docs:
        for w in re.split(r"\s+", r["text"].strip().lower()):
            if w:
                vocab[w] += 1
    ranked = sorted(vocab.items(), key=lambda kv: (-kv[1], kv[0]))
    xs = [round(math.log(i + 1) * 1e6) for i in range(len(ranked))]
    ys = [round(math.log(f) * 1e6) for _, f in ranked]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    slope = float(n * sxy - sx * sy) / float(n * sxx - sx * sx)
    intercept = (float(sy) / n - slope * (float(sx) / n)) / 1e6
    assert row["n_vocab"] == n
    assert abs(row["zipf_slope"] - round(slope, 6)) < 1e-9
    assert abs(row["zipf_intercept"] - round(intercept, 6)) < 1e-9
    assert row["zipf_slope"] < 0  # frequency falls with rank
