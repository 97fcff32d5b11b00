"""Compaction (bin-pack rewrite) — the reference's weekly OPTIMIZE +
VACUUM analog (features_pipeline.py:128-138): fragmented partitions are
rewritten to few files, content and partition values are preserved
exactly, and well-sized partitions are left untouched."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from wallet_and_risky_features_data_pipeline_spark.sources.maintenance import (
    compact_partitions,
)
from wallet_and_risky_features_data_pipeline_spark.sources.readers import read_table

from .conftest import SF_SMALL


def _checksum(df):
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("ids"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("vals"),
        F.countDistinct("date_partition").alias("parts"),
    ).first()
    return tuple(row)


def test_compact_partitions_preserves_content(spark, tmp_path):
    path = str(tmp_path / "tbl")
    ev = read_table(spark, SF_SMALL, "events").withColumn(
        "date_partition", F.date_format("ts", "yyyy-MM-dd")
    )
    # fragment: 6 writer tasks per partition → ~6 small files each
    ev.repartition(6).write.partitionBy("date_partition").parquet(path)
    before_files = sum(
        len([f for f in fs if f.endswith(".parquet")]) for _, _, fs in os.walk(path)
    )
    before = _checksum(spark.read.parquet(path))

    stats = compact_partitions(spark, path, target_mb=128)

    after_files = sum(
        len([f for f in fs if f.endswith(".parquet")]) for _, _, fs in os.walk(path)
    )
    assert stats, "fragmented partitions should have been rewritten"
    assert all(b > a for b, a in stats.values())
    assert after_files < before_files
    # tiny partitions well under target_mb compact to a single file
    assert all(a == 1 for _, a in stats.values())
    assert _checksum(spark.read.parquet(path)) == before
    # no temp dirs left behind
    assert not [d for d, _, _ in os.walk(path) if d.endswith("__compact_tmp")]


def test_compact_partitions_noop_when_compact(spark, tmp_path):
    path = str(tmp_path / "tbl")
    ev = read_table(spark, SF_SMALL, "events").withColumn(
        "date_partition", F.date_format("ts", "yyyy-MM-dd")
    )
    ev.coalesce(1).write.partitionBy("date_partition").parquet(path)
    assert compact_partitions(spark, path, target_mb=128) == {}


def test_propagate_deletes_rewrites_only_touched_partitions(spark, tmp_path):
    """Rows matching the key set disappear; partitions without doomed
    keys keep their files byte-identical (mtime/name preserved), and a
    second run is an idempotent no-op."""
    import os

    from pyspark.sql import functions as F

    from wallet_and_risky_features_data_pipeline_spark.sources.maintenance import (
        propagate_deletes,
    )

    store = str(tmp_path / "events")
    df = spark.range(100).select(
        F.col("id").alias("user_id"),
        (F.col("id") % 4).alias("part"),
        (F.col("id") * 10).alias("amount"),
    )
    df.write.partitionBy("part").parquet(store)

    # keys confined to partitions 0 and 1 (ids ≡ 0,1 mod 4)
    keys = spark.createDataFrame([(0,), (4,), (17,)], "user_id long")

    def files(p):
        out = {}
        for d, _, fs in os.walk(p):
            for f in fs:
                if f.endswith(".parquet"):
                    fp = os.path.join(d, f)
                    out[fp] = os.path.getmtime(fp)
        return out

    before = files(store)
    res = propagate_deletes(spark, store, keys, "user_id")
    assert len(res) == 2  # part=0 and part=1 touched
    assert sorted(res.values()) == [1, 2]  # rows deleted per partition
    back = spark.read.parquet(store)
    assert back.count() == 97
    assert back.filter(F.col("user_id").isin(0, 4, 17)).count() == 0
    # untouched partitions: identical files
    after = files(store)
    untouched_before = {p: m for p, m in before.items() if "part=2" in p or "part=3" in p}
    untouched_after = {p: m for p, m in after.items() if "part=2" in p or "part=3" in p}
    assert untouched_before == untouched_after
    # idempotent second run: no partitions touched
    assert propagate_deletes(spark, store, keys, "user_id") == {}


def test_propagate_deletes_partition_key_and_unpartitioned(spark, tmp_path):
    """Erasing the PARTITION key removes whole directories without any
    scan-and-rewrite; an unpartitioned store rewrites in place."""
    import os

    from pyspark.sql import functions as F

    from wallet_and_risky_features_data_pipeline_spark.sources.maintenance import (
        propagate_deletes,
    )

    # key-partitioned store: the advertised |keys|-directories case
    store = str(tmp_path / "by_user")
    spark.range(20).select(
        (F.col("id") % 5).alias("user_id"), (F.col("id") * 2).alias("amount")
    ).write.partitionBy("user_id").parquet(store)
    keys = spark.createDataFrame([(1,), (3,)], "user_id long")
    res = propagate_deletes(spark, store, keys, "user_id")
    assert sorted(res.values()) == [4, 4]
    assert not os.path.exists(f"{store}/user_id=1")
    back = spark.read.parquet(store)
    assert back.count() == 12
    assert back.filter(F.col("user_id").isin(1, 3)).count() == 0

    # unpartitioned store
    flat = str(tmp_path / "flat")
    spark.range(10).select(F.col("id").alias("user_id")).coalesce(1).write.parquet(flat)
    res = propagate_deletes(spark, flat, spark.createDataFrame([(7,)], "user_id long"), "user_id")
    assert list(res.values()) == [1]
    assert spark.read.parquet(flat).count() == 9


def test_propagate_deletes_numeric_looking_string_partitions(spark, tmp_path):
    """Partition values like '07' (2-hex-char md5 buckets — the feature
    store's real layout) must be matched against the ON-DISK directory
    names: with type inference on, '07' reads back as int 7 and the
    rewrite would target a nonexistent dir or silently merge '0' and
    '00' — incomplete erasure."""
    import os

    from pyspark.sql import functions as F

    from wallet_and_risky_features_data_pipeline_spark.sources.maintenance import (
        propagate_deletes,
    )

    store = str(tmp_path / "bucketed")
    df = spark.createDataFrame(
        [(1, "07"), (2, "07"), (3, "7"), (4, "a3")],
        "user_id long, bucket string",
    )
    df.write.partitionBy("bucket").parquet(store)
    assert os.path.exists(f"{store}/bucket=07") and os.path.exists(f"{store}/bucket=7")

    res = propagate_deletes(
        spark, store, spark.createDataFrame([(1,), (3,)], "user_id long"), "user_id"
    )
    # one doomed row in bucket=07, one in bucket=7 — both dirs rewritten
    assert {os.path.basename(d) for d in res} == {"bucket=07", "bucket=7"}
    back = spark.read.parquet(store)
    assert back.count() == 2
    assert {r["user_id"] for r in back.collect()} == {2, 4}


def test_redact_json_field_scrubs_only_hit_rows(spark, tmp_path):
    """redact_json_field removes the counterparty field from rows
    whose reference is doomed, leaves other rows byte-identical, and
    preserves the hit rows' other fields."""
    from pyspark.sql import functions as F

    from wallet_and_risky_features_data_pipeline_spark.sources.maintenance import (
        redact_json_field,
    )

    store = str(tmp_path / "ev")
    df = spark.createDataFrame(
        [
            (1, 0, '{"k":5,"x":1}'),
            (2, 0, '{"k":6,"x":2}'),
            (3, 1, '{"x":3}'),
        ],
        "event_id long, part int, props string",
    )
    df.write.partitionBy("part").parquet(store)

    res = redact_json_field(spark, store, ["5"], "props", "k")
    assert list(res.values()) == [1]  # one hit row, in part=0 only
    back = {r["event_id"]: r["props"] for r in spark.read.parquet(store).collect()}
    import json

    assert json.loads(back[1]) == {"x": "1"}  # k gone, x kept (string-typed)
    assert back[2] == '{"k":6,"x":2}'  # untouched rows keep original bytes
    assert back[3] == '{"x":3}'
    # idempotent
    assert redact_json_field(spark, store, ["5"], "props", "k") == {}


def test_erase_and_redact_keeps_null_keyed_rows(spark, tmp_path):
    """Three-valued-logic trap: ``isin`` over a NULL key yields NULL,
    and ``filter(~NULL)`` silently drops the row — a NULL-keyed row in
    a touched partition must SURVIVE an erasure it was never named in
    (and redaction via a NULL json value must not fire either)."""
    from pyspark.sql import functions as F

    from wallet_and_risky_features_data_pipeline_spark.sources.maintenance import (
        erase_and_redact,
    )

    store = str(tmp_path / "mixed")
    df = spark.createDataFrame(
        [
            ("w1", 0, '{"cp":"w2","x":"1"}'),  # owned → deleted
            ("w3", 0, '{"cp":"w2","x":"2"}'),  # references w2 → redacted
            (None, 0, '{"x":"3"}'),            # NULL key, same partition → kept
            ("w4", 0, None),                   # NULL props → kept intact
            ("w5", 1, '{"x":"4"}'),            # untouched partition
        ],
        "wallet string, part int, props string",
    )
    df.write.partitionBy("part").parquet(store)

    counts = erase_and_redact(
        spark, store, ["w1"], "wallet", ["w2"], "props", "cp"
    )
    assert list(counts) == [f"{store}/part=0"]
    assert counts[f"{store}/part=0"] == (1, 1)

    back = spark.read.parquet(store)
    rows = {r["wallet"]: r["props"] for r in back.collect()}
    assert None in rows, "NULL-keyed row must survive erasure"
    assert rows[None] == '{"x":"3"}'
    assert rows["w4"] is None  # NULL json survives redaction untouched
    assert "w1" not in rows
    import json

    assert json.loads(rows["w3"]) == {"x": "2"}  # cp gone
    assert back.count() == 4


def test_swap_in_concurrent_reader_never_sees_missing_partition(spark, tmp_path):
    """Chaos check for the staged swap: a reader racing the two-rename
    swap of a PARTITION dir must observe either the old or the new
    contents — never a missing directory or an empty partition. We
    interleave a polling thread with propagate_deletes and assert every
    observation is one of the two legal states."""
    import threading

    from pyspark.sql import functions as F

    from wallet_and_risky_features_data_pipeline_spark.sources.maintenance import (
        propagate_deletes,
    )

    store = str(tmp_path / "race")
    spark.range(2000).select(
        F.col("id").alias("user_id"), (F.col("id") % 2).alias("part")
    ).write.partitionBy("part").parquet(store)
    part_dir = f"{store}/part=0"

    observations: list[int] = []
    errors: list[str] = []
    stop = threading.Event()

    def poll():
        while not stop.is_set():
            if not os.path.exists(part_dir):
                errors.append("partition dir vanished")
                return
            try:
                n = len([f for f in os.listdir(part_dir) if f.endswith(".parquet")])
            except FileNotFoundError:
                errors.append("partition dir vanished mid-listdir")
                return
            if n == 0:
                errors.append("partition dir observed empty")
                return
            observations.append(n)

    t = threading.Thread(target=poll, daemon=True)
    t.start()
    try:
        keys = spark.range(0, 2000, 2).select(F.col("id").alias("user_id"))
        res = propagate_deletes(spark, store, keys, "user_id")
    finally:
        stop.set()
        t.join(timeout=10)
    assert errors == [], errors
    assert observations, "poller never got to observe the partition"
    assert res and f"{store}/part=0" in res
    assert spark.read.parquet(store).filter(F.col("user_id") % 2 == 0).count() == 0


def test_swap_in_strict_cleanup_raises_on_residue(tmp_path, monkeypatch):
    """Erasure callers must FAIL (not warn) when the pre-erasure staging
    copy cannot be removed — residual subject data on disk is an erasure
    failure, not a housekeeping note."""
    import pytest

    from wallet_and_risky_features_data_pipeline_spark.sources import maintenance

    # Simulate an undeletable staging dir by making rmtree a no-op.
    monkeypatch.setattr(
        maintenance.shutil, "rmtree", lambda *a, **k: None
    )

    class FakeWriter:
        def __init__(self, outer):
            self.outer = outer

        def mode(self, _):
            return self

        def parquet(self, path):
            os.makedirs(path, exist_ok=True)
            with open(os.path.join(path, "part-0.parquet"), "wb") as f:
                f.write(b"pq")

    class FakeDF:
        write = property(lambda self: FakeWriter(self))

    root = str(tmp_path / "tbl")
    part = os.path.join(root, "part=0")
    os.makedirs(part)
    with open(os.path.join(part, "part-old.parquet"), "wb") as f:
        f.write(b"old")

    with pytest.raises(RuntimeError, match="erasure incomplete"):
        maintenance._swap_in(FakeDF(), part, root, strict_cleanup=True)
    # non-strict path: same residue only warns
    part2 = os.path.join(root, "part=1")
    os.makedirs(part2)
    with open(os.path.join(part2, "part-old.parquet"), "wb") as f:
        f.write(b"old")
    maintenance._swap_in(FakeDF(), part2, root, strict_cleanup=False)


def test_swap_in_crash_after_exchange_is_self_describing(spark, tmp_path, monkeypatch):
    """Kill between the atomic exchange and the old/ parking: the
    staging copy must be identifiable as the DISPLACED ORIGINAL by the
    absent _REWRITE tag (directory names lie in this state), the live
    partition must hold the rewrite, and a successful swap must leave
    no tag behind."""
    import glob

    import pytest

    from wallet_and_risky_features_data_pipeline_spark.sources import maintenance as m

    root = str(tmp_path / "table")
    part = os.path.join(root, "p=1")
    spark.createDataFrame([(1, "orig")], "id long, v string").write.parquet(part)
    new_df = spark.createDataFrame([(1, "rewrite")], "id long, v string")

    real_replace = os.replace

    def exploding_replace(src, dst):
        if dst.endswith("/old") or dst.endswith(os.sep + "old"):
            raise OSError("simulated crash between exchange and parking")
        return real_replace(src, dst)

    monkeypatch.setattr(m.os, "replace", exploding_replace)
    with pytest.raises(RuntimeError, match="_REWRITE tag"):
        m._swap_in(new_df, part, root)
    monkeypatch.setattr(m.os, "replace", real_replace)

    # live partition holds the rewrite (swap DID land)
    assert [r.v for r in spark.read.parquet(part).collect()] == ["rewrite"]
    staging = glob.glob(os.path.join(root, ".wrf_rewrite_*"))
    assert len(staging) == 1
    stage_copy = os.path.join(staging[0], "new")
    # the staging copy is the displaced ORIGINAL: no _REWRITE tag —
    # an operator must NOT rename it back on an erasure path
    assert os.path.isdir(stage_copy)
    assert not os.path.exists(os.path.join(stage_copy, "_REWRITE"))
    assert [r.v for r in spark.read.parquet(stage_copy).collect()] == ["orig"]

    # clean swap leaves no tag in the live partition
    import shutil as sh

    sh.rmtree(staging[0])
    m._swap_in(new_df, part, root)
    assert not os.path.exists(os.path.join(part, "_REWRITE"))


def test_zorder_compaction_bounds_file_ranges_on_both_columns(spark, tmp_path):
    """Z-order rewrite: each output file must cover a bounded rectangle
    of (user, day) — the property that lets parquet min/max stats prune
    scans on EITHER column. A lexicographic sort would bound only the
    leading column; unsorted input bounds neither."""
    import random

    from wallet_and_risky_features_data_pipeline_spark.sources.maintenance import (
        compact_partitions,
    )

    root = str(tmp_path / "t")
    part = os.path.join(root, "p=1")
    rows = [(i % 64, i // 64) for i in range(4096)]
    random.Random(7).shuffle(rows)
    (
        spark.createDataFrame(rows, "user long, day long")
        .repartition(4)
        .write.parquet(part)
    )

    def file_ranges():
        out = []
        for f in sorted(os.listdir(part)):
            if f.endswith(".parquet"):
                df = spark.read.parquet(os.path.join(part, f))
                r = df.agg(
                    F.min("user"), F.max("user"), F.min("day"), F.max("day")
                ).first()
                out.append((r[1] - r[0], r[3] - r[2]))
        return out

    # unsorted input: every file's bounding box is (almost) the grid
    before = file_ranges()
    full = 63 * 63
    assert sum(u * d for u, d in before) > 0.9 * len(before) * full

    from wallet_and_risky_features_data_pipeline_spark.sources.maintenance import (
        _list_partitions,
    )

    # exactly 4 output files (z-curve QUARTILES are quadrants; thirds
    # would not be rectangles and the range assertion would be vacuous)
    size = _list_partitions(root)[part][1]
    stats = compact_partitions(
        spark, root, target_mb=size / 4 / (1024 * 1024) * 1.01, zorder=("user", "day")
    )
    assert part in stats
    ranges = file_ranges()
    assert len(ranges) == 4
    # z-ordered: the summed bounding-box area — what parquet min/max
    # pruning actually sees — collapses to a fraction of the unsorted
    # baseline. Per-file corners wobble with repartitionByRange's
    # boundary sampling (an unaligned quarter of the z-curve can span
    # parts of two quadrants), so assert the robust aggregate property
    # plus a loose per-file cap instead of exact quadrants.
    assert all(u * d <= 0.8 * full for u, d in ranges), ranges
    assert sum(u * d for u, d in ranges) <= 0.5 * len(ranges) * full, ranges


def test_range_clustered_export_files_are_disjoint_and_sorted(spark, tmp_path):
    """write_range_clustered contract: output files cover DISJOINT
    ranges of the order key (a predicate on it prunes to one file's
    min/max stripe), rows are sorted inside each file, and nothing is
    lost — all without a single-reducer global sort."""
    import pyarrow.parquet as pq

    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        write_range_clustered,
    )

    df = spark.range(0, 10_000).selectExpr(
        "cast(hash(id) % 100000 as long) as k", "id as payload"
    )
    out = str(tmp_path / "clustered")
    write_range_clustered(df, out, ["k"], n_files=8)

    files = sorted(
        f"{out}/{f}" for f in __import__("os").listdir(out) if f.endswith(".parquet")
    )
    assert len(files) > 1
    spans, n_rows = [], 0
    for f in files:
        t = pq.read_table(f, columns=["k"])
        ks = t.column("k").to_pylist()
        if not ks:
            continue
        assert ks == sorted(ks), "rows not sorted within file"
        spans.append((min(ks), max(ks)))
        n_rows += len(ks)
    assert n_rows == 10_000
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, f"overlapping file ranges {(lo1, hi1)} vs {(lo2, hi2)}"
    # content is exact: same multiset of keys as the input
    back = spark.read.parquet(out)
    assert back.count() == 10_000
    assert back.agg({"payload": "sum"}).first()[0] == sum(range(10_000))


def test_snapshot_diff_classifies_changes_between_generations(spark, tmp_path):
    """snapshot_diff derives a row-level change feed from the
    generation history alone: added / removed / changed (with
    before/after payloads), unchanged rows absent."""
    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        commit_generation,
        snapshot_diff,
    )

    store = str(tmp_path / "snap_store")
    g1 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, s string, v long"
    )
    g2 = spark.createDataFrame(
        [(2, "b", 20), (3, "c", 99), (4, "d", 40)], "id long, s string, v long"
    )
    commit_generation(g1, store)
    commit_generation(g2, store)

    diff = {r.id: r for r in snapshot_diff(spark, store, ["id"], 1, 2).collect()}
    assert set(diff) == {1, 3, 4}  # 2 is unchanged and absent
    assert diff[1].change_type == "removed" and diff[1].before.v == 10
    assert diff[3].change_type == "changed"
    assert (diff[3].before.v, diff[3].after.v) == (30, 99)
    assert diff[4].change_type == "added" and diff[4].after.v == 40
    # reflexive diff is empty
    assert snapshot_diff(spark, store, ["id"], 2, 2).count() == 0


def test_evolve_partitioning_relayouts_atomically(spark, tmp_path):
    """Partition evolution: the live snapshot rewrites under the new
    hive layout as the NEXT generation — same rows, new directory
    structure, old layout still time-travelable; a reader holding the
    old generation path is never disturbed."""
    import os

    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        commit_generation,
        evolve_partitioning,
        read_store,
        resolve_store,
    )

    store = str(tmp_path / "evolve_store")
    df = spark.createDataFrame(
        [(i, f"u{i % 3}", i * 10) for i in range(60)],
        "id long, bucket string, v long",
    )
    commit_generation(df, store)
    flat_gen = resolve_store(store)
    before = {(r.id, r.bucket, r.v) for r in read_store(spark, store).collect()}

    gen = evolve_partitioning(spark, store, ["bucket"])
    assert gen == "gen-000002"
    live = resolve_store(store)
    assert live.endswith("gen-000002")
    # new layout is hive-partitioned by bucket
    assert sorted(
        d for d in os.listdir(live) if d.startswith("bucket=")
    ) == ["bucket=u0", "bucket=u1", "bucket=u2"]
    # content identical
    after = {(r.id, r.bucket, r.v) for r in read_store(spark, store).collect()}
    assert after == before
    # the old flat generation is untouched and still readable
    assert {(r.id, r.bucket, r.v) for r in spark.read.parquet(flat_gen).collect()} == before
    # partition pruning works against the evolved layout
    pruned = read_store(spark, store).filter("bucket = 'u1'").count()
    assert pruned == 20

    # and back to flat (de-partition) — evolution is reversible
    gen3 = evolve_partitioning(spark, store, [])
    assert gen3 == "gen-000003"
    assert {(r.id, r.bucket, r.v) for r in read_store(spark, store).collect()} == before


def test_evolve_partitioning_crash_leaves_old_generation_live(spark, tmp_path, monkeypatch):
    """A relayout whose pointer flip fails must leave readers on the
    previous complete generation and remove its orphaned snapshot (the
    same crash contract merge_upsert pins)."""
    import pytest

    from wallet_and_risky_features_data_pipeline_spark.sources import writers

    store = str(tmp_path / "evolve_crash")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, bucket string")
    writers.commit_generation(df, store)

    def boom(path, gen_name, expected_base=None):
        raise writers.ConcurrentCommitError("injected flip failure")

    monkeypatch.setattr(writers, "_flip_latest", boom)
    with pytest.raises(writers.ConcurrentCommitError):
        writers.evolve_partitioning(spark, store, ["bucket"])
    monkeypatch.undo()

    assert writers.resolve_store(store).endswith("gen-000001")
    assert writers.read_store(spark, store).count() == 2
    # the failed relayout's generation dir was cleaned up
    assert writers.list_generations(store) == ["gen-000001"]


def test_store_snapshots_metadata_table(spark, tmp_path):
    """The snapshots metadata table: live/historic status per
    generation, epoch tags surfaced, crashed leftovers marked orphan
    (= what vacuum reclaims), sizes populated."""
    import os

    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        commit_generation,
        store_snapshots,
        vacuum_generations,
    )

    store = str(tmp_path / "meta_store")
    df = spark.createDataFrame([(1, "a")], "id long, s string")
    commit_generation(df, store)
    commit_generation(df, store, tag="7")
    # simulate a crashed commit: a gen dir past the live pointer
    os.makedirs(f"{store}/gen-000009")
    with open(f"{store}/gen-000009/part-junk.parquet", "w") as f:
        f.write("x")

    snaps = {r.generation: r for r in store_snapshots(spark, store).collect()}
    assert snaps["gen-000001"].status == "historic"
    assert snaps["gen-000002"].status == "live"
    assert snaps["gen-000002"].tag == "7"
    assert snaps["gen-000001"].tag is None
    assert snaps["gen-000009"].status == "orphan"
    assert all(r.n_files > 0 and r.n_bytes > 0 for r in snaps.values())

    vacuum_generations(store, keep=1)
    left = {r.generation: r.status for r in store_snapshots(spark, store).collect()}
    assert left == {"gen-000002": "live"}


def test_evolve_partitioning_adopts_flat_store(spark, tmp_path):
    """Evolving a legacy flat store first adopts it as generation 1 —
    no stale flat files left beside the pointer, content preserved."""
    import os

    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        evolve_partitioning,
        list_generations,
        read_store,
    )

    store = str(tmp_path / "flat_evolve")
    spark.createDataFrame(
        [(i, f"u{i % 2}") for i in range(10)], "id long, bucket string"
    ).write.parquet(store)

    gen = evolve_partitioning(spark, store, ["bucket"])
    assert list_generations(store) == ["gen-000001", "gen-000002"]
    assert gen == "gen-000002"
    assert read_store(spark, store).count() == 10
    # no loose parquet left at the root
    loose = [
        e for e in os.listdir(store)
        if not e.startswith((".", "_", "gen-"))
    ]
    assert loose == []


def test_schema_drift_between_generations(spark, tmp_path):
    """schema_drift reports added/removed/retyped columns between the
    live generation and its predecessor; stable schemas report
    nothing, also when an erase flattens a partitioned snapshot."""
    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        commit_generation,
        erase_from_store,
        schema_drift,
    )

    store = str(tmp_path / "drift_store")
    commit_generation(
        spark.createDataFrame([(1, "a", 1.5)], "id long, s string, v double"), store
    )
    assert schema_drift(spark, store) == []  # one generation: nothing to compare

    commit_generation(
        spark.createDataFrame([(1, 2, 7)], "id long, v long, w long"), store
    )
    drift = {d["column"]: d for d in schema_drift(spark, store)}
    assert drift["s"]["change"] == "removed"
    assert drift["w"]["change"] == "added"
    assert drift["v"]["change"] == "retyped" and "double -> bigint" in drift["v"]["type"]

    commit_generation(
        spark.createDataFrame([(1, 2, 7)], "id long, v long, w long"), store
    )
    assert schema_drift(spark, store) == []  # stable schema: clean

    # all-digit string partition values, flattened by an erase: the
    # column stays a string, which is no drift
    parted = str(tmp_path / "parted_store")
    commit_generation(
        spark.createDataFrame([(1, "07"), (2, "12")], "id long, part string"),
        parted,
        partition_by=["part"],
    )
    erase_from_store(spark, spark.createDataFrame([(1,)], "id long"), parted, "id")
    assert schema_drift(spark, parted) == []


import pytest as _pytest_cas


@_pytest_cas.mark.parametrize("cas_backend", ["local", "condput", "condput-faulty"])
@pytest.mark.fullsuite
def test_multiprocess_commit_contention(tmp_path, cas_backend):
    """Two REAL processes race commit_generation on one store, each
    retrying on ConcurrentCommitError (the documented optimistic-
    commit contract). Every attempted commit must eventually land as
    its own generation, the pointer must name the last one, and no
    crashed/loser staging residue may remain — the cross-process leg
    of the CAS guarantee the in-process tests pin.

    Parametrized over BOTH CAS backends (VERDICT r8 #6): the local
    link(2) default and the S3/DynamoDB-shaped conditional-put
    adapter, whose simulated KV uses O_CREAT|O_EXCL — a different
    atomic primitive, same protocol, so the single-host limitation is
    demonstrably an adapter choice."""
    import os
    import subprocess
    import sys

    store = str(tmp_path / "race_store")
    script = tmp_path / "racer.py"
    script.write_text(
        """
import random, sys, time
sys.path.insert(0, "/root/repo")
from wallet_and_risky_features_data_pipeline_spark.session import get_spark
from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
    ConcurrentCommitError, commit_generation,
)

store, tag_prefix, start_file = sys.argv[1], sys.argv[2], sys.argv[3]
spark = get_spark(f"race-{tag_prefix}", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
df = spark.range(50).withColumnRenamed("id", "k")
# barrier: both JVMs finish startup before either begins committing
while not __import__("os").path.exists(start_file):
    time.sleep(0.05)
for i in range(3):
    while True:
        try:
            commit_generation(df, store, tag=f"{tag_prefix}-{i}")
            break
        except ConcurrentCommitError:
            time.sleep(random.uniform(0.01, 0.1))
print("DONE", tag_prefix)
"""
    )
    start_file = str(tmp_path / "start")
    # "condput-faulty" (VERDICT r9 #4): the same two-process race, but
    # every KV op of the conditional-put adapter goes through seeded
    # at-least-once fault injection (lost acks, transient reads,
    # latency) — the protocol must still land every commit exactly once
    env = {**os.environ, "SPARK_GRAFT_CAS_BACKEND": cas_backend.split("-")[0]}
    if cas_backend == "condput-faulty":
        env["SPARK_GRAFT_CAS_FAULT_SEED"] = "7"
    procs = [
        subprocess.Popen(
            [sys.executable, str(script), store, name, start_file],
            stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT,
            env=env,
        )
        for name in ("a", "b")
    ]
    import time

    time.sleep(20)  # let both sessions boot
    open(start_file, "w").close()
    outs = [p.communicate(timeout=240)[0].decode() for p in procs]
    assert all(p.returncode == 0 for p in procs), outs

    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        list_generations, resolve_store,
    )

    gens = list_generations(store)
    assert gens == [f"gen-{n:06d}" for n in range(1, 7)], gens  # all 6 landed
    assert os.path.basename(resolve_store(store)) == "gen-000006"
    residue = [e for e in os.listdir(store) if e.startswith(".tmp-gen-")]
    assert residue == [], residue


def test_apply_changes_round_trips_snapshot_diff(spark, tmp_path):
    """CDC loop closure: replaying snapshot_diff(old → new) onto the
    old generation must reconstruct the new one as an exact multiset —
    a downstream mirror following the store by deltas stays
    bit-faithful. Also: applying an empty feed is the identity."""
    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        apply_changes,
        commit_generation,
        read_store,
        snapshot_diff,
    )

    store = str(tmp_path / "cdc_store")
    g1 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, s string, v long"
    )
    g2 = spark.createDataFrame(
        [(2, "b", 20), (3, "c", 99), (4, "d", 40), (5, "e", 50)],
        "id long, s string, v long",
    )
    commit_generation(g1, store)
    commit_generation(g2, store)

    old = read_store(spark, store, generation=1)
    new = read_store(spark, store, generation=2)
    feed = snapshot_diff(spark, store, ["id"], 1, 2)
    rebuilt = apply_changes(old, feed, ["id"]).select(new.columns)
    assert rebuilt.exceptAll(new).isEmpty() and new.exceptAll(rebuilt).isEmpty()

    empty_feed = snapshot_diff(spark, store, ["id"], 2, 2)
    ident = apply_changes(new, empty_feed, ["id"]).select(new.columns)
    assert ident.exceptAll(new).isEmpty() and new.exceptAll(ident).isEmpty()


def test_commit_generation_clear_fence_escape_hatch(spark, tmp_path):
    """Untagged commits (full snapshots, MERGEs and erases alike)
    inherit the live epoch fence (r8 carry-forward — a snapshot
    rewrite must not drop it); ``clear_fence=True`` is
    the explicit escape hatch for a store rebuilt against an upstream
    that RESTARTED epoch numbering (ADVICE r8: without it the
    inherited tag would silently fence out every replayed epoch)."""
    import pytest as _pytest

    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        commit_generation,
        erase_from_store,
        generation_tag,
        list_generations,
        merge_upsert,
        read_store,
    )

    store = str(tmp_path / "fence_store")
    df = spark.createDataFrame([(1, "a")], "id long, s string")
    commit_generation(df, store, tag="41")
    # untagged rewrite inherits the fence
    commit_generation(df, store)
    assert generation_tag(store) == "41"
    # clear_fence + explicit tag is a contradiction
    with _pytest.raises(ValueError):
        commit_generation(df, store, tag="99", clear_fence=True)
    # the escape hatch drops the fence so a restarted epoch 1 applies
    commit_generation(df, store, clear_fence=True)
    assert generation_tag(store) is None
    commit_generation(df, store, tag="1")
    assert generation_tag(store) == "1"

    # MERGE and erase commits keep the same contract: a tagged MERGE
    # sets the tag, an untagged MERGE and an erase inherit it
    pstore = str(tmp_path / "fence_merge_store")
    rows = spark.createDataFrame([(1, "a", 0), (2, "b", 1)], "id long, s string, p int")
    merge_upsert(spark, rows, pstore, key=["id"])
    assert generation_tag(pstore) is None
    merge_upsert(spark, rows, pstore, key=["id"], tag="7")
    assert generation_tag(pstore) == "7"
    update = spark.createDataFrame([(1, "z", 0)], "id long, s string, p int")
    merge_upsert(spark, update, pstore, key=["id"])
    assert generation_tag(pstore) == "7"
    gone = spark.createDataFrame([(2,)], "id long")
    assert erase_from_store(spark, gone, pstore, "id") == 1
    assert generation_tag(pstore) == "7"
    assert list_generations(pstore)[-1] == "gen-000004"
    assert sorted(map(tuple, read_store(spark, pstore).select("id", "s").collect())) == [
        (1, "z")
    ]


def test_condput_cas_backend_protocol(spark, tmp_path):
    """The conditional-put CAS adapter honors the full commit protocol
    in-process: claim exclusivity, loser ConcurrentCommitError with
    dangling-intent rollback, crashed-winner roll-forward, and vacuum
    claim release — the same behaviors the local link(2) tests pin,
    driven through the S3/DynamoDB-shaped KV surface instead."""
    import os

    import pytest as _pytest

    from wallet_and_risky_features_data_pipeline_spark.sources import writers as W

    W.set_cas_backend(W.CondPutCas())
    try:
        store = str(tmp_path / "cas_store")
        df = spark.createDataFrame([(1, "a")], "id long, s string")
        W.commit_generation(df, store, tag="e1")
        W.commit_generation(df, store)
        assert os.path.basename(W.resolve_store(store)) == "gen-000002"
        assert W.generation_tag(store) == "e1"  # fence carries through the KV path

        # claim exclusivity straight at the primitive
        cas = W.get_cas_backend()
        assert cas.claim(store, "gen-000002", "gen-000099") is True
        assert cas.claim(store, "gen-000002", "gen-000098") is False
        assert cas.read_claim(store, "gen-000002") == "gen-000099"

        # dangling intent (claimed gen-000099 never materialized): the
        # next commit loses once — rolling the dead claim back — then
        # wins on retry, the documented optimistic-retry contract
        with _pytest.raises(W.ConcurrentCommitError):
            W.commit_generation(df, store)
        W.commit_generation(df, store)
        assert os.path.basename(W.resolve_store(store)) == "gen-000003"

        # crashed-winner roll-forward: a "winner" renamed gen-000004
        # into place and claimed the advance, then died before the
        # pointer flip — the NEXT committer completes the flip
        df.write.parquet(os.path.join(store, "gen-000004"))
        assert cas.claim(store, "gen-000003", "gen-000004") is True
        with _pytest.raises(W.ConcurrentCommitError):
            W.commit_generation(df, store)
        assert os.path.basename(W.resolve_store(store)) == "gen-000004"
        # ...and the retry advances from the rolled-forward base
        W.commit_generation(df, store)
        assert os.path.basename(W.resolve_store(store)) == "gen-000005"

        # vacuum releases expired claims through the same backend
        W.vacuum_generations(store, keep=1)
        assert cas.read_claim(store, "gen-000003") is None
    finally:
        W.set_cas_backend(None)


@_pytest_cas.mark.parametrize("backend_kind", ["local", "condput-faulty"])
@pytest.mark.fullsuite
def test_cas_chaos_crash_mid_claim_loop(tmp_path, backend_kind):
    """VERDICT r9 #4: 100 seeded iterations of the nastiest commit
    window — two concurrent claimants on the SAME base (even numbered
    rounds use the SAME intended generation name, as real rivals would
    after the rename gate crashed; odd rounds distinct names), the
    winner then CRASHES before the pointer flip, and a recovering
    third writer must roll the crashed winner's write-ahead intent
    forward. For the conditional-put backend every KV op runs through
    seeded at-least-once fault injection (lost acks AFTER the op
    landed, transient read failures, latency) — the exact semantics a
    real object store degrades to. Invariants per round: exactly one
    claim winner; the recorded intent names the winner; the recovery
    flip advances the pointer to the crashed winner's generation."""
    import os
    import threading

    from wallet_and_risky_features_data_pipeline_spark.sources import writers as W

    store = str(tmp_path / "chaos_store")
    os.makedirs(store)

    if backend_kind == "local":
        cas = W.LocalLinkCas()
    else:
        inner = W.FileConditionalKv(os.path.join(store, "_cas"))
        # one fault stream per THREAD (deterministic per round+thread;
        # a shared rng across threads would make replays diverge)
        streams: dict = {}

        def factory(path):
            name = threading.current_thread().name
            key = (path, name)
            if key not in streams:
                tid = 0 if name.endswith("a") else 1
                streams[key] = W.FaultInjectingKv(
                    inner, seed=1000 * factory.round + tid
                )
            return streams[key]

        factory.round = 0
        cas = W.CondPutCas(factory)
    W.set_cas_backend(cas)
    try:
        base = None
        for rnd in range(100):
            if backend_kind != "local":
                streams.clear()
                factory.round = rnd
            n = rnd + 1
            if rnd % 2 == 0:
                # rivals intending the SAME next generation name — only
                # a claim token (condput) / link exclusivity (local)
                # can discriminate the winner
                gen_a = gen_b = f"gen-{n:06d}"
            else:
                gen_a, gen_b = f"gen-{n:06d}", f"gen-{n:06d}x"
            results = {}

            def claimant(label, gen):
                results[label] = cas.claim(store, base, gen)

            ts = [
                threading.Thread(
                    target=claimant, args=(lbl, g), name=f"claim-{lbl}"
                )
                for lbl, g in (("a", gen_a), ("b", gen_b))
            ]
            for t in ts:
                t.start()
            for t in ts:
                t.join()
            assert sum(results.values()) == 1, (rnd, results)
            winner_gen = gen_a if results["a"] else gen_b
            assert cas.read_claim(store, base) == winner_gen, rnd
            # the winner CRASHED after renaming its generation dir into
            # place but before the pointer flip — a recovering writer
            # completes the flip and loses its own attempt, loudly
            os.makedirs(os.path.join(store, winner_gen))
            try:
                W._flip_latest(store, f"gen-{n:06d}r", expected_base=base)
            except W.ConcurrentCommitError:
                pass
            else:
                raise AssertionError(f"round {rnd}: recovery flip must lose")
            assert os.path.basename(W.resolve_store(store)) == winner_gen, rnd
            base = winner_gen
    finally:
        W.set_cas_backend(None)


def test_erase_from_store_generation_commit(spark, tmp_path):
    """erase_from_store (r11): right-to-erasure as a GENERATION commit —
    erased keys gone from the new live generation, the prior generation
    intact for time travel until vacuum expires it. Erasing every key
    commits an empty generation (the store's schema, the live tag), and
    no erased key survives a keep=1 vacuum anywhere under the store."""
    import pyarrow.dataset as ds

    from wallet_and_risky_features_data_pipeline_spark.sources import writers as W

    store = str(tmp_path / "erase_store")
    schema = "k long, val long, bucket string"
    rows = [(k, 10 * k, str(k % 2)) for k in range(8)] + [(100, 1, "solo")]
    W.merge_upsert(spark, spark.createDataFrame(rows, schema), store, key=["k"])

    doomed = spark.createDataFrame([(1,), (3,), (100,)], "k long")
    n = W.erase_from_store(spark, doomed, store, "k")
    assert n == 3

    live = W.read_store(spark, store)
    left = {r.k for r in live.collect()}
    assert left == {0, 2, 4, 5, 6, 7}
    gen2 = W.resolve_store(store)
    gen1 = W.resolve_store(store, generation=1)
    # generation 1 still holds the erased rows (time travel) — the
    # documented two-step: the erase completes when vacuum expires it
    assert spark.read.parquet(gen1).filter("k in (1, 3, 100)").count() == 3
    W.vacuum_generations(store, keep=1, stage_grace_sec=0)
    assert W.list_generations(store) == [os.path.basename(gen2)]
    # idempotent: erasing the same keys again is a no-op (no new gen)
    assert W.erase_from_store(spark, doomed, store, "k") == 0
    assert W.list_generations(store) == [os.path.basename(gen2)]

    # erase every key of a tagged flat store
    full = str(tmp_path / "erase_all_store")
    W.merge_upsert(spark, spark.createDataFrame(rows, schema), full, key=["k"], tag="5")
    every = spark.createDataFrame([(r[0],) for r in rows], "k long")
    assert W.erase_from_store(spark, every, full, "k") == len(rows)
    assert W.list_generations(full) == ["gen-000001", "gen-000002"]
    emptied = W.read_store(spark, full)
    assert emptied.count() == 0
    assert emptied.schema == spark.createDataFrame([], schema).schema
    assert W.generation_tag(full) == "5"
    W.vacuum_generations(full, keep=1, stage_grace_sec=0)
    assert W.list_generations(full) == ["gen-000002"]
    on_disk = ds.dataset(full, format="parquet").to_table(columns=["k"])
    assert on_disk.num_rows == 0


def test_vacuum_fence_protects_inflight_publish(spark, tmp_path):
    """The r11 concurrency contract: while a WRITER holds the live
    base's advance claim (mid-publish or crashed winner), vacuum must
    skip uncommitted generations entirely — and once the claim is
    gone, reclaim them behind its own fence and release the fence."""
    from wallet_and_risky_features_data_pipeline_spark.sources import writers as W

    store = str(tmp_path / "fence_store")
    df = spark.createDataFrame([(1, "a")], "id long, s string")
    W.commit_generation(df, store)
    live = os.path.basename(W.resolve_store(store))

    # a "renamed but not yet flipped" generation + its writer's claim
    os.makedirs(os.path.join(store, "gen-000009"))
    cas = W.get_cas_backend()
    assert cas.claim(store, live, "gen-000009")
    removed = W.vacuum_generations(store, keep=1, stage_grace_sec=0)
    assert removed == [], "claim-held uncommitted gen must survive vacuum"
    assert os.path.isdir(os.path.join(store, "gen-000009"))

    # claim gone (writer finished its recovery/rollback): reclaimable
    cas.release(store, live)
    removed = W.vacuum_generations(store, keep=1, stage_grace_sec=0)
    assert removed == ["gen-000009"]
    # the sweep released its own fence: the next commit proceeds clean
    assert cas.read_claim(store, live) is None
    W.commit_generation(df, store)
    # numbering reuses 2: the ghost that would have forced a skip is gone
    assert os.path.basename(W.resolve_store(store)) == "gen-000002"


def test_vacuum_fence_stale_break_and_writer_retry(spark, tmp_path):
    """A fence orphaned by a crashed sweep: writers see it, raise a
    retryable ConcurrentCommitError while it is fresh, and BREAK it
    once it is older than the TTL; a later sweep breaks it the same
    way. Ghost dirs a crashed writer renamed are only flipped to if
    they still exist (the torn-snapshot closure)."""
    import pytest

    from wallet_and_risky_features_data_pipeline_spark.sources import writers as W

    store = str(tmp_path / "stale_store")
    df = spark.createDataFrame([(1, "a")], "id long, s string")
    W.commit_generation(df, store)
    live = os.path.basename(W.resolve_store(store))
    cas = W.get_cas_backend()

    # fresh fence: commits fail retryably and do NOT steal the fence
    assert cas.claim(store, live, W._make_vacuum_fence())
    with pytest.raises(W.ConcurrentCommitError, match="vacuum sweep holds"):
        W.commit_generation(df, store)
    assert (cas.read_claim(store, live) or "").startswith(W._VFENCE_PREFIX)

    # stale fence (TTL elapsed): the next commit breaks it and retries
    cas.release(store, live)
    assert cas.claim(store, live, f"{W._VFENCE_PREFIX}0.000-0-dead")
    with pytest.raises(W.ConcurrentCommitError):
        W.commit_generation(df, store)  # breaks the stale fence, loses once
    W.commit_generation(df, store)  # retry wins
    # (failed attempts clean their own dest dirs, so numbering reuses 2)
    assert os.path.basename(W.resolve_store(store)) == "gen-000002"

    # torn-snapshot closure: a claim won at a vanished generation must
    # refuse to flip (release + retryable error), never publish a
    # pointer at a missing directory
    base = "gen-000002"
    with pytest.raises(W.ConcurrentCommitError, match="reclaimed by a vacuum"):
        W._flip_latest(store, "gen-000055", expected_base=base)
    assert cas.read_claim(store, base) is None
    assert os.path.basename(W.resolve_store(store)) == base


@_pytest_cas.mark.parametrize("chaos_backend", ["local", "condput"])
@pytest.mark.fullsuite
def test_three_way_chaos_merge_vacuum_erase(spark, tmp_path, monkeypatch, chaos_backend):
    """VERDICT r10 #7: merge_upsert × vacuum_generations ×
    erase_from_store interleaved ACROSS PROCESSES with crash injection
    between commit phases — the 100 TB deploy story runs maintenance
    concurrently with writes. Two real Spark processes (a merger
    upserting value batches, an eraser erasing seeded subjects) crash
    at seeded points in the protocol (before the staged rename; after
    the rename, before the claim — the exact window the r11 vacuum
    fence exists for; after the claim, before the pointer write) and
    are restarted to resume from their fsync'd progress logs, while
    the parent sweeps vacuum_generations ≥100 times throughout.

    Invariants: the pointer ALWAYS names an existing generation (no
    torn snapshot — checked after every sweep), vacuum never collects
    the live generation, every committed merge batch's final values
    survive, committed erases never resurrect (checked against EVERY
    surviving generation after the final quiesced keep=1 sweep), and
    no crashed residue outlives a zero-grace sweep."""
    import subprocess
    import sys
    import threading
    import time

    from wallet_and_risky_features_data_pipeline_spark.sources import writers as W

    # both CAS adapters drive the same protocol: the link(2) default
    # and the S3/DynamoDB-shaped conditional-put KV. get_cas_backend
    # reads the env per call, and the children inherit os.environ.
    monkeypatch.setenv("SPARK_GRAFT_CAS_BACKEND", chaos_backend)

    store = str(tmp_path / "chaos3_store")
    logs = {"merge": str(tmp_path / "merge.log"), "erase": str(tmp_path / "erase.log")}
    schema = "k long, val long, bucket string"

    # seed: erase-range subjects (100-129), a solo bucket that one erase
    # empties (300-304), untouched bystanders (200-219)
    seed = (
        [(k, -1, str(k % 4)) for k in range(100, 130)]
        + [(k, -2, "solo") for k in range(300, 305)]
        + [(k, -3, str(k % 4)) for k in range(200, 220)]
    )
    W.merge_upsert(
        spark,
        spark.createDataFrame(seed, schema),
        store,
        key=["k"],
    )

    worker_src = """
import os, random, sys, time

sys.path.insert(0, "/root/repo")
from wallet_and_risky_features_data_pipeline_spark.session import get_spark
from wallet_and_risky_features_data_pipeline_spark.sources import writers as W

role, store, log_path, crash_spec = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4]
# crash_spec: comma list of iter:phase, consumed by the parent (a spec
# entry is passed only until its crash has fired once)
plan = {}
for tok in crash_spec.split(","):
    if tok:
        it, ph = tok.split(":")
        plan[int(it)] = ph
armed = {"phase": None}

_real_rename = os.rename
def _rename_hook(src, dst):
    if armed["phase"] == "pre-rename" and "/gen-" in str(dst):
        os._exit(9)
    return _real_rename(src, dst)
os.rename = _rename_hook

_real_flip = W._flip_latest
def _flip_hook(path, gen_name, expected_base=None):
    if armed["phase"] == "pre-claim":
        os._exit(9)  # renamed, never claimed: the vacuum-fence window
    return _real_flip(path, gen_name, expected_base)
W._flip_latest = _flip_hook

_real_rp = W._replace_pointer
def _rp_hook(path, gen_name):
    if armed["phase"] == "pre-pointer":
        os._exit(9)  # claimed, never published: the roll-forward window
    return _real_rp(path, gen_name)
W._replace_pointer = _rp_hook

spark = get_spark(f"chaos3-{role}", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
schema = "k long, val long, bucket string"
rng = random.Random(hash(role) & 0xFFFF)

done = set()
if os.path.exists(log_path):
    with open(log_path) as f:
        done = {int(l) for l in f.read().split() if l}

N = 8 if role == "merge" else 7
for i in range(N):
    if i in done:
        continue
    armed["phase"] = plan.get(i)
    if role == "merge":
        rows = [(k, i, str(k % 4)) for k in range(8)]
        batch = spark.createDataFrame(rows, schema)
        op = lambda: W.merge_upsert(spark, batch, store, key=["k"])
    else:
        if i < 6:
            keys = list(range(100 + 5 * i, 100 + 5 * (i + 1)))
        else:
            keys = list(range(300, 305))  # empties the solo bucket
        kdf = spark.createDataFrame([(k,) for k in keys], "k long")
        op = lambda: W.erase_from_store(spark, kdf, store, "k")
    while True:
        try:
            op()
            break
        except W.ConcurrentCommitError:
            time.sleep(rng.uniform(0.02, 0.15))
        except Exception as e:
            # expired-snapshot read: the sweep reclaimed the generation
            # this op was scanning (keep=2 retention under sub-second
            # commits). The documented client contract — like Iceberg
            # readers racing expire_snapshots — is retry on the NEW
            # snapshot; anything else is a real failure.
            msg = str(e)
            if ("FileNotFoundException" in msg or "PATH_NOT_FOUND" in msg
                    or "does not exist" in msg or "FileNotFoundError" in msg):
                time.sleep(rng.uniform(0.02, 0.15))
            else:
                raise
    armed["phase"] = None
    with open(log_path, "a") as f:
        f.write(f"{i}\\n")
        f.flush()
        os.fsync(f.fileno())
print("DONE", role)
"""
    script = tmp_path / "chaos_worker.py"
    script.write_text(worker_src)

    crash_plans = {
        "merge": {2: "pre-claim", 5: "pre-pointer"},
        "erase": {1: "pre-rename", 4: "pre-claim"},
    }

    stop = threading.Event()
    sweep_stats = {"n": 0, "violations": []}

    def vacuum_loop():
        while not stop.is_set() or sweep_stats["n"] < 100:
            try:
                W.vacuum_generations(store, keep=2)
            except FileNotFoundError:
                pass  # a rival removed a listed dir first — tolerated
            try:
                live = W.resolve_store(store)
                if not os.path.isdir(live):
                    sweep_stats["violations"].append(f"torn pointer: {live}")
            except Exception as e:  # noqa: BLE001
                sweep_stats["violations"].append(f"resolve failed: {e}")
            sweep_stats["n"] += 1
            time.sleep(0.02)

    import time

    sweeper = threading.Thread(target=vacuum_loop, daemon=True)
    sweeper.start()

    def run_role(role):
        plan = dict(crash_plans[role])
        for _restart in range(6):
            spec = ",".join(f"{i}:{p}" for i, p in sorted(plan.items()))
            proc = subprocess.run(
                [sys.executable, str(script), role, store, logs[role], spec],
                stdout=subprocess.PIPE,
                stderr=subprocess.STDOUT,
                timeout=300,
            )
            out = proc.stdout.decode()
            if proc.returncode == 0:
                assert f"DONE {role}" in out, out[-2000:]
                return
            assert proc.returncode == 9, f"{role} died unexpectedly: {out[-2000:]}"
            # the armed crash fired: drop every plan entry at-or-before
            # the furthest progress (the log tells which iter crashed)
            done = set()
            if os.path.exists(logs[role]):
                with open(logs[role]) as f:
                    done = {int(l) for l in f.read().split() if l}
            nxt = min(set(range(20)) - done)
            plan.pop(nxt, None)
        raise AssertionError(f"{role} did not finish within restart budget")

    threads = [threading.Thread(target=run_role, args=(r,)) for r in ("merge", "erase")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    stop.set()
    sweeper.join(timeout=120)
    assert sweep_stats["n"] >= 100, sweep_stats["n"]
    assert sweep_stats["violations"] == [], sweep_stats["violations"][:5]

    # quiesced final sweep reclaims everything but the live generation
    W.vacuum_generations(store, keep=1, stage_grace_sec=0)
    gens = W.list_generations(store)
    live = os.path.basename(W.resolve_store(store))
    assert gens == [live], (gens, live)
    residue = [e for e in os.listdir(store) if e.startswith(".tmp-gen-")]
    assert residue == [], residue

    final = {r.k: r.val for r in W.read_store(spark, store).collect()}
    # every committed merge batch's final value survives: val = last i
    with open(logs["merge"]) as f:
        last_merge = max(int(l) for l in f.read().split())
    assert {k: final.get(k) for k in range(8)} == {k: last_merge for k in range(8)}
    # committed erases never resurrect — in ANY surviving generation
    erased = set(range(100, 130)) | set(range(300, 305))
    survivors = erased & set(final)
    assert survivors == set(), sorted(survivors)
    # bystanders untouched
    assert {final[k] for k in range(200, 220)} == {-3}


@_pytest_cas.mark.parametrize("backend_kind", ["local", "condput"])
def test_release_if_exact_value_contract(tmp_path, backend_kind):
    """The conditional release primitive (ADVICE r11): deletes a claim
    only while its stored value still equals the exact raw value a
    prior read returned — wrong value, missing claim, and double
    release all refuse."""
    from wallet_and_risky_features_data_pipeline_spark.sources import writers as W

    store = str(tmp_path / "ri_store")
    os.makedirs(store)
    cas = W.LocalLinkCas() if backend_kind == "local" else W.CondPutCas()
    assert cas.claim(store, "gen-000001", "gen-000002")
    raw = cas.read_claim_raw(store, "gen-000001")
    assert cas.claim_name(raw) == "gen-000002"

    assert cas.release_if(store, "gen-000001", "not-the-value") is False
    assert cas.read_claim(store, "gen-000001") == "gen-000002"

    assert cas.release_if(store, "gen-000001", raw) is True
    assert cas.read_claim(store, "gen-000001") is None
    # second release of the same raw: the claim is gone, never re-deleted
    assert cas.release_if(store, "gen-000001", raw) is False


@_pytest_cas.mark.parametrize("backend_kind", ["local", "condput"])
def test_stale_fence_break_race_keeps_rival_claim(tmp_path, backend_kind):
    """The exact interleaving ADVICE r11 flagged: A reads a stale
    fence; before A deletes it, rival B breaks the fence and wins a
    fresh claim. A's delayed conditional release must refuse — B's
    LIVE claim survives, so no two writers ever hold one base."""
    from wallet_and_risky_features_data_pipeline_spark.sources import writers as W

    store = str(tmp_path / "race_store")
    os.makedirs(store)
    cas = W.LocalLinkCas() if backend_kind == "local" else W.CondPutCas()
    base = "gen-000003"
    stale = f"{W._VFENCE_PREFIX}0.000-0-dead"
    assert cas.claim(store, base, stale)

    # A snapshots the stale fence…
    a_raw = cas.read_claim_raw(store, base)
    assert cas.claim_name(a_raw) == stale
    # …but B gets there first: breaks it and claims a fresh advance
    assert cas.release_if(store, base, a_raw) is True
    assert cas.claim(store, base, "gen-000004")
    rival_raw = cas.read_claim_raw(store, base)

    # A's delayed delete refuses; B's claim is untouched
    assert cas.release_if(store, base, a_raw) is False
    assert cas.read_claim_raw(store, base) == rival_raw
    assert cas.claim_name(rival_raw) == "gen-000004"


def test_condput_release_if_discriminates_same_name_claims(tmp_path):
    """Two writers advancing one base intend the SAME next generation
    name — only the per-claim token discriminates them. A stale
    holder's conditional release carrying the dead claim's raw value
    must not delete a successor claim for the identical name."""
    from wallet_and_risky_features_data_pipeline_spark.sources import writers as W

    store = str(tmp_path / "tok_store")
    os.makedirs(store)
    cas = W.CondPutCas()
    base = "gen-000001"
    assert cas.claim(store, base, "gen-000002")
    dead_raw = cas.read_claim_raw(store, base)

    # the dead claim is rolled back; a successor claims the SAME name
    assert cas.release_if(store, base, dead_raw) is True
    assert cas.claim(store, base, "gen-000002")
    successor_raw = cas.read_claim_raw(store, base)
    assert successor_raw != dead_raw
    assert cas.claim_name(successor_raw) == cas.claim_name(dead_raw)

    # a straggler holding the dead raw cannot kill the successor
    assert cas.release_if(store, base, dead_raw) is False
    assert cas.read_claim_raw(store, base) == successor_raw


def test_vacuum_stage_grace_uses_deepest_write_heartbeat(tmp_path):
    """A long-running write's staging tree: the TOP dir's mtime goes
    stale as soon as its entry set stabilizes, but freshly-landing
    task files deep inside are the liveness heartbeat — the sweep must
    NOT reclaim such a tree (ADVICE r11), while a tree whose deepest
    write is also past the grace IS reclaimed."""
    import time

    from wallet_and_risky_features_data_pipeline_spark.sources import writers as W

    store = str(tmp_path / "stage_store")
    os.makedirs(store)
    live_stage = os.path.join(store, f"{W._STAGE_PREFIX}000007-123-abc")
    deep = os.path.join(live_stage, "_temporary", "0", "task_0")
    os.makedirs(deep)
    with open(os.path.join(deep, "part-00000.parquet"), "w") as f:
        f.write("x")  # the fresh heartbeat
    old = time.time() - 7200
    # backdate everything EXCEPT the deep task file
    os.utime(live_stage, (old, old))
    os.utime(os.path.join(live_stage, "_temporary"), (old, old))
    os.utime(os.path.join(live_stage, "_temporary", "0"), (old, old))

    dead_stage = os.path.join(store, f"{W._STAGE_PREFIX}000008-456-def")
    os.makedirs(os.path.join(dead_stage, "_temporary"))
    for p in (dead_stage, os.path.join(dead_stage, "_temporary")):
        os.utime(p, (old, old))

    removed = W.vacuum_generations(store, stage_grace_sec=3600.0)
    assert os.path.isdir(live_stage), "in-flight staging tree was reclaimed"
    assert not os.path.isdir(dead_stage)
    assert os.path.basename(dead_stage) in removed


@pytest.mark.fullsuite
def test_serving_chaos_sync_vs_merge_vacuum_erase(spark, tmp_path):
    """VERDICT r11 #7 — the serving path joins the chaos loop: a
    serving reader (read_store → foreach_partition_upsert /
    export_pages, sources/serving.py) races merge_upsert churn,
    erase_from_store, and a keep=2 vacuum sweeper for ≥100 completed
    sync iterations. A reader mid-scan on an expiring generation is
    the DOCUMENTED retry case (like Iceberg readers racing
    expire_snapshots); everything else must hold:

    - snapshot consistency: every completed sync exports ONE committed
      generation — the merger stamps all of keys 0-7 with the same
      batch value per commit, so a torn read would surface as mixed
      stamps in one sync's store;
    - erasure: a sync STARTED after an erase committed never exports
      the erased subjects;
    - liveness: merger, eraser, sweeper, and reader all finish."""
    import random
    import threading
    import time

    from wallet_and_risky_features_data_pipeline_spark.sources import serving as S
    from wallet_and_risky_features_data_pipeline_spark.sources import writers as W

    store = str(tmp_path / "serve_chaos_store")
    schema = "k long, val long, bucket string"
    seed = [(k, 0, str(k % 2)) for k in range(8)] + [
        (k, -1, str(k % 2)) for k in range(100, 120)
    ]
    W.merge_upsert(
        spark,
        spark.createDataFrame(seed, schema),
        store,
        key=["k"],
    )

    stop = threading.Event()
    failures: list[str] = []
    rng = random.Random(0xC0FFEE)

    # ONE matcher, the engine's own (ADVICE r12): a parallel copy here
    # already drifted once (FAILED_READ_FILE) — reuse it so the chaos
    # harness and the retry path can never disagree about what counts
    # as a vacuum-expired scan.
    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        _scan_expired_error as _expired_scan,
    )

    def merger():
        i = 1
        try:
            while not stop.is_set():
                batch = spark.createDataFrame(
                    [(k, i, str(k % 2)) for k in range(8)], schema
                )
                while True:
                    try:
                        W.merge_upsert(spark, batch, store, key=["k"])
                        break
                    except W.ConcurrentCommitError:
                        time.sleep(rng.uniform(0.01, 0.05))
                    except Exception as e:  # noqa: BLE001
                        if not _expired_scan(e):
                            raise
                        time.sleep(rng.uniform(0.01, 0.05))
                i += 1
        except Exception as e:  # noqa: BLE001
            failures.append(f"merger: {e}")

    erased_log: list[tuple[float, frozenset]] = []

    def eraser():
        try:
            for c in range(5):
                keys = list(range(100 + 4 * c, 100 + 4 * (c + 1)))
                kdf = spark.createDataFrame([(k,) for k in keys], "k long")
                while True:
                    try:
                        W.erase_from_store(spark, kdf, store, "k")
                        break
                    except W.ConcurrentCommitError:
                        time.sleep(rng.uniform(0.01, 0.05))
                    except Exception as e:  # noqa: BLE001
                        if not _expired_scan(e):
                            raise
                        time.sleep(rng.uniform(0.01, 0.05))
                erased_log.append((time.time(), frozenset(keys)))
                time.sleep(0.2)
        except Exception as e:  # noqa: BLE001
            failures.append(f"eraser: {e}")

    def sweeper():
        try:
            while not stop.is_set():
                try:
                    W.vacuum_generations(store, keep=2)
                except FileNotFoundError:
                    pass  # rival removed a listed dir first — tolerated
                live = W.resolve_store(store)
                if not os.path.isdir(live):
                    failures.append(f"torn pointer: {live}")
                time.sleep(0.01)
        except Exception as e:  # noqa: BLE001
            failures.append(f"sweeper: {e}")

    threads = [
        threading.Thread(target=f, daemon=True) for f in (merger, eraser, sweeper)
    ]
    for t in threads:
        t.start()

    completed = 0
    retries = 0
    while completed < 100:
        started = time.time()
        try:
            feats = W.read_store(spark, store)
            if completed % 2 == 0:
                uri = f"file://{tmp_path}/sink-{completed}"
                S.foreach_partition_upsert(
                    feats, "k", lambda uri=uri: S.DictStoreClient(uri)
                )
                docs = S.DictStoreClient.read_store(uri)
                synced = {int(k): d["val"] for k, d in docs.items()}
            else:
                synced = {}
                for page in S.export_pages(feats, "k", None, page_size=5):
                    for d in page:
                        synced[d["k"]] = d["val"]
        except Exception as e:  # noqa: BLE001
            if _expired_scan(e):
                retries += 1  # the documented reader-retry case
                continue
            raise
        # snapshot consistency: one generation = one uniform stamp
        stamps = {int(v) for k, v in synced.items() if k < 8}
        assert len(stamps) == 1, f"torn serving sync mixed stamps: {stamps}"
        # erasure: syncs started after a committed erase never resurrect
        for t_commit, keys in list(erased_log):
            if t_commit < started:
                leaked = keys & set(synced)
                assert not leaked, f"erased subjects served: {sorted(leaked)}"
        completed += 1

    stop.set()
    for t in threads:
        t.join(timeout=180)
    assert failures == [], failures[:5]
    # the erase thread finished all its chunks
    assert len(erased_log) == 5
    # final state: all subjects gone, keys 0-7 carry one final stamp
    final = {r.k: r.val for r in W.read_store(spark, store).collect()}
    assert set(final) == set(range(8))
    assert len({final[k] for k in range(8)}) == 1


@pytest.mark.fullsuite
def test_warm_state_chaos_refresh_vs_rebuild_vacuum(spark, tmp_path, monkeypatch):
    """VERDICT r12 #6 — the warm-state store joins the chaos loop: the
    warm refresh read path (``_ensure_warm_state`` fence check →
    ``read_store`` of the state generation → delta stitch) races rival
    state REBUILDS (the crashed-nightly retry shape: same fingerprint,
    re-committed as a new generation) and a keep=1 vacuum sweeper for
    ≥100 completed refreshes. A refresh mid-scan on an expiring
    generation is the DOCUMENTED retry class (same as the serving
    chaos leg); everything else must hold:

    - exactness: every COMPLETED refresh equals the full recompute,
      row for row — no torn generation, no half-vacuumed state ever
      serves;
    - fence integrity: the live tag's fingerprint line never differs
      from the input fingerprint (rival rebuilds commit the same fp);
    - liveness: rebuilder, sweeper, and the refresh loop all finish."""
    import random
    import threading
    import time

    from wallet_and_risky_features_data_pipeline_spark.plans import (
        incremental_plans as inc,
    )
    from wallet_and_risky_features_data_pipeline_spark.plans.wallet_features import (
        contract_state_from,
    )
    from wallet_and_risky_features_data_pipeline_spark.plans.wallet_model import (
        wallet_transactions,
    )
    from wallet_and_risky_features_data_pipeline_spark.plans.windows_plans import (
        wallet_coin_balances,
    )
    from wallet_and_risky_features_data_pipeline_spark.sources import writers as W
    from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
        _scan_expired_error,
    )

    monkeypatch.setenv("SPARK_GRAFT_WARM_STATE_DIR", str(tmp_path))
    expected = sorted(
        tuple(r) for r in wallet_coin_balances(spark, SF_SMALL).collect()
    )
    # first refresh builds + commits gen-000001
    first = sorted(
        tuple(r)
        for r in inc.wallet_coin_balances_warm(spark, SF_SMALL).collect()
    )
    assert first == expected
    store = inc._state_store(SF_SMALL, "contract_state")
    input_fp = inc._state_fingerprint(
        SF_SMALL, inc._CONTRACT_STATE_VERSION, inc.SPLIT_AT
    )
    # The production commit path (_ensure_warm_state) suffixes the
    # input fingerprint with the build closure's recipe hash; rival
    # rebuilds must commit the SAME effective tag the crashed nightly
    # would re-commit, so read it from the generation the first
    # refresh just committed.
    fp = inc._warm_tag_fp(W.generation_tag(store))
    assert fp is not None and fp.startswith(input_fp)

    split = F.lit(inc.SPLIT_AT).cast("timestamp")
    state_df = contract_state_from(
        wallet_transactions(spark, SF_SMALL).filter(F.col("ts") < split)
    )
    stop = threading.Event()
    failures: list[str] = []
    rng = random.Random(0x5EED)
    rebuilds = 0

    def rebuilder():
        nonlocal rebuilds
        try:
            while not stop.is_set():
                try:
                    W.commit_generation(state_df, store, tag=fp)
                    rebuilds += 1
                except W.ConcurrentCommitError:
                    pass  # rival won the flip — same fp, nothing lost
                except Exception as e:  # noqa: BLE001
                    if not _scan_expired_error(e):
                        raise
                # throttled BELOW the refresh cadence: with keep=1
                # sweeping, commits faster than one refresh read (~2 s
                # under churn) expire EVERY in-flight scan and the
                # reader can only ever retry — measured: a 0.3-0.8 s
                # cadence ground 100 refreshes past a 25-minute budget.
                # ~1.5-3 s still produces dozens of expiry races across
                # the run.
                time.sleep(rng.uniform(1.5, 3.0))
        except Exception as e:  # noqa: BLE001
            failures.append(f"rebuilder: {e}")

    def sweeper():
        try:
            while not stop.is_set():
                try:
                    W.vacuum_generations(store, keep=1)
                except FileNotFoundError:
                    pass  # rival removed a listed dir first — tolerated
                live = W.resolve_store(store)
                if not os.path.isdir(live):
                    failures.append(f"torn pointer: {live}")
                time.sleep(0.01)
        except Exception as e:  # noqa: BLE001
            failures.append(f"sweeper: {e}")

    threads = [
        threading.Thread(target=f, daemon=True) for f in (rebuilder, sweeper)
    ]
    for t in threads:
        t.start()

    completed = 0
    retries = 0
    attempts = 0
    while completed < 100:
        attempts += 1
        assert attempts < 3000, (
            f"refresh starved: {completed} completed in {attempts} attempts"
        )
        try:
            got = sorted(
                tuple(r)
                for r in inc.wallet_coin_balances_warm(
                    spark, SF_SMALL
                ).collect()
            )
        except Exception as e:  # noqa: BLE001
            if _scan_expired_error(e):
                retries += 1  # the documented refresh-retry class
                continue
            raise
        assert got == expected, f"refresh {completed} diverged from full"
        # fence integrity under churn: the live tag always carries the
        # input fingerprint on line 1
        try:
            tag = W.generation_tag(store)
        except (FileNotFoundError, OSError):
            tag = None  # tag file expired mid-read — retry class
        if tag is not None:
            assert inc._warm_tag_fp(tag) == fp
        completed += 1

    stop.set()
    for t in threads:
        t.join(timeout=180)
    assert failures == [], failures[:5]
    assert rebuilds > 0, "chaos never exercised a rival rebuild"
