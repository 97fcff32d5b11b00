"""Deduplication operators for large-scale training-data pipelines.

The reference deduplicates relationally (anti-join on natural keys,
SELECT DISTINCT — SURVEY.md §2.3 J9 / §2.4 A10); this module adds the
content-based family a 100 TB document pipeline needs:

- ``exact_dedup_groups``  — hash-groupBy exact dedup (one shuffle on
  the digest; canonical row = min id per digest).
- ``minhash_signature`` / ``lsh_candidate_pairs`` — MinHash + banded
  LSH near-dup: shingle → Carter-Wegman affine hashes off one md5 →
  per-seed min → band digests → equi self-join per band. The whole
  pipeline stays in whole-stage codegen; the only shuffles are the
  band self-joins, each a plain hash join on a 32-hex-char key.
- ``simhash`` — 16-bit SimHash from md5 hex-digit votes per token.
- ``ngram_jaccard_pairs`` — exact n-gram Jaccard via shingle-explode
  self-join (inverted-index shape: the join key is the shingle, so
  co-shingled docs meet without a cross product).

Scale notes: band keys / digests are uniformly distributed (md5), so
the self-joins are skew-free by construction; pathological buckets
(boilerplate shingles) are capped by ``max_bucket`` before pairing —
the standard guard against quadratic bucket blowup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..caching import persist_tracked

N_HASHES = 16
BAND_SIZE = 8  # 2 bands × 8 rows — b·r = N_HASHES
MINHASH_PRIME = 4_294_967_311  # smallest prime > 2^32


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Digest → (canonical id, duplicate count). Exact content dedup."""
    return (
        df.select(F.col(id_col), F.md5(F.lower(F.trim(F.col(text_col)))).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_docs"),
        )
    )


def word_shingles(text_col: str, n: int = 3) -> Column:
    """Word n-gram shingles (≥1 per doc; short docs shingle whole).

    The tokenization is LET-BOUND via ``transform(array(toks), t ->
    ...)[0]``: higher-order functions evaluate their lambda BODY per
    element with no subexpression caching, so inlining the
    split-regex twice inside the shingle lambda re-tokenized the full
    text once per shingle — O(tokens²) character work per document
    (measured 5× on the sf0.1 shingle explode). Binding the token
    array as the outer transform's input evaluates the split exactly
    once per row; the inner lambda only slices the bound array."""
    toks = rf"array_remove(split(trim(lower({text_col})), '\\s+'), '')"
    return F.expr(
        f"transform(array({toks}), __toks ->"
        f" transform(sequence(1, greatest(size(__toks) - {n - 1}, 1)),"
        f" i -> concat_ws(' ', slice(__toks, i, {n}))))[0]"
    )


def minhash_signature(df: DataFrame, id_col: str, text_col: str,
                      n_hashes: int = N_HASHES, shingle_n: int = 3) -> DataFrame:
    """One ``minhash_sig`` (array<bigint>) per id via the Carter-Wegman
    affine family: ONE md5 per shingle, split into two 32-bit ints
    (a, b), then h_i = (a + i·b) mod p — the standard pairwise-
    independent minhash construction (Broder's original scheme uses
    exactly such universal-hash permutations).

    vs hashing the shingle n_hashes times: 16× fewer digest
    computations and a far smaller generated-code body (one md5 + 16
    fused modmuls instead of 16 md5 calls widening the projection).
    Shape: explode shingles → flat (a, b) projection (whole-stage
    codegen; array lambdas would fall back to interpreted evaluation)
    → groupBy-min per seed. One shuffle on the id, map-side partial
    mins.

    Variance tradeoff: the i-th hash is an affine combination of ONE
    base digest per shingle (Kirsch–Mitzenmacher style), so the
    n_hashes slots are pairwise- but not mutually-independent — slot
    estimates are slightly correlated, raising the variance of the
    Jaccard estimate versus n_hashes independent permutations. For
    LSH banding this costs a marginally softer S-curve, not bias; the
    16× cheaper signature pass is the right trade at corpus scale.
    Callers needing lower variance raise ``n_hashes`` (cost grows in
    the cheap modmul term, not in digests)."""
    ex = df.select(F.col(id_col), F.explode(word_shingles(text_col, shingle_n)).alias("__s"))
    hashed = ex.select(
        id_col,
        F.expr("cast(conv(substr(md5(__s), 1, 8), 16, 10) as bigint)").alias("__a"),
        F.expr("cast(conv(substr(md5(__s), 9, 8), 16, 10) as bigint)").alias("__b"),
    )
    mins = hashed.groupBy(id_col).agg(
        *[
            F.min((F.col("__a") + F.lit(i) * F.col("__b")) % F.lit(MINHASH_PRIME)).alias(
                f"__m{i}"
            )
            for i in range(n_hashes)
        ]
    )
    return mins.select(
        id_col, F.array(*[f"__m{i}" for i in range(n_hashes)]).alias("minhash_sig")
    )


def band_keys(df: DataFrame, n_hashes: int = N_HASHES, band_size: int = BAND_SIZE) -> DataFrame:
    """Append band_0..b-1 digests over slices of ``minhash_sig``."""
    out = df
    for b in range(n_hashes // band_size):
        out = out.withColumn(
            f"band_{b}",
            F.expr(
                f"md5(array_join(transform(slice(minhash_sig, {b * band_size + 1},"
                f" {band_size}), v -> cast(v as string)), '-'))"
            ),
        )
    return out


def _banded_exploded(signed: DataFrame, id_col: str, n_hashes: int,
                     band_size: int, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Flatten band digests to one ``(band, bucket)`` row per (doc,
    band): the composite key lets a SINGLE equi self-join cover every
    band instead of one join (and one bucket-size guard) per band —
    same candidate set, n_bands× fewer shuffle stages.
    """
    n_bands = n_hashes // band_size
    return band_keys(signed, n_hashes, band_size).select(
        F.col(id_col),
        "minhash_sig",
        *extra_cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), F.col(f"band_{b}").alias("bucket")
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("__bb"),
    ).select(id_col, "minhash_sig", *extra_cols, "__bb.band", "__bb.bucket")


def lsh_candidate_pairs(
    signed: DataFrame,
    id_col: str,
    n_hashes: int = N_HASHES,
    band_size: int = BAND_SIZE,
    max_bucket: int = 50,
) -> DataFrame:
    """Near-duplicate candidate pairs from banded LSH.

    Pairs (a < b) sharing any band, with the estimated Jaccard =
    fraction of matching signature rows. Buckets larger than
    ``max_bucket`` are dropped (boilerplate guard against quadratic
    bucket blowup).

    Shape: band digests are EXPLODED to (band, bucket) rows, so the
    megabucket guard is one aggregate and the candidate generation is
    one equi self-join on the composite key — not a join per band.
    The exploded table is persisted (it feeds the guard plus both join
    sides, and the cache boundary stops Catalyst re-inlining the md5
    signature scan into each consumer); no eager count is needed
    because under AQE's stage-wise materialization the broadcast guard
    materializes first, filling the cache before the join stages scan
    it — and ``readers._ensure_session_confs`` pins
    ``spark.sql.adaptive.enabled=true`` on every engine entry point, so
    that ordering holds even under a caller-provided session."""
    exploded = persist_tracked(_banded_exploded(signed, id_col, n_hashes, band_size))
    sizes = exploded.groupBy("band", "bucket").agg(F.count("*").alias("n"))
    capped = exploded.join(
        F.broadcast(sizes.filter(F.col("n") <= max_bucket)), ["band", "bucket"]
    )
    left = capped.select(
        "band", "bucket", F.col(id_col).alias("doc_a"), F.col("minhash_sig").alias("sig_a")
    )
    right = capped.select(
        "band", "bucket", F.col(id_col).alias("doc_b"), F.col("minhash_sig").alias("sig_b")
    )
    pairs = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), m -> m))")
                / F.lit(float(n_hashes))
            ).alias("est_jaccard"),
        )
    )
    return pairs.groupBy("doc_a", "doc_b").agg(F.max("est_jaccard").alias("est_jaccard"))


# Diagnostic only (scale probes report convergence-round counts at
# 10×/100× structure growth): loop rounds the LAST connected_components
# call took to converge, excluding the folded init round. Last-writer-
# wins under concurrency — read it only after a serial run.
LAST_CC_ROUNDS: int | None = None


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
    escalate_after: int = 4,
) -> DataFrame:
    """Cluster formation over near-dup pairs: assign every node the
    MINIMUM id reachable through the pair graph (connected components
    by min-label propagation), so each dedup cluster gets one stable
    canonical id — the step that turns pairwise similarity output into
    keep/drop decisions.

    The base round is neighbor propagation — label(v) ← min(label(v),
    min over neighbors u of label(u)): one hash join edge⋈label +
    groupBy-min. That converges in O(component diameter) rounds, which
    is 2-4 for the shallow clusters near-dup graphs actually form —
    but a pure propagation loop silently mislabels any chain longer
    than ``max_iter``. So from round ``escalate_after`` on, each round
    ALSO applies pointer doubling — label(v) ← min(label(v),
    label(label(v))), a self-join of the previous round's label table
    — the classic shortcutting step (Shiloach-Vishkin / large-star
    families): it halves the remaining pointer-chain depth per round,
    so total rounds scale with log(diameter) and 25 rounds cover
    diameters beyond 2^20. Escalation is adaptive for cost, not
    correctness: the common shallow case converges before round 4 and
    never pays the extra self-join; only genuinely deep graphs do.
    The doubling lookup uses the PREVIOUS round's (checkpointed)
    table, so each round still materializes exactly once.

    Both updates only ever LOWER a label to another reachable node id,
    and at a fixpoint every node's label equals the component minimum
    (walk the path from the min: each hop's label is pinned equal by
    the neighbor-min condition alone), so stopping on "no change" is
    exact. If ``max_iter`` rounds pass while labels are still moving
    the result would be silently wrong — that raises instead.

    Lineage is cut with ``localCheckpoint`` per action — without it
    the plan doubles every iteration and Catalyst analysis dominates.
    The checkpoints are LAZY (eager=False): each convergence probe is
    the action that materializes that action's checkpoint (a self-loop
    fold that also removed the per-round label re-join was tried and
    measured NO faster — the extra union/distinct offset the saved
    broadcast join — so the simpler propagation shape stays). The probe
    aggregates a single boolean, not the label table (no driver-side
    data). Nodes with no edges keep their own id.

    Rounds are applied in PAIRS per action (r15: the per-action
    scheduler round-trip was ~0.7 s of a 2-round convergence's 2.1 s
    at sf0.1 — pure fixed latency on a 235-edge graph). Each action
    composes round A and round B = propagate(A) in ONE plan and probes
    only round B's change flags: if B moved nothing, A's output is a
    fixpoint of the neighbor-min condition, which ALONE pins every
    label to the component minimum (walk the path from the min — each
    hop is pinned equal), so A's own flags are irrelevant to the stop
    rule. Work per action is exactly the two rounds' joins — round A's
    output feeds B's two consumers through one reused exchange (both
    key on ``node``), so nothing is computed twice — and the label
    table is checkpoint-materialized once per pair instead of once per
    round. Doubling (from ``escalate_after`` on) targets the table
    checkpointed at the START of the pair for both sub-rounds: a stale
    doubling target is still a reachable-min lookup (monotone, only
    ever lowers a label to another reachable id), and the stop rule
    never depends on doubling having been applied.
    """
    edges = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    edges = edges.localCheckpoint(eager=False)
    # Round 1's propagation folded into initialization: label =
    # min(node, neighbors) is one aggregation over the edge list — no
    # join against a label table and no convergence probe (it always
    # changes when edges exist). The loop below starts from round 2.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("__mn"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("__mn")).alias("label"),
        )
        .localCheckpoint(eager=False)
    )

    def _one_round(lbl: DataFrame, escalate: bool, doubling: DataFrame) -> DataFrame:
        nbr_min = (
            edges.join(lbl, edges.dst == lbl.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        cur = lbl.join(nbr_min, lbl.node == nbr_min.src, "left")
        best = F.least(F.col("label"), F.coalesce("nbr_label", "label"))
        moved = F.coalesce(F.col("nbr_label") < F.col("label"), F.lit(False))
        if escalate:
            # Pointer doubling against the pair-start (checkpointed)
            # table. The label is always a node with edges (it starts
            # as an edge endpoint and only ever moves to another one),
            # so the lookup hits; left-join + coalesce keeps the
            # no-match case total.
            targets = doubling.select(
                F.col("node").alias("__ln"), F.col("label").alias("__ll")
            )
            cur = cur.join(targets, cur.label == targets.__ln, "left")
            best = F.least(best, F.coalesce("__ll", "label"))
            moved = moved | F.coalesce(F.col("__ll") < F.col("label"), F.lit(False))
        return cur.select("node", best.alias("label"), moved.alias("__changed"))

    # Rounds execute in PAIRS, so the enforced budget is max_iter
    # rounded UP to a whole pair (ADVICE r15: an odd max_iter used to
    # run one extra round while the error text claimed the stated
    # bound — the message now reports the bound actually enforced).
    round_budget = max_iter + (max_iter % 2)
    converged = False
    for it in range(0, round_budget, 2):
        half_a = _one_round(labels, it >= escalate_after, labels).drop("__changed")
        half_b = _one_round(half_a, it + 1 >= escalate_after, labels)
        new_labels = half_b.localCheckpoint(eager=False)
        changed = new_labels.agg(F.max(F.coalesce("__changed", F.lit(False)))).first()[0]
        labels = new_labels.drop("__changed")
        if not changed:
            converged = True
            global LAST_CC_ROUNDS
            LAST_CC_ROUNDS = it + 2
            break
    if not converged:
        raise RuntimeError(
            "connected_components: labels still changing after "
            f"{round_budget} executed rounds (max_iter={max_iter} rounded up "
            "to whole pairs) — result would be silently non-converged; "
            "raise max_iter"
        )
    return nodes.select(F.col(id_col)).join(
        labels.withColumnRenamed("node", id_col), id_col, "left"
    ).select(
        id_col, F.coalesce("label", F.col(id_col)).alias("cluster_id")
    )


def simhash16(df: DataFrame, text_col: str) -> DataFrame:
    """Append a 16-bit SimHash bitstring: bit i = sign of the sum over
    tokens of ±1 votes from the i-th hex digit of md5(token). The
    token array is let-bound once per row (see ``word_shingles``) so
    the 16 per-bit aggregates share one tokenization instead of
    re-splitting the text 16×."""
    toks = rf"array_remove(split(trim(lower({text_col})), '\\s+'), '')"
    bits = " || ".join(
        f"CASE WHEN aggregate(__toks, 0, (acc, t) -> acc +"
        f" CASE WHEN instr('0123456789abcdef', substring(md5(t), {i}, 1)) >= 9"
        f" THEN 1 ELSE -1 END) > 0 THEN '1' ELSE '0' END"
        for i in range(1, 17)
    )
    return df.withColumn(
        "simhash", F.expr(f"transform(array({toks}), __toks -> {bits})[0]")
    )


# Doc-count bound under which the n-gram pair family FORCES its dim
# broadcasts (per-doc sizes ≈ 16 B/row → ≤ 320 MB built relation at
# the bound; the hot-shingle list is smaller still by the df-cap
# algebra: |hot| ≤ |shingle rows| / max_df). Below the bound the
# forced hint removes three AQE stage barriers whose re-planning
# dominated the sf0.1 run (measured 3.25 s → 2.21 s); above it the
# hint would be an OOM bet (a broadcast relation caps at 8 GB / 512M
# rows), so callers fall back to AQE's runtime choice — the correct
# degradation at corpus scale.
NGRAM_BROADCAST_MAX_DOCS = 20_000_000


def ngram_capped_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, max_df: int = 100,
    persist: bool = True, broadcast_dims: bool = False,
) -> DataFrame:
    """The shared base of the n-gram pair family: the df-capped
    ``(doc, shingle)`` stream both measures pair over.

    ``max_df`` drops shingles whose document frequency exceeds it
    BEFORE any pairing — the boilerplate guard: a shingle shared by
    1M docs would emit 10¹² pairs. Similarity is then computed over
    the df-filtered shingle universe (sizes and intersections both
    exclude capped shingles), which discounts boilerplate from the
    measure itself — the standard df-cap semantics (same role as
    ``max_bucket`` on the MinHash path).

    The cap is applied as an ANTI join against the HOT list (shingles
    with df > max_df) rather than an inner join against the full df
    table: the hot list is bounded by |shingle rows| / max_df at any
    corpus size — orders of magnitude smaller than the full distinct-
    shingle table, so the build side stays broadcastable far longer
    (so even unhinted it degrades to a hash join, never an OOM).
    ``broadcast_dims`` FORCES the hot-list broadcast when the caller
    has proven the corpus small (``NGRAM_BROADCAST_MAX_DOCS``) —
    skipping the AQE stage-barrier re-planning that dominated the
    sf0.1 run; leave False at unknown scale. Persisted because the df
    count, the per-doc sizes and both self-join sides all read this
    stream; ``persist=False`` is for callers that memoize it with
    their own (scope-surviving) persist."""
    shingled = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(word_shingles(text_col, n))).alias("shingle"),
    )
    hot = (
        shingled.groupBy("shingle")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") > max_df)
        .select("shingle")
    )
    if broadcast_dims:
        hot = F.broadcast(hot)
    # r16 rejected A/Bs (OPTIMIZATION_r16.md):
    # (a) persisting this stream pre-partitioned on ``shingle`` (so the
    # pair self-join could reuse the cache's layout) measured 1.07× —
    # at bench scale that join is a BroadcastHashJoin (no exchange to
    # save), so the extra repartition exchange was pure cost, and at
    # corpus scale AQE already owns the strategy; (b) persisting the
    # PRE-cap shingled stream instead (one tokenize pass cold) measured
    # 1.41× — the bigger cache write plus three anti-join re-runs cost
    # more than the saved tokenize. The unpartitioned capped persist
    # stays.
    capped = shingled.join(hot, "shingle", "left_anti")
    return persist_tracked(capped) if persist else capped


def ngram_sized_pairs(capped: DataFrame, broadcast_dims: bool = False) -> DataFrame:
    """(doc_a, doc_b, inter, sz_a, sz_b) over a df-capped shingle
    stream — the shared pair core both measures project from.

    Shape (r15 №2 rewrite, 25% under the posting-array form it
    replaces): per-doc kept-shingle sizes ride the stream INTO the
    pair join (one tiny ≤|docs| hash agg, attached map-side — AQE
    broadcasts while it fits, hash join beyond), so the pair
    aggregate's grain (doc_a, doc_b, sz_a, sz_b) already carries both
    sizes and the measures are pure in-row arithmetic — no persisted
    pair table, no diagonal rows, no join-back above the aggregate
    (the r14 shape persisted the |pairs|-sized intersection table
    just to re-join per-doc sizes onto it; |pairs| ≫ |docs|, so that
    cache write was the dominant cost of a cold run). Pair generation
    is a plain equi self-join on the shingle — whole-stage codegen,
    where the posting-array explode evaluated its nested lambdas
    interpreted — with per-key fan-out bounded by ``max_df`` by
    construction (no skew, join output ≤ max_df · |shingle rows|),
    and the pair aggregate combines map-side before its exchange.
    No row-scaled buffer exists anywhere: the collect-free plan keeps
    every agg state O(1) (a window formulation would buffer whole hot
    partitions — the weighted-median 100× OOM class).
    ``broadcast_dims`` as in ``ngram_capped_shingles``: force the
    size-dim broadcast only at proven-small corpus sizes."""
    sizes = capped.groupBy("doc").agg(F.count("*").alias("__sz"))
    if broadcast_dims:
        sizes = F.broadcast(sizes)
    aug = capped.join(sizes, "doc")
    left = aug.select(
        "shingle", F.col("doc").alias("doc_a"), F.col("__sz").alias("sz_a")
    )
    right = aug.select(
        "shingle", F.col("doc").alias("doc_b"), F.col("__sz").alias("sz_b")
    )
    return (
        left.join(right, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count("*").cast("bigint").alias("inter"))
    )


def jaccard_pairs_from_capped(
    capped: DataFrame, threshold: float = 0.5, broadcast_dims: bool = False
) -> DataFrame:
    """Exact n-gram Jaccard pairs ≥ threshold over a prebuilt
    ``ngram_capped_shingles`` stream (so a session that already paid
    for it — e.g. for the containment query — reuses it)."""
    sized = ngram_sized_pairs(capped, broadcast_dims)
    return (
        sized.withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "inter", "jaccard")
    )


def containment_pairs_from_capped(
    capped: DataFrame, threshold: float = 0.8, broadcast_dims: bool = False
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT pairs ≥ threshold — the near-dup
    measure Jaccard structurally misses: a short document quoted
    whole inside a long one has |A∩B|/|A∪B| ≈ |A|/|B| → arbitrarily
    small, but containment |A∩B|/min(|A|,|B|) → 1. Standard corpus
    curation companion to Jaccard (Broder's containment coefficient):
    catches quote-inclusion, prefix-truncated re-crawls, and
    boilerplate-wrapped reposts."""
    sized = ngram_sized_pairs(capped, broadcast_dims)
    return (
        sized.withColumn(
            "containment",
            F.col("inter").cast("double")
            / F.least("sz_a", "sz_b").cast("double"),
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "inter", "containment")
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.5,
    max_df: int = 100,
) -> DataFrame:
    """Exact word-n-gram Jaccard pairs ≥ threshold via the shared
    df-capped pair core (``ngram_capped_shingles`` /
    ``ngram_sized_pairs`` for the scale notes)."""
    return jaccard_pairs_from_capped(
        ngram_capped_shingles(df, id_col, text_col, n, max_df), threshold
    )


def ngram_containment_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.8,
    max_df: int = 100,
) -> DataFrame:
    """Containment pairs ≥ threshold via the shared df-capped pair
    core — same candidate-pair bound and in-row measure as
    ``ngram_jaccard_pairs`` (see ``ngram_sized_pairs``)."""
    return containment_pairs_from_capped(
        ngram_capped_shingles(df, id_col, text_col, n, max_df), threshold
    )


# Integer-quantization recipe shared by the vector dedup family —
# quantize to BIGINT at 1e-6 BEFORE the dot product so dot and norms
# are pure integer arithmetic and the cosine is one integer-double
# division (see embedding_near_dup_pairs' determinism note). ONE
# definition, so the scale can never drift between operators while the
# oracles' SQL mirror (llm_ops._IDOT_SQL) pins the same recipe.
QUANT_VEC = "transform({v}, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
QUANT_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
    " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
)


def semantic_dedup(
    vectors: DataFrame,
    centroids: DataFrame,
    tau: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): coarse
    k-means cells bound the comparison scope, then within each cell any
    vector with a NEAR-IDENTICAL earlier (smaller-id) vector is
    dropped — the keep-first rendering of "keep one exemplar per
    semantic duplicate group". Returns one row per input vector:
    ``(id, cell_id, keep)`` with keep ∈ {0, 1}.

    Scale shape: cell assignment is ``similarity.ivf_assign`` (Arrow
    numpy argmax against the broadcast centroid codebook — no shuffle
    beyond the per-vector projection), and the duplicate scan runs
    per cell via ``applyInPandas`` — never an all-pairs product: one
    shuffle on ``cell_id``, then an exact int64 Gram matmul inside
    each ≤cell-sized group. Cell population is the quadratic knob:
    production sizes ``|centroids| ∝ corpus`` (SemDeDup uses k in the
    tens of thousands) so cells stay ~constant-sized, exactly like
    ``max_bucket`` bounds the LSH join — and the in-cell Gram matrix
    stays a constant-size numpy block per task. Cosines use integer
    quantization (``QUANT_VEC`` applied JVM-side, so the quantization
    recipe is pinned before Python sees a value; int64 dots ≤
    dims·1e12 ≪ 2⁵³ so the float64 conversion is lossless) — the
    keep/drop boundary is bit-identical cross-engine, and the r15
    vectorization replaced the per-pair interpreted ``zip_with`` dot
    (the remaining ~0.5 s of the 4.2 s r14 query) with the same
    arithmetic in one matmul."""
    import numpy as np
    import pandas as pd

    from .similarity import ivf_assign

    assigned = ivf_assign(vectors, centroids, id_col, vec_col)
    prepped = assigned.select(
        "c_id", "cell_id", F.expr(QUANT_VEC.format(v="c_vec")).alias("qv")
    )

    def _cell_keep(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("c_id")
        m = np.array(pdf["qv"].tolist(), dtype=np.int64)
        dots = (m @ m.T).astype(np.float64)
        n2 = np.sqrt((m * m).sum(axis=1).astype(np.float64))
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = dots / (n2[:, None] * n2[None, :])
        # drop j iff any earlier (smaller-id) i in the cell has
        # cosine >= tau — NaN (zero-norm) compares False, keeping the
        # row, same as the SQL threshold filter
        drop = np.triu(cos >= tau, k=1).any(axis=0)
        return pd.DataFrame(
            {
                id_col: pdf["c_id"].values,
                "cell_id": pdf["cell_id"].values,
                "keep": (~drop).astype("int32"),
            }
        )

    return prepped.groupBy("cell_id").applyInPandas(
        _cell_keep, f"{id_col} bigint, cell_id bigint, keep int"
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    tau: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: tuple[int, ...] = (1, 17, 33, 49),
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the vector-space member
    of the dedup family (exact digest / minhash / simhash / ngram /
    THIS): all unordered pairs whose cosine similarity is >= ``tau``,
    with candidate generation by bit-sampling LSH.

    Scale shape: the self-join is an equi join on the 2^|dims| LSH
    bucket key (one shuffle), never an all-pairs cross product — the
    same recall-for-cost trade as ``similarity.lsh_topk``: only pairs
    that agree on every sampled sign bit are compared (for cosine >=
    0.3 and random hyperplanes, ~4 sampled bits keep most true pairs;
    widen ``dims`` bands OR-style for higher recall).

    Determinism note: elements are quantized to BIGINT at 1e-6
    resolution BEFORE the dot product, so dot and norms are pure
    integer arithmetic and the cosine is integer-double division —
    correctly-rounded IEEE ops only. (The DECIMAL-cast recipe used by
    ``similarity._DOT`` has a latent half-way boundary: a float whose
    decimal expansion ties at the 9th digit rounds differently in
    Spark's shortest-repr BigDecimal cast vs DuckDB's cast — observed
    on real pairs here. Integer quantization has no such boundary:
    float→double widening is exact and round(double·1e6) rounds
    half-away-from-zero in both engines.) The quantization scale
    cancels in the cosine ratio, so values differ from true float
    cosine by < 1e-4 — irrelevant for a near-dup threshold.
    """
    from .similarity import lsh_bucket

    idot = QUANT_DOT.format(a=QUANT_VEC.format(v="{a}"), b=QUANT_VEC.format(v="{b}"))

    def _idot(a: str, b: str) -> F.Column:
        return F.expr(idot.format(a=a, b=b))

    b = lsh_bucket(df.select(id_col, vec_col), vec_col, dims=dims)
    left = b.select(
        F.col(id_col).alias("a_id"), F.col(vec_col).alias("a_vec"), "bucket"
    )
    right = b.select(
        F.col(id_col).alias("b_id"), F.col(vec_col).alias("b_vec"), "bucket"
    )
    cosine = _idot("a_vec", "b_vec").cast("double") / (
        F.sqrt(_idot("a_vec", "a_vec").cast("double"))
        * F.sqrt(_idot("b_vec", "b_vec").cast("double"))
    )
    return (
        left.join(right, "bucket")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("cosine", cosine)
        .filter(F.col("cosine") >= F.lit(tau))
        .select("a_id", "b_id", "cosine")
    )


def incremental_lsh_pairs(
    stored_signed: DataFrame,
    new_signed: DataFrame,
    id_col: str,
    n_hashes: int = N_HASHES,
    band_size: int = BAND_SIZE,
    max_bucket: int = 50,
) -> DataFrame:
    """Candidate pairs for a NEW document batch against an existing
    corpus — the production shape of near-dup detection: corpus
    signatures are computed once and stored (they are plain columns, so
    the store is the merge_upsert parquet path), and each incoming
    batch pairs only new-vs-(corpus ∪ new). The corpus-vs-corpus
    quadrant — the quadratic bulk of a full re-dedup — is never
    re-formed, so per-batch cost is O(|new| × bucket), independent of
    corpus size.

    Megabucket guard note: bucket sizes are measured over the UNION
    (corpus + new), exactly as the full recompute would, so the
    df-capped output is identical to ``lsh_candidate_pairs`` on the
    full corpus restricted to pairs touching a new doc — the property
    ``tests/test_operators.py::test_incremental_lsh_equals_full`` pins.
    """
    all_signed = stored_signed.withColumn("__new", F.lit(False)).unionByName(
        new_signed.withColumn("__new", F.lit(True))
    )
    exploded = _banded_exploded(
        all_signed, id_col, n_hashes, band_size, extra_cols=("__new",)
    )
    return _incremental_pairs_from_exploded(exploded, id_col, n_hashes, max_bucket)


def incremental_lsh_pairs_pre_exploded(
    stored_exploded: DataFrame,
    new_signed: DataFrame,
    id_col: str,
    n_hashes: int = N_HASHES,
    band_size: int = BAND_SIZE,
    max_bucket: int = 50,
) -> DataFrame:
    """``incremental_lsh_pairs`` with the corpus side already in the
    STORED index form ``(id, minhash_sig, band, bucket)`` — what the
    generation store should persist: the corpus's band keys (an md5
    per band over the signature) are paid once at ingest, so a warm
    refresh derives band keys only for the NEW batch instead of
    re-hashing the whole stored corpus's signatures per run. Semantics
    identical to exploding stored signatures in-query (the band
    derivation is deterministic)."""
    new_ex = _banded_exploded(
        new_signed.withColumn("__new", F.lit(True)),
        id_col,
        n_hashes,
        band_size,
        extra_cols=("__new",),
    )
    exploded = stored_exploded.select(
        id_col, "minhash_sig", F.lit(False).alias("__new"), "band", "bucket"
    ).unionByName(new_ex.select(id_col, "minhash_sig", "__new", "band", "bucket"))
    return _incremental_pairs_from_exploded(exploded, id_col, n_hashes, max_bucket)


def _incremental_pairs_from_exploded(
    exploded: DataFrame, id_col: str, n_hashes: int, max_bucket: int
) -> DataFrame:
    """Shared tail of the incremental LSH family: megabucket guard over
    the union, then new-vs-all pairing on the composite band key."""
    exploded = persist_tracked(exploded)
    sizes = exploded.groupBy("band", "bucket").agg(F.count("*").alias("n"))
    capped = exploded.join(
        F.broadcast(sizes.filter(F.col("n") <= max_bucket)), ["band", "bucket"]
    )
    left = capped.filter(F.col("__new")).select(
        "band", "bucket", F.col(id_col).alias("doc_l"), F.col("minhash_sig").alias("sig_l")
    )
    right = capped.select(
        "band", "bucket", F.col(id_col).alias("doc_r"), F.col("minhash_sig").alias("sig_r")
    )
    pairs = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("doc_l") != F.col("doc_r"))
        .select(
            F.least("doc_l", "doc_r").alias("doc_a"),
            F.greatest("doc_l", "doc_r").alias("doc_b"),
            (
                F.expr("size(filter(zip_with(sig_l, sig_r, (x, y) -> x = y), m -> m))")
                / F.lit(float(n_hashes))
            ).alias("est_jaccard"),
        )
    )
    return pairs.groupBy("doc_a", "doc_b").agg(F.max("est_jaccard").alias("est_jaccard"))
