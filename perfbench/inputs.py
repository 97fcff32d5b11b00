"""Deterministic benchmark inputs.

The table CONTENT is fixed (generated from ``CONTENT_SEED``), so the
expected answers under ``expected/`` hold for every run; the run's
``--seed`` only permutes the physical row order of each table.

Shapes mirror the synthetic ``events`` / ``documents`` / ``embeddings``
tables the engine is developed against:

- events: ``event_id`` 0..N-1 in time order over January 2024,
  ``user_id`` (the wallet) uniform over N/66 users, five event types
  (the contract), exponential values, ``props = {"k": 0..99}`` (the
  counterparty);
- documents: 10-100 words over a 30-word vocabulary; 5% are a copy of
  an earlier document plus a ``dup`` token (the near-duplicates the
  dedup family clusters);
- embeddings: unit-norm 64-d vectors with ten labels.

Layout written under ``root``::

    full/{events,documents,embeddings}.parquet   all events
    base/events.parquet                          events below the 99th ts percentile
    base/{documents,embeddings}.parquet          links to full/
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

CONTENT_SEED = 42
N_EVENTS = 10_000
N_DOCS = 500
N_VECS = 500
DELTA_PCT = 99

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
JAN_2024_US = 1_704_067_200_000_000
MONTH_US = 30 * 86_400 * 1_000_000


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    ts = np.sort(rng.integers(0, MONTH_US, n)) + JAN_2024_US
    k = rng.integers(0, 100, n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, n * 3 // 200), n), pa.int64()),
            "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {v}}}' for v in k]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[i] for i in rng.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.normal(size=(n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def content(scale: float = 1.0) -> dict[str, pa.Table]:
    """The fixed tables, in canonical (id) order. ``scale`` shrinks
    them for smoke tests; expected answers exist only for 1.0."""
    rng = np.random.default_rng(CONTENT_SEED)
    return {
        "events": _events(rng, max(200, int(N_EVENTS * scale))),
        "documents": _documents(rng, max(50, int(N_DOCS * scale))),
        "embeddings": _embeddings(rng, max(50, int(N_VECS * scale))),
    }


def delta_cut_us(events: pa.Table) -> int:
    """Events at or after this ts (the top 1%) form the nightly delta."""
    ts = events.column("ts").cast(pa.int64()).to_numpy()
    return int(np.percentile(ts, DELTA_PCT))


def digest(tables: dict[str, pa.Table]) -> str:
    """Order-sensitive content hash of the canonical tables: pins the
    generator so a drift fails loudly instead of as query mismatches."""
    h = hashlib.sha256()
    for name in sorted(tables):
        for batch in tables[name].to_batches():
            for col in batch.columns:
                h.update(str(col.to_pylist()).encode())
    return h.hexdigest()


def write(root: str, seed: int, tables: dict[str, pa.Table] | None = None) -> dict:
    """Write ``full/`` and ``base/`` under ``root`` with each table's
    rows permuted by ``seed``. Returns facts the checks need."""
    tables = tables or content()
    perm = np.random.default_rng(seed)
    for d in ("full", "base"):
        os.makedirs(os.path.join(root, d), exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t.take(perm.permutation(t.num_rows)), f"{root}/full/{name}.parquet")
        if name != "events":
            os.symlink(f"../full/{name}.parquet", f"{root}/base/{name}.parquet")
    events = pq.read_table(f"{root}/full/events.parquet")
    cut = delta_cut_us(events)
    ts = events.column("ts").cast(pa.int64())
    base = events.filter(pc.less(ts, cut))
    pq.write_table(base, f"{root}/base/events.parquet")
    return {
        "full": f"{root}/full",
        "base": f"{root}/base",
        "n_events": events.num_rows,
        "n_base": base.num_rows,
        "cut_us": cut,
    }
