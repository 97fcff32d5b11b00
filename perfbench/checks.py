"""Output checks. None of these run inside a timed region.

- ``same_rows``: the exact, order-insensitive rule of
  ``tests/oracle_compare.compare`` (same column set, same row count,
  equal multisets of NaN/None-normalized rows), applied to a Spark
  result and an expected pandas frame.
- ``replay_syncs`` / ``docs_diff``: the serving store checked by
  replaying each sync's own part files in sync order.
- ``read_store_stale``: the known defect, counted and reported. The
  store's own ``DictStoreClient.read_store`` merges part files in
  filename (uuid) order, not write order, so a wallet upserted by two
  syncs can read back the older document.
"""

from __future__ import annotations

import json
import os
from collections import Counter

import pandas as pd

from tests.oracle_compare import _norm


def same_rows(actual: pd.DataFrame, expected: pd.DataFrame) -> tuple[bool, str]:
    if sorted(actual.columns) != sorted(expected.columns):
        return False, f"columns differ: {sorted(actual.columns)} vs {sorted(expected.columns)}"
    if len(actual) != len(expected):
        return False, f"row counts differ: {len(actual)} vs {len(expected)}"
    cols = sorted(actual.columns)

    def rows(df: pd.DataFrame) -> Counter:
        return Counter(
            tuple(_norm(v) for v in r) for r in df[cols].itertuples(index=False, name=None)
        )

    a, e = rows(actual), rows(expected)
    if a != e:
        return False, f"values differ; actual-only {list((a - e))[:2]} expected-only {list((e - a))[:2]}"
    return True, "ok"


def load_docs(paths: list[str]) -> dict:
    """Merge part files in the given order, later documents winning."""
    store: dict = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                doc = json.loads(line)
                k = doc.pop("_key")
                store[k] = {**store.get(k, {}), **doc}
    return store


def replay_syncs(syncs: list[list[str]]) -> dict:
    """The serving view as written: each sync's part files, in sync order."""
    return load_docs([p for sync in syncs for p in sync])


def as_docs(rows: list[dict], key: str) -> dict:
    """Spark rows → the documents the serving sink writes for them."""
    return {
        str(r[key]): json.loads(json.dumps(r, default=str)) for r in rows
    }


def docs_diff(actual: dict, expected: dict) -> list[str]:
    """Keys missing, extra, or with a different document."""
    keys = set(actual) | set(expected)
    return sorted(k for k in keys if actual.get(k) != expected.get(k))


def part_files(uri: str) -> set[str]:
    if not os.path.isdir(uri):
        return set()
    return {os.path.join(uri, f) for f in os.listdir(uri) if f.startswith("part-")}


def read_store_stale(uri: str, expected: dict) -> int:
    """Wallets whose document, as ``DictStoreClient.read_store`` merges
    it, differs from the expected end state."""
    from wallet_and_risky_features_data_pipeline_spark.sources.serving import (
        DictStoreClient,
    )

    return len(docs_diff(DictStoreClient.read_store(uri), expected))
