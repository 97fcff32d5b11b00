"""Serving-layer export (SURVEY.md §2.1 S10-S12).

The reference mirrors its Iceberg feature table into MongoDB as a
lightweight feature store: page through rows newer than the serving
watermark (``wr.athena.read_sql_query(..., chunksize=True)``), convert
the map column for Mongo, and fan upserts across a thread pool
(features_pipeline.py:170-237). Spark-native equivalents:

- ``export_pages``        — ``toLocalIterator`` pagination of a
  watermark-filtered DataFrame (bounded driver memory, one partition
  in flight at a time).
- ``foreach_partition_upsert`` — the distributed path: every executor
  partition opens its own client and batch-upserts. The document-store
  client is injected (this container has no Mongo), and
  ``DictStoreClient`` provides an in-memory stand-in so the full sink
  protocol — connect per partition, batch, upsert by key, close — is
  exercised in tests.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def export_pages(
    features: DataFrame, watermark_col: str, last_exported, page_size: int = 10_000
) -> Iterator[list[dict]]:
    """Yield pages of serving rows newer than the serving watermark."""
    newer = (
        features.filter(F.col(watermark_col) > F.lit(last_exported))
        if last_exported is not None
        else features
    )
    page: list[dict] = []
    for row in newer.toLocalIterator():
        page.append(row.asDict(recursive=True))
        if len(page) >= page_size:
            yield page
            page = []
    if page:
        yield page


class DictStoreClient:
    """File-backed document-store stand-in (the injected client would
    be pymongo in production; same upsert contract). Each client
    appends JSONL to its own file under the ``uri`` directory —
    executor partitions run in separate worker processes, so shared
    state must go through storage, exactly like a real sink. File names
    start with the zero-padded creation time, so ``read_store``'s
    name-ordered merge applies later syncs last.
    """

    def __init__(self, uri: str) -> None:
        import os
        import time
        import uuid

        self.dir = uri.removeprefix("file://")
        os.makedirs(self.dir, exist_ok=True)
        self.path = os.path.join(
            self.dir, f"part-{time.time_ns():020d}-{uuid.uuid4().hex}.jsonl"
        )
        self._fh = None

    def bulk_upsert(self, docs: list[dict], key: str) -> int:
        import json

        if self._fh is None:
            self._fh = open(self.path, "a")
        for d in docs:
            self._fh.write(json.dumps({"_key": d[key], **d}, default=str) + "\n")
        return len(docs)

    def close(self) -> None:
        if self._fh is not None:
            self._fh.close()

    @staticmethod
    def read_store(uri: str) -> dict:
        """Merge all partition files into the upserted document view."""
        import glob
        import json
        import os

        store: dict = {}
        d = uri.removeprefix("file://")
        for path in sorted(glob.glob(os.path.join(d, "part-*.jsonl"))):
            with open(path) as f:
                for line in f:
                    doc = json.loads(line)
                    k = doc.pop("_key")
                    store[k] = {**store.get(k, {}), **doc}
        return store


def foreach_partition_upsert(
    df: DataFrame,
    key: str,
    client_factory: Callable[[], object],
    batch_size: int = 1_000,
) -> None:
    """Distributed document-store sink: one client per partition,
    batched upserts keyed on ``key`` (S12's thread-pool fan-out becomes
    executor parallelism)."""

    def write_partition(rows) -> None:
        client = client_factory()
        batch: list[dict] = []
        try:
            for row in rows:
                batch.append(row.asDict(recursive=True))
                if len(batch) >= batch_size:
                    client.bulk_upsert(batch, key)
                    batch = []
            if batch:
                client.bulk_upsert(batch, key)
        finally:
            client.close()

    df.foreachPartition(write_partition)
