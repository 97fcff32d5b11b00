"""Sinks (SURVEY.md §2.1 S5-S9).

The reference appends Hive-partitioned parquet (raw layer), does
CTAS/INSERT through Athena (stage/analytics), and upserts Iceberg
tables with MERGE INTO (features). Spark equivalents:

- ``write_partitioned``  → ``df.write.partitionBy(...).mode(...)``
  (reference raw_data_ingestion_pipeline.py:110-118).
- ``merge_upsert``       → join-based MERGE in plain parquet with an
  ATOMIC GENERATION COMMIT; stands in for Iceberg ``MERGE INTO``
  (reference queries/ethereum_wallet_features.sql:760-833) without a
  Delta/Iceberg runtime dependency. Every MERGE (and every
  ``erase_from_store``) rewrites the live generation whole, flat.

Generation layout (the snapshot-commit half of the Iceberg gap)::

    store/
      _LATEST                     # one line: name of the live generation
      gen-000001/part-*.parquet   # immutable once committed
      gen-000002/part-*.parquet   # the next full snapshot
      gen-000002/_TAG             # optional commit tag (epoch fence)
      gen-000002/_SCHEMA          # a partitioned snapshot's schema (JSON)

Every generation writer (``merge_upsert``, ``erase_from_store``,
``commit_generation``) writes the whole new snapshot into a hidden
staging dir, renames it to ``gen-N+1``, and finally publishes through
``_flip_latest`` — an intent-logged compare-and-swap on the base
snapshot (atomic ``link(2)`` advance marker; one winner per parent
snapshot, losers get ``ConcurrentCommitError`` to retry, a winner that
crashes mid-publish is rolled forward by the next writer). Readers
resolve through ``resolve_store`` — a crash at ANY point leaves them on
the previous complete generation; there is no window where a reader
can observe a mixed-generation store. Old generations double as time
travel (``read_store(..., generation=N)``) until ``vacuum_generations``
prunes them (single-maintainer; hot paths skip ghosts via
``_next_gen_number`` instead of clearing).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import cache_scope, checkpoint_tracked
from ..operators.joins import upsert_rows

_LATEST = "_LATEST"
_GEN_PREFIX = "gen-"
_STAGE_PREFIX = ".tmp-gen-"
_TAG = "_TAG"
_SCHEMA = "_SCHEMA"
_MARKER_PREFIX = ".advance-"
_GENESIS = "genesis"


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str] = ("date_partition",),
    mode: str = "append",
) -> None:
    """Hive-partitioned parquet append/overwrite sink.

    Session-wide assumption (ADVICE r02): the engine self-provisions
    ``spark.sql.sources.partitionOverwriteMode=dynamic`` (see
    ``readers._ensure_session_confs``), so ``mode="overwrite"`` here
    means *replace only the partitions present in df*, never a full
    table truncate. Callers needing a true full-table replace must
    set the conf to ``static`` around the call explicitly.
    """
    df.write.partitionBy(*partition_cols).mode(mode).parquet(path)


def write_range_clustered(
    df: DataFrame,
    path: str,
    order_cols: Sequence[str],
    n_files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Globally range-clustered parquet export: every output file
    covers a DISJOINT range of ``order_cols`` and is sorted inside —
    the distributed "write it sorted" (Hive's SORTED BY, Delta's
    OPTIMIZE ... ZORDER for the 1-key case) without ever collapsing to
    one reducer. ``repartitionByRange`` samples the key distribution
    (reservoir per partition — the classic TeraSort partitioner) to cut
    ~equal-row boundaries, so a Zipf-hot key costs one fat file, not a
    serial global sort; ``sortWithinPartitions`` then orders each range
    locally. Downstream scans with a predicate on the leading order
    column prune to the files whose parquet min/max straddle it —
    ``zorder_column`` is the multi-dimensional sibling when no single
    leading column dominates.

    The boundary sampling is the one nondeterminism seam (file SIZES
    may shift run to run); the row CONTENT and per-file ordering are
    exact, which is what the range-disjointness test pins."""
    (
        df.repartitionByRange(n_files, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .write.mode(mode)
        .parquet(path)
    )


def generation_tag(path: str) -> str | None:
    """The ``tag`` recorded with the LIVE generation's commit (None for
    untagged commits or uncommitted stores). Read this BEFORE merging
    an at-least-once delivery: if the incoming epoch is <= the recorded
    one, the batch already committed and must be skipped."""
    if not os.path.exists(os.path.join(path, _LATEST)):
        return None
    return commit_tag(resolve_store(path))


def commit_tag(gen_dir: str) -> str | None:
    """The ``tag`` committed with one generation dir (None if untagged
    or gone) — for a caller that resolved a generation and needs ITS
    tag, not whatever is live by the time it asks."""
    try:
        with open(os.path.join(gen_dir, _TAG)) as f:
            return f.read()
    except FileNotFoundError:
        return None


def _staging_dir(path: str, n: int) -> str:
    """Unique per-writer staging dir for generation ``n``: a shared
    name would let a rival's startup cleanup delete THIS writer's
    in-flight Spark output (and both jobs would collide on _temporary)."""
    import uuid

    return os.path.join(path, f"{_STAGE_PREFIX}{n:06d}-{os.getpid()}-{uuid.uuid4().hex[:6]}")


def _publish(
    path: str, staged: str, n: int, base_dir: str | None, tag: str | None, inherit: bool = True
) -> str:
    """Shared commit tail of every generation writer: tag the staged
    generation, rename it to generation ``n``, and CAS-flip ``_LATEST``
    from ``base_dir`` (None: a first commit). The ``_TAG`` file lands
    before the rename, so the tag commits or vanishes atomically WITH
    the snapshot. An untagged commit inherits ``base_dir``'s tag unless
    ``inherit`` is off. A rival commit raises ``ConcurrentCommitError``
    and leaves nothing of this one behind. Returns the generation name."""
    gen_name = f"{_GEN_PREFIX}{n:06d}"
    if tag is None and inherit and base_dir is not None:
        tag = commit_tag(base_dir)
    if tag is not None:
        with open(os.path.join(staged, _TAG), "w") as f:
            f.write(tag)
    dest = os.path.join(path, gen_name)
    try:
        # the numbering skipped every ghost visible when the writer
        # started, so an existing dest means a rival renamed it since
        if os.path.exists(dest):
            raise FileExistsError(dest)
        os.rename(staged, dest)
    except OSError as e:
        shutil.rmtree(staged, ignore_errors=True)
        raise ConcurrentCommitError(
            f"store {path}: generation {gen_name} was created by another "
            "writer while this commit was staged; re-run on the new snapshot"
        ) from e
    try:
        _flip_latest(path, gen_name, expected_base=base_dir and os.path.basename(base_dir))
    except ConcurrentCommitError:
        shutil.rmtree(dest, ignore_errors=True)
        raise
    return gen_name


def store_committed(path: str) -> bool:
    """True iff the store has a COMMITTED generation (a ``_LATEST``
    pointer). The right "does prior state exist" probe for merge loops:
    gen dirs without a pointer are ghosts of a crashed first commit —
    testing for them instead would send the caller into a read that
    ``resolve_store`` refuses, permanently wedging a retrying cron on
    a store that one fresh commit would heal."""
    return os.path.exists(os.path.join(path, _LATEST))


def list_generations(path: str) -> list[str]:
    """Committed generation dir names under ``path``, oldest first."""
    if not os.path.isdir(path):
        return []
    return sorted(
        d
        for d in os.listdir(path)
        if d.startswith(_GEN_PREFIX) and os.path.isdir(os.path.join(path, d))
    )


def resolve_store(path: str, generation: int | None = None) -> str:
    """Resolve a store path to its readable data directory.

    Generational stores (written by ``merge_upsert``) resolve through
    the ``_LATEST`` pointer — or to an explicit ``generation`` for time
    travel. Flat stores (plain ``write_partitioned`` output) resolve to
    themselves, so this is safe to call on any store.
    """
    if generation is not None:
        gen_dir = os.path.join(path, f"{_GEN_PREFIX}{generation:06d}")
        if not os.path.isdir(gen_dir):
            raise FileNotFoundError(
                f"generation {generation} not found in {path} "
                f"(have: {list_generations(path)})"
            )
        return gen_dir
    manifest = os.path.join(path, _LATEST)
    if os.path.exists(manifest):
        with open(manifest) as f:
            return os.path.join(path, f.read().strip())
    # A generation is COMMITTED iff _LATEST names it (Iceberg's
    # metadata-swap rule). Generation dirs without any pointer mean a
    # first commit crashed before publishing — there is no readable
    # snapshot, and silently reading the store root would mis-parse
    # the gen dirs as data. The next merge_upsert clears and redoes it.
    if list_generations(path):
        raise FileNotFoundError(
            f"store {path} has generation dirs but no {_LATEST} pointer "
            "(a first commit crashed before publishing); re-run the merge"
        )
    return path


def read_store(
    spark: SparkSession, path: str, generation: int | None = None
) -> DataFrame:
    """Read a store through its generation pointer (flat stores read
    as-is). The one reader entry point every consumer of a
    merge-written store must use."""
    return _read_generation(spark, resolve_store(path, generation))


def _read_generation(spark: SparkSession, gen_dir: str) -> DataFrame:
    """Read one resolved generation dir in the schema its commit
    recorded in ``_SCHEMA`` (partitioned snapshots only): hive partition
    values are bare dir names, and inference would re-type an all-digit
    string partition column as int. Without the file (flat generations,
    plain stores) the schema is inferred from the parquet footers."""
    import json

    from pyspark.sql.types import StructType

    try:
        with open(os.path.join(gen_dir, _SCHEMA)) as f:
            schema = StructType.fromJson(json.load(f))
    except FileNotFoundError:
        return spark.read.parquet(gen_dir)
    return spark.read.schema(schema).parquet(gen_dir)


class ConcurrentCommitError(RuntimeError):
    """Another writer committed a generation after this merge read its
    base snapshot — the losing writer must re-run its merge against the
    new live generation (same retry contract as Iceberg's optimistic
    ``CommitFailedException``)."""


def _marker(path: str, base: str | None) -> str:
    """Advance-marker path for a base snapshot (None = empty store)."""
    return os.path.join(path, f"{_MARKER_PREFIX}{base or _GENESIS}")


# --------------------------------------------------------------------------
# CAS backends (VERDICT r8 #6). The one-winner-per-base advance claim
# is the ONLY primitive the commit protocol needs from its host — the
# pointer file, staging renames and data files are plain storage. This
# seam makes the mutual-exclusion primitive an adapter choice, not an
# architecture: the default maps it onto local link(2); the
# conditional-put adapter maps the SAME protocol onto the create-if-
# absent / get / delete surface an S3 conditional PUT (If-None-Match)
# or DynamoDB attribute_not_exists() commit lock exposes — the shape
# Iceberg catalogs and delta-rs S3 locking use. A real cloud backend
# implements ConditionalKv with two boto3 calls; everything above the
# seam (roll-forward recovery, vacuum rollback, generation numbering)
# is backend-agnostic and tested against BOTH in-tree adapters by the
# two-process race test.
#
# A store must be driven by ONE backend for its whole life: claims
# made through link(2) markers are invisible to the KV adapter and
# vice versa.
class CasBackend:
    """One-winner-per-base claim primitive.

    ``base`` is the snapshot the writer computed against (generation
    name, or None for the empty store); exactly one concurrent
    claimant per base may win. The claim RECORDS the claimant's
    intended generation so a successor can roll a crashed winner
    forward (write-ahead intent)."""

    def claim(self, path: str, base: str | None, gen_name: str) -> bool:
        raise NotImplementedError

    def read_claim(self, path: str, base: str | None) -> str | None:
        raise NotImplementedError

    def read_claim_raw(self, path: str, base: str | None) -> str | None:
        """The claim's RAW stored value — what ``release_if`` compares
        against. Backends whose stored value carries more than the
        generation name (CondPutCas appends a per-claim token) override
        this; ``claim_name`` recovers the bare name from it."""
        return self.read_claim(path, base)

    def claim_name(self, raw: str | None) -> str | None:
        """Bare generation name inside a raw claim value."""
        return raw

    def release(self, path: str, base: str | None) -> None:
        raise NotImplementedError

    def release_if(self, path: str, base: str | None, expected_raw: str) -> bool:
        """Conditionally release: delete the base's claim ONLY if its
        stored value still equals ``expected_raw`` (a prior
        ``read_claim_raw`` result) EXACTLY, atomically. The recovery
        primitive ADVICE r11 named: every break-a-stale-fence /
        roll-back-a-dangling-intent path is a read-then-delete, and an
        unconditional delete in that window can destroy a rival's LIVE
        claim taken after the read (two winners on one base → lost
        update, or a sweep deleting a claim-winning writer's
        generation). The compare is on the raw value, token included —
        a rival's replacement claim intending the SAME generation name
        still differs by token and survives. Maps onto DynamoDB DELETE
        + ConditionExpression / S3 conditional ops. Returns True iff
        this call removed the claim."""
        raise NotImplementedError

    def bases(self, path: str) -> list[str]:
        """Claimed base keys (``_GENESIS`` for the empty-store base)."""
        raise NotImplementedError


class LocalLinkCas(CasBackend):
    """Default: ``os.link`` onto a per-base marker file — link(2) is
    atomic and exclusive on every POSIX local filesystem, and the
    marker can never exist without its intent content (the link source
    is fully written and fsync'd first)."""

    def claim(self, path, base, gen_name):
        marker = _marker(path, base)
        tmp = f"{marker}.intent-{os.getpid()}-{os.urandom(4).hex()}"
        with open(tmp, "w") as f:
            f.write(gen_name)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, marker)
            return True
        except FileExistsError:
            return False
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass

    def read_claim(self, path, base):
        try:
            with open(_marker(path, base)) as f:
                return f.read().strip()
        except FileNotFoundError:
            return None

    @contextmanager
    def _delete_lock(self, path, base):
        """flock sidecar serializing every marker DELETE (claims need
        no lock: link(2) only succeeds while the marker is absent, and
        no delete can interleave while a deleter holds this lock — so
        a verify-then-unlink under it is atomic against claim/delete)."""
        import fcntl

        with open(_marker(path, base) + ".lock", "w") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            yield

    def release(self, path, base):
        try:
            with self._delete_lock(path, base):
                try:
                    os.unlink(_marker(path, base))
                except FileNotFoundError:
                    pass
        except FileNotFoundError:
            pass  # store dir itself is gone — nothing to release

    def release_if(self, path, base, expected):
        try:
            with self._delete_lock(path, base):
                try:
                    with open(_marker(path, base)) as f:
                        cur = f.read().strip()
                except FileNotFoundError:
                    return False
                if cur != expected:
                    return False
                os.unlink(_marker(path, base))
                return True
        except FileNotFoundError:
            return False

    def bases(self, path):
        return [
            e[len(_MARKER_PREFIX) :]
            for e in os.listdir(path)
            if e.startswith(_MARKER_PREFIX) and not e.endswith(".lock")
        ]


class TransientKvError(RuntimeError):
    """A network-shaped KV failure whose operation MAY have been
    applied (lost ack): the caller must retry under at-least-once
    semantics. Raised by fault injection in tests and by real adapters
    on timeouts/5xx."""


class ConditionalKv:
    """The minimal KV surface a cloud conditional store exposes:
    S3 If-None-Match PUT / DynamoDB attribute_not_exists() ≙
    ``put_if_absent``; GET ≙ ``get``; DELETE ≙ ``delete``. A real
    adapter implements these three with SDK calls.

    At-least-once contract: any op may raise ``TransientKvError``
    AFTER the store applied it (the ack was lost, not the write).
    ``CondPutCas`` is written against this contract — retries plus a
    per-claim token for self-win detection — so a real flaky network
    store needs no extra client-side care."""

    def put_if_absent(self, key: str, value: str) -> bool:
        raise NotImplementedError

    def get(self, key: str) -> str | None:
        raise NotImplementedError

    def delete(self, key: str) -> None:
        raise NotImplementedError

    def delete_if(self, key: str, expected: str) -> bool:
        """Conditional delete: remove ``key`` only if its stored value
        still equals ``expected`` exactly (DynamoDB DELETE +
        ConditionExpression; S3 conditional DELETE via If-Match). The
        primitive ``CasBackend.release_if`` rides on — an exact-value
        condition, so a rival's replacement claim (same generation
        name, different token) can never be deleted by a stale
        reader. Returns True iff this call removed the key."""
        raise NotImplementedError

    def keys(self) -> list[str]:
        raise NotImplementedError


class FileConditionalKv(ConditionalKv):
    """Simulated conditional store, cross-process safe: put_if_absent
    is ``O_CREAT|O_EXCL`` (a DIFFERENT atomic primitive than link(2),
    deliberately — it exercises the adapter seam, not the default
    backend's mechanism). Keys live under ``<root>/``."""

    def __init__(self, root: str):
        self.root = root

    def put_if_absent(self, key, value):
        os.makedirs(self.root, exist_ok=True)
        try:
            fd = os.open(
                os.path.join(self.root, key), os.O_CREAT | os.O_EXCL | os.O_WRONLY
            )
        except FileExistsError:
            return False
        with os.fdopen(fd, "w") as f:
            f.write(value)
            f.flush()
            os.fsync(f.fileno())
        return True

    def get(self, key):
        try:
            with open(os.path.join(self.root, key)) as f:
                return f.read().strip()
        except FileNotFoundError:
            return None

    @contextmanager
    def _delete_lock(self, key):
        """flock sidecar serializing deletes of ``key`` (put_if_absent
        needs no lock: O_EXCL only succeeds while the key is absent,
        and no delete can interleave while a deleter holds this)."""
        import fcntl

        os.makedirs(self.root, exist_ok=True)
        with open(os.path.join(self.root, key) + ".lock", "w") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            yield

    def delete(self, key):
        with self._delete_lock(key):
            try:
                os.unlink(os.path.join(self.root, key))
            except FileNotFoundError:
                pass

    def delete_if(self, key, expected):
        with self._delete_lock(key):
            try:
                with open(os.path.join(self.root, key)) as f:
                    cur = f.read().strip()
            except FileNotFoundError:
                return False
            if cur != expected:
                return False
            os.unlink(os.path.join(self.root, key))
            return True

    def keys(self):
        try:
            return [k for k in os.listdir(self.root) if not k.endswith(".lock")]
        except FileNotFoundError:
            return []


class FaultInjectingKv(ConditionalKv):
    """Chaos adapter (VERDICT r9 #4): wraps a ``ConditionalKv`` with
    seeded network faults — random latency, acks lost AFTER the op
    landed (put/delete applied, then ``TransientKvError`` raised), and
    transient read failures. Deterministic per seed, so a failing
    chaos iteration replays exactly. This is the harness that proves
    ``CondPutCas`` survives at-least-once KV semantics; a real object
    store behaves like the wrapped store on a bad network day."""

    def __init__(
        self,
        inner: ConditionalKv,
        seed: int = 0,
        p_lost_ack: float = 0.3,
        p_read_fail: float = 0.2,
        max_latency_s: float = 0.001,
    ):
        import random

        self._inner = inner
        self._rng = random.Random(seed)
        self._p_lost_ack = p_lost_ack
        self._p_read_fail = p_read_fail
        self._max_latency_s = max_latency_s

    def _latency(self):
        import time

        time.sleep(self._rng.uniform(0.0, self._max_latency_s))

    def put_if_absent(self, key, value):
        self._latency()
        ok = self._inner.put_if_absent(key, value)
        if self._rng.random() < self._p_lost_ack:
            # the put LANDED (or lost cleanly) — only the ack is gone
            raise TransientKvError(f"lost ack for put {key} (applied={ok})")
        return ok

    def get(self, key):
        self._latency()
        if self._rng.random() < self._p_read_fail:
            raise TransientKvError(f"transient get failure for {key}")
        return self._inner.get(key)

    def delete(self, key):
        self._latency()
        self._inner.delete(key)
        if self._rng.random() < self._p_lost_ack:
            raise TransientKvError(f"lost ack for delete {key} (applied)")

    def delete_if(self, key, expected):
        self._latency()
        ok = self._inner.delete_if(key, expected)
        if self._rng.random() < self._p_lost_ack:
            raise TransientKvError(f"lost ack for delete_if {key} (applied={ok})")
        return ok

    def keys(self):
        return self._inner.keys()


class CondPutCas(CasBackend):
    """CAS over a ``ConditionalKv`` — the cloud-shaped adapter. The
    per-store keyspace is ``advance-<base>``; a real deployment passes
    a DynamoDB/S3-backed ``ConditionalKv`` via ``kv_factory`` (keyed
    by store path); the default simulates one under ``<store>/_cas``
    so the protocol is testable cross-process in-tree.

    AT-LEAST-ONCE HARDENING (VERDICT r9 #4): every KV op is retried
    through ``TransientKvError``, and the recorded claim value is
    ``"<gen_name> <token>"`` with a per-claim random token — after a
    lost put ack, the retry that finds the key present resolves
    ownership by TOKEN equality (self-win detection), never by gen
    name alone (two writers advancing the same base intend the same
    next generation number, so the name cannot discriminate).
    ``read_claim`` strips the token, so the roll-forward protocol in
    ``_flip_latest`` sees bare generation names (and stays compatible
    with pre-token stores)."""

    _KEY_PREFIX = "advance-"
    _MAX_RETRIES = 40

    def __init__(self, kv_factory=None):
        self._kv_factory = kv_factory or _default_kv_factory

    def _kv(self, path):
        return self._kv_factory(path)

    def _key(self, base):
        return f"{self._KEY_PREFIX}{base or _GENESIS}"

    def claim(self, path, base, gen_name):
        import uuid

        kv = self._kv(path)
        key = self._key(base)
        value = f"{gen_name} {uuid.uuid4().hex}"
        for _ in range(self._MAX_RETRIES):
            try:
                if kv.put_if_absent(key, value):
                    return True
            except TransientKvError:
                # the put may have landed — fall through to the read
                pass
            try:
                cur = kv.get(key)
            except TransientKvError:
                continue
            if cur is None:
                # our put lost cleanly (or a rival released mid-race):
                # retry the conditional put
                continue
            return cur == value  # token equality = OUR lost-ack put won
        raise TransientKvError(
            f"claim on {key}: KV still failing after {self._MAX_RETRIES} retries"
        )

    def read_claim(self, path, base):
        v = self.read_claim_raw(path, base)
        return self.claim_name(v)

    def read_claim_raw(self, path, base):
        for _ in range(self._MAX_RETRIES):
            try:
                return self._kv(path).get(self._key(base))
            except TransientKvError:
                continue
        raise TransientKvError(
            f"read_claim on {self._key(base)}: KV still failing after retries"
        )

    def claim_name(self, raw):
        return raw.split(" ", 1)[0] if raw else raw

    def release(self, path, base):
        for _ in range(self._MAX_RETRIES):
            try:
                self._kv(path).delete(self._key(base))
                return
            except TransientKvError:
                # delete is applied-then-lost-ack under the contract —
                # retrying is idempotent
                continue
        raise TransientKvError(
            f"release of {self._key(base)}: KV still failing after retries"
        )

    def release_if(self, path, base, expected_raw):
        """Exact-raw conditional delete (token included): a rival's
        replacement claim intending the SAME generation name carries a
        different token and survives — the two-writers-same-gen-number
        case the token exists for. A lost delete ack retries; the
        retry seeing the key gone or changed returns False (the
        expected claim no longer exists either way, and nothing else
        was ever deleted)."""
        kv = self._kv(path)
        key = self._key(base)
        for _ in range(self._MAX_RETRIES):
            try:
                return kv.delete_if(key, expected_raw)
            except TransientKvError:
                # the conditional delete may have landed — re-read and
                # decide from the store's state
                try:
                    cur = kv.get(key)
                except TransientKvError:
                    continue
                if cur != expected_raw:
                    return False
        raise TransientKvError(
            f"release_if of {key}: KV still failing after retries"
        )

    def bases(self, path):
        return [
            k[len(self._KEY_PREFIX) :]
            for k in self._kv(path).keys()
            if k.startswith(self._KEY_PREFIX)
        ]


def _default_kv_factory(path: str) -> ConditionalKv:
    """Default KV for ``CondPutCas``: the in-tree file simulation,
    optionally wrapped in seeded fault injection when
    ``SPARK_GRAFT_CAS_FAULT_SEED`` is set — the env seam that lets the
    CROSS-PROCESS race test run against a flaky at-least-once KV
    (each process derives its own rng stream from seed+pid)."""
    kv: ConditionalKv = FileConditionalKv(os.path.join(path, "_cas"))
    seed = os.environ.get("SPARK_GRAFT_CAS_FAULT_SEED")
    if seed is not None:
        kv = FaultInjectingKv(kv, seed=int(seed) + os.getpid())
    return kv


_CAS_BACKENDS = {"local": LocalLinkCas, "condput": CondPutCas}
_cas_backend: CasBackend | None = None


def get_cas_backend() -> CasBackend:
    """Active backend: explicit ``set_cas_backend`` wins, else the
    ``SPARK_GRAFT_CAS_BACKEND`` env var (``local`` | ``condput``),
    read per-call so racing child processes can select by env."""
    if _cas_backend is not None:
        return _cas_backend
    name = os.environ.get("SPARK_GRAFT_CAS_BACKEND", "local")
    try:
        return _CAS_BACKENDS[name]()
    except KeyError:
        raise ValueError(
            f"unknown CAS backend {name!r}; expected one of {sorted(_CAS_BACKENDS)}"
        ) from None


def set_cas_backend(backend: CasBackend | None) -> None:
    global _cas_backend
    _cas_backend = backend


def _read_pointer(path: str) -> str | None:
    manifest = os.path.join(path, _LATEST)
    if not os.path.exists(manifest):
        return None
    with open(manifest) as f:
        return f.read().strip()


def _replace_pointer(path: str, gen_name: str) -> None:
    """fsync'd write to a writer-unique temp, atomic rename over
    ``_LATEST`` (a shared temp name would let one writer's replace
    consume another's in-flight file)."""
    import uuid

    tmp = os.path.join(path, f".{_LATEST}.tmp-{os.getpid()}-{uuid.uuid4().hex[:6]}")
    with open(tmp, "w") as f:
        f.write(gen_name)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(path, _LATEST))


def _clear_uncommitted(path: str, live: str | None) -> None:
    """Remove generation dirs PAST the live generation (all of them
    when nothing is committed) plus the advance markers whose base is
    at-or-past live — i.e. the pending intent of a crashed publish,
    whose target dir this sweep just destroyed (a rollback). NOT safe
    concurrent with writers (a crash leftover is indistinguishable
    from a rival's in-flight publish), so only single-maintainer paths
    call it: ``vacuum_generations`` and flat-store adoption. The hot
    commit paths never clear — they SKIP ghosts via
    ``_next_gen_number``. Zero-padded gen names make string compare =
    numeric compare."""
    for g in list_generations(path):
        if live is None or g > live:
            shutil.rmtree(os.path.join(path, g), ignore_errors=True)
    cas = get_cas_backend()
    for base in cas.bases(path):
        if live is None or base >= live or (base == _GENESIS and live is None):
            cas.release(path, None if base == _GENESIS else base)


def _next_gen_number(path: str) -> int:
    """1 + the highest generation number visible in dirs or the live
    pointer. Ghosts of crashed publishes are SKIPPED, never cleared
    here: from the hot path a crash leftover is indistinguishable from
    a rival writer between its rename and flip, and clearing would
    delete the rival's data mid-publish — reclamation belongs to
    ``vacuum_generations`` (single-maintainer). Monotone numbering
    makes same-base rivals collide on the same next number, where the
    rename and the advance CAS pick exactly one winner."""
    seen = [0]
    for g in list_generations(path):
        try:
            seen.append(int(g[len(_GEN_PREFIX) :]))
        except ValueError:
            pass
    live = _read_pointer(path)
    if live:
        try:
            seen.append(int(live[len(_GEN_PREFIX) :]))
        except ValueError:
            pass
    return max(seen) + 1


# Vacuum fence (r11, VERDICT r10 #7): a maintenance sweep that wants to
# reclaim UNCOMMITTED generations takes the live base's advance claim
# with a reserved intent value — excluding every writer for the sweep's
# duration instead of racing them. The fence carries its creation time:
# writers (and later sweeps) may BREAK a fence older than the TTL (a
# crashed vacuum must not wedge the store), so a sweep must finish well
# inside the TTL — trivially true for directory removals. "__vacuum-"
# can never collide with a real generation intent ("gen-" prefix).
_VFENCE_PREFIX = "__vacuum-"
_VACUUM_FENCE_TTL_S = 900.0


def _make_vacuum_fence() -> str:
    import time as _time
    import uuid as _uuid

    return f"{_VFENCE_PREFIX}{_time.time():.3f}-{os.getpid()}-{_uuid.uuid4().hex[:6]}"


def _vacuum_fence_stale(intent: str) -> bool:
    import time as _time

    try:
        born = float(intent[len(_VFENCE_PREFIX) :].split("-", 1)[0])
    except ValueError:
        return True  # unparseable fence: treat as stale, let it be broken
    return _time.time() - born > _VACUUM_FENCE_TTL_S


def _flip_latest(path: str, gen_name: str, expected_base: str | None = None) -> None:
    """Atomically commit ``gen_name`` as the live generation — an
    intent-logged compare-and-swap on the BASE snapshot.

    1. **Intent + CAS** — the writer claims the per-base advance slot
       through the active ``CasBackend`` (one atomic create-if-absent
       recording its intended generation): the backend hands exactly
       ONE writer the right to advance FROM that base, and the claim
       can never exist without its intent content. A rival that
       computed against the same base loses the claim →
       ``ConcurrentCommitError`` — closing the lost-update where two
       writers advancing the same base to DIFFERENT generation numbers
       could both publish. Default backend = local link(2); the
       ``condput`` backend maps the same protocol onto an S3
       conditional-PUT / DynamoDB-shaped KV (see CasBackend).
    2. **Publish** — fsync'd pointer write + atomic rename over
       ``_LATEST``, the single file every reader resolves through.

    **Roll-forward recovery**: a winner that crashes between claim
    and publish leaves the claim as a write-ahead intent. The next
    writer from the same base reads it and COMPLETES the crashed flip
    (the renamed generation dir is already in place) before raising
    its own retry — the crashed commit becomes durable, the store
    never wedges, and no one's rows are lost. A loser whose intended
    dir is gone (vacuumed) is skipped; ``vacuum_generations`` rolls
    such pending intents back instead."""
    cas = get_cas_backend()
    if not cas.claim(path, expected_base, gen_name):
        intended_raw = cas.read_claim_raw(path, expected_base)
        intended = cas.claim_name(intended_raw) or ""
        if intended.startswith(_VFENCE_PREFIX):
            # a vacuum sweep holds this base's advance slot: never roll
            # it forward (its target is no directory) and never release
            # a LIVE fence — stealing it mid-sweep would let this
            # writer publish a generation the sweep is about to list...
            # except sweeps only remove dirs listed BEFORE fencing; the
            # real hazard is symmetric fence theft (two "winners").
            # Only a STALE fence (crashed vacuum, TTL elapsed) may be
            # broken, restoring liveness; the retry then claims anew.
            # Conditional (ADVICE r11): a rival may have broken this
            # fence and won a fresh claim between our read and this
            # delete — release only while the slot still holds the
            # exact stale fence we read, never a rival's live claim.
            if _vacuum_fence_stale(intended):
                cas.release_if(path, expected_base, intended_raw)
            raise ConcurrentCommitError(
                f"store {path}: a vacuum sweep holds the advance slot of "
                f"{expected_base or 'the empty store'}; retry the commit"
            ) from None
        if intended and intended != gen_name and _read_pointer(path) == expected_base:
            if os.path.isdir(os.path.join(path, intended)):
                # the rival crashed (or is mid-flip) after winning this
                # base: complete its publish — idempotent if it's alive
                _replace_pointer(path, intended)
            else:
                # dangling intent: its target was vacuumed but the
                # claim survived (vacuum crashed mid-sweep) — roll it
                # back so the next retry can win this base. Conditional:
                # never delete a claim re-taken since our read.
                cas.release_if(path, expected_base, intended_raw)
        raise ConcurrentCommitError(
            f"store {path}: another writer already advanced "
            f"{expected_base or 'the empty store'}; re-run on the new snapshot"
        ) from None
    # Concurrent-vacuum closure (r11): this writer RENAMED its dir
    # before claiming, so a fence-holding sweep that listed the dir as
    # uncommitted may have removed it before this claim landed. Having
    # won the claim, verify the generation still exists — flipping the
    # pointer at a vanished directory is the torn-snapshot failure the
    # chaos harness exists to rule out.
    if not os.path.isdir(os.path.join(path, gen_name)):
        cas.release(path, expected_base)
        raise ConcurrentCommitError(
            f"store {path}: generation {gen_name} was reclaimed by a "
            "vacuum sweep before its publish; re-run on the new snapshot"
        )
    # Defense in depth behind the CAS: having won the advance from
    # expected_base, the pointer can only be expected_base (normal) or
    # already gen_name (a helpful rival rolled our intent forward).
    live = _read_pointer(path)
    if live not in (expected_base, gen_name):
        raise ConcurrentCommitError(
            f"store {path}: merge was computed against {expected_base} "
            f"but {live} is now live; re-run the merge on the new snapshot"
        )
    _replace_pointer(path, gen_name)


def _adopt_flat_store(path: str) -> None:
    """Crash-safely convert a legacy flat store into generation 1:
    hardlink the flat data files into ``gen-000001`` (the flat copy
    stays readable the whole time), flip ``_LATEST``, then best-effort
    remove the now-garbage flat entries (the links keep the inodes
    alive, and a crash mid-removal only leaves invisible litter)."""
    _clear_uncommitted(path, None)  # ghost gens/markers of a crashed adoption
    staged = os.path.join(path, f"{_STAGE_PREFIX}adopt")
    shutil.rmtree(staged, ignore_errors=True)
    os.makedirs(staged)
    flat_entries = [
        e
        for e in os.listdir(path)
        if not e.startswith((".", "_")) and not e.startswith(_GEN_PREFIX)
    ]
    for entry in flat_entries:
        src = os.path.join(path, entry)
        if os.path.isdir(src):
            for dirpath, dirnames, filenames in os.walk(src):
                dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
                rel = os.path.relpath(dirpath, path)
                os.makedirs(os.path.join(staged, rel), exist_ok=True)
                for f in filenames:
                    if not f.startswith((".", "_")):
                        os.link(
                            os.path.join(dirpath, f), os.path.join(staged, rel, f)
                        )
        else:
            os.link(src, os.path.join(staged, entry))
    gen1 = os.path.join(path, f"{_GEN_PREFIX}000001")
    shutil.rmtree(gen1, ignore_errors=True)  # crashed prior adoption
    os.rename(staged, gen1)
    _flip_latest(path, f"{_GEN_PREFIX}000001")
    for entry in flat_entries:  # garbage from here on; readers use _LATEST
        p = os.path.join(path, entry)
        shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else os.unlink(p)


def commit_generation(
    df: DataFrame,
    path: str,
    tag: str | None = None,
    clear_fence: bool = False,
    partition_by: Sequence[str] | None = None,
) -> str:
    """Commit a FULL snapshot of ``df`` as the store's next generation
    — the whole-table cousin of ``merge_upsert`` for callers that
    replace the table each commit (rolling corpus stats, dimension
    snapshots): same staged-write → rename → atomic ``_LATEST``
    compare-and-swap, same reader contract (a racing reader sees the
    previous complete snapshot, never a partial one), same time travel
    and ``vacuum_generations`` history. ``df`` may read FROM the live
    generation of the same store (the stats-merge loop does): the
    staged write scans the old files while writing new ones, and the
    pointer only flips after the write completes. Returns the committed
    generation name.

    ``tag`` (optional) is recorded in a ``_TAG`` file INSIDE the staged
    generation before the rename, so it commits or vanishes atomically
    WITH the snapshot — the idempotence fence for at-least-once
    callers: a streaming ``foreachBatch`` passes its epoch id and, on
    replay after a crash that committed but never acknowledged the
    batch, reads ``generation_tag`` and skips the already-applied
    epoch. (The underscore name keeps the file invisible to parquet
    readers, like ``_SUCCESS``.)

    Untagged commits INHERIT the live generation's fence (a snapshot
    rewrite must not silently drop it), which assumes epoch counters
    are monotone across the store's whole life. ``clear_fence=True``
    is the explicit escape hatch for the one legitimate exception — a
    store rebuilt from scratch whose upstream restarted epoch
    numbering — and drops the fence so replayed epochs apply again
    (ADVICE r8: without it, 'incoming epoch <= recorded' would
    silently skip every epoch up to the stale inherited tag).
    ``clear_fence`` and an explicit ``tag`` are mutually exclusive.

    ``partition_by`` (optional) hive-partitions the snapshot's files by
    the named columns — for stores whose readers always filter on a
    low-cardinality discriminator (the LPA warm state's ``round``
    column), the filter then prunes FILES at planning time instead of
    re-scanning every row group per round. Purely a physical layout
    choice: the generation protocol (staging, rename, pointer CAS,
    vacuum, time travel) is unchanged. The snapshot's schema commits
    with it as ``_SCHEMA``, so ``read_store`` and ``erase_from_store``
    read the partition columns in their written types."""
    if clear_fence and tag is not None:
        raise ValueError(
            "clear_fence=True contradicts an explicit tag: a commit "
            "cannot both clear the epoch fence and set one"
        )
    # Base = the LIVE generation (the pointer is the commit).
    base_dir = resolve_store(path) if store_committed(path) else None
    # An untagged rewrite (or relayout) of a fenced store carries the
    # fence, or a replayed at-least-once epoch would double-apply.
    gen_name, _ = _commit_staged(
        df, path, base_dir, tag, inherit=not clear_fence, partition_by=partition_by
    )
    return gen_name


def _commit_staged(
    df: DataFrame,
    path: str,
    base_dir: str | None,
    tag: str | None,
    inherit: bool = True,
    partition_by: Sequence[str] | None = None,
) -> tuple[str, int]:
    """Shared staged-write tail of every generation writer: write
    ``df`` whole into a fresh staging dir, count its rows, and
    ``_publish`` it with ``base_dir`` as the CAS base. ``base_dir``
    must be the generation the caller READ (None: a first commit),
    never one resolved again here: a rival commit landing between the
    read and this publish then fails the CAS instead of being silently
    overwritten. Returns the generation name and the staged row count."""
    import pyarrow.dataset as ds

    os.makedirs(path, exist_ok=True)
    # Ghost dirs/markers past the live pointer are skipped by the
    # numbering, not cleared — see _next_gen_number; vacuum_generations
    # reclaims them.
    n = _next_gen_number(path)
    staged = _staging_dir(path, n)
    # No lineage hazard: the write targets a FRESH dir while reading the
    # still-immutable live generation, so no localCheckpoint is needed.
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staged)
    if partition_by:
        # dir names carry no types: record them, to commit or vanish
        # with the snapshot exactly as _TAG does
        with open(os.path.join(staged, _SCHEMA), "w") as f:
            f.write(df.schema.json())
    # Row count from the staged files' parquet footers: exact, and no
    # Spark job (re-executing the plan would redo the MERGE).
    rows = ds.dataset(staged, format="parquet").count_rows()
    return _publish(path, staged, n, base_dir, tag, inherit), rows


def snapshot_diff(
    spark: SparkSession,
    path: str,
    key: Sequence[str],
    gen_old: int,
    gen_new: int,
) -> DataFrame:
    """Row-level change feed between two committed generations of a
    store — Delta's CHANGE DATA FEED / Iceberg's changelog scan analog,
    derived entirely from the generation HISTORY (no change log
    maintained at write time, so it works retroactively on any two
    snapshots): ``added`` / ``removed`` / ``changed`` per key. The
    training-data question it answers: "what moved between yesterday's
    and today's training snapshot" — the audit trail for a model-diff.

    One full-outer shuffle join on the key; non-key columns compare as
    a single null-safe struct equality (codegen, no per-column Python).
    Unchanged rows are dropped before the join output materializes.
    """
    old = read_store(spark, path, generation=gen_old)
    new = read_store(spark, path, generation=gen_new)
    value_cols = [c for c in old.columns if c not in key]
    o = old.select(
        *key, F.struct(*value_cols).alias("__old"), F.lit(True).alias("__in_old")
    )
    n = new.select(
        *key, F.struct(*value_cols).alias("__new"), F.lit(True).alias("__in_new")
    )
    joined = o.join(n, on=list(key), how="full_outer")
    change = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(~F.col("__old").eqNullSafe(F.col("__new")), F.lit("changed"))
    )
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(*key, "change_type", "__old", "__new")
        .withColumnRenamed("__old", "before")
        .withColumnRenamed("__new", "after")
    )


def apply_changes(
    prev: DataFrame, changes: DataFrame, key: Sequence[str]
) -> DataFrame:
    """The CONSUMER side of ``snapshot_diff``: replay a change feed
    onto the older snapshot and reconstruct the newer one — how a
    downstream mirror (serving index, remote replica, derived cache)
    follows a 100 TB store by shipping row-level deltas instead of
    full snapshots. Removed/changed keys anti-join out of ``prev``
    (one shuffle on the key, the delta side is change-feed-sized);
    added/changed rows re-enter from the feed's ``after`` payloads.
    Invariant (pinned by the round-trip test):
    ``apply_changes(gen_old, snapshot_diff(old→new)) ≡ gen_new`` as an
    exact multiset."""
    keys = list(key)
    dropped = changes.filter(
        F.col("change_type").isin("removed", "changed")
    ).select(*keys)
    incoming = changes.filter(
        F.col("change_type").isin("added", "changed")
    ).select(*keys, "after.*")
    return prev.join(dropped, on=keys, how="left_anti").unionByName(incoming)


def evolve_partitioning(
    spark: SparkSession,
    path: str,
    partition_cols: Sequence[str],
) -> str:
    """Partition evolution: rewrite a generational store's LIVE
    snapshot under a NEW hive-partition layout and commit it as the
    next generation — Iceberg's ``ALTER TABLE ... ADD/REPLACE
    PARTITION FIELD`` (partition-spec evolution) expressed in the same
    generation log everything else here uses. Readers resolve through
    ``_LATEST`` as always: they see the old layout until one atomic
    pointer flip, then the new one — no quiesce window, and the old
    layout stays time-travelable until ``vacuum_generations`` expires
    it. Pass ``partition_cols=()`` to DE-partition (flat layout). A
    full-table rewrite by design — partition evolution IS a relayout;
    cost is one shuffle-free pass unless the new keys demand wider
    files. Returns the committed generation name. Legacy flat stores
    are adopted as generation 1 first (same rule as ``merge_upsert``),
    so the relayout never leaves stale flat files beside the pointer.
    """
    if not os.path.exists(os.path.join(path, _LATEST)) and os.path.isdir(path):
        if any(not e.startswith((".", "_", _GEN_PREFIX)) for e in os.listdir(path)):
            _adopt_flat_store(path)
    # commit_generation inherits the live epoch tag, so a store kept by
    # an at-least-once stream stays replay-safe across the relayout
    return commit_generation(read_store(spark, path), path, partition_by=partition_cols)


def _tree_max_mtime(root: str) -> float:
    """Newest mtime anywhere under ``root`` (or of root itself). The
    staging-liveness probe (ADVICE r11): a long partitionBy write
    creates the TOP-LEVEL entry set early (``_temporary``) and may not
    touch it again until job commit, so the top dir's own mtime reads
    stale while task files are still landing deep in the tree —
    keying reclamation on it could rmtree an in-flight write longer
    than the grace window. The deepest-write mtime is the writer's
    heartbeat. Raises OSError if root vanished (rival sweep)."""
    newest = os.stat(root).st_mtime
    for dirpath, dirnames, filenames in os.walk(root):
        for n in dirnames + filenames:
            try:
                m = os.stat(os.path.join(dirpath, n)).st_mtime
            except OSError:
                continue  # a task file vanished mid-walk (commit/abort)
            if m > newest:
                newest = m
    return newest


def vacuum_generations(
    path: str, keep: int = 1, stage_grace_sec: float = 3600.0
) -> list[str]:
    """Drop (a) all but the newest ``keep`` COMMITTED generations,
    (b) UNCOMMITTED generations — dirs newer than the live pointer,
    left by a commit that crashed between rename and flip — and
    (c) crashed staging dirs older than ``stage_grace_sec``. Iceberg's
    ``expire_snapshots`` analog, and a REQUIRED step of
    right-to-erasure: BOTH old snapshots and unpublished crash
    leftovers retain erased subjects' rows, so an erase that skipped
    either would silently leave data recoverable. Never touches the
    live generation. Returns removed names.

    Concurrency contract (r11, VERDICT r10 #7 — previously
    single-maintainer): safe to run WHILE writers commit.

    - Historic committed generations are reclaimed unconditionally: no
      writer ever advances FROM a historic base (a straggler that
      computed against one fails ``_flip_latest``'s pointer check).
    - Uncommitted generations are reclaimed only after this sweep wins
      the live base's advance slot with a VACUUM FENCE — the same CAS
      every writer's publish goes through — so no writer can be
      between its rename and its claim while the sweep deletes. A
      writer whose pre-claim rename the sweep removed detects it at
      claim time (``_flip_latest`` existence check) and retries. If
      the claim is held (in-flight or crashed winner), the sweep
      SKIPS uncommitted dirs: a crashed winner's generation is rolled
      FORWARD by the next writer, after which it is history and a
      later sweep reclaims it. The fence is released when the sweep
      still owns it; a fence orphaned by a crashed sweep is broken by
      writers/sweeps after ``_VACUUM_FENCE_TTL_S`` (900 s — a sweep is
      directory removals and must finish far inside it).
    - Staging dirs get an mtime grace window because staging happens
      BEFORE the fence-visible protocol starts: a live writer's
      in-flight Spark output is indistinguishable from a crash
      leftover for its first ``stage_grace_sec`` seconds. The age is
      measured from the NEWEST mtime anywhere in the staging tree —
      every task file a live writer lands is a heartbeat — so
      ``stage_grace_sec`` must exceed the longest expected gap
      between writes within one stage (not the stage's total
      duration), and a reclaimed writer merely retries
      (``ConcurrentCommitError``), never loses committed data.
    """
    removed: list[str] = []
    if not os.path.isdir(path):
        return removed
    gens = list_generations(path)
    manifest = os.path.join(path, _LATEST)
    if os.path.exists(manifest):
        with open(manifest) as f:
            live = f.read().strip()
    else:
        live = None
    if live is not None and live in gens:
        idx = gens.index(live)
        committed, uncommitted = gens[: idx + 1], gens[idx + 1 :]
    else:
        # no pointer → nothing is committed; every gen dir is a crash
        # leftover (resolve_store refuses these stores for the same
        # reason)
        committed, uncommitted = [], gens
    cas = get_cas_backend()

    import time as _time

    doomed = [g for g in committed[: max(0, len(committed) - keep)] if g != live]
    for d in os.listdir(path):
        if d.startswith(_STAGE_PREFIX):
            try:
                age = _time.time() - _tree_max_mtime(os.path.join(path, d))
            except OSError:
                continue  # vanished mid-listing (a rival sweep)
            if age >= stage_grace_sec:
                doomed.append(d)

    # Uncommitted reclamation behind the vacuum fence.
    fenced = False
    token = None
    if uncommitted:
        intent_raw = cas.read_claim_raw(path, live)
        intent = cas.claim_name(intent_raw)
        if intent and intent.startswith(_VFENCE_PREFIX) and _vacuum_fence_stale(intent):
            # crashed sweep: break its fence — conditionally (ADVICE
            # r11), so a rival that broke it first and claimed anew
            # keeps its live claim; we then skip this sweep.
            if cas.release_if(path, live, intent_raw):
                intent = None
        if intent is None:
            token = _make_vacuum_fence()
            if cas.claim(path, live, token):
                # the pointer may have advanced between the listing and
                # the fence claim — the computed "uncommitted" set would
                # then straddle the NEW live generation; skip this sweep
                if _read_pointer(path) == live:
                    fenced = True
                    doomed += [g for g in uncommitted if g != live]
        # claim held by a writer or live fence: leave uncommitted dirs
        # for the next sweep (or the next writer's roll-forward)

    try:
        for g in doomed:
            shutil.rmtree(os.path.join(path, g), ignore_errors=False)
            # drop the expired generation's advance claim with it
            cas.release(path, g)
            removed.append(g)
    finally:
        if token is not None:
            # release only the fence this sweep itself placed — never a
            # claim a rival took after breaking a stale fence of ours.
            # Fence tokens are globally unique (time+pid+uuid), so a
            # name match identifies OUR fence; the exact-raw
            # compare-and-delete is atomic in the backend (ADVICE r11:
            # the old read-then-delete had the same window it guarded
            # against).
            own_raw = cas.read_claim_raw(path, live)
            if cas.claim_name(own_raw) == token:
                cas.release_if(path, live, own_raw)
    # Drop the inert genesis marker once a pointer exists — the
    # empty-store base can never be advanced from again.
    if live is not None:
        genesis_raw = cas.read_claim_raw(path, None)
        genesis_intent = cas.claim_name(genesis_raw)
        if genesis_intent is not None and (
            not genesis_intent.startswith(_VFENCE_PREFIX)
            or _vacuum_fence_stale(genesis_intent)
        ):
            # conditional for the same reason as every recovery delete:
            # only drop the exact inert intent we just read
            cas.release_if(path, None, genesis_raw)
    return removed


@cache_scope()
def merge_upsert(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key: Sequence[str],
    tag: str | None = None,
) -> int:
    """MERGE INTO stand-in with snapshot semantics: keep target rows
    whose key doesn't collide with ``updates``, union the updates, and
    commit the result as a new GENERATION in one atomic ``_LATEST``
    flip (see the module docstring). A crash at any point leaves
    readers on the previous complete generation. Returns the number of
    rows written.

    Every MERGE rewrites the live generation whole and flat, in as many
    files as the plan has partitions. The live generation is read in
    the batch's schema, so one written hive-partitioned (a legacy store,
    or a ``commit_generation(partition_by=...)`` snapshot) becomes flat
    at its first MERGE with its former partition columns typed as the
    batch types them, not as their dir names infer.

    ``tag`` follows ``commit_generation``'s contract: it commits or
    vanishes with the MERGE (``generation_tag`` reads it back), and an
    untagged MERGE inherits the live tag. The features layer keeps its
    watermark there, so no crash can separate the two."""
    from .readers import _ensure_session_confs

    # Materialize the updates plan ONCE: it is consumed by the isEmpty
    # probe, the anti-join and the final union — for monotone upserts
    # that plan embeds a join against the whole store and would
    # otherwise re-execute per consumer (ADVICE r02).
    updates = checkpoint_tracked(updates)
    # Defense in depth: an empty batch (e.g. the trailing availableNow
    # micro-batch of a stream) must be a no-op, never a new generation.
    if updates.isEmpty():
        return 0
    _ensure_session_confs(spark)

    if os.path.isdir(path) and not store_committed(path):
        # gen-* dirs do NOT count as flat data: with no pointer they are
        # an unpublished crashed first commit, not a legacy store —
        # adopting here would destroy the real gen and wedge the store.
        if any(
            not e.startswith((".", "_", _GEN_PREFIX)) for e in os.listdir(path)
        ):
            # legacy flat store from an older writer: adopt as gen 1
            _adopt_flat_store(path)
    if not store_committed(path):
        # first commit: nothing live to carry over
        return _commit_staged(updates, path, None, tag)[1]

    cur_gen = resolve_store(path)
    # A listing/IO failure here must fail the merge — swallowing it as
    # "no store" would commit a generation holding only this batch
    # (ADVICE r02).
    target = spark.read.schema(updates.schema).parquet(cur_gen)
    return _commit_staged(upsert_rows(target, updates, key), path, cur_gen, tag)[1]


def _scan_expired_error(e: Exception) -> bool:
    """True when a Spark scan failure's message matches the
    missing-input-file signatures a concurrent vacuum leaves behind
    (Spark 4's FAILED_READ_FILE error class wraps the JVM
    FileNotFoundException; older paths surface PATH_NOT_FOUND or the
    raw message; UNABLE_TO_INFER_SCHEMA is the ANALYSIS-time face of
    the same race — the generation dir still resolves but its parquet
    files are already gone, so schema inference finds nothing)."""
    msg = str(e)
    return any(
        s in msg
        for s in (
            "FAILED_READ_FILE",
            "FileNotFoundException",
            "PATH_NOT_FOUND",
            "FileNotFoundError",
            "does not exist",
            "UNABLE_TO_INFER_SCHEMA",
            # a raw python FileNotFoundError stringifies to the errno
            # message only — the class name never appears in str(e)
            "No such file or directory",
        )
    )


def erase_from_store(
    spark: SparkSession,
    keys: DataFrame,
    path: str,
    key_col: str,
) -> int:
    """Right-to-erasure as a GENERATION commit — the store-native
    counterpart of ``maintenance.propagate_deletes`` (which rewrites a
    plain parquet table in place): remove every row whose ``key_col``
    appears in ``keys`` from the live generation by committing a NEW
    generation that holds the rest (anti-join), written whole and flat
    — the same staged-write → rename → CAS-flip protocol as
    ``merge_upsert``, so it is crash-safe and safe to interleave with
    concurrent writers (optimistic retry on ``ConcurrentCommitError``)
    and with the fenced ``vacuum_generations``. Erasing keys the live
    generation does not hold commits nothing; erasing every row commits
    an empty generation in the store's schema, under the live tag.

    The erase is complete only after ``vacuum_generations`` expires
    the prior generations (and crash leftovers) that still hold the
    subject's rows — the documented two-step the module docstring and
    the reference's Iceberg DELETE+expire flow share. Returns the
    number of rows erased from the live snapshot.

    If a concurrent vacuum expires the SOURCE generation mid-rewrite
    (two writer commits advance the store past ``keep`` while the
    erase scans it), the raw Spark missing-file failure is converted
    to the documented retryable ``ConcurrentCommitError`` — the erase
    is idempotent (anti-join by key), so callers re-run it against
    the new latest exactly like a lost commit race."""
    before = resolve_store(path)
    try:
        return _erase_from_store_once(spark, keys, path, key_col)
    except ConcurrentCommitError:
        raise
    except Exception as e:  # noqa: BLE001 — converting one known class
        if _scan_expired_error(e) and resolve_store(path) != before:
            raise ConcurrentCommitError(
                f"source generation {os.path.basename(before)} expired "
                "during erase (concurrent vacuum) — retry against the "
                "new latest"
            ) from e
        raise


@cache_scope()
def _erase_from_store_once(
    spark: SparkSession, keys: DataFrame, path: str, key_col: str
) -> int:
    keys = checkpoint_tracked(keys.select(key_col).distinct())
    if keys.isEmpty():
        return 0
    from .readers import _ensure_session_confs

    _ensure_session_confs(spark)
    cur_gen = resolve_store(path)
    live = _read_generation(spark, cur_gen)
    n_erased = live.join(keys.hint("broadcast"), on=key_col, how="left_semi").count()
    if not n_erased:
        return 0
    kept = live.join(keys.hint("broadcast"), on=key_col, how="left_anti")
    _commit_staged(kept, path, cur_gen, None)
    return n_erased


def store_snapshots(spark: SparkSession, path: str) -> DataFrame:
    """Iceberg's ``snapshots`` metadata table for a generation store:
    one row per committed generation — live flag, commit tag (epoch
    fence), file count, byte size — plus uncommitted leftovers marked
    ``orphan`` so operators can SEE what vacuum would reclaim. Pure
    driver-side directory walk (generation counts are human-scale);
    returned as a DataFrame so it composes with the query surface."""
    import os as _os

    live = None
    if _os.path.exists(_os.path.join(path, _LATEST)):
        live = _os.path.basename(resolve_store(path))
    rows = []
    for d in sorted(_os.listdir(path)) if _os.path.isdir(path) else []:
        full = _os.path.join(path, d)
        if not _os.path.isdir(full) or not (
            d.startswith(_GEN_PREFIX) or d.startswith(_STAGE_PREFIX)
        ):
            continue
        n_files = n_bytes = 0
        for root, _, files in _os.walk(full):
            for f in files:
                if f == _SCHEMA:
                    continue
                n_files += 1
                n_bytes += _os.path.getsize(_os.path.join(root, f))
        tag = commit_tag(full)
        committed = d.startswith(_GEN_PREFIX) and live is not None and d <= live
        status = (
            "live"
            if d == live
            else "historic"
            if committed
            else "orphan"
        )
        rows.append((d, status, tag, n_files, n_bytes))
    return spark.createDataFrame(
        rows, "generation string, status string, tag string, n_files long, n_bytes long"
    )


def schema_drift(spark: SparkSession, path: str) -> list[dict]:
    """Schema drift between the live generation and its predecessor —
    the data-contract check a cron runs before publishing: added /
    removed / retyped columns, as plain dicts (driver-side; schemas
    are human-scale). Empty list = no drift (or fewer than two
    generations). Parquet is self-describing, so this needs no
    registered schema — the generations themselves are the contract's
    history. Both generations are read in their committed schemas
    (``_read_generation``), so a flattened partitioned snapshot does
    not read as a retype of its all-digit string partition column."""
    gens = list_generations(path)
    if len(gens) < 2:
        return []
    live = os.path.basename(resolve_store(path))
    if live not in gens or gens.index(live) == 0:
        return []
    prev = gens[gens.index(live) - 1]
    old, new = (
        {f.name: f.dataType.simpleString()
         for f in _read_generation(spark, os.path.join(path, g)).schema.fields}
        for g in (prev, live)
    )
    drift = []
    for col in sorted(set(old) | set(new)):
        if col not in old:
            drift.append({"column": col, "change": "added", "type": new[col]})
        elif col not in new:
            drift.append({"column": col, "change": "removed", "type": old[col]})
        elif old[col] != new[col]:
            drift.append(
                {"column": col, "change": "retyped",
                 "type": f"{old[col]} -> {new[col]}"}
            )
    return drift
