"""The benchmark's workloads: one closed-loop client on the driver
thread, calling the program's public layer functions.

Each workload has ``warmup()`` (the first pass of a fresh JVM; returns
its time), ``timed_pass()`` (the measured unit; returns its time),
``check_pass()`` (checks of the last timed pass, untimed) and
``layer_metrics()`` (the named per-layer figures of the run). Failed
operations and failed checks collect in ``problems``.
"""

from __future__ import annotations

import contextlib
import io
import os
import time
import traceback

import numpy as np

from checks import (
    as_docs,
    docs_diff,
    part_files,
    read_store_stale,
    replay_syncs,
    same_rows,
)

GRAPH_DEDUP = [
    "wallet_pagerank",
    "wallet_label_propagation",
    "wallet_components",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_keep_best",
]
PHASES = (("cold", "base"), ("nightly", "full"), ("empty", "full"))
LAYERS = ("stage", "features", "serve")


def dir_bytes(path: str) -> int:
    """Bytes of the regular files under ``path`` (0 if absent)."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            fp = os.path.join(dirpath, f)
            if not os.path.islink(fp):
                total += os.path.getsize(fp)
    return total


def count_lines(paths: list[str]) -> int:
    n = 0
    for p in paths:
        with open(p) as f:
            n += sum(1 for _ in f)
    return n


def cached_storage(spark) -> tuple[int, float]:
    """Cached RDD blocks and their MB, as the block manager reports them."""
    blocks, size = 0, 0
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        blocks += info.numCachedPartitions()
        size += info.memSize() + info.diskSize()
    return blocks, size / 2**20


class Workload:
    def __init__(self, spark, inputs: dict, tracer, expected: dict) -> None:
        from wallet_and_risky_features_data_pipeline_spark.plans.llm_ops import (
            reset_session_memos,
        )

        self.spark = spark
        self.inputs = inputs
        self.tracer = tracer
        self.expected = expected
        self.reset = lambda: reset_session_memos(spark)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []  # failed ops and failed checks
        self.known_defects: dict[str, int] = {}

    def _attempt(self, what: str, fn, *a):
        self.attempted += 1
        try:
            return True, fn(*a)
        except Exception:
            self.failed += 1
            self.problems.append(f"{what} raised: {traceback.format_exc(limit=2)}")
            return False, None

    def _check(self, what: str, ok: bool, detail: str = "") -> None:
        if not ok:
            self.problems.append(f"{what}: {detail}")

    def check_pass(self) -> None:
        """Checks of the last timed pass, run outside its timing."""


class GraphDedup(Workload):
    """Graph and dedup queries, isolated: memos reset before each query,
    each under ``cache_scope`` into the ``noop`` sink. The order is
    fixed, so the seed changes only the data layout: a query's time
    also depends on what ran before it (heap state, blocks still being
    released)."""

    def __init__(self, *a, queries=GRAPH_DEDUP, **kw) -> None:
        super().__init__(*a, **kw)
        self.order = list(queries)
        self.op_times: dict[str, list[tuple[float, float]]] = {}

    def _op(self, name: str, sink):
        from wallet_and_risky_features_data_pipeline_spark.caching import cache_scope
        from wallet_and_risky_features_data_pipeline_spark.plans.registry import QUERIES

        t = self.tracer
        with t.span(f"plans.{name}", "op", "caching", query=name) as rec, cache_scope():
            t0 = time.perf_counter()
            with t.span(f"plans.{name}.build", "build", "plans"):
                df = QUERIES[name](self.spark, self.inputs["full"])
            t1 = time.perf_counter()
            with t.span(f"plans.{name}.exec", "exec", "sink.noop"):
                out = sink(df)
            t2 = time.perf_counter()
            if t.enabled:
                rec["cached_blocks"], rec["cached_mb"] = cached_storage(self.spark)
        self.op_times.setdefault(name, []).append((t1 - t0, t2 - t1))
        return out

    def warmup(self) -> float:
        elapsed = 0.0
        for name in self.order:
            self.reset()
            t0 = time.perf_counter()
            ok, got = self._attempt(f"plans.{name}", self._op, name, lambda df: df.toPandas())
            elapsed += time.perf_counter() - t0
            if ok:
                self._check(f"plans.{name}", *same_rows(got, self.expected[name]))
        self.op_times.clear()
        return elapsed

    def timed_pass(self) -> float:
        noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
        start = time.perf_counter()
        for name in self.order:
            self.reset()
            self._attempt(f"plans.{name}", self._op, name, noop)
        return time.perf_counter() - start

    def layer_metrics(self) -> dict:
        out = {}
        for name, times in self.op_times.items():
            out[f"plans.{name}.build_s"] = float(np.median([b for b, _ in times]))
            out[f"plans.{name}.exec_s"] = float(np.median([e for _, e in times]))
        return out


class NightlyPipeline(Workload):
    """stage → features → serve on a fresh work dir, three phases:
    cold (base), nightly (full: the 1% delta), empty nightly (full
    again). Memos are reset before each phase, a separate scheduled run."""

    def __init__(self, *a, work_root: str, **kw) -> None:
        super().__init__(*a, **kw)
        self.work_root = work_root
        self.cycles = 0
        self.facts: dict[str, list[float]] = {}

    def _expected_end_state(self) -> None:
        """Recomputed from source once per run, outside the timed region:
        contract_state(full) for the features store and wallet_features
        (full), itself checked against its DuckDB answer, for serving."""
        from wallet_and_risky_features_data_pipeline_spark.plans.wallet_features import (
            contract_state,
            wallet_features,
        )

        full = self.inputs["full"]
        self.reset()
        self.exp_state = contract_state(self.spark, full).toPandas()
        wf = wallet_features(self.spark, full)
        wf_pd = wf.toPandas()
        self._check("wallet_features(full) vs oracle", *same_rows(wf_pd, self.expected["wallet_features"]))
        self.exp_docs = as_docs([r.asDict(recursive=True) for r in wf.collect()], "wallet_address")
        self.reset()

    def delta_pairs(self) -> int:
        """(wallet, contract) pairs the nightly delta touches."""
        from pyspark.sql import functions as F

        from wallet_and_risky_features_data_pipeline_spark.plans.wallet_model import (
            wallet_transactions_lazy,
        )

        legs = wallet_transactions_lazy(self.spark, self.inputs["full"])
        cut = F.timestamp_micros(F.lit(self.inputs["cut_us"]))
        return legs.filter(F.col("ts") >= cut).select("wallet_address", "contract_address").distinct().count()

    def _cycle(self, timed: bool, phases=PHASES) -> tuple[float, str, list[list[str]]]:
        """One cold → nightly → empty cycle on a fresh work dir; returns
        its time (the phases' layer calls, no bookkeeping), the work dir
        and each sync's part files."""
        from wallet_and_risky_features_data_pipeline_spark import runner
        from wallet_and_risky_features_data_pipeline_spark.sources.writers import (
            list_generations,
        )

        wd = os.path.join(self.work_root, f"cycle-{self.cycles}")
        self.cycles += 1
        uri = f"{wd}/serving_store"
        syncs: list[list[str]] = []
        total = 0.0
        for phase, src in phases:
            self.reset()
            before_bytes = dir_bytes(wd)
            phase_s = 0.0
            with self.tracer.span(f"pipeline.{phase}", "phase", "bench", phase=phase):
                for layer in LAYERS:
                    before = part_files(uri)
                    fn = getattr(runner, f"run_{layer}")
                    with self.tracer.span(f"runner.{layer}", "layer", "runner") as rec:
                        t0 = time.perf_counter()
                        with contextlib.redirect_stdout(io.StringIO()):  # runner progress prints
                            self._attempt(f"runner.{layer}.{phase}", fn, self.spark, self.inputs[src], wd)
                        dt = time.perf_counter() - t0
                        if self.tracer.enabled:
                            rec["cached_blocks"], rec["cached_mb"] = cached_storage(self.spark)
                    phase_s += dt
                    if layer == "serve":
                        syncs.append(sorted(part_files(uri) - before))
                    if timed:
                        self._record(f"runner.{layer}.{phase}_s", dt)
            total += phase_s
            if timed:
                self._record(f"pipeline.{phase}_s", phase_s)
                gens = list_generations(f"{wd}/features/contract_state")
                self._record(f"sources.writers.generations.{phase}", len(gens))
                self._record(
                    f"sources.writers.bytes_written.{phase}_mb",
                    (dir_bytes(wd) - before_bytes) / 2**20,
                )
                self._record(f"sources.serving.upsert.{phase}_docs", count_lines(syncs[-1]))
        if timed:
            self._record("pipeline.store_mb", dir_bytes(wd) / 2**20)
        return total, wd, syncs

    def _record(self, name: str, value: float) -> None:
        self.facts.setdefault(name, []).append(value)

    def _check_end_state(self, wd: str, syncs: list[list[str]]) -> None:
        from wallet_and_risky_features_data_pipeline_spark.sources.writers import read_store

        self.reset()
        ids = self.spark.read.parquet(f"{wd}/stage/events").select("event_id").toPandas()["event_id"]
        n = self.inputs["n_events"]
        self._check(
            "stage store holds exactly the source event_ids",
            len(ids) == n and set(ids) == set(range(n)),
            f"{len(ids)} rows, {ids.nunique()} distinct, expected {n}",
        )
        store = read_store(self.spark, f"{wd}/features/contract_state")
        got = store.select(*self.exp_state.columns).toPandas()
        self._check("features store equals contract_state(full)", *same_rows(got, self.exp_state))
        diff = docs_diff(replay_syncs(syncs), self.exp_docs)
        self._check(
            "serving replay equals wallet_features(full)",
            not diff,
            f"{len(diff)} wallets differ, e.g. {diff[:3]}",
        )
        self.known_defects["sources.serving.read_store_stale"] = read_store_stale(
            f"{wd}/serving_store", self.exp_docs
        )

    def warmup(self) -> float:
        """Cold and nightly phases: the empty nightly runs the nightly's
        code paths again, so leaving it out keeps set-up short."""
        elapsed = self._cycle(timed=False, phases=PHASES[:2])[0]
        self._expected_end_state()
        return elapsed

    def timed_pass(self) -> float:
        elapsed, *self._last = self._cycle(timed=True)
        return elapsed

    def check_pass(self) -> None:
        self._check_end_state(*self._last)

    def layer_metrics(self) -> dict:
        return {k: float(np.median(v)) for k, v in self.facts.items()}
