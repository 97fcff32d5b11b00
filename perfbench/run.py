"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload graph_dedup --seed 1 --seconds 10 --trace 0

One process, one Spark session on ``local[<cpus>]``, one closed-loop
client. Set-up (session start, input generation, one warm-up pass) is
timed separately from the measured passes, which repeat until
``--seconds`` of them have run (at least one). The last stdout line is
the result: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). The line before it, and
``perfbench/work/results/<workload>-seed<seed>-trace<t>.json``, hold
the run's details: load averages, CPU steal, known defects, failed
checks and the named per-layer figures (plus the spans, in the file).

See perfbench/README.md for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
SCHEMA_VERSION = 1
EXPECTED_DIR = os.path.join(HERE, "expected")
WORKLOADS = ("nightly_pipeline", "graph_dedup")
# BENCHMARK.json's per-layer metrics: measured on every workload
PER_LAYER = (
    "session.start_s", "session.warmup_s", "inputs.gen_s", "trace.pass_s",
    "plans.build_s", "exec.write_s", "driver.other_s", "caching.cached_blocks",
    "caching.cached_mb", "spark.build_jobs", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb", "jvm.peak_rss_mb",
)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(run_dir: str, trace: bool) -> None:
    """Everything the JVM and Python workers need, set before the JVM
    starts: parallelism, temp dirs inside the run dir, the repo root
    on PYTHONPATH (the serving sink's workers import the package), and,
    for traced runs only, the event log."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus()))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    args = [
        # -XX:-UsePerfData: no hsperfdata file under /tmp
        "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
    ]
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir={log_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def load_expected(names: list[str]) -> tuple[dict, dict]:
    import pandas as pd

    with open(os.path.join(EXPECTED_DIR, "MANIFEST.json")) as f:
        manifest = json.load(f)
    return manifest, {n: pd.read_parquet(os.path.join(EXPECTED_DIR, f"{n}.parquet")) for n in names}


def peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found")


def tree_cpu_s(root: int) -> float:
    """CPU seconds used by ``root`` and every live descendant (the JVM,
    the Python workers), plus the descendants they already reaped: the
    pass's cost beside its wall time."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # exited while we listed
            stats[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    tree, todo = set(), [root]
    while todo:
        pid = todo.pop()
        tree.add(pid)
        todo.extend(p for p, (ppid, _) in stats.items() if ppid == pid and p not in tree)
    return sum(stats[p][1] for p in tree if p in stats) / os.sysconf("SC_CLK_TCK")


def cpu_times() -> list[int]:
    """The machine's aggregate CPU counters (user … steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_pct(d: list[int]) -> float:
    """Share of the CPU time counted in ``d`` (deltas of ``cpu_times``)
    that the hypervisor gave to other guests."""
    return 100.0 * d[7] / max(1, sum(d))


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def install_wrappers(tracer) -> None:
    """Spans around the layer calls the runner makes. The runner binds
    merge_upsert, incremental_append and its plan builders at import,
    so they are wrapped on the runner module; run_serve imports
    foreach_partition_upsert and wallet_features when called, so those
    are wrapped on their own modules."""
    from wallet_and_risky_features_data_pipeline_spark import runner
    from wallet_and_risky_features_data_pipeline_spark.plans import wallet_features
    from wallet_and_risky_features_data_pipeline_spark.sources import serving

    inc, wr, pl, sv = "streaming.incremental", "sources.writers", "plans", "sources.serving"
    tracer.wrap(runner, "incremental_append", f"{inc}.incremental_append", "exec", inc)
    tracer.wrap(runner, "merge_upsert", f"{wr}.merge_upsert", "exec", wr)
    tracer.wrap(runner, "wallet_transactions", f"{pl}.wallet_transactions", "build", pl)
    tracer.wrap(runner, "contract_state_from", f"{pl}.contract_state_from", "build", pl)
    tracer.wrap(runner, "incremental_contract_state", f"{inc}.incremental_contract_state", "build", inc)
    tracer.wrap(wallet_features, "wallet_features", f"{pl}.wallet_features", "build", pl)
    tracer.wrap(serving, "foreach_partition_upsert", f"{sv}.upsert", "exec", sv)


def traced_metrics(
    spans: list[dict], groups: dict[str, dict], passes: list[str], workload: str
) -> tuple[dict, dict]:
    """(the per-layer metrics of BENCHMARK.json, the named per-layer
    figures), each the median over the traced passes."""
    from tracing import self_times

    own = self_times(spans)
    children: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])

    def subtree(sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            out.append(todo.pop())
            todo.extend(children.get(out[-1], []))
        return out

    def spark_of(ids: list[int]) -> dict:
        tot: dict = {}
        for i in ids:
            for k, v in groups.get(f"span-{i}", {}).items():
                tot[k] = tot.get(k, 0) + v
        return tot

    def dur(s: dict) -> float:
        return s["end"] - s["start"]

    per_pass: list[dict] = []
    named: dict[str, list[float]] = {}

    def add(name: str, v: float) -> None:
        named.setdefault(name, []).append(v)

    for run_id in passes:
        mine = [s for s in spans if s["run_id"] == run_id]
        root = next(s for s in mine if s["kind"] == "pass")
        build = [s for s in mine if s["kind"] == "build"]
        execs = [s for s in mine if s["kind"] == "exec"]
        sp = spark_of(subtree(root["id"]))
        m = {
            "trace.pass_s": dur(root),
            "plans.build_s": sum(map(dur, build)),
            "exec.write_s": sum(map(dur, execs)),
            "caching.cached_blocks": sum(s.get("cached_blocks", 0) for s in mine),
            "caching.cached_mb": sum(s.get("cached_mb", 0.0) for s in mine),
            "spark.build_jobs": spark_of([s["id"] for s in build]).get("jobs", 0),
        }
        m["driver.other_s"] = m["trace.pass_s"] - m["plans.build_s"] - m["exec.write_s"]
        m.update({f"spark.{k}": v for k, v in sp.items()})
        per_pass.append(m)

        for k, v in sp.items():
            add(f"spark.{workload}.{k}", v)
        layer_self: dict[str, float] = {}
        for s in mine:
            layer_self[s["layer"]] = layer_self.get(s["layer"], 0.0) + own[s["id"]]
            if s["kind"] == "op":
                add(f"caching.{s['query']}.cached_blocks", s.get("cached_blocks", 0))
                add(f"spark.{s['query']}.jobs", spark_of(subtree(s["id"])).get("jobs", 0))
            phase = _phase_of(s, spans)
            if phase and s["kind"] == "exec":
                add(f"{s['name']}.{phase}_s", dur(s))
                if "result" in s:
                    add(f"{s['name']}.{phase}_rows", s["result"])
        for layer, v in layer_self.items():
            add(f"self.{layer}_s", v)

    metrics = {k: statistics.median(p.get(k, 0) for p in per_pass) for k in PER_LAYER}
    return metrics, {k: statistics.median(v) for k, v in named.items()}


def _phase_of(s: dict, spans: list[dict]) -> str | None:
    while s is not None:
        if s.get("phase"):
            return s["phase"]
        s = spans[s["parent"]] if s["parent"] is not None else None
    return None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # smoke runs only: smaller inputs checked against live DuckDB
    # answers, and the first N graph_dedup queries
    ap.add_argument("--scale", type=float, default=1.0, help=argparse.SUPPRESS)
    ap.add_argument("--ops", type=int, default=None, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    load_start = os.getloadavg()
    run_dir = os.path.join(WORK, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    prepare_env(run_dir, trace)
    sys.path[:0] = [ROOT, HERE]

    import inputs
    from tracing import Tracer, read_event_log
    from workloads import GRAPH_DEDUP, GraphDedup, NightlyPipeline

    # fails here, before any result, when the program is not beside us
    from wallet_and_risky_features_data_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t0

    try:
        tables = inputs.content(args.scale)
        gen_times = []
        for i in range(3):
            t0 = time.perf_counter()
            facts = inputs.write(os.path.join(run_dir, f"inputs-{i}"), args.seed, tables)
            gen_times.append(time.perf_counter() - t0)
        gen_s = statistics.median(gen_times)

        queries = GRAPH_DEDUP[: args.ops]
        names = queries if args.workload == "graph_dedup" else ["wallet_features"]
        if args.scale == 1.0:
            manifest, expected = load_expected(names)
            if inputs.digest(tables) != manifest["inputs_digest"]:
                raise SystemExit("generated inputs differ from the ones expected/ was computed on")
        else:
            from regen_expected import oracle_answers

            expected = oracle_answers(facts["full"], names, verbose=False)

        tracer = Tracer(spark, enabled=False)
        if trace:
            install_wrappers(tracer)
        common = dict(inputs=facts, tracer=tracer, expected=expected)
        if args.workload == "graph_dedup":
            wl = GraphDedup(spark, queries=queries, **common)
        else:
            wl = NightlyPipeline(spark, work_root=os.path.join(run_dir, "pipeline"), **common)

        warmup_s = wl.warmup()

        passes, pass_cpu, run_ids = [], [], []
        machine = [0] * 8
        while not passes or sum(passes) < args.seconds:
            tracer.run_id = f"pass-{len(passes)}"
            run_ids.append(tracer.run_id)
            tracer.enabled = trace
            cpu0, machine0 = tree_cpu_s(os.getpid()), cpu_times()
            with tracer.span("pass", "pass", "bench"):
                passes.append(wl.timed_pass())
            pass_cpu.append(tree_cpu_s(os.getpid()) - cpu0)
            machine = [m + b - a for m, a, b in zip(machine, machine0, cpu_times())]
            tracer.enabled = False
            wl.check_pass()
        steal = steal_pct(machine)
        rss = peak_rss_mb(spark)
        delta_pairs = wl.delta_pairs() if trace and args.workload == "nightly_pipeline" else None
    finally:
        stop_spark(spark)
    load_end = os.getloadavg()

    layers = {
        "session.start_s": session_start_s,
        "session.warmup_s": warmup_s,
        "inputs.gen_s": gen_s,
        "peak_rss_mb": rss,
        **wl.layer_metrics(),
    }
    if trace:
        groups = read_event_log(os.path.join(run_dir, "eventlog"))
        metrics, named = traced_metrics(tracer.spans, groups, run_ids, args.workload)
        metrics.update({k: layers[k] for k in ("session.start_s", "session.warmup_s", "inputs.gen_s")})
        metrics["jvm.peak_rss_mb"] = rss
        layers.update(named)
        merged = layers.get("sources.writers.merge_upsert.nightly_rows")
        if merged:
            layers["sources.writers.merge_useful_ratio.nightly"] = delta_pairs / merged
    else:
        metrics = {
            "pass_s": statistics.median(passes),
            "setup_s": session_start_s + gen_s + warmup_s,
        }
    units = {"s": "s", "mb": "MB"}
    result = {
        "correct": not wl.problems,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {
            k: {"value": v, "unit": units.get(k.rsplit("_", 1)[-1], "count")}
            for k, v in metrics.items()
        },
    }
    detail = {
        "schema_version": SCHEMA_VERSION,
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cpus": cpus(),
        "loadavg_start": load_start,
        "loadavg_end": load_end,
        # CPU stolen by other guests slowed the timed passes, or the load
        # exceeds what this run and the one before it (back to back) make
        "loaded": steal > 3.0 or max(load_start[0], load_end[0]) > 1.5 * cpus(),
        "passes_s": passes,
        "passes_cpu_s": pass_cpu,
        "steal_pct": steal,
        "known_defects": wl.known_defects,
        "problems": wl.problems,
        "layers": layers,
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({**detail, "result": result, "spans": tracer.spans}, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
