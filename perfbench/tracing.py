"""Spans around layer calls, and the Spark event log folded per span.

A span records name, start, end, parent and run id, kept in memory
and written when the benchmark ends. Every span sets its own Spark job
group, so each job in the event log maps back to the innermost span
that launched it. Disabled tracers record nothing and touch no Spark
state: the timed runs use one.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool = False) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.run_id = ""
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, kind: str, layer: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "kind": kind,
            "layer": layer,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"span-{sid}", name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(f"span-{self._stack[-1]}", "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, module, attr: str, name: str, kind: str, layer: str) -> None:
        """Replace ``module.attr`` by a spanned wrapper (trace runs only).
        A call's return value lands on the span as ``result``."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*a, **kw):
            with self.span(name, kind, layer) as rec:
                out = fn(*a, **kw)
                if isinstance(out, int):
                    rec["result"] = out
                return out

        setattr(module, attr, spanned)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the time its direct children cover (children
    of one span never overlap: the client is one closed-loop thread)."""
    own = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            own[s["parent"]] -= s["end"] - s["start"]
    return own


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages and tasks run, and the task metrics
    summed over them. Call after the SparkContext stopped (the log is
    flushed on stop)."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}

    def g(name: str) -> dict:
        return groups.setdefault(
            name,
            dict(jobs=0, stages=0, tasks=0, executor_run_s=0.0, executor_cpu_s=0.0,
                 gc_s=0.0, shuffle_write_mb=0.0, shuffle_read_mb=0.0, spill_mb=0.0),
        )

    # one file per app, or a directory of numbered files when rolling
    files = sorted(p for p in glob.glob(f"{log_dir}/**/*", recursive=True) if os.path.isfile(p))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    g(grp)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = grp
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    g(stage_group.get(sid, ""))["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    rec = g(stage_group.get(ev["Stage ID"], ""))
                    rec["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    rec["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    rec["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    rec["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                    sr = m.get("Shuffle Read Metrics") or {}
                    rec["shuffle_read_mb"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    ) / 2**20
                    rec["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 2**20
    return groups
