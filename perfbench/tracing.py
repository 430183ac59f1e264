"""Spans around calls into the engine's layers, with Spark's own counters.

A span records its layer, name, start, end, parent span and run id.  Spans
are kept in memory and written out as JSON lines when the run ends.  When
tracing is off, ``Tracer.span`` still yields an attribute dict (so the
workload code is identical in both modes) but takes no counters and keeps
nothing.  In both modes the span sets ``attrs["wall_s"]`` to its own wall
time, which leaves out the tracer's work on entry and exit (draining the
listener bus, reading counters), so a layer's time is the program's alone.

Counters attached to each traced span (all read from outside the program):

* executor totals from ``statusStore().executorList(true)`` taken as deltas
  after ``listenerBus().waitUntilEmpty()`` -- without the drain the totals
  lag the action that produced them: GC time and shuffle bytes;
* job and stage ids from ``statusTracker()``, per job group the span sets
  (plus any extra groups the caller names, e.g. a streaming query's run id,
  because streaming micro-batches run under their own group), and the
  summed task run time of those stages (``statusStore().lastStageAttempt``),
  which over the span's wall time is the parallelism the span had;
* Catalyst phase durations from ``queryExecution().tracker()`` of each
  DataFrame the caller hands to ``attrs["dfs"]``, plus any phase times the
  caller read elsewhere (``attrs["phases_ms"]``, e.g. a streaming query's
  ``durationMs.queryPlanning``).
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

#: Counter names attached to every span, as ``<layer>.<name>``.
COUNTERS = (
    "jobs",
    "stages",
    "shuffle_write_b",
    "shuffle_read_b",
    "gc_ms",
    "task_time_per_wall",
    "analysis_ms",
    "optimization_ms",
    "planning_ms",
)


def _executor_totals(jsc_sc) -> dict[str, float]:
    """Summed executor counters; in local mode the one executor is the driver."""
    jsc_sc.listenerBus().waitUntilEmpty()
    tot = {"gc_ms": 0.0, "shuffle_read_b": 0.0, "shuffle_write_b": 0.0}
    it = jsc_sc.statusStore().executorList(True).iterator()
    while it.hasNext():
        e = it.next()
        tot["gc_ms"] += e.totalGCTime()
        tot["shuffle_read_b"] += e.totalShuffleRead()
        tot["shuffle_write_b"] += e.totalShuffleWrite()
    return tot


def catalyst_phases_ms(df) -> dict[str, float]:
    """Analysis / optimization / planning wall time recorded by the
    DataFrame's QueryPlanningTracker.  Forces ``executedPlan`` first, so a
    phase not yet run is run (and timed) here instead of inside the action."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)  # a Scala Option
        out[f"{name}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


class Tracer:
    """Collects spans for one run.  ``enabled=False`` makes every span a
    no-op apart from yielding its attribute dict."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        self.sc = spark.sparkContext
        self._jsc_sc = self.sc._jsc.sc()

    @contextmanager
    def span(self, layer: str, name: str = ""):
        attrs: dict = {}
        if not self.enabled:
            t0 = time.perf_counter()
            try:
                yield attrs
            finally:
                attrs["wall_s"] = time.perf_counter() - t0
            return
        parent = self._stack[-1] if self._stack else None
        self._next_id += 1
        group = f"perfbench-{self.run_id}-{self._next_id}"
        rec = {
            "run": self.run_id,
            "id": self._next_id,
            "parent": parent["id"] if parent else None,
            "layer": layer,
            "name": name,
            "group": group,
            "child_s": 0.0,
        }
        before = _executor_totals(self._jsc_sc)
        self.sc.setJobGroup(group, f"{layer}:{name}")
        self._stack.append(rec)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield attrs
        finally:
            wall = attrs["wall_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + wall
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], f"{parent['layer']}:{parent['name']}")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            rec["counters"] = self._counters(group, attrs, before, wall)
            rec["attrs"] = {k: v for k, v in attrs.items() if isinstance(v, (int, float, str))}
            rec["self_s"] = max(0.0, wall - rec["child_s"])
            if parent:
                parent["child_s"] += wall
            self.spans.append(rec)

    def _counters(self, group: str, attrs: dict, before: dict, wall: float) -> dict:
        after = _executor_totals(self._jsc_sc)
        tracker = self.sc.statusTracker()
        store = self._jsc_sc.statusStore()
        jobs = stages = task_ms = 0
        for g in [group, *attrs.get("job_groups", ())]:
            for jid in tracker.getJobIdsForGroup(g):
                jobs += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info is not None else ():
                    stages += 1
                    try:
                        task_ms += store.lastStageAttempt(sid).executorRunTime()
                    except Py4JJavaError:  # skipped stage: never attempted
                        pass
        c = {
            "jobs": jobs,
            "stages": stages,
            "shuffle_write_b": after["shuffle_write_b"] - before["shuffle_write_b"],
            "shuffle_read_b": after["shuffle_read_b"] - before["shuffle_read_b"],
            "gc_ms": after["gc_ms"] - before["gc_ms"],
            "task_time_per_wall": task_ms / 1000.0 / wall if wall > 0 else 0.0,
            "analysis_ms": 0.0,
            "optimization_ms": 0.0,
            "planning_ms": 0.0,
        }
        for df in attrs.get("dfs", ()):
            for k, v in catalyst_phases_ms(df).items():
                c[k] += v
        for k, v in attrs.get("phases_ms", {}).items():
            c[k] += v
        return c

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


def layer_totals(spans: list[dict], layers) -> dict[str, float]:
    """Per-layer sums over a set of spans: self time plus every counter.
    ``task_time_per_wall`` is recomputed as the span-wall-weighted mean."""
    out: dict[str, float] = {}
    for layer in layers:
        mine = [s for s in spans if s["layer"] == layer]
        wall = sum(s["end"] - s["start"] for s in mine)
        out[f"{layer}.self_s"] = sum(s["self_s"] for s in mine)
        for c in COUNTERS:
            if c == "task_time_per_wall":
                busy = sum(s["counters"][c] * (s["end"] - s["start"]) for s in mine)
                out[f"{layer}.{c}"] = busy / wall if wall > 0 else 0.0
            else:
                out[f"{layer}.{c}"] = float(sum(s["counters"][c] for s in mine))
    return out
