"""Outside-in tracing for the benchmark.

Spans are recorded in the benchmark's own files around each call into
an engine layer (``session``, ``webtext``, ``graph``/``partition``,
``gas`` through the algorithm entry points, ``algorithms``,
``checkpoint``); the engine itself is not instrumented. Spans live in
memory and are written once, when the run ends.

With tracing off only the spans (two clock reads each) run. With
tracing on, the cached-bytes poller runs beside the pipeline, every
stage call gets its own Spark job group and a shuffle-write reading
before and after, and the Spark status store is read once at the end
of the repetition.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError

from powergraph_spark.checkpoint import CheckpointStore
from powergraph_spark.gas import total_shuffle_write_bytes


class Tracer:
    """Spans (name, start, end, parent, run id, attrs) kept in memory."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "run": self.run_id, "attrs": attrs,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class StageCalls:
    """Counts stage calls and, when traced, tags each with a job group."""

    def __init__(self, spark, tracer: Tracer, traced: bool):
        self.spark = spark
        self.tracer = tracer
        self.traced = traced
        self.attempted = 0
        self.failed = 0
        self.groups: dict[str, dict] = {}  # group -> {name, shuffle_bytes}

    @contextmanager
    def call(self, name: str):
        """One stage call; an exception counts it failed and propagates."""
        self.attempted += 1
        group = f"{self.tracer.run_id}:{name}:{self.attempted}"
        info = {"name": name}
        sc = self.spark.sparkContext
        if self.traced:
            self.groups[group] = info
            sc.setJobGroup(group, name)
            sh0 = total_shuffle_write_bytes(self.spark)
        try:
            with self.tracer.span(name, group=group) as sp:
                yield info
        except Exception:
            self.failed += 1
            raise
        finally:
            info["seconds"] = sp["end"] - sp["start"]
            if self.traced:
                info["shuffle_bytes"] = total_shuffle_write_bytes(self.spark) - sh0
                sc.setLocalProperty("spark.jobGroup.id", None)

    def fail(self, name: str, why: str) -> None:
        """A completed stage call whose output failed a check."""
        self.failed += 1
        print(f"linkbench: check failed: {name}: {why}", file=sys.stderr, flush=True)


def group_counters(spark, groups) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, failed tasks, task GC time,
    disk spill, read from the status tracker and status store."""
    sc = spark.sparkContext
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    except Py4JError:  # private API; the store then may lag by a few events
        time.sleep(0.5)
    st = sc.statusTracker()
    stage_groups: dict[int, str] = {}
    out = {}
    for g in groups:
        jobs = st.getJobIdsForGroup(g)
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        for s in stages:
            stage_groups[s] = g
        out[g] = {"jobs": len(jobs), "stages": 0, "tasks": 0, "failed_tasks": 0,
                  "gc_ms": 0, "spill_bytes": 0}
    store = sc._jsc.sc().statusStore()
    data = store.stageList(None, False, False, getattr(store, "stageList$default$4")(),
                           getattr(store, "stageList$default$5")())
    for i in range(data.size()):
        sd = data.apply(i)
        g = stage_groups.get(sd.stageId())
        if g is None:
            continue
        c = out[g]
        c["stages"] += 1
        c["tasks"] += sd.numCompleteTasks()
        c["failed_tasks"] += sd.numFailedTasks()
        c["gc_ms"] += sd.jvmGcTime()
        c["spill_bytes"] += sd.diskBytesSpilled()
    return out


class CachedBytesPoller:
    """Peak bytes held by persisted RDDs (memory + disk), polled from
    the driver's storage status on a background thread."""

    def __init__(self, spark, period_s: float = 0.05):
        self.spark = spark
        self.period_s = period_s
        self.peak = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _poll(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(int(r.memSize()) + int(r.diskSize()) for r in infos)

    def _run(self) -> None:
        while not self._stop.is_set():
            try:
                self.peak = max(self.peak, self._poll())
                self.samples += 1
            except Exception:  # context stopping underneath; next poll decides
                pass
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, self._poll())


class TimedCheckpointStore(CheckpointStore):
    """CheckpointStore whose commit/latest/read are spans."""

    def __init__(self, spark, root: str, tracer: Tracer):
        super().__init__(spark, root)
        self.tracer = tracer

    def commit(self, superstep, state, metrics):
        with self.tracer.span("checkpoint.commit", superstep=superstep):
            return super().commit(superstep, state, metrics)

    def committed_bytes(self) -> int:
        """Bytes under the store root (every commit is kept)."""
        p = self._fs.path(self.root)
        return int(self._fs.fs.getContentSummary(p).getLength())

    def latest(self):
        with self.tracer.span("checkpoint.latest"):
            return super().latest()

    def read(self, superstep):
        with self.tracer.span("checkpoint.read", superstep=superstep):
            return super().read(superstep)


def tail(values: list[float]) -> tuple[float, str]:
    """The highest of p99.9/p99/p90/p50 with at least ten samples
    beyond it, else the max; returns (value, label)."""
    import numpy as np

    n = len(values)
    if n == 0:
        return 0.0, "none"
    for q, label in ((99.9, "p99.9"), (99, "p99"), (90, "p90"), (50, "p50")):
        if n * (100 - q) / 100 >= 10:
            return float(np.percentile(values, q)), label
    return float(max(values)), "max"
