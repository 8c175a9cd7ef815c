"""Timing helpers: percentile rule, in-memory spans, Spark status-store
reads per job group, and the ALU control probe."""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

import numpy as np

# candidate tail percentiles, highest first
TAIL_PERCENTILES = (99, 95, 90, 80, 75)


def tail_percentile(n: int) -> int | None:
    """Highest candidate percentile with at least ten samples beyond it."""
    for p in TAIL_PERCENTILES:
        if n * (100 - p) / 100 >= 10:
            return p
    return None


def percentile(values, p: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), p))


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def halves_p50(values) -> tuple[float, float]:
    """p50 of the first and of the second half of a measured phase."""
    h = len(values) // 2
    return median(values[:h] or values), median(values[h:])


def alu_probe_ms() -> float:
    """Fixed numpy + interpreter work; a diagnostic of how busy the host is."""
    x = np.arange(1_000_000, dtype=np.float64)
    out = []
    for _ in range(3):
        t = time.perf_counter()
        for _ in range(5):
            (x * x).sum()
        sum(i * i for i in range(200_000))
        out.append((time.perf_counter() - t) * 1000)
    return median(out)


class Tracer:
    """Spans kept in memory: name, start, end, parent and request id."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, req: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": self._next,
            "name": name,
            "parent": parent["id"] if parent else None,
            "req": req if req is not None else (parent["req"] if parent else None),
            "start": time.perf_counter(),
        }
        self._next += 1
        self._stack.append(s)
        try:
            yield
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


class SparkLayers:
    """Per-layer Spark cost from the live status store.

    Each traced call runs under its own job group; after the call the
    listener bus is drained and the group's jobs, stages and task-time
    quantiles are read back and summed into the layer's totals.
    """

    FIELDS = ("jobs", "tasks", "executor_run_s", "core_util", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "task_max_over_median")

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self._sc = spark.sparkContext
        self._jsc = spark._jsparkSession.sparkContext()
        self._cores = max(1, self._sc.defaultParallelism)
        self._n = 0
        self.calls = defaultdict(int)
        self.tot = defaultdict(lambda: defaultdict(float))
        self.skew = defaultdict(list)

    def reset(self, layers) -> None:
        for layer in layers:
            self.calls.pop(layer, None)
            self.tot.pop(layer, None)
            self.skew.pop(layer, None)

    @contextmanager
    def group(self, layer: str):
        if not self.enabled:
            yield
            return
        gid = f"{layer}#{self._n}"
        self._n += 1
        self._sc.setJobGroup(gid, layer)
        t = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._jsc.listenerBus().waitUntilEmpty()
            self._read(layer, gid, wall)

    def _read(self, layer: str, gid: str, wall: float) -> None:
        store = self._jsc.statusStore()
        tot = self.tot[layer]
        self.calls[layer] += 1
        tot["wall_s"] += wall
        q = self._sc._gateway.new_array(self._sc._gateway.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        seen = set()
        for jid in self._sc.statusTracker().getJobIdsForGroup(gid):
            tot["jobs"] += 1
            sids = store.job(jid).stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = store.stageData(sid, False, None, False, None)
                for k in range(attempts.size()):
                    sd = attempts.apply(k)
                    n = sd.numCompleteTasks()
                    if n == 0:
                        continue
                    tot["tasks"] += n
                    tot["executor_run_s"] += sd.executorRunTime() / 1000.0
                    tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    if n >= 2:
                        d = store.taskSummary(sid, sd.attemptId(), q)
                        if d.isDefined():
                            run = d.get().executorRunTime()
                            if run.apply(0) > 0:
                                self.skew[layer].append(run.apply(1) / run.apply(0))

    def metrics(self, layers) -> dict[str, float]:
        """Per-call averages for each layer (zeros for a layer never called)."""
        out = {}
        for layer in layers:
            n = self.calls.get(layer, 0)
            tot = self.tot[layer]
            per = (lambda k: tot[k] / n) if n else (lambda k: 0.0)
            wall = tot["wall_s"]
            out.update({
                f"spark.{layer}.jobs": per("jobs"),
                f"spark.{layer}.tasks": per("tasks"),
                f"spark.{layer}.executor_run_s": per("executor_run_s"),
                f"spark.{layer}.core_util": (
                    tot["executor_run_s"] / (wall * self._cores) if wall else 0.0),
                f"spark.{layer}.shuffle_read_bytes": per("shuffle_read_bytes"),
                f"spark.{layer}.shuffle_write_bytes": per("shuffle_write_bytes"),
                f"spark.{layer}.spill_bytes": per("spill_bytes"),
                f"spark.{layer}.task_max_over_median": median(self.skew.get(layer, [])),
            })
        return out

    def codegen_compiles(self) -> int:
        """JVM-wide count of whole-stage codegen class compilations."""
        cm = self._sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
        return int(cm.METRIC_COMPILATION_TIME().getCount())


class Probe:
    """One entry point for a layer call: a span plus, when traced, a job group."""

    def __init__(self, tracer: Tracer, layers: SparkLayers | None):
        self.tracer = tracer
        self.layers = layers

    @contextmanager
    def layer(self, name: str, req: int | None = None):
        if not self.tracer.enabled:
            yield
            return
        with self.tracer.span(name, req):
            if self.layers is None:
                yield
            else:
                with self.layers.group(name):
                    yield


class Clock:
    """Set-up stopwatch that can leave out checks run in the middle of it."""

    def __init__(self):
        self._t0 = time.perf_counter()
        self._paused = 0.0

    @contextmanager
    def paused(self):
        t = time.perf_counter()
        try:
            yield
        finally:
            self._paused += time.perf_counter() - t

    def stop(self) -> float:
        return time.perf_counter() - self._t0 - self._paused
