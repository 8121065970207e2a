"""Measurement helpers: summary statistics, the host-speed probe, spans
around calls into the engine, and per-op Spark counts.

Everything here observes the engine from outside, through its public
functions and Spark's own status APIs; nothing is patched into the
engine.
"""

from __future__ import annotations

import gc
import json
import math
import time
from collections import defaultdict
from contextlib import contextmanager


def quantile(values, q: float) -> float:
    """Quantile ``q`` by linear interpolation between order statistics
    (``statistics.quantiles(method="inclusive")``), so the value moves
    smoothly when two ops near the tail swap places. A failed op enters
    as ``math.inf``: it counts as missing every percentile."""
    values = sorted(values)
    if not values:
        return 0.0
    pos = q * (len(values) - 1)
    lo, hi = values[math.floor(pos)], values[math.ceil(pos)]
    if math.inf in (lo, hi):
        return math.inf
    return lo + (hi - lo) * (pos - math.floor(pos))


def median(values) -> float:
    return quantile(values, 0.5)


def host_probe() -> float:
    """Seconds for a fixed pure-Python loop: a host-speed reading taken
    between ops. It is reported so drift between runs is visible; no
    metric is ever rescaled by it."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(200_000):
        acc += i * i
    return time.perf_counter() - t0


class Tracer:
    """In-memory spans, one per call into an engine layer, each tagged
    with the id of the op that made it."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._op = 0

    def new_op(self) -> int:
        self._op += 1
        return self._op

    @contextmanager
    def span(self, name: str, op: int, **attrs):
        start = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append(
                {"name": name, "op": op, "start": start,
                 "end": time.perf_counter(), **attrs}
            )

    def durations(self, name: str) -> dict[int, float]:
        """op id -> summed duration of the spans called ``name``."""
        out: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["name"] == name:
                out[s["op"]] += s["end"] - s["start"]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class SparkOpCounter:
    """Spark jobs, stages, tasks and stage metrics of one op, read through
    a job group per op. The group's job ids come from the status
    tracker, which filters by group, so the counts stay exact however
    many jobs the application has run before."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._n = 0

    @contextmanager
    def op(self, name: str, out: dict):
        self._n += 1
        group = f"perfbench-{self._n}-{name}"
        self.sc.setJobGroup(group, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            out.update(self._read(group))

    def _read(self, group: str) -> dict:
        # the status store is fed by the listener bus: drain it first
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        jobs = list(tracker.getJobIdsForGroup(group))
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        got = dict.fromkeys(
            ("stages", "tasks", "task_cpu_s", "input_mb", "shuffle_write_mb", "spill_mb"), 0
        )
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 -- stage never submitted
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            got["stages"] += 1
            got["tasks"] += sd.numCompleteTasks()
            got["task_cpu_s"] += sd.executorCpuTime() / 1e9
            got["input_mb"] += sd.inputBytes() / 2**20
            got["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
            got["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
        got["jobs"] = len(jobs)
        return got


def retained_mb(spark) -> float:
    """Driver JVM heap in use after forced full collections, in MiB.

    Python's collector runs first, so py4j handles of dropped DataFrames
    release their JVM objects. Spark's ContextCleaner then drops the
    broadcasts and shuffles those objects owned, asynchronously: read
    right after one collection, the same run showed anywhere from 86 to
    350 MB. Eight rounds with short pauses run and the lowest reading is
    reported; the heap settles by the third or fourth."""
    jvm = spark._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    readings = []
    for _ in range(8):
        gc.collect()
        jvm.java.lang.System.gc()
        time.sleep(0.2)
        readings.append(rt.totalMemory() - rt.freeMemory())
    return min(readings) / 2**20
