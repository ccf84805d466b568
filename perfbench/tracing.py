"""Spans and Spark counters for the traced run.

A span is recorded around each call the benchmark makes into one of the
engine's layers (``session``, ``sources``, ``window_features``, ``asof``,
``pipeline``, ``transforms``).  Spans live in memory and are written as one
JSON file when the run ends.  Counters are read from the JVM status store
(per-stage shuffle, spill, GC and task times, the same store
``plans.metrics.stage_snapshot`` reads) and from the JVM memory pools.
"""

from __future__ import annotations

import functools
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder.  Disabled tracers record nothing and add
    no work, so the same code path serves traced and untraced runs."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, layer: str, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "layer": layer,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
        } | attrs
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, owner, attr: str, layer: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper until
        :meth:`unwrap_all`; the engine code itself is not changed."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(layer, attr):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: span duration minus the union of the
        intervals its child spans cover, summed over the layer's spans."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, last = 0.0, s["start"]
            for c in sorted(self.children(s["id"]), key=lambda c: c["start"]):
                lo, hi = max(c["start"], last), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"] - covered)
        return out

    def durations_ms(self, layer: str, within: dict | None = None) -> float:
        """Total milliseconds of ``layer`` spans, optionally only those
        nested under the span ``within``."""
        ids = None
        if within is not None:
            ids, frontier = set(), [within["id"]]
            while frontier:
                kids = [s["id"] for s in self.spans if s["parent"] in frontier]
                ids.update(kids)
                frontier = kids
        return 1000.0 * sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["layer"] == layer and s["end"] is not None and (ids is None or s["id"] in ids)
        )


class SparkCounters:
    """Counter deltas from the JVM status store between two marks.

    Jobs are found through the status tracker, so a mark costs time in
    proportion to the jobs run since the previous mark, not to the age of
    the application."""

    STAGE_FIELDS = {
        "shuffle_write_bytes": "shuffleWriteBytes",
        "shuffle_read_bytes": "shuffleReadBytes",
        "input_bytes": "inputBytes",
        "spill_disk_bytes": "diskBytesSpilled",
        "spill_memory_bytes": "memoryBytesSpilled",
        "tasks": "numCompleteTasks",
        "run_ms": "executorRunTime",
        "gc_ms": "jvmGcTime",
    }

    def __init__(self, spark):
        self._store = spark._jsc.sc().statusStore()
        self._gw = spark.sparkContext._gateway
        self._tracker = spark.sparkContext.statusTracker()

    def _job_ids(self) -> set[int]:
        return set(self._tracker.getJobIdsForGroup(None))

    def _heap_pools(self):
        mf = self._gw.jvm.java.lang.management.ManagementFactory
        return [p for p in mf.getMemoryPoolMXBeans() if str(p.getType()) == "Heap memory"]

    def mark(self) -> dict:
        for p in self._heap_pools():
            p.resetPeakUsage()
        return {"jobs": self._job_ids(), "t": time.perf_counter()}

    def delta(self, mark: dict, task_durations: bool = False) -> dict:
        wall = time.perf_counter() - mark["t"]
        new_jobs = sorted(self._job_ids() - mark["jobs"])
        agg = dict.fromkeys(self.STAGE_FIELDS, 0)
        heaviest = (-1, None)  # (shuffle read bytes, task durations) of the widest exchange read
        seen = set()
        for jid in new_jobs:
            info = self._tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                for st in self._stage_attempts(sid):
                    for k, getter in self.STAGE_FIELDS.items():
                        agg[k] += int(getattr(st, getter)())
                    if task_durations and int(st.shuffleReadBytes()) > heaviest[0]:
                        heaviest = (int(st.shuffleReadBytes()), self._task_durations(sid, st.attemptId()))
        agg["spill_bytes"] = agg["spill_disk_bytes"] + agg["spill_memory_bytes"]
        agg["spark_jobs"] = len(new_jobs)
        agg["wall_s"] = wall
        agg["peak_heap_bytes"] = sum(p.getPeakUsage().getUsed() for p in self._heap_pools())
        if task_durations:
            durs = heaviest[1] or [1]
            agg["task_max_over_median"] = max(durs) / max(statistics.median(durs), 1)
        return agg

    def _stage_attempts(self, sid: int) -> list:
        try:
            seq = self._store.stageData(
                sid, False, self._gw.jvm.java.util.ArrayList(), False, self._gw.new_array(self._gw.jvm.double, 0)
            )
        except Exception as exc:  # skipped stages have no record in the store
            if "NoSuchElementException" in str(exc):
                return []
            raise
        out, it = [], seq.iterator()
        while it.hasNext():
            out.append(it.next())
        return out

    def _task_durations(self, sid: int, attempt: int) -> list[int]:
        out, it = [], self._store.taskList(sid, attempt, 1 << 30).iterator()
        while it.hasNext():
            d = it.next().duration()
            if d.isDefined():
                out.append(int(d.get()))
        return out


def exchanges(df) -> int:
    """Exchange nodes in the physical plan Spark will execute for ``df``."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(1 for line in plan.splitlines() if "Exchange " in line and "Reused" not in line)
