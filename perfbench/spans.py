"""Spans and layer counters, recorded from the benchmark's own files.

``Tracer`` keeps spans in memory (name, start, end, parent) and writes
them out once, with each span name's self time: its duration minus the
part of it its child spans cover. ``spark_counts`` reads Spark's own
status stores through py4j, after the fact, for the jobs tagged with
one job-group description; nothing here runs inside a timed region.
"""

from __future__ import annotations

import json
import re
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        """Record a finished span; safe to call from any thread."""
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end,
                 "parent": parent, **attrs}
            )
        return sid

    @property
    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = self.add(name, time.time(), 0.0, self.current, **attrs)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def self_times(self) -> dict[str, float]:
        """Seconds of self time summed per span name."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, reach = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], reach), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f)


# --- Spark status stores ---------------------------------------------------

_PY_METRICS = {
    "data sent to Python workers": "py.mib_in",
    "data returned from Python workers": "py.mib_out",
    "time to start Python workers": "py.worker_init_ms",
    "time to initialize Python workers": "py.worker_init_ms",
    "time to run Python workers": "py.run_ms",
}
_UNITS = {
    "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20,
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
}
_TOTAL = re.compile(r"([0-9][0-9.,]*)\s*(B|KiB|MiB|GiB|TiB|ns|ms|s|m|h)\b")


def _metric_total(text: str) -> float:
    """The total of a formatted SQL metric: the first value after the
    "total (min, med, max ...)" header line, or the lone value."""
    body = text.split("\n", 1)[-1]
    m = _TOTAL.search(body)
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


def spark_counts(spark, descriptions: set[str]) -> dict[str, float]:
    """Jobs, tasks, shuffle-write and spill bytes, and Python-worker
    bytes and times, summed over the jobs and SQL executions whose
    job-group description is in ``descriptions``."""
    sc = spark.sparkContext
    # the status stores are fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    out = {"jobs": 0.0, "spark.tasks": 0.0, "spark.shuffle_write_mib": 0.0,
           "spark.spill_mib": 0.0, **{v: 0.0 for v in _PY_METRICS.values()}}
    stages: set[int] = set()
    for d in descriptions:
        for j in tracker.getJobIdsForGroup(d):
            info = tracker.getJobInfo(j)
            if info is not None:
                out["jobs"] += 1
                stages.update(info.stageIds)
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    for sid in stages:
        attempts = store.stageData(sid, False, None, False, no_quantiles).iterator()
        while attempts.hasNext():
            st = attempts.next()
            out["spark.tasks"] += st.numCompleteTasks()
            out["spark.shuffle_write_mib"] += st.shuffleWriteBytes() / 2**20
            out["spark.spill_mib"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
    sql = spark._jsparkSession.sharedState().statusStore()
    it = sql.executionsList().iterator()
    while it.hasNext():
        ex = it.next()
        if ex.description() not in descriptions:
            continue
        values = sql.executionMetrics(ex.executionId())
        nodes = sql.planGraph(ex.executionId()).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            if "Python" not in node.name() and "Pandas" not in node.name():
                continue
            metrics = node.metrics().iterator()
            while metrics.hasNext():
                m = metrics.next()
                key = _PY_METRICS.get(m.name())
                if key is not None:
                    v = values.get(m.accumulatorId())
                    out[key] += _metric_total(v.get()) if v.isDefined() else 0.0
    return out
