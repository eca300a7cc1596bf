"""Spans, Spark-side counts and the small statistics the benchmark reports.

A span has a name, start, end, parent and request id.  Spans are kept in
memory and written out once, when the run ends.  With tracing off every
call here is a no-op apart from the ``with`` statement itself.
"""

from __future__ import annotations

import itertools
import json
import math
import statistics
import threading
import time
from contextlib import contextmanager

_clock = time.perf_counter


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def percentile(xs, pct: float) -> float:
    """Linearly interpolated percentile; 0 for no samples."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * pct / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


class Tracer:
    def __init__(self, on: bool) -> None:
        self.on = on
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self.t0 = _clock()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.on:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": parent["id"] if parent else None,
               "req": parent["req"] if parent else sid, "start": _clock() - self.t0}
        rec.update(attrs)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = _clock() - self.t0
            stack.pop()
            self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a module function or a bound method) with
        a wrapper that records a span around every call."""
        fn = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of it
        that child spans cover."""
        kids: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path) -> None:
        with open(path, "w") as f:
            json.dump({"spans": sorted(self.spans, key=lambda s: s["start"]),
                       "self_s": self.self_times()}, f)


# ------------------------------------------------------------ Spark counts
_STAGE_WRAPPERS = ("ShuffleQueryStageExec", "BroadcastQueryStageExec",
                   "TableCacheQueryStageExec", "ResultQueryStageExec")


def scan_metrics(plan) -> dict:
    """Files, bytes and rows read by the file scans of an executed plan
    (read after ``collect``, when the SQL metrics are final)."""
    out = {"files": 0, "bytes": 0, "rows": 0}

    def metric(node, key):
        m = node.metrics()
        return int(m.get(key).get().value()) if m.contains(key) else 0

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if name in _STAGE_WRAPPERS:
            return walk(node.plan())
        if name.startswith("FileSourceScanExec"):
            out["files"] += metric(node, "numFiles")
            out["bytes"] += metric(node, "filesSize")
            out["rows"] += metric(node, "numOutputRows")
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(plan)
    return out


def job_counts(sc, group: str) -> dict:
    """Jobs, stages and tasks Spark ran for one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = [s for j in jobs if st.getJobInfo(j) for s in st.getJobInfo(j).stageIds]
    tasks = sum(st.getStageInfo(s).numTasks for s in stages if st.getStageInfo(s))
    return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}
