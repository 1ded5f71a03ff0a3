"""In-memory spans, percentile and self-time arithmetic, and the Spark
read-backs the traced run uses: a streaming progress listener and
per-job-group counters from the status tracker and status store."""

from __future__ import annotations

import json
import math
import threading
import time
from contextlib import contextmanager


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (``p`` in 0..100) of a non-empty sample."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of an empty sample")
    return s[max(0, min(len(s) - 1, math.ceil(p / 100 * len(s)) - 1))]


def covered(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


class Tracer:
    """Spans kept in memory as dicts: id, name, start, end, parent.

    ``enabled=False`` makes :meth:`span` a no-op, so the untraced run
    executes the same code with no recording."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> int | None:
        """Id of this thread's innermost open span."""
        stack = self._stack()
        return stack[-1] if stack else None

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "start": start,
                               "end": end, "parent": parent, **attrs})
        return sid

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Time the block as a span; yields its id (None when disabled).
        The parent defaults to the innermost open span of this thread."""
        if not self.enabled:
            yield None
            return
        if parent is None:
            parent = self.current()
        sid = self.add(name, time.time(), float("nan"), parent, **attrs)
        stack = self._stack()
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.time()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span's duration less the part of
        it that its children cover (children may overlap each other)."""
        kids: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            inside = [(max(a, s["start"]), min(b, s["end"]))
                      for a, b in kids.get(s["id"], [])]
            own = (s["end"] - s["start"]) - covered(
                [iv for iv in inside if iv[1] > iv[0]])
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def progress_listener(tracer: Tracer):
    """A StreamingQueryListener that keeps every progress event in
    memory (``recentProgress`` keeps only the newest 100) and turns each
    into a ``trigger`` span under its query's drain span.  Both are keyed
    by query id; ``parents`` maps an id to the drain span's id."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self):
            self.progress: dict[str, list[dict]] = {}
            self.parents: dict[str, int] = {}
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            with self._lock:
                self.progress.setdefault(p["id"], []).append(p)
            dur = p.get("durationMs", {})
            end = _epoch(p["timestamp"]) + dur.get("triggerExecution", 0) / 1000
            tracer.add("trigger", end - dur.get("triggerExecution", 0) / 1000,
                       end, self.parents.get(p["id"]), query=p["id"],
                       batch=p["batchId"], rows=p["numInputRows"])

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


def _epoch(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def group_counters(spark, group: str) -> dict[str, float]:
    """Jobs, stages, executor CPU and shuffle bytes of one job group,
    read back through the status tracker and the status store."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stages: set[int] = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    cpu_ns = shuffle = 0
    for sid in stages:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # a skipped stage never ran an attempt
            continue
        cpu_ns += st.executorCpuTime()
        shuffle += st.shuffleReadBytes() + st.shuffleWriteBytes()
    return {"jobs": len(jobs), "stages": len(stages),
            "executor_cpu_s": cpu_ns / 1e9, "shuffle_bytes": shuffle}


def planning_ms(df) -> float:
    """Analysis + optimization + planning time of ``df``'s own query
    execution (forcing its physical plan), from QueryPlanningTracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return float(total)
