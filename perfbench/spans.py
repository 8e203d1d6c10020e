"""In-memory spans around calls into the engine's modules, Spark's own
counters, and the streaming progress feed.

Spans are recorded from the benchmark's files only: ``install`` wraps the
engine's entry points in place (module functions and class methods), so
no engine file changes.  The wrappers cost one attribute check while the
tracer is disabled, which is how untraced units of a traced run measure
the tracing overhead.

A span is (name, start, end, parent, run id).  Self time is a
span's duration minus the time its direct children cover.  Calls made on
Spark's foreachBatch callback thread have no Python parent; they are
attached to the micro-batch trigger that ran them, using the trigger
timings the streaming listener reports.
"""

from __future__ import annotations

import functools
import threading
import time
from collections import defaultdict
from dataclasses import dataclass
from typing import Any, Callable


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._lock = threading.Lock()

    # ---- recording
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> int:
        st = self._stack()
        sp = Span(name, time.time(), parent=st[-1] if st else None, run_id=self.run_id)
        with self._lock:
            self.spans.append(sp)
            idx = len(self.spans) - 1
        st.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()

    def add(self, name: str, start: float, end: float, parent: int | None) -> int:
        """Record a span measured elsewhere (listener-reported timings)."""
        with self._lock:
            self.spans.append(Span(name, start, end, parent, self.run_id))
            return len(self.spans) - 1

    def count(self, key: str, n: float = 1.0) -> None:
        with self._lock:
            self.counts[key] += n

    def wrap(self, owner: Any, attr: str, name: str, after: Callable | None = None) -> None:
        """Replace ``owner.attr`` by a spanning wrapper.  ``after(result,
        span_idx, args, kwargs)`` runs inside the span when tracing."""
        fn = getattr(owner, attr)
        if getattr(fn, "_perfbench_wrapped", False):
            return
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            idx = tracer.open(name)
            try:
                out = fn(*args, **kwargs)
                if after is not None:
                    after(out, idx, args, kwargs)
                return out
            finally:
                tracer.close(idx)

        wrapper._perfbench_wrapped = True
        setattr(owner, attr, wrapper)

    # ---- analysis
    def children(self) -> dict[int, list[int]]:
        out: dict[int, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                out[s.parent].append(i)
        return out

    def self_times(self) -> dict[str, float]:
        kids = self.children()
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            covered = _union([(self.spans[c].start, self.spans[c].end) for c in kids.get(i, [])],
                             s.start, s.end)
            out[s.name] += max(s.dur - covered, 0.0)
        return out

    def totals(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += s.dur
        return out

    def uncovered(self, idx: int) -> float:
        """Time inside span ``idx`` that none of its direct children cover."""
        s = self.spans[idx]
        kids = [(self.spans[c].start, self.spans[c].end)
                for c in self.children().get(idx, [])]
        return max(s.dur - _union(kids, s.start, s.end), 0.0)

    def attach_triggers(self, drain_idx: int, progress: list[dict]) -> None:
        """Add the drain's micro-batch triggers as child spans (from the
        listener's timings) and re-parent the foreachBatch spans that ran
        on the callback thread under the trigger that contains them."""
        orphans = [
            i for i, s in enumerate(self.spans)
            if s.parent is None and s.name == "streaming.pipeline.apply_batch"
        ]
        for p in progress:
            d = p["durationMs"]
            t0 = p["start"]
            t1 = t0 + d.get("triggerExecution", 0) / 1000.0
            trig = self.add("streaming.trigger", t0, t1, drain_idx)
            mine = [i for i in orphans if t0 - 0.002 <= self.spans[i].start <= t1 + 0.002]
            add_dur = d.get("addBatch", 0) / 1000.0
            a0 = self.spans[mine[0]].start if mine else t0
            a0 = min(max(a0 - 0.0005, t0), t1)
            ab = self.add("streaming.add_batch", a0, min(a0 + add_dur, t1), trig)
            for i in mine:
                self.spans[i].parent = ab
                orphans.remove(i)

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "run_id": s.run_id}
            for s in self.spans
        ]


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# ------------------------------------------------------------ spark counters


class SparkCounters:
    """Cumulative task counters from Spark's status store (works with the
    UI disabled) and the scheduler's job counter."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()

    def read(self) -> dict[str, float]:
        ex = self._sc.statusStore().executorList(True)
        out = {"task_ms": 0.0, "gc_ms": 0.0, "shuffle_write": 0.0, "failed_tasks": 0.0,
               "tasks": 0.0}
        for i in range(ex.size()):
            e = ex.apply(i)
            out["task_ms"] += e.totalDuration()
            out["gc_ms"] += e.totalGCTime()
            out["shuffle_write"] += e.totalShuffleWrite()
            out["failed_tasks"] += e.failedTasks()
            out["tasks"] += e.completedTasks() + e.failedTasks()
        out["jobs"] = float(self._sc.dagScheduler().nextJobId())
        return out

    @staticmethod
    def delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
        return {k: b[k] - a[k] for k in a}


# -------------------------------------------------------- streaming progress


def make_listener():
    """A StreamingQueryListener that keeps every progress report, by run."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.progress: dict[str, list[dict]] = defaultdict(list)
            self.terminated: list[str] = []
            self._cv = threading.Condition()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            rec = {
                "batchId": p.batchId,
                "start": _iso_epoch(p.timestamp),
                "batchDuration": p.batchDuration / 1000.0,
                "durationMs": dict(p.durationMs),
                "numInputRows": p.numInputRows,
            }
            with self._cv:
                self.progress[str(p.runId)].append(rec)

        def onQueryTerminated(self, event):
            with self._cv:
                self.terminated.append(str(event.runId))
                self._cv.notify_all()

        def wait_terminated(self, n_before: int, timeout: float = 30.0) -> list[dict]:
            """Progress of the first query that terminated after the
            listener had seen ``n_before`` terminations."""
            deadline = time.monotonic() + timeout
            with self._cv:
                while len(self.terminated) <= n_before:
                    left = deadline - time.monotonic()
                    if left <= 0:
                        raise TimeoutError("streaming listener saw no query termination")
                    self._cv.wait(left)
                return sorted(self.progress.get(self.terminated[n_before], []),
                              key=lambda r: r["batchId"])

    return ProgressListener()


def _iso_epoch(ts: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()
