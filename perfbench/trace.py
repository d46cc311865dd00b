"""Spans around the engine's public functions, recorded from outside the
package.

`Tracer.wrap` replaces a function or method attribute with a wrapper that
records a span (name, start, end, parent, op id) per call. Spans are kept
in memory and written to one file when the run ends. A function that
returns a generator (the server's streaming RPCs) is followed by two more
spans under the same parent: `spark.first_page` from its return to the
first item (the Spark job) and `spark.drain` from there to exhaustion.

Self time of a span is its duration minus the time its child spans cover;
summed by layer (the name's first dotted component) it says where an op's
time went.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import itertools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        # Ops whose work hops threads (foreachBatch runs on the streaming
        # thread) name a process-wide op id and root span instead.
        self.global_op = None
        self.global_parent = None

    def set_op(self, op_id) -> None:
        self._local.op = op_id

    def op(self):
        return getattr(self._local, "op", None) or self.global_op

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def parent(self):
        st = self._stack()
        return st[-1] if st else self.global_parent

    def record(self, name: str, start: float, end: float, parent=None, op=None,
               sid=None) -> int:
        sid = sid or next(self._ids)
        with self._lock:
            self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                               "parent": parent, "op": op})
        return sid

    @contextlib.contextmanager
    def span(self, name: str):
        """Record a span around the body; yields its id."""
        sid, parent, op = next(self._ids), self.parent(), self.op()
        st = self._stack()
        st.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            st.pop()
            self.record(name, start, time.time(), parent, op, sid)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace owner.attr (a module function or class method) with a
        span-recording wrapper."""
        fn = inspect.getattr_static(owner, attr)
        if isinstance(fn, (staticmethod, classmethod)):
            raise TypeError(f"cannot wrap descriptor {name}")
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            parent = tracer.parent()
            with tracer.span(name):
                out = fn(*a, **kw)
            if inspect.isgenerator(out):
                return tracer._wrap_gen(out, parent)
            return out

        setattr(owner, attr, wrapper)

    def _wrap_gen(self, gen, parent):
        """Spans for a result stream: `spark.first_page` until the first item
        (the job launch and run), then `spark.drain` until exhaustion."""
        op, t0, first = self.op(), time.time(), None
        try:
            for item in gen:
                if first is None:
                    first = time.time()
                    self.record("spark.first_page", t0, first, parent, op)
                yield item
        finally:
            if first is not None:
                self.record("spark.drain", first, time.time(), parent, op)

    def self_times(self) -> dict:
        """Self seconds per span id: duration minus the time of its direct
        children, which run inside it."""
        child_time = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        return {
            s["id"]: max(0.0, s["end"] - s["start"] - child_time[s["id"]])
            for s in self.spans
        }

    def layer_self_seconds(self, keep=lambda span: True) -> dict:
        """Self seconds summed by layer, the span name's first component,
        over the spans `keep` accepts."""
        st = self.self_times()
        out = defaultdict(float)
        for s in self.spans:
            if keep(s):
                out[s["name"].split(".", 1)[0]] += st[s["id"]]
        return dict(out)

    def by_name(self, prefix: str) -> list:
        return [s for s in self.spans if s["name"].startswith(prefix)]

    def durations_ms(self, prefix: str) -> list:
        return [1000.0 * (s["end"] - s["start"]) for s in self.by_name(prefix)]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def mean_ms(xs: list) -> float:
    return sum(xs) / len(xs) if xs else 0.0


class StreamingPhases:
    """Micro-batch phase durations from a StreamingQueryListener — the
    progress-reporting interface of Structured Streaming, read from
    outside the engine."""

    # progress durationMs key -> metric name
    PHASES = {
        "triggerExecution": "streaming.trigger_ms",
        "addBatch": "streaming.add_batch_ms",
        "queryPlanning": "streaming.planning_ms",
        "walCommit": "streaming.wal_commit_ms",
        "commitOffsets": "streaming.commit_ms",
    }

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.events: list = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                d = dict(event.progress.durationMs)
                if d.get("addBatch") is not None:
                    outer.events.append(
                        {"t": time.time(), "batch": event.progress.batchId, **d}
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()
        self.spark = spark
        spark.streams.addListener(self.listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)

    def metrics(self, since: float) -> dict:
        """streaming.* per-layer metrics: mean phase times of the batches
        that finished after `since` (epoch s)."""
        evs = [e for e in self.events if e["t"] >= since]
        return {
            name: (sum(e.get(p, 0) for e in evs) / len(evs) if evs else 0.0)
            for p, name in self.PHASES.items()
        }
