"""Tracing for the benchmark's traced run, from outside the engine.

Each layer's public functions are wrapped by rebinding the module
attribute its callers look up (``pipeline_warehouse.event_table_fanout``,
``load_commit.commit_merge``, ...). A wrapper records a span — name, start,
end, parent — plus Spark counter deltas over the call: task time, GC,
input / shuffle bytes, tasks, failed tasks and jobs, read from the
driver's status store (finished stages, plus ``executorList`` for cached
bytes; it works with the UI disabled) after draining the listener bus, so
the counts include every task that finished inside the span. Spans stay in memory and are written once, at
exit.

Streaming progress comes from a ``StreamingQueryListener``.
"""

from __future__ import annotations

import functools
import json
import threading
import time

_COUNTERS = ("task_ms", "gc_ms", "input_bytes", "shuffle_read_bytes",
             "shuffle_write_bytes", "tasks", "tasks_failed", "jobs")


class SparkCounters:
    """Cumulative Spark counters of one SparkContext, summed over finished
    stages (stage ids are dense, so each stage is fetched once)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._next_stage = 0
        self._totals = dict.fromkeys(_COUNTERS, 0)
        self._lock = threading.Lock()

    def read(self) -> dict:
        """Process-wide totals: a span's delta includes work other threads
        ran meanwhile (the streaming sink runs on its own thread)."""
        with self._lock:
            return self._read()

    def _read(self) -> dict:
        sc = self._sc
        sc.listenerBus().waitUntilEmpty()
        store = sc.statusStore()
        tot = self._totals
        for sid in range(self._next_stage, sc.dagScheduler().nextStageId()):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # never submitted: nothing to count
                self._next_stage = sid + 1
                continue
            if st.status().toString() in ("ACTIVE", "PENDING"):
                break
            tot["task_ms"] += st.executorRunTime()
            tot["gc_ms"] += st.jvmGcTime()
            tot["input_bytes"] += st.inputBytes()
            tot["shuffle_read_bytes"] += st.shuffleReadBytes()
            tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
            tot["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            tot["tasks_failed"] += st.numFailedTasks()
            self._next_stage = sid + 1
        execs = store.executorList(True)
        memory = sum(execs.apply(i).memoryUsed() for i in range(execs.size()))
        return {**tot, "jobs": sc.dagScheduler().nextJobId(), "memory_used": memory}


def delta(a: dict, b: dict) -> dict:
    return {k: b[k] - a[k] for k in _COUNTERS}


class Tracer:
    """Span recorder. ``enabled=False`` makes ``span`` a bare timer so the
    untraced run pays nothing for the tracing points it shares with the
    traced run."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.epoch = time.perf_counter()
        self.counters: SparkCounters | None = None
        self.overhead_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list = []
        self._next = 0

    def attach(self, spark) -> None:
        if self.enabled:
            self.counters = SparkCounters(spark)

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _enter(self, name: str, attrs: dict | None) -> dict:
        t = time.perf_counter()
        with self._lock:
            self._next += 1
            sid = self._next
        st = self._stack()
        span = {"id": sid, "name": name, "parent": st[-1]["id"] if st else None,
                "thread": threading.get_ident(), **(attrs or {})}
        span["_c0"] = self.counters.read() if self.counters else None
        st.append(span)
        span["start"] = time.perf_counter() - self.epoch
        self.overhead_s += time.perf_counter() - t
        return span

    def _exit(self, span: dict) -> None:
        end = time.perf_counter() - self.epoch
        t = time.perf_counter()
        self._stack().pop()
        span["end"] = end
        c0 = span.pop("_c0")
        if c0 is not None:
            span.update(delta(c0, self.counters.read()))
        with self._lock:
            self.spans.append(span)
        self.overhead_s += time.perf_counter() - t

    def call(self, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        span = self._enter(name, None)
        try:
            return fn(*args, **kwargs)
        finally:
            self._exit(span)

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def wrap(self, module, attr: str, name: str, observe=None) -> None:
        """Rebind ``module.attr`` to a recording wrapper (traced run only).
        ``observe(None, args, kwargs)`` runs before the call, outside the
        span; ``observe(before, args, kwargs, result)`` after it returns
        extra span attributes."""
        if not self.enabled:
            return
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if observe is None:
                return self.call(name, orig, *args, **kwargs)
            t = time.perf_counter()
            before = observe(None, args, kwargs)
            self.overhead_s += time.perf_counter() - t
            span = self._enter(name, None)
            try:
                out = orig(*args, **kwargs)
            finally:
                self._exit(span)
            t = time.perf_counter()
            span.update(observe(before, args, kwargs, out))
            self.overhead_s += time.perf_counter() - t
            return out

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**extra, "overhead_s": self.overhead_s, "spans": self.spans}, fh)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.wall = 0.0

    def __enter__(self):
        if self.tracer.enabled:
            self.span = self.tracer._enter(self.name, self.attrs)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        # the wall time excludes this span's own counter reads
        self.wall = time.perf_counter() - self.t0
        if self.tracer.enabled:
            self.tracer._exit(self.span)
        return False


def progress_listener(sink: list):
    """A StreamingQueryListener that appends every progress event's JSON
    to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()
