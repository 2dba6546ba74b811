"""Spans and counters taken from outside the program.

Every measurement here times a call into a public function of the
package, or reads Spark's status store and streaming progress. Spans
are kept in memory and written once, at exit. With tracing off every
hook is a no-op, so the end-to-end run pays nothing for it.
"""

from __future__ import annotations

import collections
import contextlib
import functools
import json
import sys
import threading
import time

# Spans that run a job or plan a query. A py4j command inside one blocks
# for that work, so it is not counted as session (py4j) time.
_EXEC_SPANS = ("io.collect", "spark.plan", "spark.exec")


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


class Tracer:
    """Spans and counters. On the thread that created the tracer a span
    is recorded with its parent; on any other thread (a streaming
    ``foreachBatch`` callback) only its time is added to the counter of
    its name. Either way a span opened inside an open span of the same
    name is not counted again."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: collections.Counter = collections.Counter()
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._main = threading.get_ident()
        self._local = threading.local()  # per thread: names of open spans
        self._quiet = False  # the tracer's own py4j calls are not counted
        self._undo: list = []

    # -- spans -----------------------------------------------------------

    def record(self, name, start, end, parent=None, op=None) -> int:
        """Add a span; returns its index, which children name as parent."""
        if not self.enabled:
            return -1
        self.spans.append({
            "name": name, "start": start, "end": end, "parent": parent,
            "op": op, "py4j_ms": 0.0,
        })
        return len(self.spans) - 1

    def _open(self) -> collections.Counter:
        if not hasattr(self._local, "open"):
            self._local.open = collections.Counter()
        return self._local.open

    @contextlib.contextmanager
    def span(self, name: str, op=None):
        if not self.enabled or self._open()[name]:
            yield
            return
        open_, main = self._open(), threading.get_ident() == self._main
        open_[name] += 1
        t0 = time.perf_counter()
        if main:
            idx = self.record(name, t0, None, self._stack[-1] if self._stack else None, op)
            self._stack.append(idx)
        try:
            yield
        finally:
            open_[name] -= 1
            if main:
                self._stack.pop()
                self.spans[idx]["end"] = time.perf_counter()
            else:
                self.add(name, (time.perf_counter() - t0) * 1e3)

    def add(self, key: str, value: float) -> None:
        with self._lock:
            self.counters[key] += value

    @contextlib.contextmanager
    def quiet(self):
        self._quiet = True
        try:
            yield
        finally:
            self._quiet = False

    # -- hooks -----------------------------------------------------------

    def _patch(self, owner, attr, wrapper) -> None:
        orig = getattr(owner, attr)
        setattr(owner, attr, wrapper(orig))
        self._undo.append((owner, attr, orig))

    def hook_py4j(self) -> None:
        """Count and time every Python→JVM command (session layer),
        except inside a span that plans or runs a job, where the one
        blocking command is that job's time."""
        if not self.enabled:
            return
        import py4j.clientserver as cs

        def wrap(orig):
            @functools.wraps(orig)
            def send_command(conn, *a, **kw):
                t0 = time.perf_counter()
                try:
                    return orig(conn, *a, **kw)
                finally:
                    open_ = self._open()
                    if not self._quiet and not any(open_[n] for n in _EXEC_SPANS):
                        dt = (time.perf_counter() - t0) * 1e3
                        self.add("session.py4j_calls", 1)
                        self.add("session.py4j_ms", dt)
                        if threading.get_ident() == self._main and self._stack:
                            self.spans[self._stack[-1]]["py4j_ms"] += dt
            return send_command

        self._patch(cs.ClientServerConnection, "send_command", wrap)

    def _timed(self, span_name: str):
        """Wrapper factory: every call runs inside ``span(span_name)``."""

        def wrap(orig):
            @functools.wraps(orig)
            def timed(*a, **kw):
                with self.span(span_name):
                    return orig(*a, **kw)
            return timed

        return wrap

    def hook(self, func, span_name: str) -> None:
        """Time ``func`` wherever a module of the package has bound it."""
        if not self.enabled:
            return
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if name == "__spark_entry__" or name.startswith("solar_logger_spark"):
                for attr, value in list(vars(mod).items()):
                    if value is func:
                        self._patch(mod, attr, self._timed(span_name))

    def hook_method(self, owner, attr: str, span_name: str) -> None:
        """Time calls of one method of a class."""
        if self.enabled:
            self._patch(owner, attr, self._timed(span_name))

    def unhook(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- reports ---------------------------------------------------------

    def self_times_ms(self, ops: int) -> dict[str, float]:
        """Per-layer self time per op: each span's duration minus the part
        its child spans cover and minus its py4j time, which goes to the
        session layer."""
        child = collections.defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: collections.Counter = collections.Counter()
        for i, s in enumerate(self.spans):
            out[layer_of(s["name"])] += (s["end"] - s["start"] - child[i]) * 1e3 - s["py4j_ms"]
            if s["py4j_ms"]:
                out["session"] += s["py4j_ms"]
        return {k: v / max(ops, 1) for k, v in sorted(out.items())}

    def span_ms(self, name: str) -> float:
        """Total duration of the outermost spans called ``name`` (ms), on
        the main thread and in callbacks."""
        total = sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)
        return total * 1e3 + self.counters.get(name, 0.0)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counters": dict(self.counters), **extra}, fh)


def stage_totals(sc, job_ids) -> dict[str, float]:
    """Stages, tasks, executor run time and shuffle bytes of ``job_ids``,
    from the status tracker and the status store."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = collections.Counter()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # a skipped stage never ran an attempt
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += st.numTasks()
            out["spark.executor_run_ms"] += st.executorRunTime()
            out["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
    out["spark.jobs"] += len(job_ids)
    return out
