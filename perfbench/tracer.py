"""Traced runs: spans around every call into a layer, plus the Spark work
(jobs, stages, tasks) each benchmark operation caused.

Spans are kept in memory and written out with the run's artifact. The
layer boundaries are this repo's modules:

- ``log``: ``flumedb_spark/log.py`` (``ParquetLog``)
- ``engine``: ``flumedb_spark/engine.py`` (``Flume``)
- ``views``: ``flumedb_spark/views/*.py``
- ``catalog``: ``catalog*.py`` queries and the ingest they read from

The benchmark's own operations are spans of layer ``bench``. Calls
between layers are timed by wrapping the layer entry points at run time
(the package itself is not modified); :meth:`Tracer.uninstall` restores
them.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager

IDLE_GROUP = "perfbench-idle"


def _layer_targets():
    from flumedb_spark.engine import Flume
    from flumedb_spark.log import ParquetLog
    from flumedb_spark.views.grouped import GroupedStats
    from flumedb_spark.views.hashtable import Hashtable
    from flumedb_spark.views.level import Level
    from flumedb_spark.views.reduce import NativeStats

    return [
        ("log", ParquetLog, ["append", "df", "get", "stream_df", "maybe_compact", "compact", "vacuum"]),
        ("engine", Flume, ["append", "get", "stream_df", "use", "maintain", "rebuild", "_gate", "_catch_up", "_feed"]),
        ("views", NativeStats, ["fold", "get"]),
        ("views", Hashtable, ["fold", "get"]),
        ("views", Level, ["fold", "get", "compact"]),
        ("views", GroupedStats, ["fold", "get", "snapshot"]),
    ]


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.status = self.sc.statusTracker()
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.bookkeeping_s = 0.0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0
        self._op_seq = itertools.count()  # job-group names are never reused
        self._op_span: int | None = None
        self._op_stack: list[int] = []  # span stack of the thread running the op
        self._job_max = -1
        self._undo: list = []

    # ---- spans ---------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str):
        stack = self._stack()
        # a span opened on a worker thread (the engine's concurrent
        # rebuild folds) hangs under the span the operation's own thread
        # is in, such as the rebuild waiting on those folds
        op_stack = self._op_stack
        parent = stack[-1] if stack else (op_stack[-1] if op_stack else None)
        with self._lock:
            sid = self._next
            self._next += 1
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append({
                    "id": sid, "name": name, "layer": layer, "start": start,
                    "end": end, "parent": parent, "op": self._op_span,
                })

    @contextmanager
    def op(self, name: str):
        """One benchmark operation: a ``bench`` span whose Spark jobs are
        tagged with a job group of its own and counted when it ends."""
        t0 = time.perf_counter()
        group = f"perfbench-op-{next(self._op_seq)}"
        self.sc.setJobGroup(group, name)
        self.bookkeeping_s += time.perf_counter() - t0
        rec = {"name": name}
        try:
            with self.span(name, "bench") as sid:
                self._op_span = sid
                self._op_stack = self._stack()
                rec["span"] = sid
                yield rec
        finally:
            self._op_span = None
            self._op_stack = []
            t0 = time.perf_counter()
            self.sc.setJobGroup(IDLE_GROUP, "idle")
            rec.update(self._spark_work(group))
            self.ops.append(rec)
            self.bookkeeping_s += time.perf_counter() - t0

    def _spark_work(self, group: str) -> dict:
        """Jobs of ``group`` plus untagged jobs newer than any seen before
        (jobs started on the engine's worker threads carry no group)."""
        ids = set(self.status.getJobIdsForGroup(group))
        ids |= {j for j in self.status.getJobIdsForGroup(None) if j > self._job_max}
        jobs = stages = tasks = 0
        for j in ids:
            info = self.status.getJobInfo(j)
            if info is None:
                continue
            jobs += 1
            for s in info.stageIds:
                si = self.status.getStageInfo(s)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        if ids:
            self._job_max = max(self._job_max, max(ids))
        return {"jobs": jobs, "stages": stages, "tasks": tasks}

    # ---- layer wrapping ------------------------------------------------
    def install(self) -> None:
        # jobs from before the trace, or from the main thread between
        # operations, must never be charged to an operation
        self.sc.setJobGroup(IDLE_GROUP, "idle")
        self._job_max = max(self.status.getJobIdsForGroup(None), default=-1)
        for layer, cls, names in _layer_targets():
            for name in names:
                orig = cls.__dict__.get(name)
                if orig is None:
                    continue
                setattr(cls, name, self.wrap(orig, f"{layer}.{cls.__name__}.{name}", layer))
                self._undo.append((cls, name, orig))

    def uninstall(self) -> None:
        for cls, name, orig in reversed(self._undo):
            setattr(cls, name, orig)
        self._undo.clear()

    def wrap(self, fn, span_name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(span_name, layer):
                return fn(*args, **kwargs)

        return wrapper
