"""In-memory spans around the package's public functions, plus readers
of Spark's own progress and status APIs.

Nothing inside the package changes: ``Tracer.wrap`` rebinds a function
at every module binding where callers imported it and restores the
originals on ``close``.  Spans are ``(name, start, end, parent, trace)`` in
wall-clock seconds, so Spark's job and stage submission times can be
placed inside them; they are written out once, when the run ends.
"""

from __future__ import annotations

import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._root: int | None = None
        self._trace_id: str | None = None
        self._restore: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, trace_id: str | None = None):
        """Time one call.  The parent is the innermost open span on this
        thread, else the open root span (a foreachBatch body runs on a
        callback thread but belongs to the poll that started it)."""
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        with self._lock:
            idx = len(self.spans)
            self.spans.append(
                {
                    "name": name,
                    "start": time.time(),
                    "end": None,
                    "parent": parent,
                    "trace": trace_id or self._trace_id,
                }
            )
        is_root = parent is None
        if is_root:
            self._root, self._trace_id = idx, trace_id
        stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            stack.pop()
            self.spans[idx]["end"] = time.time()
            if is_root:
                self._root, self._trace_id = None, None

    # -- rebinding ---------------------------------------------------
    def wrap(self, func, name: str) -> None:
        """Replace ``func`` at every ``cdc_extractor_spark`` module
        binding with a spanned wrapper."""

        def wrapper(*args, **kwargs):
            with self.span(name):
                return func(*args, **kwargs)

        wrapper.__wrapped__ = func
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("cdc_extractor_spark") or mod is None:
                continue
            for attr, value in list(vars(mod).items()):
                if value is func:
                    self._restore.append((mod, attr, func))
                    setattr(mod, attr, wrapper)

    def close(self) -> None:
        for mod, attr, func in reversed(self._restore):
            setattr(mod, attr, func)
        self._restore.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class SparkStatus:
    """Jobs, stages and SQL executions read from Spark's status stores
    once, after the measured window.  Each record carries its submission
    wall time, so the caller attributes it to the span that contains it.
    The session must retain every job, stage and execution of the run
    (``spark.ui.retainedJobs`` and friends)."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores reflect every job that has already returned."""
        self._sc.listenerBus().waitUntilEmpty(30_000)

    @staticmethod
    def _wall(opt_date) -> float | None:
        return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None

    def jobs(self) -> list[tuple[float, int, int]]:
        """``(submitted, stages, tasks)`` per job."""
        seq = self._sc.statusStore().jobsList(self.jvm.java.util.ArrayList())
        out = []
        for i in range(seq.size()):
            j = seq.apply(i)
            t = self._wall(j.submissionTime())
            if t is not None:
                out.append((t, j.stageIds().size(), j.numTasks()))
        return out

    def stages(self) -> list[tuple[float, int, int, int]]:
        """``(submitted, shuffle write, shuffle read, spill bytes)``."""
        seq = self._sc.statusStore().stageList(
            self.jvm.java.util.ArrayList(),
            False,
            False,
            self.spark.sparkContext._gateway.new_array(self.jvm.double, 0),
            self.jvm.java.util.ArrayList(),
        )
        out = []
        for i in range(seq.size()):
            s = seq.apply(i)
            t = self._wall(s.submissionTime())
            if t is not None:
                out.append(
                    (
                        t,
                        s.shuffleWriteBytes(),
                        s.shuffleReadBytes(),
                        s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    )
                )
        return out

    def executions(self) -> list[tuple[float, float]]:
        """``(submitted, completed)`` per finished root SQL execution."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        seq = store.executionsList()
        out = []
        for i in range(seq.size()):
            e = seq.apply(i)
            done = e.completionTime()
            if e.executionId() == e.rootExecutionId() and done.isDefined():
                out.append((e.submissionTime() / 1000.0, done.get().getTime() / 1000.0))
        return out


def catalyst_phases(df) -> dict[str, float]:
    """Plan ``df`` and return its analysis / optimization / planning
    seconds from the QueryExecution tracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        if phases.contains(name):
            p = phases.get(name).get()
            out[name] = (p.endTimeMs() - p.startTimeMs()) / 1000.0
    return out


def stream_listener(spark):
    """Register a StreamingQueryListener that sums the ``durationMs``
    phases of every progress event, counts query starts, and times its
    own callbacks (``busy_s``, part of the tracing overhead)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        PHASES = (
            "latestOffset",
            "getBatch",
            "queryPlanning",
            "addBatch",
            "walCommit",
            "commitOffsets",
            "triggerExecution",
        )

        def __init__(self) -> None:
            self.lock = threading.Lock()
            self.sums: dict[str, float] = defaultdict(float)
            self.started = 0

        def onQueryStarted(self, event) -> None:
            t = time.perf_counter()
            with self.lock:
                self.started += 1
                self.sums["busy_s"] += time.perf_counter() - t

        def onQueryProgress(self, event) -> None:
            t = time.perf_counter()
            d = event.progress.durationMs or {}
            with self.lock:
                for k in self.PHASES:
                    self.sums[k] += float(d.get(k, 0))
                self.sums["busy_s"] += time.perf_counter() - t

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def take(self) -> dict[str, float]:
            with self.lock:
                out = dict(self.sums)
                out["queries_started"] = self.started
                self.sums.clear()
                self.started = 0
            return out

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener
