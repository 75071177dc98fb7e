"""Benchmark-side tracing: spans around calls into the engine's layers.

Nothing here changes engine code.  The tracer wraps the engine's public
functions from outside (``sources.tables.table``, the py4j client that
every plan-building call goes through) and reads Spark's own reports
(the status store, query-planning trackers, streaming progress).  Spans
are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass, field

_JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: str = ""
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records spans while ``active``; a pass-through otherwise."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.active = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._main = threading.get_ident()
        self.py4j_calls = 0
        self._count_py4j = False

    # -- spans ---------------------------------------------------------
    def span(self, name: str, request: str = "", **attrs):
        return _SpanCtx(self, name, request, attrs)

    def _open(self, name, request, attrs) -> int:
        parent = self._stack[-1] if self._stack else None
        if not request and parent is not None:
            request = self.spans[parent].request
        self.spans.append(Span(name, time.perf_counter(), parent=parent,
                               request=request, attrs=dict(attrs)))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack.pop()

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        children = sum(c.end - c.start for c in self.spans if c.parent == idx)
        return (s.end - s.start) - children

    # -- job groups ----------------------------------------------------
    def job_group(self, group: str):
        """Run the block's Spark jobs under ``group``; the calls that set and
        restore the group are not counted as py4j round-trips."""
        return _JobGroupCtx(self, group)

    # -- py4j round-trips ----------------------------------------------
    def install_py4j_counter(self) -> None:
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counting_send(*args, **kwargs):
            if self._count_py4j and threading.get_ident() == self._main:
                self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counting_send

    def count_py4j(self, on: bool) -> None:
        self._count_py4j = on and self.active

    # -- wrapping an engine function -----------------------------------
    def wrap_table(self, table_fn):
        """Wrap ``sources.tables.table``: a span per call, each call under
        its own job group so schema-inference jobs are attributed to it."""
        counter = itertools.count()

        def traced_table(spark, sf_dir, name):
            if not self.active:
                return table_fn(spark, sf_dir, name)
            group = f"src-{next(counter)}"
            with self.span("sources", table=name, group=group), self.job_group(group):
                return table_fn(spark, sf_dir, name)

        traced_table.__wrapped__ = table_fn
        return traced_table

    # -- Spark's own reports -------------------------------------------
    def drain_listener_bus(self, timeout_ms: int = 30_000) -> bool:
        """Wait, bounded, until the status store has seen every event."""
        from py4j.protocol import Py4JJavaError

        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)
            return True
        except Py4JJavaError:  # TimeoutException: the bus is still busy
            return False

    def group_stats(self, group: str, since: float = 0.0,
                    until: float = float("inf")) -> dict:
        """Jobs, stages and task metrics of every job run under ``group``
        and submitted in [``since``, ``until``) (epoch seconds)."""
        store = self.sc._jsc.sc().statusStore()
        out = dict(jobs=0, stages=0, tasks=0, task_run_s=0.0, job_s=0.0,
                   shuffle_bytes=0, spill_bytes=0, gc_s=0.0, input_rows=0)
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(job_id)
            sub, done = job.submissionTime(), job.completionTime()
            if since and (not sub.isDefined()
                          or not since <= sub.get().getTime() / 1e3 < until):
                continue
            out["jobs"] += 1
            if sub.isDefined() and done.isDefined():
                out["job_s"] += (done.get().getTime() - sub.get().getTime()) / 1e3
            ids = job.stageIds()
            for i in range(ids.size()):
                st = store.lastStageAttempt(ids.apply(i))
                if st.status().toString() != "COMPLETE":
                    continue  # skipped by AQE or by a reused exchange
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["task_run_s"] += st.executorRunTime() / 1e3
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.diskBytesSpilled()
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["input_rows"] += st.inputRecords()
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, fh)


class _SpanCtx:
    def __init__(self, tracer, name, request, attrs):
        self.tracer, self.name, self.request, self.attrs = tracer, name, request, attrs
        self.idx = None

    def __enter__(self):
        if self.tracer.active:
            self.idx = self.tracer._open(self.name, self.request, self.attrs)
        return self

    def __exit__(self, *exc):
        if self.idx is not None:
            self.tracer._close(self.idx)
        return False


class _JobGroupCtx:
    def __init__(self, tracer, group):
        self.tracer, self.group = tracer, group

    def _quietly(self, fn):
        counting, self.tracer._count_py4j = self.tracer._count_py4j, False
        try:
            return fn()
        finally:
            self.tracer._count_py4j = counting

    def __enter__(self):
        sc = self.tracer.sc
        self.prev = self._quietly(lambda: sc.getLocalProperty(_JOB_GROUP))
        self._quietly(lambda: sc.setJobGroup(self.group, self.group))
        return self

    def __exit__(self, *exc):
        sc = self.tracer.sc
        if self.prev is None:
            self._quietly(lambda: (sc.setLocalProperty(_JOB_GROUP, None),
                                   sc.setLocalProperty("spark.job.description", None)))
        else:
            self._quietly(lambda: sc.setJobGroup(self.prev, self.prev))
        return False


def catalyst_phases_ms(jdf) -> dict:
    """Force physical planning of ``jdf`` and read its planning tracker."""
    qe = jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out
