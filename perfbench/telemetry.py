"""Spans around the program's public functions, plus Spark counts per span.

A traced run replaces selected public functions of the engine with
wrappers, in every module that holds a reference to them (``from x
import f`` copies the binding, so patching only the defining module
would miss the callers). Each call records one span: name, start, end,
parent span and operation id. While a span is open its calls run under
a Spark job group of their own, so every job the span starts can be
attributed to it; the parent's group is restored when the span closes.

Spark figures are read after the operation's timed window, and only
for the operation's own job groups: job ids by group from the status
tracker, then the job and stage records of those ids from the status
store. Nothing walks every retained stage.

Spans are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from dataclasses import dataclass, field

STAGE_FIELDS = {
    "task_s": ("executorRunTime", 1e-3),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": (("memoryBytesSpilled", "diskBytesSpilled"), 1),
}


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    extra: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"pb-span-{self.sid}"


class Tracer:
    """Records spans; ``enabled=False`` makes every hook a no-op."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op: int | None = None
        self._seen_jobs: set[int] = set()
        self.unattributed_jobs = 0

    # -- span recording -------------------------------------------------
    def _open(self, name: str) -> Span:
        parent = self.stack[-1] if self.stack else None
        span = Span(len(self.spans), name, parent.sid if parent else None,
                    self.op, time.time())
        self.spans.append(span)
        self.stack.append(span)
        self.sc.setJobGroup(span.group, name, False)
        return span

    def _close(self, span: Span) -> None:
        span.end = time.time()
        self.stack.pop()
        if self.stack:
            self.sc.setJobGroup(self.stack[-1].group, self.stack[-1].name, False)
        else:
            self.sc.setJobGroup("pb-outside", "outside any operation", False)

    def span(self, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.s = tracer._open(name) if tracer.enabled else None
                return self.s

            def __exit__(self, *exc):
                if self.s is not None:
                    tracer._close(self.s)
                return False

        return _Ctx()

    def wrap(self, module_name: str, func_name: str) -> None:
        """Route every call of ``module.func`` through a span named
        ``<module without package prefix>.<func>``."""
        if not self.enabled:
            return
        module = sys.modules[module_name]
        original = getattr(module, func_name)
        label = module_name.split(".", 1)[1] + "." + func_name

        @functools.wraps(original)
        def traced(*args, **kwargs):
            span = self._open(label)
            try:
                out = original(*args, **kwargs)
                if isinstance(out, int):
                    span.extra["result"] = out
                return out
            finally:
                self._close(span)

        package = module_name.split(".", 1)[0]
        for name, mod in list(sys.modules.items()):
            if (name == package or name.startswith(package + ".")) and \
                    getattr(mod, func_name, None) is original:
                setattr(mod, func_name, traced)

    def begin_outside(self) -> None:
        if self.enabled:
            self.sc.setJobGroup("pb-outside", "outside any operation", False)

    # -- Spark figures, read after the timed window ---------------------
    def spark_stats(self, spans: list[Span]) -> dict:
        """Jobs, stages, tasks and stage metrics of the jobs started in
        ``spans``' own groups, plus the wall time no job of theirs was
        running (``driver_only_s``) over the first span's interval."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        no_status = gw.jvm.java.util.ArrayList()
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        out = {k: 0.0 for k in STAGE_FIELDS}
        out.update(jobs=0, stages=0, tasks=0, csv_input_bytes=0)
        intervals = []
        stage_ids: set[int] = set()
        for span in spans:
            for jid in tracker.getJobIdsForGroup(span.group):
                self._seen_jobs.add(int(jid))
                job = store.job(jid)
                out["jobs"] += 1
                sub, comp = job.submissionTime(), job.completionTime()
                if sub.isDefined() and comp.isDefined():
                    intervals.append((sub.get().getTime() / 1e3,
                                      comp.get().getTime() / 1e3))
                it = job.stageIds().iterator()
                while it.hasNext():
                    stage_ids.add(int(it.next()))
        for sid in stage_ids:
            attempts = store.stageData(sid, False, no_status, False, no_quantiles)
            it = attempts.iterator()
            ran = False
            while it.hasNext():
                d = it.next()
                if d.status().toString() in ("SKIPPED", "PENDING"):
                    continue
                ran = True
                out["tasks"] += d.numCompleteTasks() + d.numFailedTasks()
                for key, (attr, scale) in STAGE_FIELDS.items():
                    attrs = attr if isinstance(attr, tuple) else (attr,)
                    out[key] += sum(getattr(d, a)() for a in attrs) * scale
                if d.inputBytes():
                    graph = store.operationGraphForStage(sid)
                    dot = gw.jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile(graph)
                    if "Scan csv" in dot:
                        out["csv_input_bytes"] += d.inputBytes()
            out["stages"] += ran
        root = spans[0]
        out["driver_only_s"] = (root.end - root.start) - _covered(
            intervals, root.start, root.end)
        return out

    def count_unattributed(self) -> None:
        """Jobs that ran with no job group at all: started from a thread
        that did not inherit the operation's group."""
        if self.enabled:
            for jid in self.sc.statusTracker().getJobIdsForGroup(None):
                if int(jid) not in self._seen_jobs:
                    self._seen_jobs.add(int(jid))
                    self.unattributed_jobs += 1

    def dump(self, path) -> None:
        rows = [
            {"id": s.sid, "name": s.name, "parent": s.parent, "op": s.op,
             "start": s.start, "end": s.end, **s.extra}
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump(rows, fh)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.sid]

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def self_time(self, span: Span) -> float:
        kids = [(c.start, c.end) for c in self.children(span)]
        return (span.end - span.start) - _covered(kids, span.start, span.end)


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
