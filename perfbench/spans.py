"""Spans around calls into the program's layers, plus their Spark work.

A span has a name, start, end, parent span and request id, and lives in
memory until :meth:`Tracer.write_jsonl`. While a span is open its Spark
jobs carry the job group ``pb-<span id>``; :meth:`Tracer.harvest` reads
each group's jobs and stages back from the status store. Layers are
traced by :func:`instrument`, which wraps a package function in place
of every module-level name bound to it — the package itself carries no
tracing code.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

PACKAGE = "sql_database_to_elastic_datalake_spark"


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: str | None = None
    attrs: dict = field(default_factory=dict)
    #: [(submit, complete)] of this span's own jobs, perf_counter seconds
    jobs: list = field(default_factory=list)
    stages: int = 0
    shuffle_write_bytes: int = 0
    executor_run_s: float = 0.0
    input_records: int = 0
    #: max/median task run time of this span's longest stage
    task_skew: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Span recorder. ``active`` False makes every span a no-op, so the
    same wrapped code runs untraced at (almost) no cost."""

    def __init__(self, active: bool = False):
        self.active = active
        self.spark = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._harvested = 0
        # job times are wall-clock ms; spans are perf_counter seconds
        self._epoch = time.time() - time.perf_counter()

    @contextmanager
    def span(self, name: str, request: str | None = None, **attrs):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, time.perf_counter(),
                  parent=parent.sid if parent else None,
                  request=request or (parent.request if parent else None),
                  attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setLocalProperty("spark.jobGroup.id", f"pb-{sp.sid}")
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                sc.setLocalProperty(
                    "spark.jobGroup.id",
                    f"pb-{self._stack[-1].sid}" if self._stack else None)

    def harvest(self) -> None:
        """Attach job intervals and stage metrics to every span closed
        since the last harvest. Runs outside all timed regions."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = sc.statusTracker(), jsc.statusStore()
        quant = sc._gateway.new_array(sc._jvm.double, 2)
        quant[0], quant[1] = 0.5, 1.0
        for sp in self.spans[self._harvested:]:
            longest = (-1.0, 0.0)
            for jid in tracker.getJobIdsForGroup(f"pb-{sp.sid}"):
                jd = store.job(jid)
                if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                    sp.jobs.append(
                        (jd.submissionTime().get().getTime() / 1e3 - self._epoch,
                         jd.completionTime().get().getTime() / 1e3 - self._epoch))
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # stage never ran (skipped)
                        continue
                    if str(sd.status()) == "SKIPPED":
                        continue
                    sp.stages += 1
                    sp.shuffle_write_bytes += sd.shuffleWriteBytes()
                    sp.executor_run_s += sd.executorRunTime() / 1e3
                    sp.input_records += sd.inputRecords()
                    if sd.executorRunTime() > longest[0]:
                        longest = (sd.executorRunTime(), 0.0)
                        q = store.taskSummary(sid, sd.attemptId(), quant)
                        if q.isDefined():
                            run = q.get().executorRunTime()
                            med, mx = run.apply(0), run.apply(1)
                            longest = (sd.executorRunTime(),
                                       mx / med if med > 0 else 1.0)
            sp.task_skew = longest[1]
        self._harvested = len(self.spans)

    # -- queries over recorded spans ------------------------------------

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.sid]

    def subtree(self, sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def self_time(self, sp: Span) -> float:
        return sp.duration - covered(
            [(c.start, c.end) for c in self.children(sp)], sp.start, sp.end)

    def job_time(self, sp: Span) -> float:
        """Share of ``sp``'s wall covered by Spark jobs of its subtree."""
        return covered([j for s in self.subtree(sp) for j in s.jobs],
                       sp.start, sp.end)

    def total(self, sp: Span, attr: str):
        return sum(getattr(s, attr) for s in self.subtree(sp))

    def named(self, name: str, outermost: bool = True) -> list[Span]:
        """Spans called ``name``; with ``outermost``, skip those nested in
        a span of the same name (recursive calls count once)."""
        by_id = {s.sid: s for s in self.spans}
        out = []
        for s in self.spans:
            if s.name != name:
                continue
            p = by_id.get(s.parent)
            while outermost and p is not None and p.name != name:
                p = by_id.get(p.parent)
            if not outermost or p is None:
                out.append(s)
        return out

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.sid, "name": s.name, "start": s.start,
                    "end": s.end, "parent": s.parent, "request": s.request,
                    "self_s": self.self_time(s), "jobs": len(s.jobs),
                    "stages": s.stages,
                    "shuffle_write_bytes": s.shuffle_write_bytes,
                    "executor_run_s": s.executor_run_s, **s.attrs}) + "\n")


def instrument(tracer: Tracer, module, attr: str, span_name: str):
    """Route every call of ``module.attr`` through a span named
    ``span_name``: the wrapper replaces the function in ``module`` and
    in every loaded package module that imported it by name."""
    orig = getattr(module, attr)

    @functools.wraps(orig)
    def wrapped(*a, **kw):
        with tracer.span(span_name):
            return orig(*a, **kw)

    for mod in list(sys.modules.values()):
        name = getattr(mod, "__name__", "")
        if (name == PACKAGE or name.startswith(PACKAGE + ".")) \
                and getattr(mod, attr, None) is orig:
            setattr(mod, attr, wrapped)
    return orig
