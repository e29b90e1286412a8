"""Spans around calls into the package's layers, with Spark counters.

Tracing is installed only for a traced run. ``install`` replaces each
traced function at the place where the program looks it up (a module
global or a class attribute) with a wrapper that records a span: name,
start, end, parent span and iteration. Each wrapper also sets a
thread-local Spark job group for its span and restores the caller's
group on exit, so every Spark job is attributed to the innermost open
span on its thread. Spans stay in memory; the caller writes them out
once, at the end of the run.
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-span-"
_GROUP_PROPS = (
    "spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    iteration: int
    start: float
    end: float = 0.0
    info: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def union_seconds(intervals) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_seconds(spans) -> dict[int, float]:
    """Each span's duration minus the union of its children's intervals
    (clipped to the span), so overlapping children in a thread pool are
    not subtracted twice."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    return {
        s.id: s.seconds - union_seconds(
            (max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, ())
        )
        for s in spans
    }


def descendants(spans) -> dict[int, set[int]]:
    """Span id -> ids of the span and every span below it."""
    kids: dict[int, list[int]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s.id)
    out = {}
    for s in spans:
        seen, todo = set(), [s.id]
        while todo:
            i = todo.pop()
            seen.add(i)
            todo.extend(kids.get(i, ()))
        out[s.id] = seen
    return out


class Tracer:
    """Records spans and switches Spark job groups around them."""

    def __init__(self, sc, clock=time.time):
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self.iteration = -1
        self.frames: dict[int, object] = {}  # eager() results by span id
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._patched: list[tuple] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        # A pool thread opens its first span under whatever the main
        # thread has open, i.e. the call that submitted the work.
        opened = stack or self._main_stack
        parent = opened[-1].id if opened else None
        with self._lock:
            s = Span(next(self._ids), name, parent, self.iteration, self.clock())
            self.spans.append(s)
        saved = [self.sc.getLocalProperty(k) for k in _GROUP_PROPS]
        self.sc.setJobGroup(f"{GROUP_PREFIX}{s.id}", name)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            stack.pop()
            for k, v in zip(_GROUP_PROPS, saved):
                self.sc.setLocalProperty(k, v)

    @contextmanager
    def main_span(self, name: str):
        """A span opened by the benchmark itself on its main thread."""
        self._local.stack = self._main_stack
        with self.span(name) as s:
            yield s

    def wrap(self, name, fn, before=None, after=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                if before is not None:
                    args, kwargs = before(s, args, kwargs)
                out = fn(*args, **kwargs)
                if after is not None:
                    after(s, args, out)
                return out

        return traced

    def patch(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` (a module global or a class's own method)."""
        self._patched.append((owner, attr, vars(owner)[attr]))
        setattr(owner, attr, self.wrap(name, getattr(owner, attr), before, after))

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)


def _count(key):
    def after(s, _args, out):
        s.info[key] = len(out)

    return after


def _count_attempts(s, args, kwargs):
    fn = args[0]
    s.info["attempts"] = 0

    def attempt():
        s.info["attempts"] += 1
        return fn()

    return (attempt, *args[1:]), kwargs


def _copy_table_name(s, args, kwargs):
    s.info["table"] = args[1][0].table_name
    return args, kwargs


def _check_table_name(s, args, kwargs):
    s.info["table"] = args[2]
    return args, kwargs


def install(tracer: Tracer) -> None:
    """Wrap every traced layer function where the program looks it up."""
    from smartbulkcopy_spark import executor, queries
    from smartbulkcopy_spark.catalog import ParquetCatalog
    from smartbulkcopy_spark.monitor import CopyMonitor
    from smartbulkcopy_spark.pipeline import curate

    tracer.patch(ParquetCatalog, "list_tables", "catalog.list_tables",
                 after=_count("tables"))
    tracer.patch(ParquetCatalog, "collect_all", "catalog.collect_all",
                 after=_count("tables"))
    tracer.patch(executor, "analyze", "planner.analyze",
                 after=lambda s, _a, out: s.info.update(tasks=len(out.tasks)))
    tracer.patch(executor, "with_retry", "retry.with_retry", before=_count_attempts)
    tracer.patch(executor, "copy_table", "copy_table", before=_copy_table_name)
    tracer.patch(executor, "check_copy", "verify.check_copy", before=_check_table_name)
    tracer.patch(CopyMonitor, "tick", "monitor.tick")
    tracer.patch(curate, "verified_pairs", "verified_pairs")
    tracer.patch(curate, "curated_docs", "curated_docs")
    orig_eager = queries.eager
    sites = [
        m for n, m in sorted(sys.modules.items())
        if n.startswith("smartbulkcopy_spark")
        and getattr(m, "eager", None) is orig_eager
    ]
    for mod in sites:
        tracer.patch(mod, "eager", "eager",
                     after=lambda s, _a, out: tracer.frames.__setitem__(s.id, out))


# -- Spark counters ---------------------------------------------------------

COUNTER_KEYS = (
    "jobs", "stages", "tasks", "task_s", "gc_s", "shuffle_write_bytes",
    "spill_bytes", "peak_exec_mem_bytes", "input_rows", "output_bytes",
)


def _opt(o):
    return o.get() if o.isDefined() else None


def job_counters(spark, after_job_id: int) -> tuple[list[dict], int]:
    """Counters of every job with an id above ``after_job_id``, read from
    the status store (which works with the UI disabled), and the highest
    job id seen. Call once the jobs have finished."""
    ssc = spark.sparkContext._jsc.sc()
    ssc.listenerBus().waitUntilEmpty(30_000)
    store = ssc.statusStore()
    jobs = store.jobsList(None)  # newest first
    out, top = [], after_job_id
    for i in range(jobs.size()):
        jd = jobs.apply(i)
        jid = jd.jobId()
        if jid <= after_job_id:
            break
        top = max(top, jid)
        sub = _opt(jd.submissionTime())
        rec = dict.fromkeys(COUNTER_KEYS, 0)
        rec.update(
            id=jid,
            group=_opt(jd.jobGroup()),
            submit_s=sub.getTime() / 1000 if sub else 0.0,
            jobs=1,
        )
        sids = jd.stageIds()
        for k in range(sids.size()):
            sd = store.lastStageAttempt(sids.apply(k))
            if sd.status().toString() == "SKIPPED":
                continue
            rec["stages"] += 1
            rec["tasks"] += sd.numCompleteTasks()
            rec["task_s"] += sd.executorRunTime() / 1000
            rec["gc_s"] += sd.jvmGcTime() / 1000
            rec["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            rec["spill_bytes"] += sd.diskBytesSpilled()
            rec["peak_exec_mem_bytes"] = max(
                rec["peak_exec_mem_bytes"], sd.peakExecutionMemory()
            )
            rec["input_rows"] += sd.inputRecords()
            rec["output_bytes"] += sd.outputBytes()
        out.append(rec)
    return out, top


def sum_counters(jobs) -> dict:
    total = dict.fromkeys(COUNTER_KEYS, 0)
    for j in jobs:
        for k in COUNTER_KEYS:
            if k == "peak_exec_mem_bytes":
                total[k] = max(total[k], j[k])
            else:
                total[k] += j[k]
    return total


def span_of_group(group) -> int | None:
    if group and group.startswith(GROUP_PREFIX):
        return int(group[len(GROUP_PREFIX):])
    return None
