"""Measurement helpers: pure statistics, the in-memory span tracer, Spark
status reads over py4j, and wrappers around the library's public layer
functions. Nothing here edits the library; a wrapper replaces a module
attribute for the duration of a traced unit and restores it after."""

from __future__ import annotations

import functools
import importlib
import re
import statistics
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def valid_metric_name(name: str) -> bool:
    """Names start with a letter or digit and hold at most 64 letters,
    digits, ``_``, ``.`` and ``-``."""
    return bool(METRIC_NAME.fullmatch(name))


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def tail_percentile(samples) -> tuple[float, float] | None:
    """The highest percentile that still has at least 10 samples above it,
    as ``(percentile, value)``; ``None`` when there are fewer than 11
    samples. The value is the sample with exactly 10 larger-ranked
    samples after it."""
    xs = sorted(samples)
    n = len(xs)
    if n < 11:
        return None
    idx = n - 11
    return (100.0 * (idx + 1) / n, xs[idx])


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` pairs."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def idle_time(window: tuple[float, float], busy) -> float:
    """Wall time inside ``window`` covered by none of the ``busy``
    intervals (each clipped to the window first)."""
    w0, w1 = window
    clipped = [(max(s, w0), min(e, w1)) for s, e in busy]
    return (w1 - w0) - union_length(clipped)


@dataclass
class Span:
    id: int
    name: str
    kind: str
    start: float
    end: float | None
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span kind: the sum over spans of their duration minus the part
    of it their children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        if s.end is None:
            continue
        kids = [(c.start, c.end) for c in children.get(s.id, []) if c.end is not None]
        own = idle_time((s.start, s.end), kids)
        out[s.kind] = out.get(s.kind, 0.0) + own
    return out


class Tracer:
    """Spans kept in memory, written once at the end. Times are wall-clock
    seconds (``time.time``) so Spark's job submission and completion
    timestamps land on the same axis."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._main = threading.get_ident()
        # one open-span stack per thread: foreachBatch callbacks run on a
        # py4j callback thread while the main thread waits inside a drain
        self._stacks: dict[int, list[int]] = {}

    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        tid = threading.get_ident()
        with self._lock:
            stack = self._stacks.setdefault(tid, [])
            owner = stack or self._stacks.get(self._main, [])
            parent = owner[-1] if owner else None
            s = Span(len(self.spans), name, kind, time.time(), None, parent, self.run_id, attrs)
            self.spans.append(s)
            stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            with self._lock:
                stack.pop()

    def add(self, name: str, kind: str, start: float, end: float, parent: int | None, **attrs) -> Span:
        s = Span(len(self.spans), name, kind, start, end, parent, self.run_id, attrs)
        self.spans.append(s)
        return s

    def innermost(self, t: float, within: Span) -> Span:
        """The deepest span under ``within`` whose interval holds ``t``."""
        best = within
        for s in self.spans:
            if s.kind == "job" or s.end is None or not (s.start <= t <= s.end):
                continue
            p, depth = s, 0
            while p.parent is not None and p.id != within.id:
                p, depth = self.spans[p.parent], depth + 1
            if p.id == within.id and depth > self._depth(best, within):
                best = s
        return best

    def _depth(self, s: Span, root: Span) -> int:
        d = 0
        while s.id != root.id and s.parent is not None:
            s, d = self.spans[s.parent], d + 1
        return d

    def as_json(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "kind": s.kind, "start": s.start,
             "end": s.end, "parent": s.parent, "run_id": s.run_id, **s.attrs}
            for s in self.spans
        ]


# -- Spark status over py4j -------------------------------------------------


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


@dataclass
class JobRecord:
    job_id: int
    start: float
    end: float
    stage_ids: list[int]
    skipped_stages: int


def jobs_between(spark, t0: float, t1: float) -> list[JobRecord]:
    """Every job the status store holds whose submission time lies in
    ``[t0, t1]`` (wall-clock seconds)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    as_java = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    out = []
    for j in as_java(store.jobsList(None)):
        start = _opt_ms(j.submissionTime())
        if start is None or not (t0 - 0.001 <= start <= t1 + 0.001):
            continue
        end = _opt_ms(j.completionTime()) or t1
        stage_ids = list(as_java(j.stageIds()))
        out.append(JobRecord(j.jobId(), start, end, stage_ids, j.numSkippedStages()))
    return sorted(out, key=lambda r: r.job_id)


def stage_totals(spark, jobs: list[JobRecord], cores: int, wall: float) -> dict[str, float]:
    """Counters over the stages of ``jobs``, read from the status store's
    last attempt of each stage."""
    store = spark.sparkContext._jsc.sc().statusStore()
    tot = dict.fromkeys(
        ("tasks", "failed_tasks", "shuffle_write_bytes", "shuffle_read_bytes",
         "input_bytes", "spill_bytes", "run_ms"), 0.0)
    ran, listed, skipped = set(), 0, 0
    for j in jobs:
        listed += len(j.stage_ids)
        skipped += j.skipped_stages
        for sid in j.stage_ids:
            if sid in ran:
                continue
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage evicted from the store or never recorded
                continue
            if str(st.status().toString()) == "SKIPPED":
                continue
            ran.add(sid)
            tot["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            tot["failed_tasks"] += st.numFailedTasks()
            tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
            tot["shuffle_read_bytes"] += st.shuffleReadBytes()
            tot["input_bytes"] += st.inputBytes()
            tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            tot["run_ms"] += st.executorRunTime()
    tot["stages"] = float(len(ran))
    tot["stage_reuse_share"] = skipped / listed if listed else 0.0
    tot["busy_share"] = (tot.pop("run_ms") / 1000.0) / (wall * cores) if wall > 0 else 0.0
    return tot


def cached_bytes(spark) -> int:
    """Bytes the block manager holds for persisted RDDs and frames now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


# -- wrappers around public layer functions ---------------------------------


class LayerWrappers:
    """Replaces public functions of library modules with timing wrappers
    that open a tracer span per call. Every module of the library that
    imported the same function object is patched too, so calls through a
    ``from x import f`` binding are seen. ``restore`` puts everything
    back."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, module: str, name: str, metric: str, returns_callable: bool = False,
             stats_kw: str | None = None) -> None:
        mod = importlib.import_module(module)
        orig = getattr(mod, name)
        tracer = self.tracer

        def timed(fn, label):
            @functools.wraps(fn)
            def inner(*a, **kw):
                stats = None
                if stats_kw is not None and kw.get(stats_kw) is None:
                    stats = kw[stats_kw] = {}
                with tracer.span(label, "op") as s:
                    out = fn(*a, **kw)
                if stats is not None:
                    s.attrs.update({f"stats.{k}": v for k, v in stats.items()
                                    if isinstance(v, (int, float))})
                return out
            return inner

        if returns_callable:
            @functools.wraps(orig)
            def factory(*a, **kw):
                return timed(orig(*a, **kw), metric)
            replacement = factory
        else:
            replacement = timed(orig, metric)
        for m in list(sys.modules.values()):
            if getattr(m, "__name__", "").startswith("kafka_workers_spark") and \
                    getattr(m, name, None) is orig:
                self._saved.append((m, name, orig))
                setattr(m, name, replacement)

    def restore(self) -> None:
        for m, name, orig in reversed(self._saved):
            setattr(m, name, orig)
        self._saved.clear()

