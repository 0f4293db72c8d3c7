"""The traced run: spans around every call into a layer, each in its own
Spark job group, folded against Spark's event log after the session stops.

A span is opened either by the benchmark around its own call into a layer
(`Tracer.span`, which also covers the action that materialises a lazy
layer's result) or by a wrapper installed over a module attribute or a
`Lake` instance method that the program calls internally (`Tracer.wrap`).
Wrappers exist only in the traced run; the untraced run uses the same
call sites with a tracer whose `span` does nothing.

Spans are kept in memory. The fold turns each span into four numbers:
wall time, Spark jobs run inside it (its own and its children's),
executor task run time of those jobs, and the part of its wall time no
running job of its own covers (driver-side planning, Python, lock time).
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

from harness import median

_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
_TRACERS = itertools.count()  # keeps job group ids unique across tracers of one session


@dataclass
class Span:
    sid: str
    parent: str | None
    name: str
    t0: float  # epoch seconds, comparable with the event log's ms stamps
    t1: float


class Tracer:
    """No-op unless built with a session. ``recording`` gates which spans
    are kept (the measured window only); `paused` lets untimed output
    checks call wrapped methods without producing spans."""

    def __init__(self, spark=None):
        self.enabled = spark is not None
        self.sc = spark.sparkContext if spark is not None else None
        self.recording = False
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._prefix = f"perfbench-{next(_TRACERS)}"
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._restore: list[tuple[object, str, object, bool]] = []

    def _stack(self) -> list[tuple[str, str]]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def _live(self) -> bool:
        return self.enabled and self.recording and not getattr(self._tls, "paused", False)

    @contextmanager
    def span(self, name: str):
        if not self._live():
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = f"{self._prefix}-{next(self._ids)}"
        self.sc.setJobGroup(sid, name)
        stack.append((sid, name))
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            stack.pop()
            # restore the enclosing span's group, or clear every property
            # setJobGroup set — a leaked group would tag later jobs
            if parent is not None:
                self.sc.setJobGroup(parent[0], parent[1])
            else:
                for key in _PROPS:
                    self.sc.setLocalProperty(key, None)
            with self._lock:
                self.spans.append(Span(sid, parent[0] if parent else None, name, t0, t1))

    @contextmanager
    def paused(self):
        prev = getattr(self._tls, "paused", False)
        self._tls.paused = True
        try:
            yield
        finally:
            self._tls.paused = prev

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a span-opening wrapper (traced run
        only); `unwrap_all` puts every original back."""
        if not self.enabled:
            return
        had_own = attr in vars(owner)
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, original, had_own))

    def unwrap_all(self) -> None:
        for owner, attr, original, had_own in reversed(self._restore):
            if had_own:
                setattr(owner, attr, original)
            else:
                delattr(owner, attr)
        self._restore.clear()


# --------------------------------------------------------- event log fold --
@dataclass
class Job:
    group: str | None
    start_ms: int
    end_ms: int
    stages: list[int] = field(default_factory=list)
    exec_ms: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


def fold_event_log(path: str | Path) -> dict[int, Job]:
    """Jobs of one uncompressed event log, keyed by job id, each with its
    job group, submission/completion times, stage ids and the summed task
    metrics of the stages it ran (executor run time, shuffle bytes written,
    memory + disk bytes spilled)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stage_sums: dict[int, list[int]] = defaultdict(lambda: [0, 0, 0])
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = Job(
                    group=props.get("spark.jobGroup.id"),
                    start_ms=ev["Submission Time"],
                    end_ms=ev["Submission Time"],
                    stages=list(ev.get("Stage IDs", [])),
                )
                # a stage belongs to the first job that lists it; a later
                # job that reuses its shuffle lists it again, as skipped
                for s in jobs[jid].stages:
                    stage_job.setdefault(s, jid)
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job.end_ms = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics") or {}
                sums = stage_sums[ev["Stage ID"]]
                sums[0] += tm.get("Executor Run Time", 0)
                sums[1] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                sums[2] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    for sid, (exec_ms, shuffle, spill) in stage_sums.items():
        job = jobs.get(stage_job.get(sid, -1))
        if job is not None:
            job.exec_ms += exec_ms
            job.shuffle_bytes += shuffle
            job.spill_bytes += spill
    return jobs


def find_event_log(event_dir: Path) -> Path:
    logs = [p for p in event_dir.iterdir() if p.is_file() and not p.name.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {logs}")
    return logs[0]


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


@dataclass
class SpanStats:
    s: float
    jobs: float
    exec_s: float
    gap_s: float


def span_stats(
    spans: list[Span], jobs: dict[int, Job]
) -> tuple[dict[str, SpanStats], tuple[int, int]]:
    """Median per call of wall time, jobs, executor time and uncovered gap
    for each span name — every count inclusive of the span's children —
    plus the shuffle bytes written and bytes spilled by all traced jobs."""
    by_group: dict[str, list[Job]] = defaultdict(list)
    for job in jobs.values():
        if job.group is not None:
            by_group[job.group].append(job)
    children: dict[str, list[str]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            children[sp.parent].append(sp.sid)

    def inclusive(sid: str) -> list[Job]:
        out = list(by_group.get(sid, ()))
        for c in children.get(sid, ()):
            out.extend(inclusive(c))
        return out

    calls: dict[str, list[tuple[float, int, float, float]]] = defaultdict(list)
    for sp in spans:
        own = inclusive(sp.sid)
        covered = _covered(
            [(j.start_ms / 1000.0, j.end_ms / 1000.0) for j in own], sp.t0, sp.t1
        )
        wall = sp.t1 - sp.t0
        calls[sp.name].append(
            (wall, len(own), sum(j.exec_ms for j in own) / 1000.0, max(wall - covered, 0.0))
        )
    stats = {
        name: SpanStats(*(median([c[i] for c in cs]) for i in range(4)))
        for name, cs in calls.items()
    }
    traced = [j for sp in spans for j in by_group.get(sp.sid, ())]
    return stats, (sum(j.shuffle_bytes for j in traced), sum(j.spill_bytes for j in traced))


def per_layer_metrics(
    span_names: list[str],
    stats: dict[str, SpanStats],
    traced: tuple[int, int],
    n_ops: int,
    coverage: float,
    late_ms: float = 0.0,
) -> dict[str, tuple[float, str]]:
    """The traced run's metric set: four per span name (zero for a span the
    workload never enters), then shuffle and spill per timed operation, the
    share of timed wall time the top-level spans cover and the open-loop
    generator's median lateness (zero for closed loops)."""
    out: dict[str, tuple[float, str]] = {}
    for name in span_names:
        st = stats.get(name, SpanStats(0.0, 0.0, 0.0, 0.0))
        out[f"{name}.s"] = (st.s, "s")
        out[f"{name}.jobs"] = (st.jobs, "count")
        out[f"{name}.exec_s"] = (st.exec_s, "s")
        out[f"{name}.gap_s"] = (st.gap_s, "s")
    ops = max(n_ops, 1)
    shuffle_bytes, spill_bytes = traced
    out["spark.shuffle_mb"] = (shuffle_bytes / ops / 1e6, "MB")
    out["spark.spill_mb"] = (spill_bytes / ops / 1e6, "MB")
    out["bench.span_coverage"] = (coverage, "ratio")
    out["bench.late_ms"] = (late_ms, "ms")
    return out


def top_level_seconds(spans: list[Span]) -> float:
    return sum(sp.t1 - sp.t0 for sp in spans if sp.parent is None)
