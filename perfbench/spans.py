"""Spans recorded from outside the program, reduced against Spark's own
event log when the run ends.

A span is opened around a call into one ``burst_db_spark`` module. Each span
sets its own Spark job group. When the run ends, every job in the event
log is attributed to the innermost span that set its job group. Jobs
started on Spark's own threads, such as streaming micro-batches that set
their own group, go to the innermost span whose interval holds their
submission time. A span's counters include those of the spans nested in it.
Spans live in memory until ``reduce`` runs.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import time
from collections import defaultdict
from dataclasses import dataclass, field

_PLAN_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)


@dataclass(eq=False)
class Span:
    name: str
    group: str
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    busy: list[tuple[float, float]] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; when disabled every method is a no-op,
    so the untraced run executes the same benchmark code."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, f"bench-{idx}", parent, time.time())
        self.spans.append(s)
        self._stack.append(idx)
        sc.setJobGroup(s.group, name, interruptOnCancel=False)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                sc.setJobGroup(outer.group, outer.name, interruptOnCancel=False)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def wrap(self, owner, attr: str, name: str):
        """Open a span around every call of ``owner.attr`` while the
        context is active (timing at an import site of the caller)."""
        if not self.enabled:
            yield
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def timed(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, timed)
        try:
            yield
        finally:
            setattr(owner, attr, orig)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def descendants(self, span: Span, name: str) -> list[Span]:
        idx = self.spans.index(span)
        out = []
        for s in self.spans:
            p = s.parent
            while p is not None and p != idx:
                p = self.spans[p].parent
            if p == idx and s.name == name:
                out.append(s)
        return out

    # -- event-log reduction ------------------------------------------------

    def reduce(self, event_dir: str) -> None:
        """Attribute every job, task and scan-row count in the event log to
        the spans; call after the SparkContext has stopped."""
        if not self.enabled or not self.spans:
            return
        files = sorted(glob.glob(f"{event_dir}/*"))
        if not files:
            raise RuntimeError(f"no event log under {event_dir}")
        by_group = {s.group: i for i, s in enumerate(self.spans)}
        scan_accs: set[int] = set()
        stage_job: dict[int, int] = {}
        job_span: dict[int, int | None] = {}
        job_start: dict[int, float] = {}
        with open(files[-1]) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind in _PLAN_EVENTS:
                    _collect_scan_accs(e["sparkPlanInfo"], scan_accs)
                elif kind == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    t = e["Submission Time"] / 1000.0
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    idx = by_group.get(group)
                    if idx is None:
                        idx = self._innermost_at(t)
                    job_span[jid] = idx
                    job_start[jid] = t
                    for sid in e["Stage IDs"]:
                        stage_job[sid] = jid
                    self._add(idx, "jobs", 1)
                elif kind == "SparkListenerJobEnd":
                    jid = e["Job ID"]
                    interval = (job_start[jid], e["Completion Time"] / 1000.0)
                    for i in self._chain(job_span[jid]):
                        self.spans[i].busy.append(interval)
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(e["Stage ID"])
                    if jid is None:
                        continue
                    self._task(job_span[jid], e, scan_accs)

    def _innermost_at(self, t: float) -> int | None:
        best = None
        for i, s in enumerate(self.spans):
            if s.start <= t <= s.end:
                best = i  # later spans nest inside earlier ones
        return best

    def _chain(self, idx: int | None):
        while idx is not None:
            yield idx
            idx = self.spans[idx].parent

    def _add(self, idx: int | None, key: str, value: float) -> None:
        for i in self._chain(idx):
            self.spans[i].counters[key] += value

    def _task(self, idx: int | None, e: dict, scan_accs: set[int]) -> None:
        m = e.get("Task Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        rows = sum(
            int(a.get("Update") or 0)
            for a in e["Task Info"].get("Accumulables", [])
            if a.get("ID") in scan_accs
        )
        for key, value in (
            ("tasks", 1),
            ("executor_cpu_s", m.get("Executor CPU Time", 0) / 1e9),
            ("gc_s", m.get("JVM GC Time", 0) / 1e3),
            ("shuffle_write_bytes", sw.get("Shuffle Bytes Written", 0)),
            ("spill_bytes", m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)),
            ("input_bytes", (m.get("Input Metrics") or {}).get("Bytes Read", 0)),
            ("rows_scanned", rows),
        ):
            self._add(idx, key, value)


def _collect_scan_accs(node: dict, out: set[int]) -> None:
    if "Scan" in node["nodeName"]:
        out.update(
            m["accumulatorId"]
            for m in node["metrics"]
            if m["name"] == "number of output rows"
        )
    for child in node["children"]:
        _collect_scan_accs(child, out)


def busy_seconds(span: Span) -> float:
    """Seconds of the span during which at least one job was running."""
    total, cur_end = 0.0, span.start
    for lo, hi in sorted(span.busy):
        lo, hi = max(lo, cur_end), min(hi, span.end)
        if hi > lo:
            total += hi - lo
            cur_end = hi
    return total
