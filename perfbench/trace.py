"""Span recording, self-time accounting and Spark status-store metrics for
the benchmark's traced runs.

Spans are recorded from the benchmark's side: `Tracer.wrap` replaces an
engine function or method with a timing wrapper at run time, and
`Tracer.span` times a block in the benchmark itself. Spans stay in memory.
Spark's own per-operator metrics are read only after the timed window:
each SQL execution is attributed to the deepest span that contains its
submission time, so the timed window pays no status-store calls.
"""

from __future__ import annotations

import functools
import math
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values) -> float:
    return percentile(values, 50)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    depth: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
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


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.dur - covered(kids.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


class Tracer:
    """In-memory span recorder. Not thread-safe: spans are opened and
    closed on the driver thread only."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.bookkeeping_s = 0.0  # time spent in the recorder itself
        # wrappers record only inside a root span opened by the benchmark,
        # so untimed work (checks, set-up) leaves no spans
        self.recording = False

    def _open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            Span(name, time.time(), parent=parent, depth=len(self._stack))
        )
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def _close(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        self._stack.pop()

    @contextmanager
    def span(self, name: str, root: bool = False):
        t = time.perf_counter()
        was = self.recording
        self.recording = was or root
        idx = self._open(name)
        self.bookkeeping_s += time.perf_counter() - t
        try:
            yield self.spans[idx]
        finally:
            t = time.perf_counter()
            self._close(idx)
            self.recording = was
            self.bookkeeping_s += time.perf_counter() - t

    def wrap(self, owner, attr: str, name: str, on_return=None) -> None:
        """Replace owner.attr with a span-recording wrapper until restore().
        on_return(span, result) may copy facts from the result into the
        span's attrs; a call that raises gets attrs["raised"]."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.recording:
                return orig(*args, **kwargs)
            with tracer.span(name) as sp:
                try:
                    out = orig(*args, **kwargs)
                except BaseException:
                    sp.attrs["raised"] = True
                    raise
                if on_return is not None:
                    on_return(sp, out)
                return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]

    def descendants(self, idx: int) -> set[int]:
        out, todo = set(), [idx]
        while todo:
            cur = todo.pop()
            for k in self.children(cur):
                out.add(k)
                todo.append(k)
        return out

    def named(self, name: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.name == name]


# --------------------------------------------------------------------------
# Spark status store
# --------------------------------------------------------------------------

_NUM = re.compile(r"^\s*(-?[\d.,]+)\s*([A-Za-z]*)")
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def parse_metric(text: str) -> float:
    """A formatted SQL metric ('924 ms', '2.1 MiB', '16,298', or the
    'total (min, med, max ...)' form with the total on its second line) as
    seconds, bytes or a count."""
    line = text.split("\n")[1] if "\n" in text else text
    m = _NUM.match(line)
    if not m:
        return 0.0
    val = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _TIME:
        return val * _TIME[unit]
    if unit in _SIZE:
        return val * _SIZE[unit]
    return val


@dataclass
class Execution:
    exec_id: int
    submitted: float  # epoch seconds
    jobs: list[int]
    node_metrics: dict[tuple[str, str], float]  # (node name, metric) -> sum
    node_values: dict[tuple[str, str], list[float]]  # per plan node
    tasks: int = 0
    failed_tasks: int = 0
    span: int | None = None

    def metric(self, name: str, node_prefix: str = "") -> float:
        """Sum of metric `name` over plan nodes whose name starts with
        `node_prefix`."""
        return sum(
            v
            for (n, m), v in self.node_metrics.items()
            if n.startswith(node_prefix) and m == name
        )


def _seq(jseq) -> list:
    it = jseq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def read_executions(spark, since: float) -> list[Execution]:
    """Every SQL execution submitted at or after `since` (epoch seconds),
    with per-node metric sums and task counts of its jobs."""
    store = spark._jsparkSession.sharedState().statusStore()
    tracker = spark.sparkContext.statusTracker()
    out = []
    for e in _seq(store.executionsList()):
        sub = e.submissionTime() / 1000.0
        if sub < since:
            continue
        ex_id = e.executionId()
        values = store.executionMetrics(ex_id)
        sums: dict[tuple[str, str], float] = {}
        per_node: dict[tuple[str, str], list[float]] = {}
        for node in _seq(store.planGraph(ex_id).allNodes()):
            for m in _seq(node.metrics()):
                v = values.get(m.accumulatorId())
                if not v.isDefined():
                    continue
                key = (node.name(), m.name())
                x = parse_metric(v.get())
                sums[key] = sums.get(key, 0.0) + x
                per_node.setdefault(key, []).append(x)
        jobs = [int(j) for j in _seq(e.jobs().keys())]
        tasks = failed = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for st in info.stageIds:
                si = tracker.getStageInfo(st)
                if si is not None:
                    tasks += si.numTasks
                    failed += si.numFailedTasks
        out.append(Execution(ex_id, sub, jobs, sums, per_node, tasks, failed))
    return out


def attribute(executions: list[Execution], spans: list[Span], slack: float = 0.002) -> None:
    """Set each execution's span to the deepest span containing its
    submission time (latest start wins a tie)."""
    for ex in executions:
        best = None
        for i, s in enumerate(spans):
            if s.start - slack <= ex.submitted <= s.end + slack:
                if best is None or (s.depth, s.start) > (
                    spans[best].depth,
                    spans[best].start,
                ):
                    best = i
        ex.span = best
