"""Spans and Spark job counts, recorded from the benchmark's side.

The tracer wraps public functions of the program where their callers
look them up (a module global, a class attribute), so the program runs
unmodified. Each call made while tracing is on records one span: name,
start, end, parent span, request id, and the number of Spark jobs
submitted between start and end. Spans stay in memory; the run writes
them out once, at the end.

Jobs are counted from the DAG scheduler's job-id counter. Job ids are
sequential per SparkContext and every job gets one, whatever job group
or description the program sets, so the count cannot be zeroed by a
later ``setJobGroup`` inside the program.
"""

from __future__ import annotations

import functools
import time
from dataclasses import dataclass, field


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


class JobCounter:
    """Number of Spark jobs submitted so far in this SparkContext."""

    def __init__(self, spark):
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()  # noqa: SLF001

    def __call__(self) -> int:
        return int(self._dag.numTotalJobs())


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    request: str
    jobs0: int
    end: float = 0.0
    jobs: int = 0
    tag: str = ""
    child_s: float = 0.0
    child_jobs: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s

    @property
    def self_jobs(self) -> int:
        return self.jobs - self.child_jobs


@dataclass
class Tracer:
    jobs: JobCounter
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _undo: list = field(default_factory=list)
    request: str = ""

    def begin(self, name: str, tag: str = "") -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), parent, self.request, self.jobs(), tag=tag))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, idx: int) -> Span:
        span = self.spans[idx]
        span.jobs = self.jobs() - span.jobs0
        span.end = time.perf_counter()
        self._stack.pop()
        if span.parent is not None:
            parent = self.spans[span.parent]
            parent.child_s += span.dur
            parent.child_jobs += span.jobs
        return span

    def call(self, name: str, fn, *args, tag: str = "", **kwargs):
        """Run ``fn`` inside a span when tracing is on."""
        if not self.enabled:
            return fn(*args, **kwargs)
        idx = self.begin(name, tag)
        try:
            return fn(*args, **kwargs)
        finally:
            self.end(idx)

    def wrap(self, owner, attr: str, name: str, tag_of=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper (undone by
        ``unwrap_all``). ``tag_of(*args)`` may label the span."""
        original = vars(owner)[attr]
        target = getattr(owner, attr)
        tracer = self

        @functools.wraps(target)
        def wrapper(*args, **kwargs):
            tag = tag_of(*args) if (tag_of and tracer.enabled) else ""
            return tracer.call(name, target, *args, tag=tag, **kwargs)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, original))

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._undo):
            setattr(owner, attr, original)
        self._undo.clear()

    def roots(self, name: str | None = None) -> list[int]:
        return [i for i, s in enumerate(self.spans)
                if s.parent is None and (name is None or s.name == name)]

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "request": s.request, "jobs": s.jobs, "self_s": s.self_s,
             "self_jobs": s.self_jobs, "tag": s.tag}
            for s in self.spans
        ]

    def self_sums(self, roots: list[int]) -> dict[str, float]:
        """Self seconds per span name over the trees under ``roots``."""
        inside = _descendants(self.spans, roots)
        out: dict[str, float] = {}
        for i in inside:
            s = self.spans[i]
            out[s.name] = out.get(s.name, 0.0) + s.self_s
        return out

    def select(self, roots: list[int], name: str) -> list[Span]:
        return [self.spans[i] for i in _descendants(self.spans, roots) if self.spans[i].name == name]


def _descendants(spans: list[Span], roots: list[int]) -> list[int]:
    keep = set(roots)
    out = list(roots)
    for i, s in enumerate(spans):  # parents always precede children
        if s.parent in keep and i not in keep:
            keep.add(i)
            out.append(i)
    return out


def self_time_gap(spans: list[Span], root: int) -> float:
    """|sum of self times in the tree under ``root`` - root duration|."""
    total = sum(spans[i].self_s for i in _descendants(spans, [root]))
    return abs(total - spans[root].dur)
