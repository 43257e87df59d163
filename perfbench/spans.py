"""In-memory span recorder for the traced benchmark run.

A span is opened around one call into a layer's public function.  Each
span sets its own Spark job description (``pb:<id>:<name>``), so the
jobs and stages in the event log map back to the span that caused them
(see ``eventlog.py``).  Spans stay in memory; ``run.py`` reduces them to
per-layer metrics when the run ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass

DESC_PREFIX = "pb:"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int  # index of the traced op the span belongs to
    start: float
    end: float = float("nan")

    @property
    def duration(self) -> float:
        return self.end - self.start


def description(span: Span) -> str:
    return f"{DESC_PREFIX}{span.id}:{span.name}"


def span_id_of(desc: str | None) -> int | None:
    """Span id encoded in a job description, or None for foreign jobs."""
    if not desc or not desc.startswith(DESC_PREFIX):
        return None
    try:
        return int(desc[len(DESC_PREFIX) :].split(":", 1)[0])
    except ValueError:
        return None


class Tracer:
    """Records nested spans; ``sc`` (a SparkContext) is optional so the
    arithmetic can be tested without Spark."""

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op = 0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            parent=parent.id if parent else None,
            op=self.op,
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._describe(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._describe(parent)

    def _describe(self, s: Span | None) -> None:
        if self.sc is not None:
            self.sc.setJobDescription(description(s) if s else None)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval that its child spans cover (overlapping children are
    counted once; child time outside the parent is ignored)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.duration - covered
    return out
