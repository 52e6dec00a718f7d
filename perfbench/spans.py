"""In-memory span recorder for the traced run.

A span is (name, start, end, parent, run id).  Spans nest through a
stack, so a timer opened inside another records it as parent.  Nothing
is written while the workload runs; :meth:`SpanRecorder.dump` writes
every span, with its self time, at the end.

Self time is a span's duration minus the part of it its children
cover (overlapping children are merged first, so no time is subtracted
twice).
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    run_id: str

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id → duration minus the union of its children's intervals,
    each child clipped to the parent's interval."""
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent is not None and s.end is not None:
            p = by_id[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end or s.end)
            if hi > lo:
                children.setdefault(s.parent, []).append((lo, hi))
    return {s.id: s.duration - covered(children.get(s.id, [])) for s in spans}


class SpanRecorder:
    def __init__(self, run_id: str, clock=time.perf_counter) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._clock = clock

    @contextmanager
    def span(self, name: str):
        s = Span(
            len(self.spans),
            name,
            self._clock(),
            None,
            self._stack[-1] if self._stack else None,
            self.run_id,
        )
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = self._clock()
            self._stack.pop()

    def wrap(self, fn, name: str):
        """``fn`` timed as a span named ``name`` on every call."""

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return timed

    def durations(self, name: str) -> list[float]:
        return [s.duration for s in self.spans if s.name == name and s.end is not None]

    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w", encoding="utf-8") as f:
            json.dump(
                [dict(asdict(s), self_s=st[s.id]) for s in self.spans], f, indent=1
            )


class NullRecorder(SpanRecorder):
    """The untraced run's recorder: same interface, records nothing."""

    def __init__(self) -> None:
        super().__init__("untraced")

    @contextmanager
    def span(self, name: str):
        yield None

    def wrap(self, fn, name: str):
        return fn
