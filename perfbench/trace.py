"""In-memory span recorder for the traced run.

A span has a name, start, end, parent and page identifier; a child
inherits its parent's page. Spans stay in memory and are written once,
at the end of the run. A span's self time is its duration minus the
part of its interval covered by its children.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    page: str | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, page: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if page is None and parent is not None:
            page = parent.page
        s = Span(len(self.spans), name, time.perf_counter(), 0.0,
                 parent.id if parent else None, page)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals
    (clipped to the span)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out: dict[int, float] = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children[s.id], key=lambda c: c.start):
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
        out[s.id] = (s.end - s.start) - covered
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, tuple[float, int]]:
    """Span name -> (total self time in seconds, span count)."""
    st = self_times(spans)
    acc: dict[str, list] = defaultdict(lambda: [0.0, 0])
    for s in spans:
        acc[s.name][0] += st[s.id]
        acc[s.name][1] += 1
    return {k: (v[0], v[1]) for k, v in acc.items()}
