"""In-memory spans recorded around calls into the program's layers.

A span has a name, start, end, parent, and the CPU (JVM process tree),
GC and host-steal deltas over its interval, plus the rows its output
holds. Spans stay in memory and are written out once, when the run ends.
Self time is a span's duration minus the time its child spans cover.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench import probes


@dataclass
class Span:
    name: str
    parent: int | None
    start: probes.Reading
    end: probes.Reading | None = None
    rows_out: int | None = None
    children: list[int] = field(default_factory=list)

    def total(self) -> probes.Reading:
        return self.end - self.start


class Tracer:
    def __init__(self, jvm: probes.Jvm):
        self.jvm = jvm
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        idx = len(self.spans)
        self.spans.append(Span(name, parent, probes.read(self.jvm)))
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._open.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._open.pop()
            self.spans[idx].end = probes.read(self.jvm)

    def self_time(self, idx: int) -> probes.Reading:
        """The span's deltas minus those of its direct children (children
        run inside the parent's interval and never overlap each other)."""
        own = self.spans[idx].total()
        for c in self.spans[idx].children:
            own = own - self.spans[c].total()
        return own

    def by_name(self, name: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.name == name]

    def self_wall(self, name: str) -> float:
        return sum(self.self_time(i).wall for i in self.by_name(name))

    def self_cpu(self, name: str) -> float:
        return sum(self.self_time(i).cpu for i in self.by_name(name))

    def rows(self, name: str) -> int:
        return sum(self.spans[i].rows_out or 0 for i in self.by_name(name))

    def records(self) -> list[dict]:
        t0 = self.spans[0].start.wall if self.spans else 0.0
        out = []
        for i, s in enumerate(self.spans):
            d, own = s.total(), self.self_time(i)
            out.append(
                {
                    "id": i,
                    "name": s.name,
                    "parent": s.parent,
                    "start_s": round(s.start.wall - t0, 6),
                    "end_s": round(s.end.wall - t0, 6),
                    "self_wall_s": round(own.wall, 6),
                    "cpu_s": round(d.cpu, 3),
                    "gc_s": round(d.gc, 3),
                    "rows_out": s.rows_out,
                }
            )
        return out
