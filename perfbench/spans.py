"""In-memory span recorder for the traced run.

A span is a name, a layer, a start and end (epoch seconds), the span that
caused it and the trace it belongs to (one trace per item).  Spans are
only kept in memory and written out when the run ends.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass

from .probes import union_seconds


@dataclass
class Span:
    id: int
    parent: int | None
    trace: str
    layer: str
    name: str
    start: float
    end: float


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, layer: str, name: str, start: float, end: float,
            parent: int | None, trace: str) -> int:
        self.spans.append(Span(len(self.spans), parent, trace, layer, name, start, end))
        return len(self.spans) - 1

    def self_seconds(self) -> dict[str, float]:
        """Self time per layer: each span's duration minus the part of its
        interval that its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append((s.start, s.end))
        out: dict[str, float] = {}
        for s in self.spans:
            covered = union_seconds([(max(a, s.start), min(b, s.end))
                                     for a, b in kids.get(s.id, []) if b > s.start and a < s.end])
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump([asdict(s) for s in self.spans], fh)
