"""In-memory spans, written as JSON when the run ends.

A span is (id, name, start, end, parent, attrs), times in seconds from
``time.perf_counter``. Spans are recorded around the benchmark's calls into
the program's layers; nothing inside the program is instrumented. A
disabled tracer records nothing, so the untraced run pays for none of it.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int | None:
        if not self.enabled:
            return None
        span = Span(len(self.spans), name, start, end, parent, attrs)
        self.spans.append(span)
        return span.id

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Record the enclosed block; yields the span id for child spans."""
        if not self.enabled:
            yield None
            return
        span = Span(len(self.spans), name, time.perf_counter(), 0.0, parent, attrs)
        self.spans.append(span)
        try:
            yield span.id
        finally:
            span.end = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
