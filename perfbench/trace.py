"""In-memory span recorder for the traced run.

Spans are recorded around calls into the package's public functions by
wrapping them from the benchmark (the package itself is not instrumented).
Each span keeps its name, start, end, parent span and the run id; counts are
kept beside the spans.  Everything stays in memory until ``write`` at the end
of the run.
"""

from __future__ import annotations

import functools
import json
import time
from collections import Counter
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- recording ------------------------------------------------------------

    def span(self, name: str):
        return _SpanCtx(self, name)

    def wrap(self, owner, attr: str, name: str, count_only: bool = False) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span (or only
        a call count) per call.  ``unwrap_all`` restores the original."""
        original = owner.__dict__[attr]
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            tracer.counts[name + "_calls"] += 1
            if count_only:
                return original(*args, **kwargs)
            with tracer.span(name):
                return original(*args, **kwargs)

        self.patch(owner, attr, wrapper)

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` to ``replacement`` until ``unwrap_all``."""
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, replacement)

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # -- summaries --------------------------------------------------------------

    def total_s(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        t = self.tracer
        self.id = len(t.spans)
        self.parent = t._stack[-1] if t._stack else None
        self.start = time.monotonic()
        # reserve the slot so span ids follow start order
        t.spans.append(None)
        t._stack.append(self.id)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        t._stack.pop()
        t.spans[self.id] = Span(
            self.id, self.name, self.start, time.monotonic(), self.parent, t.run_id
        )
        return False
