"""In-memory spans recorded around calls into the program's layers.

A span is (name, start, end, parent, pass). Spans are kept in memory
and written out once the run ends. A span's self time is its duration
minus the part of its interval that its child spans cover.

Spans are recorded from the benchmark's side only: ``patched`` swaps a
public function of a module for a wrapper that opens a span around the
call, and puts the original back on exit. The program's files are not
changed.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from sparkstat import union_length


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    pass_no: int


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.pass_no = 0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), 0.0, parent, self.pass_no)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> list[float]:
        """Self time of every span, in the order of ``self.spans``."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append((sp.start, sp.end))
        out = []
        for i, sp in enumerate(self.spans):
            inside = [(max(a, sp.start), min(b, sp.end)) for a, b in kids.get(i, ())]
            out.append((sp.end - sp.start) - union_length(inside))
        return out

    def self_by_name(self, pass_no: int | None = None) -> dict[str, float]:
        """Self time summed per span name (optionally for one pass)."""
        out: dict[str, float] = {}
        for sp, st in zip(self.spans, self.self_times()):
            if pass_no is None or sp.pass_no == pass_no:
                out[sp.name] = out.get(sp.name, 0.0) + st
        return out

    def total(self, name: str, pass_no: int | None = None) -> float:
        return sum(sp.end - sp.start for sp in self.spans
                   if sp.name == name and (pass_no is None or sp.pass_no == pass_no))

    def to_json(self) -> list[dict]:
        return [dict(asdict(sp), self_s=st) for sp, st in zip(self.spans, self.self_times())]


@contextmanager
def patched(tracer: Tracer, targets):
    """Wrap each ``(module, attr, span_name, on_return)`` target in a
    span. ``on_return`` (or None) receives each call's result."""
    saved = []

    def wrap(orig, name, hook):
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if hook is not None:
                hook(out)
            return out
        return wrapper

    try:
        for module, attr, name, hook in targets:
            orig = getattr(module, attr)
            setattr(module, attr, wrap(orig, name, hook))
            saved.append((module, attr, orig))
        yield
    finally:
        for module, attr, orig in reversed(saved):
            setattr(module, attr, orig)
