"""In-memory spans recorded around calls into the engine's layers.

A span has a name, a start, an end and the span open when it began (its
parent). The first dotted part of a name is its layer. A span's self time is
its duration minus the time its child spans cover.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for a root


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, self._parent()))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def record(self, name: str, start: float, end: float) -> None:
        """A span timed by the caller, child of the open span."""
        self.spans.append(Span(name, start, end, self._parent()))

    def _parent(self) -> int:
        return self._stack[-1] if self._stack else -1

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self) -> dict[str, float]:
        """Self time summed per layer."""
        child_s = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent >= 0:
                child_s[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child_s):
            layer = s.name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s.end - s.start) - c
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent}
                    for s in self.spans
                ],
                f,
            )


@contextmanager
def patched(tracer: Tracer, targets: list[tuple[object, str, str]]):
    """Temporarily replace ``getattr(obj, attr)`` by a traced wrapper named
    ``name`` for each ``(obj, attr, name)``; restore on exit."""
    saved = []
    try:
        for obj, attr, name in targets:
            fn = getattr(obj, attr)
            saved.append((obj, attr, fn))
            setattr(obj, attr, tracer.wrap(name, fn))
        yield
    finally:
        for obj, attr, fn in reversed(saved):
            setattr(obj, attr, fn)
