"""In-memory spans recorded around calls into the program's layers.

A span is (name, start, end, parent, run id). Spans stay in a list and are
written as JSON when the benchmark ends. ``Tracer.patch`` swaps a module
attribute for a timing wrapper — used only on traced passes — and
``restore`` puts every original back, so untraced passes run the program
untouched. A call made from a pool thread, whose own span stack is
empty, attaches to the innermost span open in the thread that opened the
root span (``DbCopier.run`` submits its table writes from a pool).
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._root_stack: list[int] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str):
        return _SpanCtx(self, name)

    def root(self, name: str):
        """Open a span that pool-thread spans fall back to as parent."""
        self._root_stack = self._stack()
        return _SpanCtx(self, name)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return wrapper

    def patch(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)
        self._patched.append((owner, attr, original))
        setattr(owner, attr, self.wrap(name, original))

    def restore(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def named(self, name: str, within: Span | None = None) -> list[Span]:
        return [s for s in self.spans if s.name == name
                and (within is None or _inside(s, within))]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = [(max(c.start, span.start), min(c.end, span.end))
                for c in self.spans if c.parent == span.id]
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in sorted(kids):
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.dur - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) | {"self": self.self_time(s)}
                       for s in self.spans], f)


def _inside(s: Span, outer: Span) -> bool:
    return s.start >= outer.start and s.end <= outer.end


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self) -> Span:
        t = self.tracer
        stack = t._stack()
        outer = stack or t._root_stack
        parent = outer[-1] if outer else None
        self.span = Span(next(t._ids), self.name, time.time(), 0.0, parent, t.run_id)
        stack.append(self.span.id)
        return self.span

    def __exit__(self, *_exc) -> None:
        self.span.end = time.time()
        self.tracer._stack().pop()
        with self.tracer._lock:
            self.tracer.spans.append(self.span)
