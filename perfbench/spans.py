"""In-memory span recorder for the traced run.

Spans are recorded from the benchmark's side of each layer boundary: a
:class:`Tracer` replaces a public function or method of the engine (or
of PySpark) with a wrapper that times the call, and puts the original
back on :meth:`Tracer.restore`. The engine's code is never edited.

A span is ``(id, name, start, end, parent_id, trace_id)``; the parent is
the innermost open span of the same thread, and the trace id is
inherited from the root span (a micro-batch id or a query name).
"""

from __future__ import annotations

import functools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from stats import self_time


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, trace=None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if trace is None and parent is not None:
            trace = parent[1]
        with self._lock:
            sid = len(self.spans)
            self.spans.append(None)  # reserve the id; filled in on close
        stack.append((sid, trace))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans[sid] = (sid, name, start, end, parent[0] if parent else None, trace)

    def in_span(self) -> bool:
        return bool(self._stack())

    def wrap(self, owner, attr: str, name: str, nested_only: bool = False) -> None:
        """Time every call of ``owner.attr`` as span ``name``. With
        ``nested_only`` a call is timed only inside another span, so
        a generic call (``DataFrameWriter.save``) is attributed only
        where a layer under trace made it."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if nested_only and not self.in_span():
                return orig(*args, **kwargs)
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, orig))

    def wrap_factory(self, owner, attr: str, name: str, trace_arg: int) -> None:
        """``owner.attr`` returns a callable (a ``foreachBatch`` writer);
        time each call of the returned callable as a root span whose
        trace id is its positional argument ``trace_arg``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def factory(*args, **kwargs):
            inner = orig(*args, **kwargs)

            def traced(*a):
                with self.span(name, trace=a[trace_arg]):
                    return inner(*a)

            return traced

        setattr(owner, attr, factory)
        self._restore.append((owner, attr, orig))

    def restore(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    # -- analysis --------------------------------------------------------
    def closed(self) -> list[tuple]:
        return [s for s in self.spans if s is not None]

    def roots(self, name: str) -> list[tuple]:
        return [s for s in self.closed() if s[1] == name and s[4] is None]

    def descendants(self) -> dict[int, list[tuple]]:
        """Span id -> every span below it (any depth)."""
        spans = {s[0]: s for s in self.closed()}
        out: dict[int, list[tuple]] = defaultdict(list)
        for s in spans.values():
            p = s[4]
            while p is not None and p in spans:
                out[p].append(s)
                p = spans[p][4]
        return out

    def children(self) -> dict[int, list[tuple]]:
        out: dict[int, list[tuple]] = defaultdict(list)
        for s in self.closed():
            if s[4] is not None:
                out[s[4]].append(s)
        return out

    def self_ms(self, span: tuple, children: dict[int, list[tuple]]) -> float:
        kids = [(c[2], c[3]) for c in children.get(span[0], [])]
        return self_time(span[2], span[3], kids) * 1000.0
