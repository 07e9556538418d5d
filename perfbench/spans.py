"""In-memory span tracer wrapped around the engine's public calls.

A span records name, start, end, the span that caused it and the id of
the workload unit (one step, one stream drain) it belongs to. The cause
is the innermost open span on the same thread; a span opened on another
thread with nothing open there (an async fold, an async lineage emit, a
streaming ``foreachBatch`` callback) is caused by the open root span.
Spans stay in memory and are written once, when the run ends. The engine
is not edited: ``Tracer.wrap`` replaces a module or class attribute with
a timing wrapper and ``restore`` puts the original back.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Any, Callable

from .stats import interval_union


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    unit: int | None
    counts: dict[str, float] = field(default_factory=dict)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.unit: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[Any, str, Any]] = []
        self._root: Span | None = None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        """Time the enclosed block as one span; yields the span (or None
        while tracing is off) so callers can attach counts."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            if stack:
                parent = stack[-1].sid
            else:
                parent = self._root.sid if self._root is not None else None
            s = Span(sid=next(self._ids), name=name,
                     start=time.perf_counter(), end=0.0, parent=parent,
                     unit=self.unit)
            if self._root is None:
                self._root = s
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                if self._root is s:
                    self._root = None
                self.spans.append(s)

    def wrap(self, owner: Any, attr: str, name: str,
             count: Callable[[Span, Any, tuple, dict], None] | None = None
             ) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span named
        ``name`` around each call; ``count(span, result, args, kwargs)``
        may attach counts after the call returns."""
        original = getattr(owner, attr)

        def wrapper(*args: Any, **kwargs: Any) -> Any:
            with self.span(name) as s:
                result = original(*args, **kwargs)
                if s is not None and count is not None:
                    count(s, result, args, kwargs)
                return result

        wrapper.__wrapped__ = original
        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, original))

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def self_intervals(span: Span, children: list[Span]
                   ) -> list[tuple[float, float]]:
    """The parts of a span's interval that none of its children cover."""
    out, cur = [], span.start
    for lo, hi in sorted((max(c.start, span.start), min(c.end, span.end))
                         for c in children):
        if lo > cur:
            out.append((cur, lo))
        cur = max(cur, hi)
    if cur < span.end:
        out.append((cur, span.end))
    return out


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it covered by its child spans."""
    return sum(hi - lo for lo, hi in self_intervals(span, children))


def layer_summary(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per span name: busy time (union of its spans' intervals, so two
    overlapping pipelined calls are not double-counted), self time (union
    of the parts of those intervals no child span covers, so self time
    never exceeds busy time), call count, and the sum of every count
    attached to its spans."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, dict[str, float]] = {}
    by_name: dict[str, list[Span]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    for name, group in by_name.items():
        row = {"busy_s": interval_union([(s.start, s.end) for s in group]),
               "self_s": interval_union(
                   [iv for s in group
                    for iv in self_intervals(s, children.get(s.sid, []))]),
               "calls": float(len(group))}
        for s in group:
            for k, v in s.counts.items():
                row[k] = row.get(k, 0.0) + v
        out[name] = row
    return out
