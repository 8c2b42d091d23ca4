"""In-memory spans recorded at layer boundaries, written out once at
the end of a traced run.

A span is (name, id, parent, trace, start, end, attrs). Spans of one
route batch, fold trigger or pump cycle share a ``trace`` id. Parents
come from the recording thread's open spans unless the caller names
one (the listener and the stream threads report work that the main
thread's span caused).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    id: int
    parent: int | None
    trace: str | None
    start: float
    end: float
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class SpanHandle:
    id: int | None
    attrs: dict


class Tracer:
    """Span recorder. A disabled tracer records nothing and costs one
    attribute test per call site."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[tuple[int, str | None]]:
        """This thread's open spans, as (id, trace) pairs."""
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(
        self,
        name: str,
        start: float,
        end: float,
        parent: int | None = None,
        trace: str | None = None,
        **attrs,
    ) -> int | None:
        """Record a finished span (times are epoch seconds)."""
        if not self.enabled:
            return None
        with self._lock:
            sid = next(self._ids)
            self.spans.append(Span(name, sid, parent, trace, start, end, attrs))
        return sid

    @contextlib.contextmanager
    def span(self, name: str, trace: str | None = None, parent=None, **attrs):
        """Time the block as a child of this thread's open span (or of
        ``parent``), in its trace unless ``trace`` names one. Yields the
        span's handle: its ``id`` (None when disabled) and ``attrs``,
        which the block may fill in."""
        handle = SpanHandle(None, attrs)
        if not self.enabled:
            yield handle
            return
        with self._lock:
            handle.id = next(self._ids)
        stack = self._stack()
        if stack:
            parent = stack[-1][0] if parent is None else parent
            trace = stack[-1][1] if trace is None else trace
        stack.append((handle.id, trace))
        start = time.time()
        try:
            yield handle
        finally:
            stack.pop()
            span = Span(name, handle.id, parent, trace, start, time.time(), attrs)
            with self._lock:
                self.spans.append(span)

    def wrap(self, obj, method: str, name: str, on_return=None, trace=None):
        """Replace ``obj.method`` on this instance only with a timed
        version that records a span per call. ``on_return(span_attrs,
        result, seconds)`` sees each call's outcome and may add
        attributes; ``trace(args, kwargs)`` may name the call's trace."""
        inner = getattr(obj, method)

        @functools.wraps(inner)
        def timed(*args, **kwargs):
            tid = trace(args, kwargs) if trace else None
            with self.span(name, trace=tid) as handle:
                t0 = time.perf_counter()
                result = inner(*args, **kwargs)
                if on_return is not None:
                    on_return(handle.attrs, result, time.perf_counter() - t0)
                return result

        setattr(obj, method, timed)

    def write(self, path: str, summary: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [asdict(s) for s in self.spans],
                    "self_s": self_times(self.spans),
                    "summary": summary or {},
                },
                f,
                indent=1,
            )


def union_length(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: summed self time — each span's duration minus
    the part of its interval that its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = union_length(
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, ())
            if min(c.end, s.end) > max(c.start, s.start)
        )
        out[s.name] = out.get(s.name, 0.0) + max(s.duration - covered, 0.0)
    return out
