"""Span tracer for the traced run.

Wraps public functions of the engine from outside: each wrapped call
records a span (name, start, end, parent, cycle). Names are patched
where their callers bound them, so a function imported by value into
another module is patched in both places.

Each thread keeps its own span stack. A span opened on a thread with an
empty stack (a pipeline job on the runner's thread pool, a
``foreachBatch`` callback on a py4j thread) takes as parent the
innermost *ambient* span: the pipeline run or stream drain in flight.
Spans stay in memory until ``dump``.

With ``enabled`` False every wrapper calls straight through, so the
untraced cycles of a traced run pay one attribute read per call.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    cycle: int
    attrs: dict | None = None

    def as_dict(self) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "start": self.start,
            "end": self.end,
            "parent": self.parent,
            "cycle": self.cycle,
            **({"attrs": self.attrs} if self.attrs else {}),
        }


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its children cover
    (children may overlap one another, e.g. jobs on a thread pool)."""
    return (span.end - span.start) - union_length(
        [(c.start, c.end) for c in children], span.start, span.end
    )


class Tracer:
    def __init__(self):
        self.enabled = False
        self.cycle = -1
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ambient: list[int] = []

    # -- spans --------------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, ambient: bool = False) -> tuple[int, int | None, float]:
        st = self._stack()
        parent = st[-1] if st else (self._ambient[-1] if self._ambient else None)
        sid = next(self._ids)
        st.append(sid)
        if ambient:
            with self._lock:
                self._ambient.append(sid)
        return sid, parent, time.perf_counter()

    def close(self, token, name: str, ambient: bool = False, attrs: dict | None = None) -> Span:
        sid, parent, start = token
        end = time.perf_counter()
        st = self._stack()
        if st and st[-1] == sid:
            st.pop()
        if ambient:
            with self._lock:
                if sid in self._ambient:
                    self._ambient.remove(sid)
        span = Span(sid, name, start, end, parent, self.cycle, attrs)
        with self._lock:
            self.spans.append(span)
        return span

    def in_span(self, name: str) -> bool:
        """True when the current thread is already inside ``name``
        (used to record only the outermost of re-entrant calls)."""
        names = getattr(self._local, "names", None)
        return bool(names and names.get(name))

    def _enter_name(self, name: str) -> None:
        names = getattr(self._local, "names", None)
        if names is None:
            names = self._local.names = {}
        names[name] = names.get(name, 0) + 1

    def _exit_name(self, name: str) -> None:
        self._local.names[name] -= 1

    # -- patching -----------------------------------------------------------

    def wrap(
        self,
        owner,
        attr: str,
        name=None,
        outer_only: bool = True,
        ambient: bool = False,
        before=None,
        on_result=None,
    ) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper. ``name``
        may be a callable ``(args) -> str`` (e.g. per worker class).
        ``before(args, kwargs)`` returns a state handed to
        ``on_result(span_attrs, args, kwargs, result, state)``, which may
        add attributes after the call returns."""
        orig = getattr(owner, attr)
        tracer = self
        static_name = name if isinstance(name, str) else None

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            span_name = static_name or name(args)
            if outer_only and tracer.in_span(span_name):
                return orig(*args, **kwargs)
            tracer._enter_name(span_name)
            token = tracer.open(ambient)
            attrs: dict = {}
            state = before(args, kwargs) if before is not None else None
            try:
                result = orig(*args, **kwargs)
            except BaseException:
                attrs["error"] = True
                tracer._exit_name(span_name)
                tracer.close(token, span_name, ambient, attrs)
                raise
            if on_result is not None:
                on_result(attrs, args, kwargs, result, state)
            tracer._exit_name(span_name)
            tracer.close(token, span_name, ambient, attrs or None)
            return result

        setattr(owner, attr, wrapper)

    # -- output -------------------------------------------------------------

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.as_dict()) + "\n")


def children_index(spans: list[Span]) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            out.setdefault(s.parent, []).append(s)
    return out
