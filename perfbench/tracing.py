"""In-memory spans around the program's public calls, added from outside.

A ``Tracer`` replaces module attributes and methods with wrappers that
open a span per call, and puts the originals back on ``restore``. Spans
are kept in a list (name, start, end, parent, pass id, attributes) and
written out once, when the benchmark ends. Nothing in the program under
test knows it is being traced.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Callable


@dataclass
class Span:
    sid: int
    name: str
    start: float  # epoch seconds, the clock Spark stamps its executions with
    end: float
    parent: int | None
    pass_id: str | None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, clock: Callable[[], float] = time.time):
        self.clock = clock
        self.spans: list[Span] = []
        self.pass_id: str | None = None
        self._stack: list[Span] = []
        # (owner, attribute, original or None when it was inherited)
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        s = Span(len(self.spans), name, self.clock(), 0.0,
                 self._stack[-1].sid if self._stack else None, self.pass_id, attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = self.clock()

    def wrap(self, owner, attr: str, name: str,
             attrs: Callable[..., dict] | None = None,
             on_result: Callable[[Span, object], None] | None = None) -> None:
        """Trace every call of ``owner.attr`` as a span called ``name``.
        ``attrs`` maps the call's arguments to span attributes;
        ``on_result`` may copy counts from the result into the span."""
        own = attr in vars(owner)
        orig = vars(owner)[attr] if own else getattr(owner, attr)
        if isinstance(orig, (staticmethod, classmethod)):
            raise TypeError(f"cannot trace descriptor {attr}")
        fn = orig

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            extra = attrs(*args, **kwargs) if attrs is not None else {}
            with self.span(name, **extra) as s:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(s, out)
                return out

        self._patched.append((owner, attr, orig if own else None))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        inside = [(max(lo, s.start), min(hi, s.end)) for lo, hi in kids.get(s.sid, [])]
        out[s.sid] = s.dur - covered([iv for iv in inside if iv[1] > iv[0]])
    return out


def innermost(spans: list[Span], t: float) -> Span | None:
    """The deepest span whose interval holds time ``t``."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best
