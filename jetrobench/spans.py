"""In-memory spans around the engine's public entry points.

``Tracer.wrap(module, attr, layer)`` replaces ``module.attr`` by a wrapper
that records a span named ``layer`` while the tracer is on, and calls
straight through while it is off, so traced and untraced passes can
alternate inside one run. Spans are kept in a list and handed out when
the run ends; a layer's number is its self time: a span's duration minus
the part of it that its child spans cover.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into the tracer's span list
    op: int | None


class Tracer:
    def __init__(self) -> None:
        self.on = False
        self.spans: list[Span] = []
        self.counts: dict[str, int] = defaultdict(int)
        self._stack: list[int] = []
        self._op: int | None = None

    # ------------------------------------------------------------ recording
    def begin(self, name: str, op: int | None = None) -> int:
        if op is not None:
            self._op = op
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self._op))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        popped = self._stack.pop()
        if popped != idx:
            raise RuntimeError(f"span {self.spans[idx].name} closed out of order")

    def span(self, name: str, op: int | None = None):
        return _SpanCtx(self, name, op)

    def count(self, name: str, n: int = 1) -> None:
        if self.on:
            self.counts[name] += n

    # ------------------------------------------------------------- wrapping
    def wrap(self, module: object, attr: str, layer: str) -> None:
        fn = getattr(module, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.on:
                return fn(*args, **kwargs)
            idx = tracer.begin(layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(idx)

        setattr(module, attr, wrapper)

    def wrap_action(self, cls: type, attr: str, jdf_of) -> None:
        """Wrap a Spark action: force Catalyst planning of the DataFrame
        (``jdf_of(obj)``) in a 'spark.plan' span, then run the action in a
        'spark.exec' span. An action called from inside another runs in
        the outer one's span."""
        fn = getattr(cls, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(obj, *args, **kwargs):
            if not tracer.on or tracer.inside("spark.exec"):
                return fn(obj, *args, **kwargs)
            with tracer.span("spark.plan"):
                jdf_of(obj).queryExecution().executedPlan()
            with tracer.span("spark.exec"):
                return fn(obj, *args, **kwargs)

        setattr(cls, attr, wrapper)

    def inside(self, name: str) -> bool:
        return any(self.spans[i].name == name for i in self._stack)

    def count_calls(self, module: object, attr: str, counter: str) -> None:
        fn = getattr(module, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            tracer.count(counter)
            return fn(*args, **kwargs)

        setattr(module, attr, wrapper)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, op: int | None) -> None:
        self.tracer, self.name, self.op = tracer, name, op
        self.idx: int | None = None

    def __enter__(self):
        if self.tracer.on:
            self.idx = self.tracer.begin(self.name, self.op)
        return self

    def __exit__(self, *exc):
        if self.idx is not None:
            self.tracer.end(self.idx)
        return False


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return [
        (s.end - s.start) - covered(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


def self_time_by_op(spans: list[Span]) -> dict[int, dict[str, float]]:
    """{op id: {span name: summed self time}}."""
    out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s, t in zip(spans, self_times(spans)):
        if s.op is not None:
            out[s.op][s.name] += t
    return out
