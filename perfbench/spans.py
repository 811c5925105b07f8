"""In-memory spans and counters, and the wrappers that record them.

A span is one call at a layer boundary: name, start, end, parent span
and request id. Spans stay in memory and are written out once, when
the traced process ends. A layer's self time is its span's duration
minus the part of that interval its child spans cover.

Spans are recorded from the benchmark's own wrappers around the
program's public functions (``wrap_function``/``wrap_method``); the
program itself is not changed.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from collections import Counter, defaultdict


class Tracer:
    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self.request = None  # id of the request being served
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def start(self, name: str) -> int:
        stack = self._stack()
        self.spans.append({"name": name, "start": self.clock(), "end": None,
                           "parent": stack[-1] if stack else None,
                           "request": self.request})
        stack.append(len(self.spans) - 1)
        return stack[-1]

    def end(self, idx: int) -> None:
        self.spans[idx]["end"] = self.clock()
        stack = self._stack()
        if stack and stack[-1] == idx:
            stack.pop()

    def count(self, name: str, n: int = 1) -> None:
        self.counts[(name, self.request)] += n


def self_times(spans: list[dict]) -> list[float]:
    """Self time of each span: its duration minus the union of the
    intervals its direct children cover (clipped to the span)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        if s["end"] is None:
            out.append(0.0)
            continue
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(i, ())):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append(s["end"] - s["start"] - covered)
    return out


def _traced(tracer: Tracer, name: str, fn, after=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        idx = tracer.start(name)
        try:
            result = fn(*args, **kwargs)
        finally:
            tracer.end(idx)
        if after is not None:
            after(result)
        return result

    return wrapper


def wrap_method(tracer: Tracer, cls, attr: str, name: str, after=None) -> None:
    setattr(cls, attr, _traced(tracer, name, getattr(cls, attr), after))


def wrap_function(tracer: Tracer, module, attr: str, name: str) -> None:
    """Replace ``module.attr`` and every ``from module import attr``
    binding in already imported ``mongo_olap_spark`` modules."""
    fn = getattr(module, attr)
    wrapped = _traced(tracer, name, fn)
    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "").startswith("mongo_olap_spark")
                and getattr(mod, attr, None) is fn):
            setattr(mod, attr, wrapped)
    setattr(module, attr, wrapped)


def count_calls(tracer: Tracer, cls, attr: str, name: str) -> None:
    fn = getattr(cls, attr)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        tracer.count(name)
        return fn(*args, **kwargs)

    setattr(cls, attr, wrapper)
