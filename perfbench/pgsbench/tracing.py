"""Spans recorded by the benchmark around calls into the package's
public functions.

A span is (name, start, end, parent, op). Spans live in memory and are
written out once, when the run ends. Times are epoch seconds, so they
line up with the task launch/finish times of Spark's event log.

``Tracer.patch`` swaps a module-level function for a recording wrapper
in every loaded ``parquet_go_spark`` module that holds it (modules bind
helpers with ``from .x import f``), and ``Tracer.restore`` puts the
originals back. The package itself carries no tracing code."""

from __future__ import annotations

import functools
import importlib
import json
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    counts: dict = field(default_factory=dict)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        s = Span(name, time.time(), 0.0, parent, self.op)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(s)
        stack.append(idx)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.time()

    def wrap(self, fn, name: str, count=None):
        """``fn`` recording a span per call; ``count(result, args,
        kwargs)`` may return counters stored on the span."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                result = fn(*args, **kwargs)
                if count is not None:
                    s.counts.update(count(result, args, kwargs))
                return result

        return traced

    def patch(self, module: str, attr: str, name: str, count=None) -> None:
        mod = importlib.import_module(module)
        orig = getattr(mod, attr)
        traced = self.wrap(orig, name, count)
        for mname, m in list(sys.modules.items()):
            if (mname == "parquet_go_spark" or mname.startswith("parquet_go_spark.")) and getattr(
                m, attr, None
            ) is orig:
                setattr(m, attr, traced)
                self._patched.append((m, attr, orig))

    def restore(self) -> None:
        for m, attr, orig in reversed(self._patched):
            setattr(m, attr, orig)
        self._patched.clear()

    def named(self, name: str, op: str | None = None) -> list[Span]:
        return [s for s in self.spans if s.name == name and (op is None or s.op == op)]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, **asdict(s)}) + "\n")


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of [start, end) intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]
