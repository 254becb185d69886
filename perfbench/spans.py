"""In-memory spans and counters recorded around calls into the engine.

A span is (id, name, layer, start, end, parent, op). Spans live in a
list until the run ends and are then written out as JSON lines and
reduced to self time per layer: a span's duration minus the part of
its interval covered by its child spans. Counters are plain sums kept
next to the spans so ratios are formed where the work happens.

With ``enabled=False`` no span is recorded; counters always count,
because the layer-bypass checks read them on every run.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- context: the current op id and span stack are per thread
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @property
    def op(self):
        return getattr(self._local, "op", None)

    @contextmanager
    def in_op(self, op_id):
        prev = self.op
        self._local.op = op_id
        try:
            yield
        finally:
            self._local.op = prev

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counters[name] += n

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        st = self._stack()
        parent = st[-1] if st else None
        st.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            st.pop()
            self.spans.append((sid, name, layer, t0, t1, parent, self.op))

    def add_span(self, name: str, layer: str, t0: float, t1: float, parent, op) -> None:
        """Record an interval measured elsewhere (a Spark job)."""
        self.spans.append((next(self._ids), name, layer, t0, t1, parent, op))

    def wrap(self, fn, name: str, layer: str, before=None, after=None):
        """``fn`` with a span and a ``<name>.calls`` counter around it.
        ``before(args, kwargs)`` returns a token handed to
        ``after(token, result, seconds)``; both run outside the span."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            self.count(f"{name}.calls")
            token = before(args, kwargs) if before else None
            t0 = time.perf_counter()
            with self.span(name, layer):
                out = fn(*args, **kwargs)
            if after:
                after(token, out, time.perf_counter() - t0)
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    def patch(self, owner, attr: str, name: str, layer: str, **hooks) -> None:
        setattr(owner, attr, self.wrap(getattr(owner, attr), name, layer, **hooks))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, name, layer, t0, t1, parent, op in self.spans:
                f.write(json.dumps({
                    "id": sid, "name": name, "layer": layer, "start": t0,
                    "end": t1, "parent": parent, "op": op,
                }) + "\n")


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping intervals."""
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


def self_times(spans) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals
    (clipped to the span, so overlapping or overhanging children are
    not subtracted twice)."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for sid, _, _, t0, t1, parent, _ in spans:
        if parent is not None:
            kids[parent].append((t0, t1))
    out = {}
    for sid, _, _, t0, t1, _, _ in spans:
        covered = union_length(
            [(max(a, t0), min(b, t1)) for a, b in kids.get(sid, ()) if min(b, t1) > max(a, t0)]
        )
        out[sid] = (t1 - t0) - covered
    return out


def self_time_by_layer(spans) -> dict[str, float]:
    """Layer -> summed self seconds of its spans."""
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for sid, _, layer, *_ in spans:
        out[layer] += st[sid]
    return dict(out)

