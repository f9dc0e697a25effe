"""In-memory span tracer for the benchmark's traced run.

Spans are recorded from the benchmark's own files, around the calls it
makes into the engine's public functions: :meth:`Tracer.wrap` swaps a
module attribute for a timing wrapper, so a call that resolves the
function through its module (``io.load``, ``trades.events_as_option_
trades``, ...) is timed wherever it happens. Wrappers are installed in
the traced run only, and record nothing outside :meth:`Tracer.op`.

Every span of one operation shares the operation's trace id. A layer's
self time is its span's duration minus the part covered by its child
spans (:func:`self_times`).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # -- recording -----------------------------------------------------
    def _stack(self) -> list[int] | None:
        return getattr(self._local, "stack", None)

    @contextlib.contextmanager
    def op(self, name: str):
        """Root span of one operation; yields its trace id."""
        trace_id = next(self._ids)
        self._local.trace = trace_id
        self._local.stack = []
        try:
            with self.span(name):
                yield trace_id
        finally:
            self._local.stack = None

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        if stack is None:
            yield
            return
        span_id = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(span_id)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {
                        "trace": self._local.trace,
                        "id": span_id,
                        "parent": parent,
                        "name": name,
                        "start": start,
                        "end": end,
                    }
                )

    def count(self, name: str) -> None:
        """Add one to a per-operation counter (ignored outside an operation)."""
        if self._stack() is not None:
            self.counts[self._local.trace][name] += 1

    def set_count(self, trace_id: int, name: str, value: float) -> None:
        self.counts[trace_id][name] = value

    # -- instrumentation -----------------------------------------------
    def wrap(self, owner: object, attr: str, name: str, counter: str | None = None) -> None:
        """Replace ``owner.attr`` with a wrapper that records span
        ``name`` (and bumps ``counter``) around each traced call."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self._stack() is None:
                return fn(*args, **kwargs)
            if counter:
                self.count(counter)
            with self.span(name):
                return fn(*args, **kwargs)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def count_calls(self, owner: object, attr: str, counter: str) -> None:
        """Count traced calls of ``owner.attr`` without a span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def counted(*args, **kwargs):
            self.count(counter)
            return fn(*args, **kwargs)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, counted)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f)


def self_times(spans: list[dict]) -> dict[int, dict[str, float]]:
    """Per trace: span name -> summed self time in ms."""
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        covered = 0.0
        last_end = s["start"]
        for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
            lo, hi = max(c["start"], last_end), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                last_end = hi
        out[s["trace"]][s["name"]] += (s["end"] - s["start"] - covered) * 1000.0
    return out
