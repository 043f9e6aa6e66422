"""In-memory span tracer for the benchmark's traced run.

The tracer wraps the public entry points of each engine layer from the
outside (the engine itself is not modified): each call becomes a span with a
name, start, end, parent span and request id. Spans stay in memory and are
written once, at the end of the run. Wrappers are installed only around the
traced requests and removed after each one, so untraced requests run the
original functions.

Layer of a span = the part of its name before the first dot (``reader``,
``format``, ``search``, ``writer``, ``dist``; ``bench`` is the benchmark's
own request span). A layer's self time is the time its spans cover minus the
time covered by their child spans.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for a root span
    request: int


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    _stack: list[int] = field(default_factory=list)
    _request: int = -1
    _patches: list[tuple[object, str, object]] = field(default_factory=list)

    # ------------------------------------------------------------ spans --
    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self._request))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        popped = self._stack.pop()
        if popped != idx:
            raise RuntimeError(f"span {self.spans[idx].name} closed out of order")

    @contextlib.contextmanager
    def request(self, name: str, request_id: int):
        """One benchmark request: its root span; nested spans carry its id."""
        self._request = request_id
        idx = self.begin(name)
        try:
            yield
        finally:
            self.end(idx)
            self._request = -1

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.begin(name)
        try:
            yield
        finally:
            self.end(idx)

    # ---------------------------------------------------------- wrapping --
    def wrap(self, owner, attr: str, name, on_result=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper (restored by
        :meth:`uninstall`). ``name`` is the span name, or a function of the
        call's positional arguments returning it. ``on_result(tracer, args,
        kwargs, result)`` may add counts. ``functools.wraps`` keeps the
        wrapper's module and qualified name, so Spark's closure pickler
        still ships the original function by reference."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        if isinstance(orig, property):
            fget = self._spanned(orig.fget, name, on_result)
            new = property(fget, orig.fset, orig.fdel, orig.__doc__)
        else:
            new = self._spanned(orig, name, on_result)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, new)

    def _spanned(self, fn, name: str, on_result):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            idx = tracer.begin(name(args) if callable(name) else name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.end(idx)
            if on_result is not None:
                on_result(tracer, args, kwargs, out)
            return out

        return wrapper

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # ----------------------------------------------------------- reports --
    def self_times(self, lo: int = -1, hi: int | None = None) -> dict[str, float]:
        """Seconds of self time per span name, over spans of requests with
        ``lo <= id < hi`` (children are nested calls on one thread, so they
        never overlap each other)."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent >= 0:
                child_time[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s, c in zip(self.spans, child_time):
            if s.request >= lo and (hi is None or s.request < hi):
                out[s.name] += (s.end - s.start) - c
        return dict(out)

    def totals(self) -> dict[str, tuple[int, float]]:
        """(calls, inclusive seconds) per span name."""
        out: dict[str, list] = defaultdict(lambda: [0, 0.0])
        for s in self.spans:
            out[s.name][0] += 1
            out[s.name][1] += s.end - s.start
        return {k: (v[0], v[1]) for k, v in out.items()}

    def layer_self_times(self, lo: int = -1, hi: int | None = None) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for name, secs in self.self_times(lo, hi).items():
            out[name.split(".", 1)[0]] += secs
        return dict(out)

    def write(self, path: str) -> None:
        """Write every span as one JSON line (called once, at the end)."""
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "parent": s.parent,
                    "request": s.request,
                    "start_us": round((s.start - t0) * 1e6, 1),
                    "end_us": round((s.end - t0) * 1e6, 1),
                }) + "\n")
