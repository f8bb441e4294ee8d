"""In-memory spans around the engine's layer boundaries (traced run only).

``Tracer.wrap`` replaces a module attribute with a wrapper that records a
span for every call. ``apply_stream`` looks up ``drop_metrics``,
``commit_delta`` and ``append_frontier`` when it runs, so
patching the module attributes before the stream starts catches every
trigger. Spans stay in memory; ``restore`` puts the originals back.
"""

from __future__ import annotations

import functools
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    ref: str | None = None  # trigger or query id
    error: str | None = None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, ref: str | None = None):
        return _SpanContext(self, name, ref)

    def wrap(self, module, attr: str, name: str, ref_of=None) -> None:
        """``ref_of(args, kwargs)``, if given, names the trigger or query a
        call belongs to."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name, None if ref_of is None else str(ref_of(args, kwargs))):
                return original(*args, **kwargs)

        self._patched.append((module, attr, original))
        setattr(module, attr, traced)

    def restore(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()

    def reset(self) -> None:
        """Drop the spans recorded so far (set-up and warm-up)."""
        with self._lock:
            self.spans.clear()

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str, ref: str | None):
        self.tracer, self.name, self.ref = tracer, name, ref

    def __enter__(self) -> Span:
        stack = self.tracer._stack()
        parent = stack[-1] if stack else None
        self.span = Span(self.name, time.perf_counter(), parent=parent.name if parent else None,
                         ref=self.ref or (parent.ref if parent else None))
        stack.append(self.span)
        return self.span

    def __exit__(self, exc_type, exc, tb) -> None:
        self.span.end = time.perf_counter()
        if exc_type is not None:
            self.span.error = exc_type.__name__
        self.tracer._stack().pop()
        with self.tracer._lock:
            self.tracer.spans.append(self.span)


def assign_triggers(spans: list[Span], marker: str) -> None:
    """Give every streaming span without a ref the trigger id of the next
    ``marker`` span on the same timeline. Triggers run one at a time and
    each ends with its frontier append, whose batch id the marker span
    carries as ``ref``."""
    ordered = sorted(spans, key=lambda s: s.start)
    pending: list[Span] = []
    for s in ordered:
        if s.name == marker:
            for p in pending:
                p.ref = s.ref
            pending.clear()
        elif s.ref is None:
            pending.append(s)
