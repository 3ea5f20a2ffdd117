"""Spans around calls into the package's public functions, recorded from
the benchmark's own files.

``Tracer.wrap_function`` / ``wrap_method`` replace a function or a
method with a wrapper that records one span per call: name, start, end,
parent span and the request or batch id (tag) current on the calling
thread. Because modules re-bind imported names
(``from .events import to_nested``), ``wrap_function`` patches every
attribute in the package's loaded modules that is the original function
object; ``restore`` undoes every patch. Spans stay in memory and are
written once, at the end of the run.

A layer's self time is its span's duration minus the part of that
interval its child spans cover.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
from dataclasses import asdict, dataclass

PACKAGE = "kinesis_stream_reader_spark"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    tag: str | None  # request / batch id


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        # span name -> [(args, kwargs, result)] of calls wrapped with capture
        self.captured: dict[str, list] = {}
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    @property
    def tag(self) -> str | None:
        """The request or batch id current on the calling thread."""
        return getattr(self._local, "tag", None)

    def _wrapper(self, name: str, fn, capture: bool = False, new_tag: bool = False):
        local, lock = self._local, self._lock

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = local.__dict__.setdefault("stack", [])
            span_id = next(self._ids)
            parent = stack[-1] if stack else None
            if new_tag and parent is None:
                local.tag = f"{name}#{span_id}"
            stack.append(span_id)
            start = time.perf_counter()
            try:
                result = fn(*args, **kwargs)
            finally:
                end = time.perf_counter()
                stack.pop()
                with lock:
                    self.spans.append(Span(span_id, name, start, end, parent, self.tag))
            if capture:
                with lock:
                    self.captured.setdefault(name, []).append((args, kwargs, result))
            return result

        return traced

    def wrap_function(self, module, attr: str, name: str, capture: bool = False) -> None:
        """Wrap ``module.attr`` and every re-binding of the same function
        object in the package's loaded modules. ``capture`` keeps each
        call's arguments and result in ``captured``."""
        original = getattr(module, attr)
        wrapped = self._wrapper(name, original, capture)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for key, value in list(vars(mod).items()):
                if value is original:
                    self._patches.append((mod, key, value))
                    setattr(mod, key, wrapped)

    def wrap_method(self, cls, attr: str, name: str, new_tag: bool = False) -> None:
        """Wrap a method on its class. ``new_tag`` starts a fresh tag
        (request id) for each outermost call."""
        original = cls.__dict__[attr]
        self._patches.append((cls, attr, original))
        setattr(cls, attr, self._wrapper(name, original, new_tag=new_tag))

    def wrap_callable(self, fn, name: str):
        """Wrap a callable the benchmark holds itself (no patching)."""
        return self._wrapper(name, fn)

    def restore(self) -> None:
        for owner, attr, value in reversed(self._patches):
            setattr(owner, attr, value)
        self._patches.clear()

    def self_times(self) -> dict[int, float]:
        """span id -> seconds of its duration not covered by children."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cursor = 0.0, s.start
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.id] = (s.end - s.start) - covered
        return out

    def by_tag(self, names: set[str]) -> dict[str, float]:
        """tag -> summed seconds of the spans named in ``names``."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s.name in names and s.tag is not None:
                out[s.tag] = out.get(s.tag, 0.0) + (s.end - s.start)
        return out

    def write(self, path: str) -> None:
        selft = self.self_times()
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**asdict(s), "self_s": selft[s.id]}) + "\n")
