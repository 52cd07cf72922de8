"""Spans around the engine's public functions, installed from outside.

:meth:`Tracer.install` replaces every public function of the traced
engine modules with a timing wrapper. It patches the defining module and
also every other ``mapreduceframework_cpp_spark`` module (and module-level
dict, such as the query registry) that holds the same function object
under some name, so calls through ``from … import`` bindings are seen
too. Nothing in the engine is edited: the patch lives only in the
benchmark process.

Spans record name, layer, start, end and parent span; they are kept in
memory and summarised at the end of the run.
"""

from __future__ import annotations

import functools
import inspect
import sys
import threading
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass

PACKAGE = "mapreduceframework_cpp_spark"

#: Top-level engine packages whose public functions are traced. The
#: ``operators`` package is split per module (``operators.dedup`` …).
TRACED = ("session", "sources", "queries", "operators", "streaming")


def layer_of(module: str) -> str | None:
    """Layer name of an engine module, or None when it is not traced."""
    parts = module.split(".")
    if parts[0] != PACKAGE or len(parts) < 2 or parts[1] not in TRACED:
        return None
    if parts[1] == "operators":
        return f"operators.{parts[2]}" if len(parts) > 2 else None
    return parts[1]


@dataclass
class Span:
    name: str
    layer: str
    start: float  # seconds since the epoch
    end: float
    parent: int  # index into Tracer.spans, -1 for a root span

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Holds the spans of one run. ``enabled`` switches recording for
    every installed wrapper at once, so traced and untraced units of
    work can alternate inside one run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, layer: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        stack = self._stack()
        sp = Span(name, layer, time.time(), 0.0, stack[-1] if stack else -1)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(sp)
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            sp.end = time.time()

    def _wrap(self, fn: Callable, name: str, layer: str) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name, layer):
                return fn(*args, **kwargs)

        traced.__wrapped_by_perfbench__ = True
        return traced

    def install(self) -> int:
        """Wrap the public functions of every loaded traced module and
        re-point every engine-held reference to them. Returns how many
        functions were wrapped."""
        modules = {n: m for n, m in list(sys.modules.items()) if n.split(".")[0] == PACKAGE and m}
        wrappers: dict[int, Callable] = {}
        for modname, mod in modules.items():
            layer = layer_of(modname)
            if layer is None:
                continue
            for attr, val in list(vars(mod).items()):
                if (
                    attr.startswith("_")
                    or not inspect.isfunction(val)
                    or val.__module__ != modname
                    or getattr(val, "__wrapped_by_perfbench__", False)
                ):
                    continue
                wrappers[id(val)] = self._wrap(val, f"{layer}.{attr}", layer)
        for mod in modules.values():
            for attr, val in list(vars(mod).items()):
                if id(val) in wrappers:
                    setattr(mod, attr, wrappers[id(val)])
                elif isinstance(val, dict) and not attr.startswith("__"):
                    for k, v in list(val.items()):
                        if id(v) in wrappers:
                            val[k] = wrappers[id(v)]
        return len(wrappers)

    # -- summaries ----------------------------------------------------

    def within(self, t0: float, t1: float) -> list[int]:
        """Indices of spans that started inside [t0, t1)."""
        return [i for i, s in enumerate(self.spans) if t0 <= s.start < t1]

    def layer_entries(self, idx: list[int], layer: str) -> list[Span]:
        """Spans of ``layer`` entered from outside it (nested same-layer
        calls are folded into their outermost span)."""
        out = []
        for i in idx:
            s = self.spans[i]
            if s.layer == layer and (s.parent < 0 or self.spans[s.parent].layer != layer):
                out.append(s)
        return out

    def self_times(self, idx: list[int]) -> dict[str, float]:
        """Self time per span name: duration minus the time its direct
        children cover (children of one span run one after another on
        the caller's thread)."""
        child = {i: 0.0 for i in idx}
        for i in idx:
            p = self.spans[i].parent
            if p in child:
                child[p] += self.spans[i].dur
        out: dict[str, float] = {}
        for i in idx:
            s = self.spans[i]
            out[s.name] = out.get(s.name, 0.0) + s.dur - child[i]
        return out
