"""Spans around the public functions of the engine's layer modules.

:func:`instrument` replaces every public function (and every public
method, and ``__call__``, of a public class) defined in the modules of
:data:`LAYERS` with a wrapper that records a span: layer, name, start,
end, the span that called it and whether it raised. The replacement is made in the
defining module and wherever else a loaded module of the package holds
the same function object, so ``from x import f`` bindings made before
instrumenting are patched too. Call it before importing the query
modules; their later imports then bind the wrappers.

Spans stay in memory (:class:`Tracer`) and are written out by the
caller at exit.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import threading
import time

PACKAGE = "olist_lakehouse_2_0_spark"

#: Layer name -> module (or package) under ``PACKAGE``.
LAYERS = {
    "catalog": "catalog",
    "delta_export": "delta_export",
    "deletion_vectors": "deletion_vectors",
    "staging": "staging",
    "sources": "sources",
    **{f"streaming.{m}": f"streaming.{m}" for m in (
        "ingest", "windows", "joins", "stateful", "upsert")},
    **{f"operators.{m}": f"operators.{m}" for m in (
        "expectations", "cdc", "merge", "dedup", "similarity", "text",
        "ranking", "sampling", "multimodal", "joins", "asof")},
    "plans.pipeline": "plans.pipeline",
    "plans.incremental": "plans.incremental",
    "governance": "governance",
}


class Span:
    __slots__ = ("layer", "name", "start", "end", "parent", "op", "ok")

    def __init__(self, layer, name, start, end=None, parent=None, op=None, ok=True):
        self.layer = layer
        self.name = name
        self.start = start
        self.end = end
        self.parent = parent
        self.op = op
        self.ok = ok

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


class Tracer:
    """In-memory span store. ``op`` tags every span opened while set —
    the harness sets it to the op being run."""

    def __init__(self, clock=time.perf_counter):
        self.spans: list[Span] = []
        self.op = None
        self._clock = clock
        self._local = threading.local()

    # A wrapped function pickled into a Python worker (a UDF body) gets
    # an empty tracer there; its spans are not sent back.
    def __getstate__(self) -> dict:
        return {}

    def __setstate__(self, _state: dict) -> None:
        self.__init__()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = self._stack()
            span = Span(layer, name, self._clock(),
                        parent=stack[-1] if stack else None, op=self.op)
            self.spans.append(span)
            stack.append(len(self.spans) - 1)
            try:
                return fn(*args, **kwargs)
            except BaseException:
                span.ok = False
                raise
            finally:
                span.end = self._clock()
                stack.pop()

        traced.__wrapped_by_perfbench__ = True
        return traced


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (overlapping children counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for span in spans:
        if span.parent is not None:
            children.setdefault(span.parent, []).append((span.start, span.end))
    out = []
    for i, span in enumerate(spans):
        covered = 0.0
        cursor = span.start
        for start, end in sorted(children.get(i, ())):
            start, end = max(start, cursor), min(end, span.end)
            if end > start:
                covered += end - start
                cursor = end
        out.append(span.end - span.start - covered)
    return out


def _targets(module) -> list[tuple[object, str, object]]:
    """(owner, attribute, function) for each public function defined in
    ``module`` and each public plain method (and ``__call__``) of its
    public classes."""
    found = []
    for attr, obj in vars(module).items():
        if attr.startswith("_") or getattr(obj, "__module__", None) != module.__name__:
            continue
        if inspect.isfunction(obj):
            found.append((module, attr, obj))
        elif inspect.isclass(obj):
            for meth, fn in vars(obj).items():
                # __call__: a sink object handed to foreachBatch is
                # the layer's entry point (streaming.upsert, cdc).
                public = not meth.startswith("_") or meth == "__call__"
                if public and inspect.isfunction(fn):
                    found.append((obj, meth, fn))
    return found


def _layer_modules(path: str) -> list:
    root = importlib.import_module(f"{PACKAGE}.{path}")
    mods = [root]
    if hasattr(root, "__path__"):  # a package: every submodule too
        import pkgutil

        for info in pkgutil.iter_modules(root.__path__):
            mods.append(importlib.import_module(f"{root.__name__}.{info.name}"))
    return mods


def instrument(tracer: Tracer) -> None:
    """Wrap the public functions of every module in :data:`LAYERS`."""
    replaced: dict[int, object] = {}
    for layer, path in LAYERS.items():
        for module in _layer_modules(path):
            for owner, attr, fn in _targets(module):
                if getattr(fn, "__wrapped_by_perfbench__", False):
                    continue
                wrapper = tracer.wrap(layer, f"{getattr(owner, '__name__', '')}.{attr}", fn)
                setattr(owner, attr, wrapper)
                replaced[id(fn)] = wrapper
    # Re-point names other modules bound with ``from x import f``.
    for name, module in list(sys.modules.items()):
        if not name.startswith(PACKAGE) or module is None:
            continue
        for attr, obj in list(vars(module).items()):
            wrapper = replaced.get(id(obj))
            if wrapper is not None and inspect.isfunction(obj):
                setattr(module, attr, wrapper)
