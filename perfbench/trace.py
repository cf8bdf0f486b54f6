"""Spans for the traced run.

A span records its name, start, end, parent and layer, and while it is open
it is the Spark job group (``spark.jobGroup.id`` = span id) and job
description of every job the driver launches. The event-log parser
(``perfbench.eventlog``) later maps each job back to its innermost span.

``install`` rebinds every public function of the layer modules with a span
wrapper, in each loaded ``spark_pit`` module (and ``bench_extra``) that
holds it, so builder calls into a layer show up as spans without any change
to the program. The untraced run uses ``NullTracer``.
"""

from __future__ import annotations

import functools
import inspect
import sys
import time
from contextlib import contextmanager, nullcontext

LAYER_MODULES = [
    "spark_pit.job",
    "spark_pit.manifest",
    "spark_pit.pipeline",
    "spark_pit.operators.pit",
    "spark_pit.operators.skew",
    "spark_pit.operators.asof",
    "spark_pit.operators.windows",
    "spark_pit.operators.pairs",
    "spark_pit.operators.autocorr",
    "spark_pit.operators.dedup",
    "spark_pit.operators.graph",
    "spark_pit.operators.similarity",
]


def layer_name(module: str) -> str:
    return module.removeprefix("spark_pit.")


class NullTracer:
    enabled = False

    def span(self, name: str, layer: str | None = None):
        return nullcontext()


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0

    @staticmethod
    def _sc():
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    def _label(self, span: dict | None) -> None:
        sc = self._sc()
        if sc is None:
            return
        sc.setLocalProperty("spark.jobGroup.id", span["id"] if span else None)
        sc.setLocalProperty("spark.job.description", span["name"] if span else None)

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        self._next += 1
        s = {"id": f"pb-{self._next}", "name": name, "layer": layer,
             "parent": self._stack[-1]["id"] if self._stack else None,
             "start": time.time(), "end": None}
        self.spans.append(s)
        self._stack.append(s)
        self._label(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            self._label(self._stack[-1] if self._stack else None)

    def install(self) -> int:
        """Wrap the public functions of LAYER_MODULES; returns how many."""
        import importlib

        wrapped: dict[int, object] = {}
        for modname in LAYER_MODULES:
            mod = importlib.import_module(modname)
            layer = layer_name(modname)
            for name, fn in list(vars(mod).items()):
                if (name.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != modname):
                    continue
                wrapped[id(fn)] = self._wrap(fn, f"{layer}.{name}", layer)
        # rebind every alias (``from x import f``) that points at an original
        holders = [m for n, m in list(sys.modules.items())
                   if m is not None and (n.startswith("spark_pit") or n == "bench_extra")]
        for mod in holders:
            for name, obj in list(vars(mod).items()):
                w = wrapped.get(id(obj))
                if w is not None:
                    setattr(mod, name, w)
        return len(wrapped)

    def _wrap(self, fn, span_name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(span_name, layer=layer):
                return fn(*args, **kwargs)

        return traced
