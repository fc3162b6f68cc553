"""Spans recorded from outside the engine.

In a traced cycle every public function of the engine's layer modules and
every public ``OmigoDF`` method, inherited ones included, is wrapped; so
are the names ``__spark_entry__`` imported from those modules. A call
made by the pipeline
opens one span named after the function, in its layer; calls the engine
makes internally while that span is open add no span of their own, so
the spans of one pipeline are the pipeline's root span, one span per
public-call boundary and one per sink. While a span is open its id is the
SparkContext job group, so the status store attributes each job to the
span that caused it. Work that Spark defers to the final action is
counted against the pipeline's sink.

Spans are kept in memory and written out as JSON lines when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import time
from dataclasses import asdict, dataclass

_PKG = "omigo_data_analytics_spark"
OPERATOR_FAMILIES = ("dedup", "similarity", "text", "graph", "timeseries")
# layer -> modules whose public functions are wrapped
LAYER_MODULES = {
    "sources": ("sources.io", "sources.etl", "sources.sql"),
    "functions": ("functions.aggs", "functions.timefuncs", "functions.udfs",
                  "functions.funclib"),
    "streaming": ("streaming.stream",),
    **{f"operators.{fam}": (f"operators.{fam}",) for fam in OPERATOR_FAMILIES},
}
# modules that call engine functions they imported by name
IMPORTERS = ("__spark_entry__",)


_ABSENT = object()


@dataclass
class Span:
    span_id: str
    pipeline_id: str    # shared by every span of one pipeline execution
    name: str
    layer: str          # pipeline | sink | core | sources | functions | ...
    parent: str | None
    start: float
    end: float = 0.0


class Tracer:
    def __init__(self, sc):
        self._sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._inside_call = 0
        self._next = 0
        self._originals: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def open(self, name: str, layer: str, pipeline_id: str | None = None) -> Span:
        parent = self._stack[-1] if self._stack else None
        self._next += 1
        span = Span(f"perfbench-span-{self._next}",
                    pipeline_id or (parent.pipeline_id if parent else ""),
                    name, layer, parent.span_id if parent else None,
                    time.perf_counter())
        self._stack.append(span)
        self._sc.setJobGroup(span.span_id, name)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        self.spans.append(span)
        if self._stack:
            top = self._stack[-1]
            self._sc.setJobGroup(top.span_id, top.name)
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)

    # --------------------------------------------------------- wrapping
    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if tracer._inside_call or not tracer._stack:
                return fn(*args, **kwargs)
            span = tracer.open(name, layer)
            tracer._inside_call += 1
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._inside_call -= 1
                tracer.close(span)
        return traced

    def install(self) -> None:
        """Wrap every public function of the layer modules, every public
        OmigoDF method and the importers' names bound to either."""
        from omigo_data_analytics_spark.core.dataframe import OmigoDF

        wrapped = {}
        for layer, mods in LAYER_MODULES.items():
            for rel in mods:
                mod = importlib.import_module(f"{_PKG}.{rel}")
                for name, obj in list(vars(mod).items()):
                    if (inspect.isfunction(obj) and not name.startswith("_")
                            and obj.__module__ == mod.__name__):
                        wrapped[obj] = self._wrap(obj, f"{rel}.{name}", layer)
                        self._patch(mod, name, wrapped[obj])
        methods = {}
        for cls in reversed(OmigoDF.__mro__[:-1]):     # subclasses override
            methods.update((name, obj) for name, obj in vars(cls).items()
                           if inspect.isfunction(obj) and not name.startswith("_"))
        for name, obj in methods.items():
            self._patch(OmigoDF, name, self._wrap(obj, f"OmigoDF.{name}", "core"))
        for imp in IMPORTERS:
            mod = sys.modules.get(imp)
            for name, obj in list(vars(mod).items()) if mod else ():
                if inspect.isfunction(obj) and obj in wrapped:
                    self._patch(mod, name, wrapped[obj])

    def _patch(self, owner, name, new) -> None:
        self._originals.append((owner, name, vars(owner).get(name, _ABSENT)))
        setattr(owner, name, new)

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._originals):
            if orig is _ABSENT:
                delattr(owner, name)
            else:
                setattr(owner, name, orig)
        self._originals.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[str, float]:
    """span id -> duration minus the part of it its children cover."""
    covered: dict[str, float] = {}
    for s in spans:
        if s.parent is not None:
            covered[s.parent] = covered.get(s.parent, 0.0) + (s.end - s.start)
    return {s.span_id: (s.end - s.start) - covered.get(s.span_id, 0.0) for s in spans}


def check_tree(spans: list[Span], wall: float, tol: float = 0.05) -> str | None:
    """Spans of one pipeline must nest inside their parents without
    overlapping, and the self times of the spans under the pipeline's
    root, the sink included, must add up to the pipeline's wall time: the
    root's own self time, time spent outside every traced call, may be at
    most ``tol`` of the wall. Returns a problem description, or None."""
    by_id = {s.span_id: s for s in spans}
    kids: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            p = by_id.get(s.parent)
            if p is None or s.start < p.start or s.end > p.end:
                return f"span {s.name} is not inside its parent"
            kids.setdefault(s.parent, []).append(s)
    for ks in kids.values():
        ks.sort(key=lambda s: s.start)
        for a, b in zip(ks, ks[1:]):
            if b.start < a.end:
                return f"spans {a.name} and {b.name} overlap"
    inner = sum(t for sid, t in self_times(spans).items() if by_id[sid].parent is not None)
    if wall - inner > tol * wall:
        return (f"spans under the pipeline cover {inner:.6f}s of its {wall:.6f}s wall; "
                f"{wall - inner:.6f}s ran outside every traced call")
    return None
