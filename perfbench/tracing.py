"""Spans around the engine's layers, recorded from outside the engine.

The tracer replaces each public function of a layer module with a
wrapper (module attribute, so callers that go through the module, such
as ``BB.standard_blocking`` in ``pipeline.py``, reach it and the spans
follow the real call graph). While a span is open every Spark job the
driver submits carries the span id as its job description, which is how
the event log's task metrics are joined back to layers. A DataFrame a
layer returns is materialized before the span closes, so the lazy work
it describes runs, and is timed, inside that layer.

Spans stay in memory; nothing is written until the run ends.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import time
from contextlib import contextmanager
from dataclasses import dataclass

# layer name -> module. ``pipeline`` is the glue between the operator
# layers; ``sink`` and ``pass`` are spans the benchmark opens itself.
LAYER_MODULES = {
    "datamodel": "pyjedai_spark.datamodel",
    "operators.block_building": "pyjedai_spark.operators.block_building",
    "operators.block_cleaning": "pyjedai_spark.operators.block_cleaning",
    "operators.comparison_cleaning":
        "pyjedai_spark.operators.comparison_cleaning",
    "operators.matching": "pyjedai_spark.operators.matching",
    "operators.clustering": "pyjedai_spark.operators.clustering",
    "operators.dedup": "pyjedai_spark.operators.dedup",
    "functions.urls": "pyjedai_spark.functions.urls",
    "functions.analysis": "pyjedai_spark.functions.analysis",
    "streaming.incremental_clean": "pyjedai_spark.streaming.incremental_clean",
    "pipeline": "pyjedai_spark.pipeline",
}
SINK = "sink"
PASS = "pass"

# Calls whose first DataFrame argument is counted, for the yield ratios
# (kept postings / postings, matches / candidates, verified / LSH pairs).
COUNT_INPUT = {
    ("operators.block_cleaning", "clean_blocks"),
    ("operators.matching", "entity_matching"),
    ("operators.dedup", "jaccard_verify"),
}

TRACE_TAG = ":trace"  # suffix of jobs the tracer itself submits


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    rows_in: int | None = None
    rows_out: int | None = None


def description(sid: int, trace_job: bool = False) -> str:
    return f"pb:{sid}" + (TRACE_TAG if trace_job else "")


def parse_description(desc: str | None) -> tuple[int | None, bool]:
    """(span id, submitted by the tracer) of a job description."""
    if not desc or not desc.startswith("pb:"):
        return None, False
    body = desc[3:]
    trace_job = body.endswith(TRACE_TAG)
    if trace_job:
        body = body[:-len(TRACE_TAG)]
    return (int(body) if body.isdigit() else None), trace_job


class Tracer:
    """Opens spans, labels jobs, and (when layers are installed) wraps
    the layer modules' public functions."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._originals: list[tuple[object, str, object]] = []
        self.layers_on = False

    # -- spans -------------------------------------------------------
    @contextmanager
    def span(self, layer: str, name: str):
        sid = len(self.spans)
        sp = Span(sid, layer, name, self._stack[-1] if self._stack else None,
                  time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sid)
        self.sc.setJobDescription(description(sid))
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(
                description(self._stack[-1]) if self._stack else None)

    def count(self, df) -> int:
        """Row count as a tracer job, kept out of the layer's metrics."""
        self.sc.setJobDescription(description(self._stack[-1], True))
        try:
            return df.count()
        finally:
            self.sc.setJobDescription(description(self._stack[-1]))

    # -- layer wrappers ---------------------------------------------
    def install(self) -> None:
        from pyspark.sql import DataFrame

        for layer, modname in LAYER_MODULES.items():
            mod = importlib.import_module(modname)
            for name, fn in list(vars(mod).items()):
                if (name.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != modname):
                    continue
                self._originals.append((mod, name, fn))
                setattr(mod, name, self._wrap(layer, fn, DataFrame))

    def uninstall(self) -> None:
        for mod, name, fn in reversed(self._originals):
            setattr(mod, name, fn)
        self._originals.clear()

    def _wrap(self, layer, fn, df_type):
        count_in = (layer, fn.__name__) in COUNT_INPUT

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.layers_on:
                return fn(*args, **kwargs)
            with self.span(layer, fn.__name__) as sp:
                first = next((a for a in args if isinstance(a, df_type)),
                             None)
                if count_in and first is not None:
                    sp.rows_in = self.count(first)
                out = fn(*args, **kwargs)
                if isinstance(out, df_type):
                    # the boundary: run the lazy plan inside this span
                    out = out.localCheckpoint()
                    sp.rows_out = self.count(out)
                return out

        return traced


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval that child spans
    cover (children of one span never overlap: calls are synchronous,
    but the union is taken all the same)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.sid, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = (s.end - s.start) - covered
    return out
