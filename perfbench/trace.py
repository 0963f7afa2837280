"""Span recorder for the traced run.

A span is one call into a layer: its name, start, end, parent span and the
op it belongs to.  Spans stay in memory until the run ends.  Every span runs
under its own Spark job group, so the jobs a span started can be read back
from the status store afterwards; setting a job group is a local property
and submits no job, so tracing adds no Spark jobs.

Library layers are traced by wrapping their public functions from outside:
``Tracer.install`` rebinds each function everywhere the engine's modules
hold a reference to it, and ``Tracer.uninstall`` restores the originals.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import sys
import time
from dataclasses import dataclass, field

# (span name, module, attribute, builds_plan).  A dotted attribute is a
# method.  ``builds_plan`` marks calls that declare DataFrames; any job run
# under them is a job started before the action.
GRAPH_TARGETS = [
    ("sources.catalog.read_graph", "vector_graph_rag_spark.sources.catalog", "GraphCatalog.read_graph", True),
    ("sources.catalog.write_graph", "vector_graph_rag_spark.sources.catalog", "GraphCatalog.write_graph", False),
    ("sources.catalog.graph_stats", "vector_graph_rag_spark.sources.catalog", "GraphCatalog.graph_stats", False),
    ("sources.catalog.delete_graph", "vector_graph_rag_spark.sources.catalog", "GraphCatalog.delete_graph", False),
    ("graph.retrieve.seed_frontier_from_names", "vector_graph_rag_spark.graph.retrieve", "seed_frontier_from_names", True),
    ("graph.retrieve.retrieve_passages", "vector_graph_rag_spark.graph.retrieve", "retrieve_passages", True),
    ("graph.expand.expand_subgraph", "vector_graph_rag_spark.graph.expand", "expand_subgraph", True),
    ("graph.crud.upsert_passages", "vector_graph_rag_spark.graph.crud", "upsert_passages", True),
    ("graph.builder.build_graph", "vector_graph_rag_spark.graph.builder", "build_graph", True),
]

PIPELINE_TARGETS = [
    ("sources.tables.load_table", "vector_graph_rag_spark.sources.tables", "load_table", True),
    ("streaming.dedup_index.append_to_index", "vector_graph_rag_spark.streaming.dedup_index", "append_to_index", False),
    ("streaming.vector_index.append_to_index", "vector_graph_rag_spark.streaming.vector_index", "append_to_index", False),
    ("streaming.term_index.append_term_batch", "vector_graph_rag_spark.streaming.term_index", "append_term_batch", False),
    ("functions.partitioning.ensure_parallel_scan", "vector_graph_rag_spark.functions.partitioning", "ensure_parallel_scan", True),
]


@dataclass
class Span:
    span_id: int
    parent: int | None
    op_id: int
    name: str
    group: str
    builds_plan: bool
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> the span's duration minus the part of its interval that
    its child spans cover (children may overlap each other)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        end = s.start
        for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
            lo, hi = max(c.start, end), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                end = hi
        out[s.span_id] = s.duration - covered
    return out


def descendants(spans: list[Span]) -> dict[int, list[int]]:
    """span_id -> ids of the span and every span below it."""
    kids: dict[int | None, list[int]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s.span_id)
    out = {}
    for s in spans:
        todo, seen = [s.span_id], []
        while todo:
            sid = todo.pop()
            seen.append(sid)
            todo.extend(kids.get(sid, []))
        out[s.span_id] = seen
    return out


class Tracer:
    """Records spans and switches the Spark job group around each one."""

    def __init__(self, spark, prefix: str, enabled: bool = True):
        self._sc = spark.sparkContext
        self._prefix = prefix
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op_id = -1
        self._op_group = ""
        self._patched: list[tuple[object, str, object]] = []

    # -- ops and spans ------------------------------------------------------

    def begin_op(self, op_id: int, group: str) -> None:
        self._op_id, self._op_group = op_id, group
        self._sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def span(self, name: str, builds_plan: bool = False):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            span_id=len(self.spans),
            parent=parent.span_id if parent else None,
            op_id=self._op_id,
            name=name,
            group=f"{self._prefix}.s{len(self.spans)}",
            builds_plan=builds_plan,
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            back = self._stack[-1].group if self._stack else self._op_group
            self._sc.setJobGroup(back, back)

    # -- wrapping library functions ----------------------------------------

    def install(self, targets) -> None:
        for name, module, attr, builds_plan in targets:
            mod = importlib.import_module(module)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = getattr(cls, meth)
                self._patch(cls, meth, self._wrap(name, orig, builds_plan))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(name, orig, builds_plan)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("vector_graph_rag_spark"):
                    for key, val in list(vars(m).items()):
                        if val is orig:
                            self._patch(m, key, wrapped)

    def uninstall(self) -> None:
        for owner, key, orig in reversed(self._patched):
            setattr(owner, key, orig)
        self._patched.clear()

    def _patch(self, owner, key: str, new) -> None:
        self._patched.append((owner, key, getattr(owner, key)))
        setattr(owner, key, new)

    def _wrap(self, name: str, fn, builds_plan: bool):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, builds_plan):
                return fn(*args, **kwargs)

        return traced
