"""The benchmark's workloads, each a closed loop with one client.

Every timed op runs under its own Spark job group, so its jobs and their
counters are read back from the status store once it has returned.  Outputs
are checked after the op's timer has stopped.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from dataclasses import dataclass, field

import duckdb

from perfbench import inputs
from perfbench.sparkstats import COUNTERS, SparkStats, union_length
from perfbench.stats import mean, median, tail_percentile
from perfbench.trace import GRAPH_TARGETS, PIPELINE_TARGETS, Tracer, descendants, self_times
from perfbench.twins import QueryTwin, graph_mismatches

GRAPH = "bench"
IDLE_GROUP = "bench.idle"

# Per-layer metrics of the graph workloads: span name -> what is reported.
GRAPH_LAYERS = {
    "api.query": ("s", "self_s", "jobs"),
    "api.add_documents": ("s", "self_s", "jobs"),
    "sources.catalog.read_graph": ("s", "jobs"),
    "sources.catalog.write_graph": ("s", "jobs", "output_bytes"),
    "sources.catalog.graph_stats": ("s", "jobs"),
    "sources.catalog.delete_graph": ("s",),
    "graph.retrieve.seed_frontier_from_names": ("s", "jobs"),
    "graph.retrieve.retrieve_passages": ("s", "jobs"),
    "graph.expand.expand_subgraph": ("s", "jobs"),
    "graph.crud.upsert_passages": ("s", "jobs"),
    "graph.builder.build_graph": ("s", "jobs"),
}
PIPELINE_LAYERS = {
    "sources.tables.load_table": ("calls", "s", "jobs"),
    "streaming.dedup_index.append_to_index": ("s", "jobs"),
    "streaming.vector_index.append_to_index": ("s", "jobs"),
    "streaming.term_index.append_term_batch": ("s", "jobs"),
    "functions.partitioning.ensure_parallel_scan": ("s", "jobs"),
}


class OpFailed(Exception):
    pass


@dataclass
class Op:
    op_id: int
    kind: str
    phase: str  # "warmup", "plain" (untraced) or "traced"
    latency: float = 0.0
    counters: dict = field(default_factory=dict)
    driver_only_s: float = 0.0
    span_ids: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)
    error: str | None = None

    @property
    def jobs(self) -> int:
        return self.counters.get("jobs", 0)


class Bench:
    """One benchmark process: the session, the op log and the tracer."""

    def __init__(self, spark, sf_dir: str, run_dir: str, seed: int, seconds: float, traced: bool):
        self.spark = spark
        self.sf_dir = sf_dir
        self.run_dir = run_dir
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.stats = SparkStats(spark)
        self.tracer = Tracer(spark, "bench", enabled=False)
        self.ops: list[Op] = []
        self.checks = 0
        self.checks_failed: list[str] = []
        self.setup: dict[str, float] = {}
        self.first_timed: float | None = None

    def run_op(self, kind: str, phase: str, fn) -> tuple[object, Op]:
        """Time ``fn()`` as one op; an exception marks the op failed."""
        op = Op(op_id=len(self.ops), kind=kind, phase=phase)
        group = f"bench.op{op.op_id}"
        self.tracer.begin_op(op.op_id, group)
        if phase != "warmup" and self.first_timed is None:
            self.first_timed = time.time()
        result = None
        e0, t0 = time.time(), time.perf_counter()
        try:
            result = fn()
        except Exception as exc:  # the op failed; count it and keep running
            op.error = f"{type(exc).__name__}: {exc}"
            traceback.print_exc(file=sys.stderr)
        op.latency = time.perf_counter() - t0
        e1 = time.time()
        self.tracer.begin_op(-1, IDLE_GROUP)
        self.stats.settle()
        spans = [s for s in self.tracer.spans if s.op_id == op.op_id]
        op.span_ids = [s.span_id for s in spans]
        op.counters, intervals = self.stats.collect([group] + [s.group for s in spans])
        for s in spans:
            s.counters = self.stats.collect([s.group])[0]
        clipped = [(max(a, e0), min(b, e1)) for a, b in intervals if min(b, e1) > max(a, e0)]
        op.driver_only_s = op.latency - union_length(clipped)
        self.ops.append(op)
        print(f"# op {op.op_id} {kind} {phase}: {op.latency:.3f}s {op.jobs} jobs", file=sys.stderr)
        return result, op

    def fail(self, op: Op, reason: str) -> None:
        if op.error is None:
            op.error = reason
        print(f"# wrong: op {op.op_id} ({op.kind}): {reason}", file=sys.stderr)

    def timed_ops(self, phase: str, kind: str | None = None) -> list[Op]:
        return [o for o in self.ops if o.phase == phase and (kind is None or o.kind == kind)]

    def counts(self) -> tuple[int, int]:
        """(attempted, failed) over every op, warm-up ones included, and
        every check made after the ops."""
        attempted = len(self.ops) + self.checks
        failed = sum(o.error is not None for o in self.ops) + len(self.checks_failed)
        return attempted, failed

    # -- per-layer metrics from the traced ops ------------------------------

    def layer_metrics(self, layers: dict, units: int, overhead_s: float) -> dict[str, float]:
        """Per-layer means over the traced pass, per unit of work (a query,
        an add with its read-after-write query, or a pipeline pass)."""
        ops = self.timed_ops("traced")
        spans = {s.span_id: s for s in self.tracer.spans}
        below = descendants(self.tracer.spans)
        selfs = self_times(self.tracer.spans)
        n = max(units, 1)
        out: dict[str, float] = {}
        for name, kinds in layers.items():
            acc = dict.fromkeys(("calls", "s", "self_s", "jobs", "output_bytes"), 0.0)
            for op in ops:
                for sid in op.span_ids:
                    s = spans[sid]
                    if s.name != name:
                        continue
                    acc["calls"] += 1
                    acc["s"] += s.duration
                    acc["self_s"] += selfs[sid]
                    for d in below[sid]:
                        acc["jobs"] += spans[d].counters["jobs"]
                        acc["output_bytes"] += spans[d].counters["output_bytes"]
            for k in kinds:
                out[f"{name}.{k}"] = acc[k] / n
        for k in COUNTERS:
            out[f"spark.{k}"] = sum(o.counters[k] for o in ops) / n
        # Jobs started before the action: everything under a span that
        # declares a plan, including eager work it calls.
        building = {d for s in spans.values() if s.builds_plan for d in below[s.span_id]}
        out["spark.build_jobs"] = sum(
            spans[s].counters["jobs"] for o in ops for s in o.span_ids if s in building
        ) / n
        out["spark.driver_only_s"] = sum(o.driver_only_s for o in ops) / n
        if "sources.catalog.write_graph.output_bytes" in out:
            in_bytes = sum(o.extra.get("in_bytes", 0) for o in ops)
            out["sources.catalog.write_graph.files"] = sum(o.extra.get("files", 0) for o in ops) / n
            out["sources.catalog.write_graph.bytes_per_input_byte"] = (
                out["sources.catalog.write_graph.output_bytes"] * n / in_bytes if in_bytes else 0.0
            )
        out["trace.overhead_s"] = overhead_s
        out["trace.extra_jobs"] = float(
            sum(o.jobs for o in self.timed_ops("traced")) - sum(o.jobs for o in self.timed_ops("plain"))
        )
        attempted, failed = self.counts()
        out["error_rate"] = failed / attempted
        for k, v in self.setup.items():
            out[f"setup.{k}"] = v
        return out

    def check_trace_jobs(self) -> None:
        """Tracing must add no Spark jobs: each traced op ran exactly as many
        jobs as the same op in the untraced pass.

        Ops whose untraced job count does not repeat are left out.  An add
        is one: adaptive execution submits one query-stage job more or
        fewer between identical untraced adds (51 or 52 at sf0.1).  So is a
        pipeline row whose warm-up and timed runs already differ (the number
        of micro-batches a streaming row runs depends on timing).  Their
        difference is still reported in ``trace.extra_jobs``."""
        warm = {o.extra["key"]: o.jobs for o in self.timed_ops("warmup") if "key" in o.extra}
        for a, b in zip(self.timed_ops("plain"), self.timed_ops("traced")):
            if a.kind == "add" or warm.get(a.extra.get("key"), a.jobs) != a.jobs:
                continue
            self.checks += 1
            if a.jobs != b.jobs:
                self.checks_failed.append(
                    f"traced {b.kind} op {b.op_id} ran {b.jobs} jobs, untraced op {a.op_id} ran {a.jobs}"
                )

    def replay_traced(self, targets, replay) -> None:
        """Run ``replay()`` (the timed ops once more) with the library layers
        traced, then check that tracing added no jobs."""
        self.tracer.enabled = True
        self.tracer.install(targets)
        try:
            replay()
        finally:
            self.tracer.uninstall()
            self.tracer.enabled = False
        self.check_trace_jobs()

    def overhead(self, kind: str) -> float:
        """Tracing overhead: traced minus untraced median latency.  The
        traced pass runs after the untraced one on a warmer JVM, so a value
        below zero means the overhead is smaller than that warm-up gain."""
        return median([o.latency for o in self.timed_ops("traced", kind)]) - median(
            [o.latency for o in self.timed_ops("plain", kind)]
        )

    def measure(self, block) -> None:
        """Call ``block()`` (one block of ops) until ``seconds`` have passed."""
        t0 = time.perf_counter()
        while True:
            block()
            if time.perf_counter() - t0 >= self.seconds:
                return


# -- graph workloads ----------------------------------------------------------


class GraphService:
    """The standing sf graph in a per-run catalog, served by the Flask app
    through its in-process test client."""

    def __init__(self, bench: Bench):
        from vector_graph_rag_spark.api.app import create_app
        from vector_graph_rag_spark.graph.builder import build_graph, synthetic_triplet_docs
        from vector_graph_rag_spark.sources.catalog import GraphCatalog
        from vector_graph_rag_spark.sources.tables import load_table

        self.bench = bench
        root = os.path.join(bench.run_dir, "graphs")
        self.graph_dir = os.path.join(root, GRAPH)
        t0 = time.perf_counter()
        docs = synthetic_triplet_docs(load_table(bench.spark, bench.sf_dir, "documents"))
        GraphCatalog(root).write_graph(GRAPH, build_graph(docs))
        bench.setup["graph_build_s"] = time.perf_counter() - t0
        self.client = create_app(bench.spark, catalog_root=root).test_client()
        con = duckdb.connect()
        try:
            self.documents = con.execute(
                "SELECT doc_id, text, source FROM read_parquet(?) ORDER BY doc_id",
                [os.path.join(bench.sf_dir, "documents.parquet")],
            ).df()
            self.entity_names = [
                r[0] for r in con.execute(
                    "SELECT name FROM read_parquet(?)",
                    [os.path.join(self.graph_dir, "entities.parquet", "*.parquet")],
                ).fetchall()
            ]
        finally:
            con.close()
        self.twin = QueryTwin(self.graph_dir)

    def warm_up(self, shapes) -> None:
        t0 = time.perf_counter()
        for request in inputs.warmup_queries(self.bench.seed, self.entity_names, shapes):
            self.query_op(request, "warmup")
        self.bench.setup["warmup_s"] = time.perf_counter() - t0

    def post(self, route: str, body: dict) -> dict:
        with self.bench.tracer.span("api" + route.replace("/", ".")):
            resp = self.client.post(route, json={"graph_name": GRAPH, **body})
        if resp.status_code != 200:
            raise OpFailed(f"{route} returned {resp.status_code}: {resp.get_data(as_text=True)[:200]}")
        return resp.get_json()

    def query_op(self, request: dict, phase: str, kind: str = "query") -> Op:
        payload, op = self.bench.run_op(kind, phase, lambda: self.post("/query", request))
        if op.error is None:
            reason = self.twin.check(request, payload)
            if reason:
                self.bench.fail(op, reason)
        return op

    def check_graph(self, documents) -> None:
        self.bench.checks += 1
        bad = graph_mismatches(self.graph_dir, documents)
        if bad:
            self.bench.checks_failed.append(f"graph tables differ from a full build: {bad}")


def graphrag_query(bench: Bench) -> dict:
    svc = GraphService(bench)
    # A degree-2 request with history runs a plain request's plan, both
    # expansion hops and the history collects, so it warms every path a
    # block takes.  The JIT goes on compiling over the next requests (the
    # first one after it ran 2.6-2.8 s at sf0.1 on 4 cores, later plain
    # ones 1.7-2.2 s), so two plain requests follow it.
    svc.warm_up([(2, True), (1, False), (1, False)])
    blocks = inputs.query_blocks(bench.seed, svc.entity_names)
    sent: list[dict] = []

    def block():
        for request in next(blocks):
            sent.append(request)
            svc.query_op(request, "plain")

    bench.measure(block)
    if bench.traced:
        bench.replay_traced(GRAPH_TARGETS, lambda: [svc.query_op(r, "traced") for r in sent])
    svc.check_graph(svc.documents)
    svc.twin.close()

    queries = bench.timed_ops("plain", "query")
    lat = [o.latency for o in queries]
    summary = {
        "query_p50_s": median(lat),
        "query_rps": len(lat) / sum(lat),
        "query_jobs": mean([o.jobs for o in queries]),
        "queries": len(lat),
    }
    tail = tail_percentile(lat)
    if tail:
        summary[f"query_p{tail[0]:g}_s"] = tail[1]
    layers = None
    if bench.traced:
        layers = bench.layer_metrics(GRAPH_LAYERS, len(sent), bench.overhead("query"))
    return {
        "summary": summary,
        "end_to_end": {
            "op_p50_s": summary["query_p50_s"],
            "jobs_per_op": summary["query_jobs"],
        },
        "layers": layers,
    }


def graph_ingest(bench: Bench) -> dict:
    svc = GraphService(bench)
    docs = svc.documents
    content = {int(d): (t, s) for d, t, s in zip(docs.doc_id, docs.text, docs.source)}
    batches = inputs.ingest_batches(bench.seed, list(content))
    applied: list[list[tuple[int, int]]] = []

    def ingest(pairs, phase: str) -> None:
        op_index = len(bench.ops)
        new = {t: content[d] for t, d in pairs}
        body = [{"doc_id": str(t), "text": text, "source": src} for t, (text, src) in new.items()]
        stats, op = bench.run_op("add", phase, lambda: svc.post("/add_documents", {"documents": body}))
        if op.error is None:
            content.update(new)
            want = {"passages": len(content), "entities": len(svc.entity_names)}
            got = {k: stats.get(k) for k in want}
            if got != want:
                bench.fail(op, f"graph stats {got} after add, expected {want}")
        op.extra["files"] = sum(
            f.startswith("part-") for _, _, files in os.walk(svc.graph_dir) for f in files
        )
        op.extra["in_bytes"] = sum(len(d["text"].encode()) for d in body)
        texts = [content[t][0] for t, _ in pairs]
        sources = [content[t][1] for t, _ in pairs]
        svc.query_op(inputs.readback_query(bench.seed, op_index, texts, sources), phase, "readback")

    # One untimed add with its read-back query: the first add of a session
    # runs cold (measured at sf0.1 on 4 cores: 12-17 s, then 9-12 s for the
    # second), and a timed cold add would make a run's median depend on how
    # many adds fit in it.
    t0 = time.perf_counter()
    ingest(next(batches), "warmup")
    bench.setup["warmup_s"] = time.perf_counter() - t0

    def block():
        pairs = next(batches)
        applied.append(pairs)
        ingest(pairs, "plain")

    bench.measure(block)
    if bench.traced:
        bench.replay_traced(GRAPH_TARGETS, lambda: [ingest(p, "traced") for p in applied])
    final = docs.assign(
        text=[content[int(d)][0] for d in docs.doc_id],
        source=[content[int(d)][1] for d in docs.doc_id],
    )
    svc.check_graph(final)
    svc.twin.close()

    adds = bench.timed_ops("plain", "add")
    reads = bench.timed_ops("plain", "readback")
    busy = sum(o.latency for o in adds + reads)
    summary = {
        "ingest_docs_per_s": inputs.INGEST_BATCH * len(adds) / busy,
        "ingest_p50_s": median([o.latency for o in adds]),
        "raw_query_p50_s": median([o.latency for o in reads]),
        "ingest_jobs": mean([o.jobs for o in adds]),
        "adds": len(adds),
    }
    layers = None
    if bench.traced:
        layers = bench.layer_metrics(GRAPH_LAYERS, len(applied), bench.overhead("add"))
    return {
        "summary": summary,
        "end_to_end": {
            "op_p50_s": summary["ingest_p50_s"],
            "jobs_per_op": summary["ingest_jobs"],
        },
        "layers": layers,
    }


# -- registered queries -------------------------------------------------------


def pipeline_batch(bench: Bench) -> dict:
    """Each registered row of ``inputs.PIPELINE_ROWS`` built with
    ``q.fn(spark, sf)`` and run with the noop-write action and an
    ``Observation`` row count, as ``bench.py`` times them.  One untimed pass
    absorbs the cold start; a pass is one unit of work."""
    import gc

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from vector_graph_rag_spark.queries import load_all
    from vector_graph_rag_spark.testing import compare_query

    registry = load_all(include_retired=True)
    order = inputs.pipeline_order(bench.seed)
    tracer = bench.tracer

    def row(name: str, phase: str) -> Op:
        def build_and_run():
            with tracer.span(f"queries.{name}.build", builds_plan=True):
                df = registry[name].fn(bench.spark, bench.sf_dir)
            with tracer.span(f"queries.{name}.action"):
                obs = Observation(f"rows_{name}")
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
                return obs.get["n"]

        _, op = bench.run_op("row", phase, build_and_run)
        op.extra["key"] = name
        # Release the checkpoint blocks eager rows leave behind, as bench.py
        # does between rows, so no row pays for another's garbage.
        gc.collect()
        bench.spark.sparkContext._jvm.System.gc()
        return op

    def one_pass(phase: str) -> float:
        return sum(row(name, phase).latency for name in order)

    t0 = time.perf_counter()
    one_pass("warmup")
    bench.setup["warmup_s"] = time.perf_counter() - t0
    passes: list[float] = []
    bench.measure(lambda: passes.append(one_pass("plain")))
    traced_passes: list[float] = []
    if bench.traced:
        bench.replay_traced(
            PIPELINE_TARGETS, lambda: [traced_passes.append(one_pass("traced")) for _ in passes]
        )
    for name in order:
        bench.checks += 1
        res = compare_query(bench.spark, name, bench.sf_dir)
        if res["status"] not in ("ok", "rows_only"):
            bench.checks_failed.append(f"{name}: {res}")

    rows = bench.timed_ops("plain", "row")
    summary = {
        "batch_s": median(passes),
        "batch_jobs": sum(o.jobs for o in rows) / len(passes),
        "passes": len(passes),
    }
    layers = None
    if bench.traced:
        per_row = {f"queries.{name}.{part}": ("s", "jobs") for name in order for part in ("build", "action")}
        layers = bench.layer_metrics(
            {**PIPELINE_LAYERS, **per_row}, len(traced_passes), median(traced_passes) - median(passes)
        )
    return {
        "summary": summary,
        "end_to_end": {
            "op_p50_s": summary["batch_s"],
            "jobs_per_op": summary["batch_jobs"],
        },
        "layers": layers,
    }


WORKLOADS = {
    "graphrag_query": graphrag_query,
    "graph_ingest": graph_ingest,
    "pipeline_batch": pipeline_batch,
}
