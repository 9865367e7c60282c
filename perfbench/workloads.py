"""The benchmark's workloads, each driving only the engine's public
functions: ``ingest`` (a fresh ingest job's first composed-stream
micro-batch) and ``serve`` (one closed-loop client of the query tools over
a graph a ``run_pipeline`` scan stored).

Every workload runs the same phases:

1. set-up: the session start, then the workload's input files, generated
   SETUP_REPEATS times (median taken), then any engine work that stores the
   graph the timed section starts from; setup_s is their sum;
2. the timed section;
3. output checks; each op and each check counts as one attempted operation.

A traced run (``--trace 1``) times the workload's op as usual, then runs it
again on identical inputs with spans around the engine's layer functions,
checks that both produce the same outputs and reports per-layer metrics.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from collections import Counter

import pyspark.sql.functions as F

import gen
import spans as tr

from glasseenterprise_mcp_spark import pipeline as pipeline_mod
from glasseenterprise_mcp_spark.operators import graph as graph_mod
from glasseenterprise_mcp_spark.operators.materialize import GraphSink
from glasseenterprise_mcp_spark.pipeline import run_pipeline
from glasseenterprise_mcp_spark.plans.query_router import QueryRouter
from glasseenterprise_mcp_spark.streaming import incremental as incremental_mod

SNAP = "bench"
SETUP_REPEATS = 3
# One replica stores ~25k edges, ~50k undirected: under bfs_expand's 100k
# driver threshold, so every impact takes the driver-side BFS path. Three
# replicas would take the distributed path, at about 6 s more per impact
# and per run than the benchmark's time budget allows.
SERVE_REPLICAS = 1
SERVE_CYCLES = 40  # request-script length in cycles (more than a run uses)
MIN_CYCLES = 2  # timed serve cycles at least

# layer functions each workload's engine entry point calls, by span name
PIPELINE_LAYERS = {
    "extract_mentions": "extract",
    "mentions_in_edges": "link.mentions_in",
    "replies_to_edges": "link.replies_to",
    "calls_tool_edges": "link.calls_tool",
    "refers_to_edges": "link.refers_to",
    "connected_components": "canonicalize",
    "build_edges": "materialize.edges",
    "build_nodes_with_attrs": "materialize.nodes",
}
INCREMENTAL_LAYERS = {
    "extract_mentions": "extract",
    "mentions_in_edges": "link.mentions_in",
    "replies_to_edges": "link.replies_to",
    "calls_tool_edges": "link.calls_tool",
    "refers_to_edges": "link.refers_to",
    "build_edges": "materialize.edges",
    "build_nodes": "materialize.nodes",
}
ROUTER_TEMPLATES = (
    "sql_passthrough",
    "count_by_type",
    "replies_chain",
    "impact_of_turn",
)


class Run:
    """One benchmark invocation: session, scratch space, op accounting."""

    def __init__(self, spark, seed: int, seconds: float, trace: bool, work: str, nproc: int,
                 oracle: "Oracle", session_s: float):
        self.spark = spark
        self.session_s = session_s  # set-up's session start
        self.oracle = oracle
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.nproc = nproc
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, tuple[float, str]] = {}
        self._t0 = time.perf_counter()

    def log(self, phase: str) -> None:
        print(f"  {time.perf_counter() - self._t0:7.2f}s {phase}", file=sys.stderr)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"FAILED: {what}", file=sys.stderr)
        return ok

    def attempt(self, what: str, fn):
        """Run one op; an exception counts as a failed op, returns None."""
        try:
            return fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.record(False, f"{what} raised")
            return None

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)


# --------------------------------------------------------------------------
# shared phases
# --------------------------------------------------------------------------
def _oracle_triples(docs_dir: str) -> set[tuple[str, str, str]]:
    import duckdb

    import __spark_entry__ as E

    con = duckdb.connect()
    try:
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{docs_dir}/documents.parquet'")
        return set(con.sql(E.oracle_sql()["pipeline_all_triples"]).fetchall())
    finally:
        con.close()


def _hex_triples(edges) -> set[tuple[str, str, str]]:
    rows = edges.select(
        F.lower(F.hex("subj")), "pred", F.lower(F.hex("obj"))
    ).collect()
    return {tuple(r) for r in rows}


def pred_counts(edges) -> dict[str, int]:
    return {r[0]: r[1] for r in edges.groupBy("pred").count().collect()}


def replica_counts(base: dict[str, int], replicas: int) -> dict[str, int]:
    """Per-predicate triple counts of ``replicas`` copies of a corpus: every
    family scales with the copies except ``refers-to``, whose edges link
    distinct url/endpoint resources that every copy shares."""
    return {p: n if p == "refers-to" else n * replicas for p, n in base.items()}


def graph_digest(sink: GraphSink) -> tuple[int, int]:
    """Order-independent digest of the stored triple set: (count, sum of
    per-triple 64-bit hashes)."""
    r = sink.read("edges").agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64("subj", "pred", "obj").cast("decimal(38,0)")),
    ).collect()[0]
    return int(r[0]), int(r[1] or 0)


class Oracle:
    """The DuckDB oracle ``pipeline_all_triples`` over the run's one-replica
    documents, computed on a thread from construction on. An oracle failure yields an empty triple set, which fails every
    check built on it."""

    def __init__(self, seed: int, work: str):
        self.docs = gen.write_documents(seed, os.path.join(work, "docs"))
        self._out: dict = {}
        self._thread = threading.Thread(target=self._compute)
        self._thread.start()

    def _compute(self) -> None:
        try:
            self._out["triples"] = _oracle_triples(self.docs)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self._out["triples"] = set()

    def triples(self) -> set[tuple[str, str, str]]:
        self._thread.join()
        return self._out["triples"]

    def pred_counts(self) -> dict[str, int]:
        return dict(Counter(p for _, p, _ in self.triples()))


def generate_inputs(generate) -> float:
    """Set-up's generation step: ``generate(k)`` writes the k-th copy of the
    workload's input files; returns the median time of SETUP_REPEATS."""
    gen_s = []
    for k in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        generate(k)
        gen_s.append(time.perf_counter() - t0)
    return statistics.median(gen_s)


def scan(run: Run, corpus: str, sink: GraphSink) -> None:
    """The ``kg_tool scan`` path: ``run_pipeline`` over a corpus directory
    into ``sink``."""
    run_pipeline(run.spark, run.spark.read.parquet(corpus), sink=sink, snapshot_version=SNAP)


def traced(run: Run, op, counter_groups=lambda: ()):
    """Run ``op()`` with host sampling and Spark job counting; returns
    (op result, wall seconds, spark counts, busy share, peak RSS MB).
    ``counter_groups()`` names job groups created during the op."""
    counter = tr.SparkCounter(run.spark.sparkContext)
    before = counter.job_ids()
    host = tr.HostSampler(run.nproc).start()
    t0 = time.perf_counter()
    try:
        out = op()
    finally:
        wall = time.perf_counter() - t0
        busy, peak = host.stop()
    jobs = counter.job_ids(counter_groups()) - before
    return out, wall, counter.summarize(jobs), busy, peak


def emit_layers(run: Run, tracer: tr.Tracer, wall: float, overhead: float,
                spark_counts: dict, busy: float, peak_mb: float, extra: dict) -> None:
    """Every per-layer metric, on every workload: a layer the workload does
    not run reads 0. Layer times are the summed seconds of the layer's spans
    in the traced op (spans of concurrent upserts overlap in time)."""
    s = tracer.total
    m = run.metric
    m("trace.wall_s", wall, "s")
    m("trace.overhead", overhead, "ratio")
    m("busy_cores", busy, "share")
    m("peak_rss_mb", peak_mb, "MB")
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        m(f"spark.{k}", spark_counts[k], "count")
    m("pipeline_s", s("pipeline"), "s")
    m("pipeline.self_s", tracer.self_time("pipeline"), "s")
    m("streaming_s", s("streaming"), "s")
    m("sources.read_s", s("sources.read"), "s")
    m("extract_s", s("extract"), "s")
    m("extract.cache_s", s("extract.cache"), "s")
    m("extract.rows_out", tracer.counts["extract.rows"], "count")
    for fam in ("mentions_in", "replies_to", "calls_tool", "refers_to"):
        m(f"link.{fam}_s", s(f"link.{fam}"), "s")
        m(f"link.{fam}.rows", tracer.counts[f"link.{fam}.rows"], "count")
    m("canonicalize_s", s("canonicalize"), "s")
    for part in ("edges", "nodes"):
        m(f"materialize.{part}_s", s(f"materialize.{part}"), "s")
    for table in ("nodes", "edges", "metrics", "link_registry", "components"):
        m(f"materialize.upsert_{table}_s", s(f"materialize.upsert_{table}"), "s")
    m("materialize.read_s", s("materialize.read"), "s")
    for k in ("bytes_written", "files_written", "edge_write_tasks"):
        m(f"materialize.{k}", tracer.counts[f"materialize.{k}"], "bytes" if k.startswith("bytes") else "count")
    m("materialize.write_amplification", extra.get("write_amplification", 0.0), "ratio")
    m("graph.impact_s", s("graph.impact"), "s")
    impacts = len(tracer.durations("graph.impact"))
    m("graph.impact_jobs", extra.get("impact_jobs", 0) / max(impacts, 1), "count")
    m("query_router.route_s", s("query_router.route"), "s")
    for t in ROUTER_TEMPLATES:
        m(f"query_router.{t}_s", s(f"query_router.{t}"), "s")
    m("learn_s", s("learn"), "s")


# --------------------------------------------------------------------------
# ingest: a fresh ingest job's first micro-batch
# --------------------------------------------------------------------------
def ingest(run: Run) -> None:
    """A fresh ingest job: the composed stream (``run_composed_stream``)
    starts over one source file of BASE_DOCS turns, and its first
    micro-batch extracts, links and upserts them into an empty graph. The op
    is that batch, from stream start to commit. It is the run's first engine
    work, so it includes the engine's cold start (JIT, codegen, Python
    workers), which every new ingest job pays. The stored triple set must
    hash-equal the DuckDB oracle's."""
    spark = run.spark
    src = run.path(f"src{SETUP_REPEATS - 1}")

    def generate(k):
        t = gen.transcripts_table(gen.write_documents(run.seed, run.path(f"docs{k}")))
        gen.write_corpus(t, 1, run.path(f"src{k}"), 1)

    gen_s = generate_inputs(generate)
    run.log("inputs written")

    def one_batch(name: str, sink: GraphSink, tracer=None, on_start=None) -> float:
        """Start the stream over ``src`` with a one-hour processing-time
        trigger, wait until its first micro-batch has committed and stop it
        while it waits for the next trigger. Checks the batch's row count;
        returns the wall from start to commit."""
        span = tracer.span if tracer else (lambda _n: _null())
        rows: list[int] = []
        t0 = time.perf_counter()
        with span("streaming"):
            q = incremental_mod.run_composed_stream(
                spark, src, sink, run.path(f"ckpt_{name}"), SNAP,
                available_now=False, processing_time="1 hour",
                post_batch_hook=lambda _bid, n: rows.append(n),
            )
            if on_start is not None:
                on_start(q)
            try:
                while q.isActive and q.lastProgress is None:
                    time.sleep(0.01)
                wall = time.perf_counter() - t0
                if q.exception() is not None:
                    raise RuntimeError(f"stream {name} failed: {q.exception()}")
            finally:
                q.stop()
        run.record(rows == [gen.BASE_DOCS], f"{name}: one micro-batch, turns processed equal turns fed")
        return wall

    graph = GraphSink(spark, run.path("graph"))
    run.oracle.triples()  # the oracle's DuckDB work must not land in the op's CPU
    cpu0 = tr.tree_cpu()
    op_s = run.attempt("ingest batch", lambda: one_batch("cold", graph))
    if op_s is None:
        return
    op_cpu = tr.tree_cpu() - cpu0
    run.log(f"ingest batch done in {op_s:.2f}s, {op_cpu:.1f} CPU s")
    run.record(_hex_triples(graph.read("edges")) == run.oracle.triples(),
               "the batch stores the DuckDB oracle's triple set")
    if not run.trace:
        run.metric("setup_s", run.session_s + gen_s, "s")
        run.metric("op_cpu_s", op_cpu, "s")
        run.metric("items_per_cpu_s", gen.BASE_DOCS / op_cpu, "1/s")
        return

    # The traced op repeats the batch, now warm, into a fresh graph; an
    # untraced warm repeat before it is the base of the tracing overhead.
    warm_s = run.attempt("warm batch", lambda: one_batch("warm", GraphSink(spark, run.path("warm"))))
    if warm_s is None:
        return
    tracer = tr.Tracer()
    sink = tr.TracedSink(spark, run.path("traced"), tracer)
    groups: list[str] = []

    def op():
        with tr.patch_layers(tracer, incremental_mod, INCREMENTAL_LAYERS), \
                tr.patch_layers(tracer, incremental_mod,
                                {"incremental_components": "canonicalize"}, materialize=False):
            return one_batch("traced", sink, tracer=tracer,
                             on_start=lambda q: groups.append(str(q.runId)))

    traced_s, wall, counts, busy, peak = traced(
        run, lambda: run.attempt("traced batch", op), lambda: groups + sink.groups)
    if traced_s is None:
        return
    run.record(graph_digest(sink) == graph_digest(graph),
               "the traced batch stores the same triples as the untraced one")
    emit_layers(run, tracer, wall, traced_s / warm_s - 1.0, counts, busy, peak, {
        "write_amplification": (tracer.counts["materialize.bytes_written"]
                                / max(tr.dir_bytes(sink.base_dir), 1)),
    })


# --------------------------------------------------------------------------
# serve: one closed-loop client calling the query tools on a stored graph
# --------------------------------------------------------------------------
def serve(run: Run) -> None:
    """Set-up scans a SERVE_REPLICAS-replica corpus into the stored graph
    (the run's first, cold, Spark work). The timed section then issues the
    seeded request script one request at a time, in whole cycles of
    REQUEST_CYCLE, until ``--seconds`` have passed and at least
    MIN_CYCLES cycles have run."""
    spark = run.spark
    oracle = run.oracle
    graph = run.path("graph")
    corpus = run.path(f"corpus{SETUP_REPEATS - 1}")
    script = run.path("requests.parquet")

    def generate(k):
        t = gen.transcripts_table(gen.write_documents(run.seed, run.path(f"docs{k}")))
        gen.write_corpus(t, SERVE_REPLICAS, run.path(f"corpus{k}"), run.nproc)
        gen.write_requests(gen.request_script(run.seed, SERVE_REPLICAS, SERVE_CYCLES), script)

    gen_s = generate_inputs(generate)
    t0 = time.perf_counter()
    scan(run, corpus, GraphSink(spark, graph))
    run.metric("setup_s", run.session_s + gen_s + time.perf_counter() - t0, "s")
    run.log("graph stored")
    expected = replica_counts(oracle.pred_counts(), SERVE_REPLICAS)
    stored = GraphSink(spark, graph)
    n_nodes = stored.read("nodes").count()
    run.record(pred_counts(stored.read("edges")) == expected,
               "stored graph's per-predicate counts follow the replica rule")
    requests = gen.read_requests(script)
    cycle = len(gen.REQUEST_CYCLE)

    def handle(sink: GraphSink, kind: str, prompt: str, tracer=None):
        """One tool call as ``jobs/kg_tool.py`` makes it: open the stored
        tables, build the router, run the request. Returns (check, rows)."""
        span = tracer.span if tracer else (lambda _n: _null())
        nodes, edges = sink.read("nodes"), sink.read("edges")
        if kind == "learn":
            with span("learn"):
                by_type = nodes.groupBy("type").count().collect()
                by_pred = edges.groupBy("pred").count().collect()
            ok = (sum(r[1] for r in by_type) == n_nodes
                  and {r[0]: r[1] for r in by_pred} == expected)
            return ok, sorted(map(tuple, by_type + by_pred))
        router = QueryRouter(spark, nodes, edges)
        with span("query_router.route"):
            routed = router.route(prompt)
        with span(f"query_router.{routed.template}"):
            rows = routed.df.collect()
        want = "sql_passthrough" if kind == "sql_pred_counts" else kind
        if routed.template != want:
            ok = False
        elif kind == "count_by_type":
            ok = sum(r.n for r in rows) == n_nodes
        elif kind == "sql_pred_counts":
            ok = {r.pred: r.n for r in rows} == expected
        elif kind == "replies_chain":
            ok = len(rows) == gen.TURNS_PER_CONV - 1
        elif kind == "impact_of_turn":
            ok = any(r.type == "turn" and r.min_dist == 0 for r in rows)
        else:
            ok = True
        return ok, sorted(map(tuple, rows))

    def call(i: int, kind: str, prompt: str, sink: GraphSink, tracer=None, results=None):
        """One timed request; returns its (latency, CPU seconds), None if
        it raised."""
        cpu0 = tr.tree_cpu()
        t0 = time.perf_counter()
        out = run.attempt(f"request {i} ({kind})", lambda: handle(sink, kind, prompt, tracer))
        if out is None:
            return None
        dt = time.perf_counter() - t0
        cpu = tr.tree_cpu() - cpu0
        run.record(out[0], f"request {i} ({kind}: {prompt!r}) checks")
        if results is not None:
            results.append(out[1])
        return dt, cpu

    def cycle_requests(n: int):
        start = n * cycle % len(requests)
        return requests[start:start + cycle]

    if not run.trace:
        lookups: list[tuple[float, float]] = []
        done = 0
        t0 = time.perf_counter()
        cpu0 = tr.tree_cpu()
        n = 0
        while n < MIN_CYCLES or time.perf_counter() - t0 < run.seconds:
            for kind, prompt in cycle_requests(n):
                out = call(done, kind, prompt, stored)
                done += 1
                if out is not None and kind != "impact_of_turn":
                    lookups.append(out)
            n += 1
        wall = time.perf_counter() - t0
        cpu = tr.tree_cpu() - cpu0
        run.log(f"{n} timed cycles done: {done / wall:.3f} requests/s, median lookup "
                f"{statistics.median(dt for dt, _ in lookups or [(0, 0)]):.3f}s")
        if lookups:
            # a mean, not a median: the JIT's background compiling lands on
            # whichever request runs, and only the sum over requests is steady
            run.metric("op_cpu_s", statistics.fmean(c for _, c in lookups), "s")
        run.metric("items_per_cpu_s", done / cpu, "1/s")
        return

    # traced: cycle 0 plans and compiles every request kind once, cycle 1
    # is the untraced base of the tracing overhead
    for i, (kind, prompt) in enumerate(cycle_requests(0)):
        call(-1 - i, kind, prompt, stored)
    run.log("warm-up cycle done")
    plain_rows: list = []
    t0 = time.perf_counter()
    for i, (kind, prompt) in enumerate(cycle_requests(1)):
        call(i, kind, prompt, stored, results=plain_rows)
    untraced_wall = time.perf_counter() - t0
    tracer = tr.Tracer()
    sink = tr.TracedSink(spark, graph, tracer)
    scan_sink = tr.TracedSink(spark, run.path("scan_traced"), tracer)
    counter = tr.SparkCounter(spark.sparkContext)
    impact_jobs = [0]
    graph_impact = graph_mod.impact

    def impact(*args, **kwargs):
        before = counter.job_ids()
        with tracer.span("graph.impact"):
            out = graph_impact(*args, **kwargs).localCheckpoint(eager=True)
        impact_jobs[0] += len(counter.job_ids() - before)
        return out

    traced_rows: list = []

    def op():
        # the set-up scan once more, traced, into a fresh sink
        with tr.patch_layers(tracer, pipeline_mod, PIPELINE_LAYERS):
            with tracer.span("pipeline"):
                scan(run, corpus, scan_sink)
        t0 = time.perf_counter()
        # the router imports ``impact`` from the graph module at call time
        graph_mod.impact = impact
        try:
            for i, (kind, prompt) in enumerate(cycle_requests(1)):
                call(i, kind, prompt, sink, tracer, results=traced_rows)
        finally:
            graph_mod.impact = graph_impact
        return time.perf_counter() - t0

    cycle_s, wall, counts, busy, peak = traced(run, op, lambda: scan_sink.groups)
    run.record(graph_digest(scan_sink) == graph_digest(stored),
               "the traced scan stores the same triples as the untraced one")
    run.record(traced_rows == plain_rows,
               "traced requests return the same rows as the untraced requests")
    emit_layers(run, tracer, wall, cycle_s / untraced_wall - 1.0, counts, busy, peak, {
        "write_amplification": (tracer.counts["materialize.bytes_written"]
                                / max(tr.dir_bytes(scan_sink.base_dir), 1)),
        "impact_jobs": impact_jobs[0],
    })


class _null:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


WORKLOADS = {"ingest": ingest, "serve": serve}
