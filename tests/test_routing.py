"""Every driver-or-distributed size gate, down both paths.

Each case runs once with ``route.DRIVER_ROWS`` as shipped (dim-sized
fixtures take the driver path) and once with every gate at 0 (always the
distributed path); the two runs must return identical rows. Fixtures:
normal, empty, NULL-bearing and skewed (one hub vertex / one hub vector),
plus a ragged PQ codebook for ``pq_topk``. Also holds the lint that keeps
every size probe inside ``route.py``.
"""

from __future__ import annotations

import ast
import gc
import pathlib

import pyspark.sql.functions as F
import pytest

from glasseenterprise_mcp_spark.functions import route
from glasseenterprise_mcp_spark.operators import graph as G
from glasseenterprise_mcp_spark.operators.canonicalize import connected_components
from glasseenterprise_mcp_spark.operators.link import refers_to_edges
from glasseenterprise_mcp_spark.operators.similarity import (
    DIM,
    PQ_M,
    brute_force_topk,
    ivf_topk,
    lsh_topk,
    pq_codebooks,
    pq_topk,
    quantized,
    refined_centroids,
)

from .conftest import SF_SMALL

FIXTURES = ("normal", "empty", "nulls", "skewed")

# --------------------------------------------------------------------------
# fixtures, built on the driver so every case is deterministic
# --------------------------------------------------------------------------
_GRAPH = [
    ("a", "b"), ("b", "c"), ("c", "a"),  # 3-cycle SCC
    ("c", "d"), ("d", "e"), ("e", "d"),  # 2-cycle SCC
    ("e", "f"),                          # dangling f
    ("g", "a"), ("h", "g"), ("b", "h"),
    ("i", "j"),                          # separate pair
]


def _graph_rows(kind: str) -> list:
    if kind == "normal":
        return _GRAPH
    if kind == "empty":
        return []
    if kind == "nulls":
        return _GRAPH + [("a", None), (None, "b"), (None, None)]
    # one hub with 30 spokes, every third spoke pointing back
    return (
        [("hub", f"s{i:02d}") for i in range(30)]
        + [(f"s{i:02d}", "hub") for i in range(0, 30, 3)]
        + [("s01", "s02"), ("x", "y")]
    )


def _graph(spark, kind: str):
    return spark.createDataFrame(_graph_rows(kind), "subj string, obj string")


def _seeds(spark, kind: str):
    rows = [("a",), ("hub",), ("i",), ("x",)]
    return spark.createDataFrame(
        rows + [(None,)] if kind == "nulls" else rows, "id string"
    )


def _node_rows(kind: str) -> list:
    """``impact``'s node rows: every vertex except ``i`` and ``x`` (seeds
    with edges but no node row), typed by the last letter of the id with
    NULL among the types, one duplicate row, and the isolated seed
    ``iso``; the NULL fixture adds a row with a NULL id."""
    if kind == "empty":
        return []
    ids = sorted({v for e in _graph_rows(kind) for v in e if v is not None} - {"i", "x"})
    types = ("turn", "entity", None)
    rows = [(v, types[ord(v[-1]) % 3]) for v in ids]
    rows += [rows[0], ("iso", "tool")]
    return rows + [(None, "entity")] if kind == "nulls" else rows


def _impact(spark, kind: str):
    seeds = _seeds(spark, kind).union(spark.createDataFrame([("iso",)], "id string"))
    nodes = spark.createDataFrame(_node_rows(kind), "id string, type string")
    return G.impact(_graph(spark, kind), nodes, seeds, depth=2)


def _weighted(spark, kind: str):
    return _graph(spark, kind).select(
        F.col("subj").alias("src"),
        F.col("obj").alias("dst"),
        (F.length("subj") + F.length("obj")).cast("long").alias("w"),
    )


_MENTION_SCHEMA = (
    "conv_id string, turn_idx int, mtype string, surface string, "
    "norm string, path string, method string"
)
_REGISTRY = [
    # (mtype, norm, path, method): one match per refers tier + a blocked one
    ("url", "/r1", "/api/r1", None),
    ("endpoint", "/r1", "/api/r1", "GET"),
    ("url", "/r9", "/api/v1/r9", None),
    ("endpoint", "/r9", "/api/r9", "GET"),
    ("url", "/legacy/r7/extra", "/legacy/r7/extra", None),
    ("endpoint", "/r7/extra", "/api/r7/extra", "GET"),
    ("url", "/items/42/tags", "/api/items/42/tags", None),
    ("endpoint", "/items/{id}/tags", "/api/items/{id}/tags", "GET"),
    ("url", "/only/get", "/api/only/get", "POST"),
    ("endpoint", "/only/get", "/api/only/get", "GET"),
    ("url", "/nothing", "/nothing", None),
]


def _mentions(spark, kind: str):
    if kind == "normal":
        reg = _REGISTRY
    elif kind == "empty":
        reg = []
    elif kind == "nulls":
        reg = _REGISTRY + [
            ("url", None, None, None),
            ("url", "/r1", None, "GET"),
            ("url", None, "/api/r1", None),
            ("endpoint", None, None, "GET"),
            ("endpoint", "/r9", None, None),
            ("endpoint", None, "/api/{id}", "GET"),
        ]
    else:  # one hot provider that 40 consumers reach through every tier
        reg = [("endpoint", "/hot", "/api/hot", "GET")] + [
            (
                "url",
                "/hot" if i % 2 else f"/x{i}/hot",
                "/api/hot" if i % 3 == 0 else f"/svc{i}/hot",
                None,
            )
            for i in range(40)
        ]
    return spark.createDataFrame(
        [("c0", i, t, p, n, p, m) for i, (t, n, p, m) in enumerate(reg)],
        _MENTION_SCHEMA,
    )


@pytest.fixture(scope="module")
def base_vectors(spark):
    """The sf0.001 embeddings (500 vectors), as driver-side lists."""
    rows = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").collect()
    return [(r.vec_id, list(r.embedding), r.label) for r in rows]


def _embeddings(spark, base, kind: str):
    if kind == "normal":
        rows = base
    elif kind == "empty":
        rows = []
    elif kind == "nulls":  # NULL vectors, one of them a query (id % 50 = 0)
        rows = base + [(100_000, None, 0), (100_001, None, 1)]
    elif kind == "skewed":  # three in four vectors are the same hub vector
        hub = base[0][1]
        rows = [(v, hub if v % 4 else e, lab) for v, e, lab in base]
    else:  # ragged: subspace 0 identical everywhere → one code there
        head = base[0][1][: DIM // PQ_M]
        rows = [(v, head + e[DIM // PQ_M :], lab) for v, e, lab in base]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


# --------------------------------------------------------------------------
# the gated operators: name → (gates it routes through, fixture family, run)
# --------------------------------------------------------------------------


def _qf():
    return F.expr("vec_id % 50 = 0")


OPS = {
    "bfs": ({"bfs"}, "graph", lambda s, k: G.bfs_expand(_graph(s, k), _seeds(s, k), depth=3)),
    "impact": ({"bfs"}, "graph", _impact),
    "find_cycles": ({"find_cycles"}, "graph", lambda s, k: G.find_cycles(_graph(s, k), "subj", "obj", max_len=5)),
    "pagerank": ({"graph_loop"}, "graph", lambda s, k: G.pagerank(_graph(s, k))),
    "ppr": ({"graph_loop"}, "graph", lambda s, k: G.personalized_pagerank(_graph(s, k))),
    "hits": ({"graph_loop"}, "graph", lambda s, k: G.hits(_graph(s, k))),
    "lpa": ({"graph_loop"}, "graph", lambda s, k: G.label_propagation(_graph(s, k), "subj", "obj")),
    "kcore": ({"graph_loop"}, "graph", lambda s, k: G.kcore(_graph(s, k), k=2)),
    "harmonic": ({"graph_loop"}, "graph", lambda s, k: G.harmonic_centrality(_graph(s, k))),
    "sssp": ({"graph_loop"}, "graph", lambda s, k: G.shortest_paths(_weighted(s, k), _seeds(s, k))),
    "scc": ({"scc"}, "graph", lambda s, k: G.strongly_connected_components(_graph(s, k), "subj", "obj")),
    "cc": ({"cc"}, "graph", lambda s, k: connected_components(_graph(s, k), "subj", "obj")),
    "refers_to": ({"refers_to"}, "mentions", lambda s, k: refers_to_edges(_mentions(s, k))),
    "refined_centroids": ({"ivf_centroids"}, "vectors", lambda s, e: refined_centroids(quantized(e), n_refine=3)),
    "brute_force_topk": ({"ann_queries"}, "vectors", lambda s, e: brute_force_topk(e, _qf())),
    "lsh_topk": ({"ann_queries"}, "vectors", lambda s, e: lsh_topk(e, _qf())),
    "ivf_topk": ({"ann_queries", "ivf_centroids"}, "vectors", lambda s, e: ivf_topk(e, _qf())),
    "pq_topk": ({"ann_queries"}, "vectors", lambda s, e: pq_topk(e, _qf())),
}

CASES = [(op, kind) for op in OPS for kind in FIXTURES] + [("pq_topk", "ragged")]


def _rows(df) -> list:
    def norm(v):
        if isinstance(v, (bytearray, memoryview)):
            return bytes(v)
        if isinstance(v, list):
            return tuple(norm(x) for x in v)
        return v

    return sorted((tuple(norm(v) for v in r) for r in df.collect()), key=repr)


@pytest.fixture(autouse=True)
def _release_jvm_garbage(spark):
    """Each case plans and checkpoints a few dozen small frames; with the
    test session's large default driver heap the JVM would rather grow
    than collect, so collect after every case to keep the suite's resident
    memory flat."""
    yield
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def test_every_gate_is_covered():
    assert set().union(*(gates for gates, _, _ in OPS.values())) == set(
        route.DRIVER_ROWS
    )


@pytest.mark.parametrize("op,kind", CASES, ids=[f"{o}-{k}" for o, k in CASES])
def test_both_paths_agree(spark, monkeypatch, base_vectors, op, kind):
    _, family, run = OPS[op]
    arg = _embeddings(spark, base_vectors, kind) if family == "vectors" else kind
    shipped = _rows(run(spark, arg))
    for gate in route.DRIVER_ROWS:
        monkeypatch.setitem(route.DRIVER_ROWS, gate, 0)
    assert shipped == _rows(run(spark, arg))
    if kind == "normal":
        assert shipped, "the normal fixture must produce rows"


def test_router_impact_both_paths(spark, monkeypatch):
    """The router's impact answers over binary ids, as stored — the report
    in order, NULL type first, and the seed-not-found marker for an
    unknown turn — are identical with the table as shipped and with every
    gate at 0."""
    from pyspark.sql import Row

    from glasseenterprise_mcp_spark.functions.ids import stable_id_py
    from glasseenterprise_mcp_spark.plans.query_router import QueryRouter

    def bid(v):
        return None if v is None else stable_id_py("n", v)

    seed = stable_id_py("turn", "c0|3")
    edges = spark.createDataFrame(
        [(bid(a), bid(b)) for a, b in _graph_rows("nulls")] + [(seed, bid("a"))],
        "subj binary, obj binary",
    )
    nodes = spark.createDataFrame(
        [(bid(v), t) for v, t in _node_rows("nulls")] + [(seed, "turn")],
        "id binary, type string",
    )
    router = QueryRouter(spark, nodes, edges)
    prompts = ("impact of turn c0#3 depth 2", "impact of turn nope#99")

    def answers():
        return [router.route(p).df.collect() for p in prompts]

    shipped = answers()
    for gate in route.DRIVER_ROWS:
        monkeypatch.setitem(route.DRIVER_ROWS, gate, 0)
    assert shipped == answers()
    found, missing = shipped
    assert found[0].type is None and any(r.type == "turn" and r.min_dist == 0 for r in found)
    assert missing == [Row(type="seed-not-found", n=0, min_dist=None)]


def test_ragged_fixture_is_ragged(spark, base_vectors):
    """The ragged fixture really yields per-subspace codebook widths that
    differ (the case the numpy ADC path cannot replay)."""
    cb = pq_codebooks(quantized(_embeddings(spark, base_vectors, "ragged")))
    widths = {r[1] for r in cb.groupBy("m").count().collect()}
    assert len(widths) > 1, widths


def test_small_rows_and_fits_caps(spark, monkeypatch):
    """A gate at 0 routes to the distributed path without running a probe
    job — also for an EMPTY input, whose probe would otherwise fit. The
    fitting rows are plain tuples in column order, binary ids as
    ``bytes``, so the driver paths key dicts on them directly."""

    class NoJobs:
        def limit(self, n):
            raise AssertionError("a probe job ran")

    monkeypatch.setitem(route.DRIVER_ROWS, "cc", 0)
    assert route.small_rows(NoJobs(), "cc") is None
    assert route.fits(NoJobs(), "cc") is False
    monkeypatch.setitem(route.DRIVER_ROWS, "cc", 2)
    three = spark.range(3)
    assert route.small_rows(three, "cc") is None
    assert len(route.small_rows(three, "cc", sides=2)) == 3
    assert route.small_rows(spark.range(0), "cc") == []
    assert route.fits(spark.range(2), "cc") and not route.fits(three, "cc")
    typed = spark.createDataFrame(
        [(b"\x01\xff", "x", 1), (None, None, None)], "a binary, b string, n int"
    )
    rows = route.small_rows(typed, "cc")
    assert rows == [(b"\x01\xff", "x", 1), (None, None, None)]
    assert type(rows[0]) is tuple and type(rows[0][0]) is bytes


_FRAME_DDL = "id binary, name string, i int, n long, ok boolean, v array<bigint>"
_FRAME_ROWS = [
    (b"\x00\xfe", "a", 1, 2**40, True, [1, -2, None]),
    (None, None, None, None, None, None),
    (b"", "", -7, 0, False, []),
]


@pytest.mark.parametrize("rows", [_FRAME_ROWS, []], ids=["rows", "empty"])
def test_local_frame_matches_list_frame(spark, rows):
    """``local_frame`` returns the rows and schema ``createDataFrame(<list>)``
    returns, for every column type the driver paths emit, NULLs included,
    and for an empty input."""
    got = route.local_frame(spark, rows, _FRAME_DDL)
    want = spark.createDataFrame(rows, _FRAME_DDL)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_driver_paths_build_no_list_frames(spark, tmp_path, monkeypatch):
    """A scan with a sink, a micro-batch onto it and routed impact requests
    (found and unknown seed) complete without ``createDataFrame(<list>)``,
    which would start Python-worker tasks to read back rows the driver
    built."""
    from pyspark.sql import SparkSession

    from glasseenterprise_mcp_spark.operators.materialize import GraphSink
    from glasseenterprise_mcp_spark.pipeline import run_pipeline
    from glasseenterprise_mcp_spark.plans.query_router import QueryRouter
    from glasseenterprise_mcp_spark.sources.transcripts import derive_transcripts
    from glasseenterprise_mcp_spark.streaming.incremental import incremental_update

    def refuse(self, data, schema):
        raise AssertionError("a driver path built a DataFrame from a list")

    monkeypatch.setattr(SparkSession, "_createFromLocal", refuse)
    t = derive_transcripts(spark, SF_SMALL).drop("ts_epoch")
    odd = F.substring("conv_id", 2, 10).cast("int") % 2 == 1
    sink = GraphSink(spark, str(tmp_path))
    run_pipeline(spark, t.filter(~odd), sink=sink, snapshot_version="scan")
    assert incremental_update(spark, sink, t.filter(odd), "stream") > 0
    router = QueryRouter(spark, sink.read("nodes"), sink.read("edges"))
    found = router.route("impact of turn c0#3 depth 2").df.collect()
    assert any(r.type == "turn" and r.min_dist == 0 for r in found)
    missing = router.route("impact of turn nope#99 depth 2").df.collect()
    assert [r.type for r in missing] == ["seed-not-found"]


# --------------------------------------------------------------------------
# lint: size probes and local frames live only in route.py
# --------------------------------------------------------------------------
def test_size_probes_only_in_route():
    """A ``.limit(<x> + 1)`` probe ending in ``.collect()`` or ``.count()``
    anywhere in the package outside ``route.py`` is a hand-rolled size
    gate: route it through ``small_rows`` / ``fits`` instead."""
    pkg = pathlib.Path(route.__file__).resolve().parents[1]
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path.name == "route.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("collect", "count")
            ):
                continue
            inner = node.func.value
            while isinstance(inner, ast.Call) and isinstance(inner.func, ast.Attribute):
                if inner.func.attr == "limit":
                    if inner.args and isinstance(inner.args[0], ast.BinOp):
                        offenders.append(f"{path.relative_to(pkg)}:{node.lineno}")
                    break
                inner = inner.func.value
    assert offenders == [], offenders


def test_local_frames_only_in_route():
    """A ``createDataFrame`` call in the package (or the CLI) outside
    ``route.py`` builds a driver-side frame by hand: build it with
    ``route.local_frame`` instead."""
    pkg = pathlib.Path(route.__file__).resolve().parents[1]
    paths = [*sorted(pkg.rglob("*.py")), pkg.parent / "jobs" / "kg_tool.py"]
    offenders = [
        f"{path.name}:{node.lineno}"
        for path in paths
        if path.name != "route.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    ]
    assert offenders == [], offenders


# --------------------------------------------------------------------------
# lint: every optional parameter in the package has a caller that sets it
# --------------------------------------------------------------------------
def _optional_params(tree) -> list:
    """(callable name, parameter, positional index or None) for every
    parameter with a default. A method's index skips ``self``/``cls``, and
    ``__init__`` is named by its class, as its callers name it."""
    out = []

    def visit(node, cls):
        for ch in ast.iter_child_nodes(node):
            if isinstance(ch, ast.ClassDef):
                visit(ch, ch.name)
            elif isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = ch.args
                pos = [*a.posonlyargs, *a.args]
                static = any(
                    getattr(d, "id", None) == "staticmethod" for d in ch.decorator_list
                )
                skip = 1 if cls and not static else 0
                name = cls if cls and ch.name == "__init__" else ch.name
                first = len(pos) - len(a.defaults)
                out.extend((name, p.arg, i - skip) for i, p in enumerate(pos) if i >= first)
                out.extend(
                    (name, p.arg, None)
                    for p, d in zip(a.kwonlyargs, a.kw_defaults)
                    if d is not None
                )
                visit(ch, None)
            else:
                visit(ch, cls)

    visit(tree, None)
    return out


def test_every_option_has_a_caller():
    """An optional parameter that no call site sets is a second copy of a
    value: make it a module constant that the function, and its DuckDB
    twin, read instead. A call sets a parameter by keyword, by position or
    through ``*args``/``**kwargs``; calls match by function name (class
    name for ``__init__``) across the package, ``jobs/``, the tests,
    ``perfbench/``, ``__spark_entry__.py`` and ``bench.py``."""
    pkg = pathlib.Path(route.__file__).resolve().parents[1]
    root = pkg.parent
    sources = [
        *pkg.rglob("*.py"),
        *(root / "jobs").rglob("*.py"),
        *(root / "tests").rglob("*.py"),
        *(root / "perfbench").rglob("*.py"),
        root / "__spark_entry__.py",
        root / "bench.py",
    ]
    calls: dict = {}
    for path in sources:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                calls.setdefault(name, []).append(node)

    def sets(call, param, index) -> bool:
        if any(k.arg in (param, None) for k in call.keywords):
            return True
        return index is not None and (
            len(call.args) > index
            or any(isinstance(a, ast.Starred) for a in call.args)
        )

    offenders = [
        f"{path.relative_to(pkg)}: {name}({param})"
        for path in sorted(pkg.rglob("*.py"))
        for name, param, index in _optional_params(ast.parse(path.read_text()))
        if not any(sets(c, param, index) for c in calls.get(name, ()))
    ]
    assert offenders == [], offenders
