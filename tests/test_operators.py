"""Operator unit tests on crafted DataFrames (SURVEY.md §5.1 strategy —
the reference's snippet-golden style, made automatic)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from glasseenterprise_mcp_spark.functions import route
from glasseenterprise_mcp_spark.functions.normalize import (
    norm_name_py,
    norm_path_py,
    norm_resource_py,
)
from glasseenterprise_mcp_spark.operators.canonicalize import connected_components
from glasseenterprise_mcp_spark.operators.extract import (
    MAX_MATCHES_PER_KIND,
    MAX_TEXT_CHARS,
    extract_mentions,
)
from glasseenterprise_mcp_spark.operators.graph import find_cycles
from glasseenterprise_mcp_spark.operators.link import refers_to_edges
from glasseenterprise_mcp_spark.operators.multimodal import (
    extract_features,
    frame_sample,
    resize_plan,
    synthesize_media,
)


# --------------------------------------------------------------------------
# normalization — three-dialect lockstep (python / spark / duckdb)
# --------------------------------------------------------------------------
CASES = [
    "http://svc-1.example.com/api/v1/r5?q=1",
    "https://h/api-v2/v3/x//y/",
    "/api/r7",
    "/API/r7/",
    "http://h//a//b#frag",
    "/",
    "/plain/path",
]


def test_norm_three_dialects(spark, duck_small):
    import duckdb

    from glasseenterprise_mcp_spark.functions.normalize import (
        norm_name_col,
        norm_name_sql,
        norm_path_col,
        norm_path_sql,
        norm_resource_col,
        norm_resource_sql,
    )

    df = spark.createDataFrame([(c,) for c in CASES], ["s"])
    got_spark = [
        (r[0], r[1], r[2])
        for r in df.select(
            norm_path_col(F.col("s")), norm_resource_col(F.col("s")), norm_name_col(F.col("s"))
        ).collect()
    ]
    got_py = [(norm_path_py(c), norm_resource_py(c), norm_name_py(c)) for c in CASES]
    con = duckdb.connect()
    got_duck = []
    for c in CASES:
        lit = "'" + c.replace("'", "''") + "'"
        got_duck.append(
            con.sql(
                f"SELECT {norm_path_sql(lit)}, {norm_resource_sql(lit)}, {norm_name_sql(lit)}"
            ).fetchone()
        )
    assert got_spark == got_py == [tuple(x) for x in got_duck]


# --------------------------------------------------------------------------
# connected components — chains, forests, convergence
# --------------------------------------------------------------------------
@pytest.mark.parametrize("threshold", [500_000, 0])  # driver-side / distributed
def test_cc_chain_and_forest(spark, monkeypatch, threshold):
    monkeypatch.setitem(route.DRIVER_ROWS, "cc", threshold)
    # chain a-b-c-d-e (diameter 4) + separate pair x-y + isolated star
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("x", "y"),
         ("s", "t1"), ("s", "t2"), ("s", "t3")],
        ["src", "dst"],
    )
    got = {
        r.id: r.comp
        for r in connected_components(edges).collect()
    }
    assert {got[k] for k in "abcde"} == {"a"}
    assert got["x"] == got["y"] == "x"
    assert got["s"] == got["t1"] == got["t2"] == got["t3"] == "s"


@pytest.mark.parametrize("threshold", [500_000, 0])
def test_cc_converges_on_long_chain(spark, monkeypatch, threshold):
    monkeypatch.setitem(route.DRIVER_ROWS, "cc", threshold)
    n = 40  # diameter > typical iteration counts; label ids sort lexicographically
    edges = spark.createDataFrame(
        [(f"v{i:03d}", f"v{i + 1:03d}") for i in range(n)], ["src", "dst"]
    )
    got = {
        r.id: r.comp
        for r in connected_components(edges, max_iter=60).collect()
    }
    assert set(got.values()) == {"v000"}


# --------------------------------------------------------------------------
# tiered linking — all four tiers + HTTP-method gating on crafted mentions
# --------------------------------------------------------------------------
def test_refers_to_tiers_and_method_gate(spark):
    from glasseenterprise_mcp_spark.schemas import MENTIONS_SCHEMA

    def u(conv, turn, surface, path, norm, method=None):
        return (conv, turn, "url", surface, norm, 1, 0, 1, path, True, method, None, None, None, None)

    def ep(conv, turn, path, norm, method="GET"):
        return (conv, turn, "endpoint", path, norm, 1, 0, 1, path, True, method, None, None, None, None)

    rows = [
        # tier 1: exact non-stripped path match
        u("c1", 0, "http://h/api/r1", "/api/r1", "/r1"),
        ep("c2", 0, "/api/r1", "/r1"),
        # tier 1b: api-variant key match (paths differ, stripped keys equal)
        u("c1", 1, "http://h/api/v1/r9", "/api/v1/r9", "/r9"),
        ep("c2", 1, "/api/r9", "/r9"),
        # tier 2: consumed path contains provided norm, keys differ
        u("c1", 2, "http://h/legacy/r7/extra", "/legacy/r7/extra", "/legacy/r7/extra"),
        ep("c2", 2, "/api/r7/extra", "/r7/extra"),
        # tier 3: template provider matches the concrete consumer path
        u("c1", 3, "http://h/api/items/42/tags", "/api/items/42/tags", "/items/42/tags"),
        ep("c2", 3, "/api/items/{id}/tags", "/items/{id}/tags"),
        # method gate: POST consumer vs GET-only provider — must NOT link
        u("c1", 4, "POSTed http://h/api/only/get", "/api/only/get", "/only/get", "POST"),
        ep("c2", 4, "/api/only/get", "/only/get", "GET"),
        # no match at all
        u("c1", 5, "http://h/nothing", "/nothing", "/nothing"),
    ]
    m = spark.createDataFrame(rows, MENTIONS_SCHEMA)
    got = {
        (bytes(r.subj), bytes(r.obj)): (r.confidence, r.tier, r.method)
        for r in refers_to_edges(m).collect()
    }
    from glasseenterprise_mcp_spark.functions.ids import stable_id_py

    def pair(cp, pn):
        return (stable_id_py("url", cp), stable_id_py("resource", pn))

    assert got[pair("/api/r1", "/r1")] == (63, "1", "GET")  # 60 + len('/r1')
    assert got[pair("/api/v1/r9", "/r9")] == (55, "1b", "GET")
    assert got[pair("/legacy/r7/extra", "/r7/extra")] == (30, "2", "GET")
    assert got[pair("/api/items/42/tags", "/items/{id}/tags")] == (45, "3", "GET")
    assert pair("/api/only/get", "/only/get") not in got  # method-blocked
    assert len(got) == 4


# --------------------------------------------------------------------------
# extraction work caps (E2 analogue: bounded per-record work)
# --------------------------------------------------------------------------
def test_extraction_caps(spark):
    mega = " ".join(f"@e{i}" for i in range(MAX_MATCHES_PER_KIND + 50))
    huge = "@first " + ("x" * MAX_TEXT_CHARS) + " @beyond_the_cap"
    df = spark.createDataFrame(
        [("c1", 0, mega), ("c1", 1, huge)], ["conv_id", "turn_idx", "text"]
    )
    m = extract_mentions(df.withColumn("turn_idx", F.col("turn_idx").cast("int")))
    per_turn = {
        r.turn_idx: r.n
        for r in m.filter(F.col("mtype") == "entity")
        .groupBy("turn_idx").agg(F.count("*").alias("n")).collect()
    }
    assert per_turn[0] == MAX_MATCHES_PER_KIND
    assert per_turn[1] == 1  # truncated before @beyond_the_cap


# --------------------------------------------------------------------------
# cycle detection on crafted graphs
# --------------------------------------------------------------------------
@pytest.mark.parametrize("threshold", [100_000, 0])  # driver-side / distributed
def test_find_cycles_crafted(spark, monkeypatch, threshold):
    monkeypatch.setitem(route.DRIVER_ROWS, "find_cycles", threshold)
    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "a"),          # 2-cycle
            ("p", "q"), ("q", "r"), ("r", "p"),  # 3-cycle
            ("x", "y"), ("y", "z"),          # path, no cycle
            ("s", "s"),                      # self-loop
        ],
        ["src", "dst"],
    )
    got = {
        r.start: r.cycle_len
        for r in find_cycles(edges, max_len=5).collect()
    }
    assert got == {"a": 2, "p": 3, "s": 1}


def test_find_cycles_dense_bounded(spark):
    # complete digraph on 12 nodes: the naive path enumeration is ~12! paths;
    # the driver short-circuit must return instantly with all 2-cycles
    nodes = [f"n{i:02d}" for i in range(12)]
    edges = spark.createDataFrame(
        [(a, b) for a in nodes for b in nodes if a != b], ["src", "dst"]
    )
    got = {r.start: r.cycle_len for r in find_cycles(edges, max_len=8).collect()}
    assert got == {n: 2 for n in nodes[:-1]}  # max node can't lead a cycle


# --------------------------------------------------------------------------
# skew smoke (FIXTURES.md F6): hot entity in 50% of turns + mega-conversation
# --------------------------------------------------------------------------
def test_skew_smoke(spark):
    from glasseenterprise_mcp_spark.pipeline import run_pipeline

    rows = []
    for c in range(20):
        for t in range(5):
            rows.append((f"conv{c}", t, "user", f"text @hot @e{c}_{t}", None))
    for t in range(500):  # mega-conversation: 5x all others combined
        rows.append(("mega", t, "user", f"m @hot call:tool_a(x) @m{t}", "tool_a"))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.timestamp_seconds(F.lit(0)))
    res = run_pipeline(spark, df, sink=None, snapshot_version="skew")
    by_pred = {r.pred: r.n for r in res.edges.groupBy("pred").agg(F.count("*").alias("n")).collect()}
    res.mentions.unpersist()
    res.edges.unpersist()
    # hot entity mentioned in all 600 turns → 600 mentions-in edges for it,
    # plus per-turn uniques; replies: (500-1) + 20*(5-1)
    assert by_pred["replies-to"] == 499 + 80
    assert by_pred["calls-tool"] == 500
    # hot(600) + small-conv uniques(100) + mega uniques(500) + tool-mention
    # node in each mega turn(500)
    assert by_pred["mentions-in"] == 600 + 100 + 500 + 500


# --------------------------------------------------------------------------
# multimodal plumbing
# --------------------------------------------------------------------------
def test_multimodal_features(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    media = synthesize_media(docs)
    feats = extract_features(media, fake=True)
    rows = feats.collect()
    assert len(rows) == 50
    for r in rows:
        assert len(r.features) == 8
        assert abs(sum(r.features) - 1.0) < 1e-5
        assert r.n_bytes > 0

    with pytest.raises(Exception, match="NotImplementedError|real media decode"):
        extract_features(media, fake=False).collect()

    fs = frame_sample(media, every_ms=1000)
    one = fs.groupBy("media_id").count().limit(5).collect()
    assert all(r["count"] >= 1 for r in one)

    rp = resize_plan(media, max_side=64).collect()
    assert all(max(r.target_w, r.target_h) <= 64 for r in rp)


def test_query_router(spark):
    from glasseenterprise_mcp_spark.operators.extract import extract_mentions
    from glasseenterprise_mcp_spark.operators.link import calls_tool_edges
    from glasseenterprise_mcp_spark.operators.materialize import build_edges, build_nodes
    from glasseenterprise_mcp_spark.plans.query_router import QueryRouter
    from glasseenterprise_mcp_spark.sources.transcripts import derive_transcripts

    t = derive_transcripts(spark, "/root/testdata/sf0.001")
    m = extract_mentions(t)
    nodes = build_nodes(t, m, "s")
    edges = build_edges([calls_tool_edges(t, m)], "s")
    router = QueryRouter(spark, nodes, edges)

    r = router.route("which turns call tool tool_1?")
    assert r.template == "calls_of_tool" and r.df.count() > 0

    r = router.route("count nodes by type")
    assert r.template == "count_by_type"

    r = router.route("SQL: SELECT type, count(*) AS n FROM nodes GROUP BY type")
    assert r.template == "sql_passthrough" and r.df.count() > 0

    r = router.route("hot_entity somewhere")
    assert r.template == "fallback_search" and r.df.count() > 0


def test_routed_impact_seed_not_found(spark):
    """Q2 impact template seed contract (reference impactCommand.ts:25-44):
    a seed turn that doesn't resolve in the graph returns the DISTINCT
    'seed-not-found' marker row (stable schema), not an empty traversal;
    a resolving seed returns real per-type counts with the turn at dist 0."""
    from glasseenterprise_mcp_spark.operators.extract import extract_mentions
    from glasseenterprise_mcp_spark.operators.link import mentions_in_edges
    from glasseenterprise_mcp_spark.operators.materialize import build_edges, build_nodes
    from glasseenterprise_mcp_spark.plans.query_router import QueryRouter
    from glasseenterprise_mcp_spark.sources.transcripts import derive_transcripts

    t = derive_transcripts(spark, "/root/testdata/sf0.001")
    m = extract_mentions(t)
    nodes = build_nodes(t, m, "s")
    edges = build_edges([mentions_in_edges(m).drop("subj_kind")], "s")
    router = QueryRouter(spark, nodes, edges)

    r = router.route("impact of turn nope_conv#99 depth 2")
    assert r.template == "impact_of_turn"
    rows = r.df.collect()
    assert len(rows) == 1 and rows[0].type == "seed-not-found" and rows[0].n == 0
    assert r.df.columns == ["type", "n", "min_dist"]

    r2 = router.route("impact of turn c0#3 depth 2")
    assert r2.template == "impact_of_turn"
    got = {row.type: row for row in r2.df.collect()}
    assert "seed-not-found" not in got
    assert got["turn"].min_dist == 0 and got["turn"].n >= 1


def test_router_accepts_namespaced_conv_ids(spark):
    """kg_tool-scanned graphs namespace every conversation id as
    'rt<i>:<conv>'; the router's conv-id character classes must admit ':'
    or every turn/conversation-addressed prompt against a scanned graph
    silently falls through to fallback_search (review catch)."""
    from glasseenterprise_mcp_spark.operators.extract import extract_mentions
    from glasseenterprise_mcp_spark.operators.link import mentions_in_edges
    from glasseenterprise_mcp_spark.operators.materialize import build_edges, build_nodes
    from glasseenterprise_mcp_spark.plans.query_router import QueryRouter
    from glasseenterprise_mcp_spark.sources.transcripts import derive_transcripts

    t = derive_transcripts(spark, "/root/testdata/sf0.001").withColumn(
        "conv_id", F.concat(F.lit("rt0:"), F.col("conv_id"))
    )
    m = extract_mentions(t)
    nodes = build_nodes(t, m, "s")
    edges = build_edges([mentions_in_edges(m).drop("subj_kind")], "s")
    router = QueryRouter(spark, nodes, edges)

    r = router.route("impact of turn rt0:c0#3 depth 2")
    assert r.template == "impact_of_turn"
    got = {row.type: row for row in r.df.collect()}
    assert "seed-not-found" not in got
    assert got["turn"].min_dist == 0 and got["turn"].n >= 1

    r = router.route("which configs are used in conversation rt0:c0?")
    assert r.template == "configs_in_conversation"
    r.df.count()  # plan must at least execute against the namespaced graph

    r = router.route("show replies in conversation rt0:c0")
    assert r.template == "replies_chain"


def test_routed_queries_limit_headroom(spark):
    """The two oracle-gated routed queries (q2/q3) rely on their result
    cardinality staying far below the router's default LIMIT — otherwise the
    limit would truncate and the oracle (which replicates the full result)
    would diverge. Both cardinalities are bounded by DISTINCT norms/types,
    not corpus size, so the headroom holds at any sf."""
    import __spark_entry__ as E

    n2 = E.q_routed_count_by_type(spark, "/root/testdata/sf0.01").count()
    n3 = E.q_routed_fallback(spark, "/root/testdata/sf0.01").count()
    n4 = E.q_routed_impact(spark, "/root/testdata/sf0.01").count()
    assert 0 < n2 <= 50, n2
    assert 0 < n3 <= 50, n3
    # impact report has one row per node TYPE — bounded by the label set
    assert 0 < n4 <= 20, n4


def test_type_schemas_and_clean_names(spark):
    """E9/E10 field ordinality + N9/N10 cleanup steps on a hand-built turn."""
    from glasseenterprise_mcp_spark.operators.extract import clean_names, type_schemas

    t = spark.createDataFrame(
        [
            (
                "cX",
                0,
                "pre type:Point{x:float,y:float,tag:str} mid "
                "type:Flag{on:bool} raw:`Fn$2!` post",
            )
        ],
        "conv_id string, turn_idx int, text string",
    )
    rows = type_schemas(t).orderBy("def_idx", "field_idx").collect()
    assert [
        (r.def_idx, r.type_name, r.field_idx, r.field_name, r.field_type)
        for r in rows
    ] == [
        (1, "Point", 1, "x", "float"),
        (1, "Point", 2, "y", "float"),
        (1, "Point", 3, "tag", "str"),
        (2, "Flag", 1, "on", "bool"),
    ]

    c = clean_names(t).collect()
    assert len(c) == 1
    assert c[0].surface == "`Fn$2!`"
    assert c[0].stripped == "Fn$2!"  # N9: quote chars stripped, content kept
    assert c[0].ident == "Fn$2"  # N10: identifier-illegal '!' removed, $ kept


def test_used_by_contains_semantics(spark):
    """J18: the contains filter is a genuine substring match — agent_1 and
    agent_12 both match '_1'; agent_21 and agent_2 do not."""
    from glasseenterprise_mcp_spark.operators.link import used_by_edges

    m = spark.createDataFrame(
        [
            ("c0", 0, "secpat", "/api/**", "/api/**"),
            ("c0", 1, "entity", "agent_1", "agent_1"),
            ("c0", 2, "entity", "agent_12", "agent_12"),
            ("c0", 3, "entity", "agent_21", "agent_21"),
            ("c0", 4, "entity", "agent_2", "agent_2"),
            ("c1", 0, "entity", "agent_1", "agent_1"),  # no rule in c1 → no edge
        ],
        "conv_id string, turn_idx int, mtype string, surface string, norm string",
    )
    got = {(r.ent, r.n) for r in used_by_edges(m).collect()}
    assert got == {("agent_1", 1), ("agent_12", 1)}


def test_lsh_fused_equals_longform(spark):
    """The fused single-shuffle minhash→bands path must emit EXACTLY the
    (doc_id, band, band_hash) rows of the long-form seed-explode path (the
    oracle's spec shape)."""
    from glasseenterprise_mcp_spark.operators.dedup import (
        lsh_bands,
        lsh_bands_fused,
        minhash_signatures,
        shingles,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    sh = shingles(docs).cache()
    long = {tuple(r) for r in lsh_bands(minhash_signatures(sh)).collect()}
    fused = {tuple(r) for r in lsh_bands_fused(sh).collect()}
    sh.unpersist()
    assert long == fused and len(fused) > 0


def test_shingles_short_docs_and_curate_coverage(spark):
    """Documents with fewer than k tokens must not crash shingling (Spark's
    sequence(1, 0) is DESCENDING, so the unguarded transform hit
    element_at(toks, 0) → INVALID_ARRAY_INDEX_IN_ELEMENT_AT — r3 ADVICE)
    and must still receive a curation decision via the fingerprint LEFT
    join (default rank 1)."""
    from glasseenterprise_mcp_spark.operators.dedup import shingles
    from glasseenterprise_mcp_spark.operators.textstats import curate_corpus

    docs = spark.createDataFrame(
        [
            (1, "one two", "en", "s", 7),  # 2 tokens < k=3: no shingles
            (2, "", "en", "s", 0),  # empty
            (3, "alpha beta gamma delta epsilon zeta eta theta", "en", "s", 46),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sh = shingles(docs)
    assert sh.filter(F.col("doc_id").isin(1, 2)).count() == 0
    assert sh.filter(F.col("doc_id") == 3).count() > 0
    decisions = curate_corpus(docs, sh, min_quality=-1000)
    got = {r.doc_id: r.reason for r in decisions.collect()}
    assert set(got) == {1, 2, 3}  # EVERY doc gets a decision row
    assert got[3] == "kept"


def test_duplicate_spans_semantics(spark):
    """dd8 exact-substring span dedup on a crafted fixture pinning every
    semantic the sf corpus may not exercise: (a) a run shared ACROSS two
    docs yields one maximal span in each, positioned per-doc; (b) a run
    repeated INSIDE one doc marks both occurrences; (c) two marked spans
    separated by a one-token gap must NOT merge; (d) a unique doc yields
    nothing; (e) the DuckDB oracle twin agrees on the crafted fixture
    (the sf0.01 contract check can't see intra-doc repeats)."""
    import duckdb

    from glasseenterprise_mcp_spark.operators.dedup import (
        duplicate_spans,
        duplicate_spans_cte,
        positional_windows,
        positional_windows_cte,
    )
    from .conftest import compare_query

    docs = spark.createDataFrame(
        [
            # docs 1/2 share the 9-token run t4..t12
            (1, " ".join(f"t{i}" for i in range(1, 13)), "en", "s", 0),
            (2, " ".join(f"t{i}" for i in range(4, 16)), "en", "s", 0),
            # doc 3: 6-token run repeated with a ONE-token gap at pos 7
            (3, "x1 x2 x3 x4 x5 x6 gap x1 x2 x3 x4 x5 x6", "en", "s", 0),
            (4, " ".join(f"u{i}" for i in range(1, 13)), "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    spans = duplicate_spans(positional_windows(docs))
    got = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in spans.collect()
    }
    assert got == {
        (1, 4, 12, 9),  # shared run, doc-1 coordinates
        (2, 1, 9, 9),  # same run, doc-2 coordinates
        (3, 1, 6, 6),  # first occurrence of the internal repeat …
        (3, 8, 13, 6),  # … second occurrence; gap token 7 keeps them apart
    }

    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    compare_query(
        spark,
        con,
        spans,
        "WITH "
        + ",\n".join([positional_windows_cte(), duplicate_spans_cte()])
        + "\nSELECT doc_id, span_start, span_end, span_tokens FROM dup_spans",
    )


def test_repetition_stats_semantics(spark):
    """tx7 duplicate-bigram fraction: 'p q p q p q' has 5 bigram
    occurrences of 2 distinct → 60%; an all-unique doc reads 0; a
    one-token doc emits no row (no bigrams ⇒ no division by zero)."""
    from glasseenterprise_mcp_spark.operators.dedup import positional_windows
    from glasseenterprise_mcp_spark.operators.textstats import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "p q p q p q", "en", "s", 0),
            (2, "a b c d e", "en", "s", 0),
            (3, "solo", "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        r.doc_id: (r.n_grams, r.n_distinct, r.rep_pct)
        for r in repetition_stats(positional_windows(docs, w=2)).collect()
    }
    assert got == {1: (5, 2, 60), 2: (4, 4, 0)}


def test_ivf_topk_properties(spark):
    """sim3 IVF: (a) the coarse quantizer assigns EVERY corpus vector to
    exactly one cell; (b) probing nprobe cells of the FIXED C=16 recovers a
    substantial share of the exact top-5 (deterministic on the fixed
    testdata); (c) every reported rank list is dense 1..k'; (d) the
    centroid count is a CONSTANT across corpus sizes (the 100TB broadcast
    bound — r3 judge #4)."""
    import pyspark.sql.functions as FF

    from glasseenterprise_mcp_spark.operators.similarity import (
        IVF_CENTROIDS,
        brute_force_topk,
        ivf_assign,
        ivf_centroids,
        ivf_topk,
        quantized,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = quantized(emb)
    centroids = ivf_centroids(q)
    assigned = ivf_assign(q, centroids)
    assert assigned.count() == q.count()  # total, one cell per vector
    assert assigned.select("vec_id").distinct().count() == q.count()

    # (d) C independent of N: same constant at two scale factors
    emb_small = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assert centroids.count() == IVF_CENTROIDS
    assert ivf_centroids(quantized(emb_small)).count() == min(
        IVF_CENTROIDS, emb_small.count()
    )

    qf = FF.expr("vec_id % 50 = 0")
    exact = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, qf).collect()}
    approx = {(r.query_id, r.neighbor_id) for r in ivf_topk(emb, qf).collect()}
    recall = len(exact & approx) / len(exact)
    # deterministic on this data; the default two-sweep index reads 0.56 at
    # nprobe=3 on these NEAR-UNIFORM vectors (recall here is bounded by the
    # probed fraction — see the module docstring curve; the structured-data
    # floor is pinned by test_ivf_recall_clustered)
    assert recall >= 0.5, recall

    # unstructured-data high-probe floor: nprobe=6 of C=16 reads 0.80 with
    # the default refinement (pin with margin for tie-rule drift)
    approx6 = {
        (r.query_id, r.neighbor_id) for r in ivf_topk(emb, qf, nprobe=6).collect()
    }
    assert len(exact & approx6) / len(exact) >= 0.75

    ranks = ivf_topk(emb, qf).groupBy("query_id").agg(
        FF.max("rank").alias("mx"), FF.count(FF.lit(1)).alias("n")
    )
    assert ranks.filter(FF.col("mx") != FF.col("n")).count() == 0


def test_ivf_assign_null_inputs_match_oracle(spark):
    """ivf_assign on NULL input gives the DuckDB oracle's cells: the
    assignment window ranks NULL dots last, so a NULL centroid never wins
    and a NULL vector lands in the lowest cid (here a NULL centroid); a
    NULL centroid must not crash the numpy matrix build. An empty centroid
    table gives cell -1."""
    import duckdb

    from glasseenterprise_mcp_spark.operators.similarity import ivf_assign

    vecs = [(1, [3, 0]), (2, [0, 5]), (3, None), (4, [-2, -2])]
    cents = [(10, [1, 0]), (11, None), (12, [0, 1]), (7, None)]
    q = spark.createDataFrame(vecs, "vec_id long, qv array<bigint>")
    c = spark.createDataFrame(cents, "cid long, c_qv array<bigint>")
    got = sorted((r.vec_id, r.cell) for r in ivf_assign(q, c).collect())

    con = duckdb.connect()
    con.sql("CREATE TABLE q(vec_id BIGINT, qv BIGINT[])")
    con.sql("CREATE TABLE c(cid BIGINT, c_qv BIGINT[])")
    con.executemany("INSERT INTO q VALUES (?, ?)", vecs)
    con.executemany("INSERT INTO c VALUES (?, ?)", cents)
    want = sorted(
        con.sql(
            """SELECT vec_id, cell FROM (
                 SELECT q.vec_id, c.cid AS cell, row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY CAST(list_dot_product(q.qv, c.c_qv) AS BIGINT) DESC,
                            c.cid ASC) AS rn
                 FROM q, c) WHERE rn = 1"""
        ).fetchall()
    )
    assert got == want == [(1, 10), (2, 12), (3, 7), (4, 10)]
    empty = c.limit(0)
    assert {r.cell for r in ivf_assign(q, empty).collect()} == {-1}


def test_ivf_recall_clustered(spark):
    """sim3 recall floor on STRUCTURED data — the case real embedding
    corpora present (the sf testdata's near-uniform vectors are the
    no-structure adversarial case, where recall is information-bounded by
    the probed fraction). Planted-cluster corpus: 16 integer-closed-form
    cluster centers + small per-vector offsets; k-means cells align with
    the planted modes, so IVF at the DEFAULT nprobe=3 / n_refine=2 must be
    essentially exact (measured 1.00; pinned ≥ 0.9), and even nprobe=1
    stays ≥ 0.9 — the scale story (probe 1-3 of C cells, not the corpus)
    holds without a recall sacrifice when the data has structure."""
    import pyspark.sql.functions as FF

    from glasseenterprise_mcp_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    NC, N, DIM = 16, 400, 64
    rows = [
        (
            i,
            [
                (((i % NC) * 37 + d * 11) % 21 - 10) * 0.3
                + ((i * 13 + d * 7) % 7 - 3) * 0.03
                for d in range(DIM)
            ],
            f"c{i % NC}",
        )
        for i in range(N)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    qf = FF.expr("vec_id % 25 = 0")
    exact = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, qf).collect()}
    for nprobe in (1, 3):
        approx = {
            (r.query_id, r.neighbor_id)
            for r in ivf_topk(emb, qf, nprobe=nprobe).collect()
        }
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.9, (nprobe, recall)


def test_query_router_advanced_templates(spark):
    from glasseenterprise_mcp_spark.operators.extract import extract_mentions
    from glasseenterprise_mcp_spark.operators.link import (
        calls_tool_edges,
        mentions_in_edges,
        refers_to_edges,
        replies_to_edges,
    )
    from glasseenterprise_mcp_spark.operators.materialize import build_edges, build_nodes
    from glasseenterprise_mcp_spark.plans.query_router import QueryRouter
    from glasseenterprise_mcp_spark.sources.transcripts import derive_transcripts

    t = derive_transcripts(spark, "/root/testdata/sf0.001")
    m = extract_mentions(t).cache()
    nodes = build_nodes(t, m, "s")
    edges = build_edges(
        [
            mentions_in_edges(m).drop("subj_kind"),
            replies_to_edges(t, m),
            calls_tool_edges(t, m),
            refers_to_edges(m),
        ],
        "s",
    ).cache()
    router = QueryRouter(spark, nodes, edges)

    r = router.route("show provided resources")
    assert r.template == "list_provided" and r.df.count() > 0

    r = router.route("list consumed urls")
    assert r.template == "list_consumed" and r.df.count() > 0

    r = router.route("which configs appear in conversation c0?")
    assert r.template == "configs_in_conversation" and r.df.count() > 0

    r = router.route("impact of turn c3#2 with depth 2")
    assert r.template == "impact_of_turn"
    reached = {row.type for row in r.df.collect()}
    assert "turn" in reached and len(reached) >= 2

    r = router.route("are there circular tool dependencies?")
    assert r.template == "tool_cycles"
    r.df.count()  # bipartite graph: no cycles expected, must run clean
    m.unpersist()
    edges.unpersist()


def test_stratified_sample_monotone_and_reproducible(spark):
    """tx4: raising a stratum's rate only ADDS documents (monotone — the
    superset property data-mixing pipelines rely on for cache validity);
    the sample is identical across repartitionings (hash-gated, no RNG /
    partition-order dependence)."""
    from glasseenterprise_mcp_spark.operators.textstats import stratified_sample

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    low = {r.doc_id for r in stratified_sample(docs, {"en": 64}, 32).collect()}
    high = {r.doc_id for r in stratified_sample(docs, {"en": 192}, 96).collect()}
    assert low < high  # strict superset on this data
    again = {
        r.doc_id
        for r in stratified_sample(docs.repartition(13), {"en": 64}, 32).collect()
    }
    assert again == low
    # per-stratum rates actually differ: en keeps a higher share
    sampled = stratified_sample(docs).groupBy("lang").count()
    base = docs.groupBy("lang").count().withColumnRenamed("count", "total")
    shares = {
        r.lang: r["count"] / r.total
        for r in sampled.join(base, "lang").collect()
    }
    assert shares["en"] > shares["zh"]


def test_kmv_sketch_accuracy(spark):
    """sk1: the KMV estimator lands within 30% of the exact distinct count
    at k=16 on every event_type (observed: 148 vs 150 — 1.3%); the flat
    oracle in the driver gate separately proves the salted two-phase merge
    equals single-pass k-minima (associativity)."""
    from glasseenterprise_mcp_spark.operators.analytics import kmv_distinct

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    rows = kmv_distinct(ev).collect()
    assert len(rows) == 5
    for r in rows:
        assert abs(r.est_distinct - r.exact_distinct) / r.exact_distinct < 0.3, (
            r.event_type, r.est_distinct, r.exact_distinct,
        )


def test_query_router_never_throws_on_arbitrary_prompts(spark):
    """Q2/Q3 robustness: the NL router must route ANY non-SQL prompt to a
    runnable plan — arbitrary unicode, regex metacharacters, quotes, empty
    and whitespace-only strings (the fallback tokenizer and the template
    regexes must never raise, and the routed plan must execute)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from glasseenterprise_mcp_spark.operators.extract import extract_mentions
    from glasseenterprise_mcp_spark.operators.link import mentions_in_edges
    from glasseenterprise_mcp_spark.operators.materialize import (
        build_edges,
        build_nodes,
    )
    from glasseenterprise_mcp_spark.plans.query_router import QueryRouter
    from glasseenterprise_mcp_spark.sources.transcripts import derive_transcripts

    from .conftest import SF_SMALL

    t = derive_transcripts(spark, SF_SMALL)
    m = extract_mentions(t).cache()
    nodes = build_nodes(t, m, "s").cache()
    edges = build_edges([mentions_in_edges(m).drop("subj_kind")], "s").cache()
    router = QueryRouter(spark, nodes, edges)

    # deterministic adversarial corpus (fast path — each .route() builds a
    # plan; executing all of them would dominate the suite)
    adversarial = [
        "", "   ", "\n\t", "((((", "[a-z]+(", "'; DROP TABLE nodes; --",
        '"quoted"', "\\", "a" * 5000, "什么调用了 tool_1", "🤖🤖🤖",
        "sqlish but not a passthrough", "which turns call tool .*",
    ]
    for p in adversarial:
        routed = router.route(p)
        routed.df.count()  # the plan must actually execute

    @settings(max_examples=25, deadline=None)
    @given(st.text(max_size=80))
    def _fuzz(prompt):
        if prompt.strip().upper().startswith("SQL:"):
            return  # passthrough executes raw SQL by contract
        router.route(prompt)  # building the plan must never raise

    _fuzz()
    m.unpersist(); nodes.unpersist(); edges.unpersist()


def test_pack_sequences_contiguous_and_distributed(spark):
    """tx6: (a) packed placement is CONTIGUOUS — in global doc_id order
    each document starts exactly where the previous one ended (the
    concat-and-chunk contract), ending at the corpus token total; (b) the
    plan's window is partitioned (two-phase prefix sum), never an
    unpartitioned global ORDER BY funneling the corpus through one task."""
    from glasseenterprise_mcp_spark.operators.textstats import pack_sequences

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    out = pack_sequences(docs)
    rows = sorted(out.collect(), key=lambda r: r.doc_id)
    pos = 0
    for r in rows:
        assert r.start_tok == pos, (r.doc_id, r.start_tok, pos)
        assert r.first_bin == r.start_tok // 512
        pos += r.n_tokens
    assert pos == sum(r.n_tokens for r in rows)

    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    import re

    # every Window node must carry a partition spec (the _pid column);
    # an unpartitioned global-sort window would read "Window [...], [...]"
    # with an empty partition list
    for m in re.finditer(r"\(\d+\) Window\n(.*?)(?=\n\(\d+\))", plan, re.S):
        assert "_pid" in m.group(1), m.group(1)


def test_kmv_small_stratum_no_ansi_crash(spark):
    """sk1 under-k strata: sf0.001 has exactly 15 distinct users (< k=16)
    per event_type — the sketch must degrade to the exact small-set count
    with a NULL kth hash instead of throwing ANSI
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT (review catch; DuckDB's mins[k]
    NULL is the oracle's behavior)."""
    from glasseenterprise_mcp_spark.operators.analytics import kmv_distinct

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    rows = kmv_distinct(ev).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.kth_hash is None
        assert r.est_distinct == r.exact_distinct  # exact in the small regime


def test_stratified_sample_rate_bounds(spark):
    """tx4 rate validation: 256 means keep-ALL of the stratum (the 'zz'
    sentinel, above every hex bucket); out-of-range rates raise instead of
    silently inverting via 3-char hex compare (review catch: f'{256:02x}'
    is '100' and would keep ~6%)."""
    import pytest

    from glasseenterprise_mcp_spark.operators.textstats import stratified_sample

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    n_en = docs.filter(F.col("lang") == "en").count()
    kept_en = stratified_sample(docs, {"en": 256}, 0).count()
    assert kept_en == n_en  # whole stratum kept, all other strata dropped
    with pytest.raises(ValueError, match="0..256"):
        stratified_sample(docs, {"en": 300})
    with pytest.raises(ValueError, match="0..256"):
        stratified_sample(docs, {"en": -1})


def test_segment_dedup_semantics(spark):
    """dd9 segment keep-first dedup on a crafted fixture: (a) a doc whose
    only segment duplicates an earlier doc's first segment is fully
    dropped; (b) an intra-doc repeat keeps the first occurrence only;
    (c) a short tail segment participates (and wins over a later doc with
    the same 2-token text — keeper order is (doc_id, seg_idx));
    (d) unique docs keep everything; (e) the DuckDB twin agrees."""
    import duckdb

    from glasseenterprise_mcp_spark.operators.dedup import (
        segment_dedup_cte,
        segment_dedup_report,
    )

    from .conftest import compare_query

    def w(prefix, n):
        return " ".join(f"{prefix}{i}" for i in range(1, n + 1))

    docs = spark.createDataFrame(
        [
            (1, w("a", 8) + " " + w("b", 8), "en", "s", 0),  # 2 full segments
            (2, w("a", 8), "en", "s", 0),  # == doc1 seg0 → dropped
            (3, w("c", 8) + " " + w("c", 8), "en", "s", 0),  # intra-doc repeat
            (4, w("d", 10), "en", "s", 0),  # tail segment 'd9 d10'
            (5, "d9 d10", "en", "s", 0),  # == doc4's tail → dropped
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rep = segment_dedup_report(docs)
    got = {
        r.doc_id: (r.n_segments, r.kept_segments, r.dropped_tokens)
        for r in rep.collect()
    }
    assert got == {
        1: (2, 2, 0),
        2: (1, 0, 8),
        3: (2, 1, 8),
        4: (2, 2, 0),
        5: (1, 0, 2),
    }

    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    compare_query(
        spark,
        con,
        rep,
        "WITH "
        + segment_dedup_cte()
        + "\nSELECT doc_id, n_segments, kept_segments, dropped_tokens"
        " FROM seg_report",
    )


def test_charlm_quality_semantics(spark):
    """tx8 char-bigram LM stats, hand-computed: 'abab' has bigrams
    {ab:2, ba:1}; with two such docs and one 'zq' doc the corpus model is
    ab=4, ba=2, zq=1, so at rare_max=4 each 'abab' doc reads rare=1
    (its ba occurrence) and mean = (2*4 + 1*2) div 3 = 3; 'zq' reads
    rare=1, mean=1; a 1-char doc emits no row."""
    import duckdb

    from glasseenterprise_mcp_spark.operators.textstats import (
        charlm_quality,
        charlm_quality_sql,
    )

    from .conftest import compare_query

    docs = spark.createDataFrame(
        [
            (1, "abab", "en", "s", 0),
            (2, "abab", "en", "s", 0),
            (3, "zq", "en", "s", 0),
            (4, "x", "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    q = charlm_quality(docs)
    got = {
        r.doc_id: (r.n_bigrams, r.n_distinct_bigrams, r.rare_bigrams, r.mean_bigram_freq)
        for r in q.collect()
    }
    assert got == {1: (3, 2, 1, 3), 2: (3, 2, 1, 3), 3: (1, 1, 1, 1)}

    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    compare_query(spark, con, q, charlm_quality_sql())


def test_bpe_merge_candidates_semantics(spark):
    """bpe1 first merge iteration on 'low low lower': pair counts are
    word-frequency weighted (lo=ow=3, we=er=1), ties broken by pair asc,
    and the table is computed over the 2-word vocabulary (n_word_positions
    counts distinct sites, not corpus occurrences)."""
    import duckdb

    from glasseenterprise_mcp_spark.operators.textstats import (
        bpe_merge_candidates,
        bpe_merge_candidates_sql,
    )

    from .conftest import compare_query

    docs = spark.createDataFrame(
        [(1, "low low lower", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    top = bpe_merge_candidates(docs)
    rows = [(r.pair, r.pair_count, r.n_word_positions) for r in top.collect()]
    assert rows == [("lo", 3, 2), ("ow", 3, 2), ("er", 1, 1), ("we", 1, 1)]

    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    compare_query(spark, con, top, bpe_merge_candidates_sql())


def test_mixture_weights_semantics(spark):
    """cur3 uniform-target reweighting: 3 docs of src A vs 1 of src B →
    A is over-represented (weight 666666 ppm < 1e6, expected 1 of 3) and
    B under-represented (2e6 ppm, expected 2)."""
    import duckdb

    from glasseenterprise_mcp_spark.operators.textstats import (
        mixture_weights,
        mixture_weights_sql,
    )

    from .conftest import compare_query

    docs = spark.createDataFrame(
        [
            (1, "t u", "en", "A", 0),
            (2, "t u", "en", "A", 0),
            (3, "t u", "en", "A", 0),
            (4, "t u v", "en", "B", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    mw = mixture_weights(docs)
    got = {
        r.source: (r.n_docs, r.n_tokens, r.weight_ppm, r.expected_docs)
        for r in mw.collect()
    }
    assert got == {"A": (3, 6, 666666, 1), "B": (1, 3, 2000000, 2)}

    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    compare_query(spark, con, mw, mixture_weights_sql())


def test_pagerank_semantics(spark):
    """g6 integer PageRank, one round hand-computed on a->b, a->c, b->c
    (N=3, c dangling): base=150000, dang share 333333 → r1 = (a 433333,
    b 858333, c 1708333); five rounds pinned against the DuckDB unrolled
    CTE twin; the dangling-free two-cycle holds rank symmetry; empty edge
    set yields an empty typed frame."""
    import duckdb

    from glasseenterprise_mcp_spark.operators.graph import (
        pagerank,
        pagerank_cte,
    )

    from .conftest import compare_query

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c")], "subj string, obj string"
    )
    one = {r.id: r.rank for r in pagerank(edges, iters=1).collect()}
    assert one == {"a": 433333, "b": 858333, "c": 1708333}

    con = duckdb.connect()
    con.register("prtest", edges.toPandas())
    compare_query(
        spark,
        con,
        pagerank(edges, iters=5),
        "WITH " + pagerank_cte("prtest", iters=5)
        + "\nSELECT id, r AS rank FROM pr5",
    )

    # symmetric 2-cycle: both nodes keep identical rank every round
    cyc = spark.createDataFrame(
        [("x", "y"), ("y", "x")], "subj string, obj string"
    )
    ranks = {r.id: r.rank for r in pagerank(cyc, iters=3).collect()}
    assert ranks["x"] == ranks["y"]

    empty = spark.createDataFrame([], "subj string, obj string")
    assert pagerank(empty).count() == 0


def test_tfidf_keywords_semantics(spark):
    """tx9 top-k tf-idf: df-weighted ranking (doc-unique 'apple' beats the
    shared 'banana'), score ties broken by term asc, and the DuckDB twin
    agrees."""
    import duckdb

    from glasseenterprise_mcp_spark.operators.textstats import (
        tfidf_keywords,
        tfidf_keywords_sql,
    )

    from .conftest import compare_query

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple", "en", "s", 0),
            (2, "banana cherry", "en", "s", 0),
            (3, "cherry cherry cherry", "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    top = tfidf_keywords(docs)
    got = {
        (r.doc_id, r.rk): (r.term, r.tf, r.df, r.score) for r in top.collect()
    }
    assert got == {
        (1, 1): ("apple", 2, 1, 6000000),
        (1, 2): ("banana", 1, 2, 1500000),
        (2, 1): ("banana", 1, 2, 1500000),
        (2, 2): ("cherry", 1, 2, 1500000),
        (3, 1): ("cherry", 3, 2, 4500000),
    }

    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    compare_query(spark, con, top, tfidf_keywords_sql())


def test_shortest_paths_semantics(spark):
    """g7 bounded min-cost paths, hand-computed: the 2-hop s->a->b path
    (cost 11) beats the direct s->b edge (20); parallel edges collapse to
    the min weight; e's cheapest path (s->a->b->c->d->e, 5 hops, 14)
    exceeds the 4-round bound so its cost is the in-bound
    s->b->c->d->e walk (23); f (5 hops minimum) is absent entirely; the
    DuckDB bounded-walk twin agrees."""
    import duckdb

    from glasseenterprise_mcp_spark.operators.graph import (
        shortest_paths,
        shortest_paths_cte,
    )

    from .conftest import compare_query

    edges = spark.createDataFrame(
        [
            ("s", "a", 10),
            ("s", "a", 50),  # parallel edge: min wins
            ("a", "b", 1),
            ("s", "b", 20),
            ("b", "c", 1),
            ("c", "d", 1),
            ("d", "e", 1),
            ("e", "f", 1),
        ],
        "src string, dst string, w long",
    )
    seeds = spark.createDataFrame([("s",)], "id string")
    got = {r.id: r.cost for r in shortest_paths(edges, seeds, rounds=4).collect()}
    assert got == {"s": 0, "a": 10, "b": 11, "c": 12, "d": 13, "e": 23}

    con = duckdb.connect()
    con.register("sptest", edges.toPandas())
    compare_query(
        spark,
        con,
        shortest_paths(edges, seeds, rounds=4),
        "WITH "
        + shortest_paths_cte("sptest", "id = 's'", rounds=4)
        + "\nSELECT id, cost FROM sp",
    )


def test_triangle_counts_semantics(spark):
    """g8 hand-computed: one triangle {x,y,z}; a second triangle {y,z,w}
    sharing edge y-z (y,z in 2 triangles each); a 4-cycle p-q-r-t with no
    chord contributes nothing; a pendant node and a duplicate/reversed/
    self-loop edge are ignored; the DuckDB orientation twin agrees."""
    import duckdb

    from glasseenterprise_mcp_spark.operators.graph import (
        triangle_counts,
        triangle_counts_cte,
    )

    from .conftest import compare_query

    edges = spark.createDataFrame(
        [
            ("x", "y"), ("y", "z"), ("z", "x"),      # triangle 1
            ("y", "w"), ("w", "z"),                   # triangle 2 via y-z
            ("z", "y"),                                # reversed duplicate
            ("x", "x"),                                # self-loop
            ("p", "q"), ("q", "r"), ("r", "t"), ("t", "p"),  # chordless C4
            ("x", "pend"),                             # pendant
        ],
        "subj string, obj string",
    )
    got = {r.id: r.triangles for r in triangle_counts(edges).collect()}
    assert got == {"x": 1, "y": 2, "z": 2, "w": 1}

    con = duckdb.connect()
    con.register("tritest", edges.toPandas())
    compare_query(
        spark,
        con,
        triangle_counts(edges),
        "WITH "
        + triangle_counts_cte("tritest")
        + "\nSELECT id, triangles FROM tc",
    )


def test_kcore_semantics(spark):
    """g9 hand-computed: a lollipop (chain c1-c2-c3 hanging off a K4) peels
    iteratively — c3 falls in round 1, c2 in round 2, c1 in round 3 — so
    a one-shot degree filter would keep c1/c2; the surviving 2-core is the
    K4 with core_deg 3 everywhere; an isolated edge pair dies in one peel;
    the unrolled DuckDB twin agrees."""
    import duckdb

    from glasseenterprise_mcp_spark.operators.graph import kcore, kcore_cte

    from .conftest import compare_query

    k4 = [("k1", "k2"), ("k1", "k3"), ("k1", "k4"), ("k2", "k3"),
          ("k2", "k4"), ("k3", "k4")]
    edges = spark.createDataFrame(
        k4 + [("k1", "c1"), ("c1", "c2"), ("c2", "c3"), ("i1", "i2")],
        "subj string, obj string",
    )
    got = {r.id: r.core_deg for r in kcore(edges, k=2, rounds=8).collect()}
    assert got == {"k1": 3, "k2": 3, "k3": 3, "k4": 3}

    con = duckdb.connect()
    con.register("kctest", edges.toPandas())
    compare_query(
        spark,
        con,
        kcore(edges, k=2, rounds=8),
        "WITH " + kcore_cte("kctest", k=2, rounds=8)
        + "\nSELECT id, core_deg FROM kcore",
    )


def test_dsir_selection_semantics(spark):
    """cur4 hand-computed (no bucket collisions among the 4 distinct
    bigrams): d1 (de) shares both bigrams with the en target doc t1 —
    each bucket has rc=2, tc=1, so s = 2*1e6//3 = 666666; d2's bigrams
    are raw-only (rc=1, tc=0, s = 500000); the en target doc itself
    scores 666666 too; a 1-token doc has no bigrams and is absent; top_k
    truncation keeps the tie-broken head; DuckDB twin agrees."""
    import duckdb

    from glasseenterprise_mcp_spark.operators.dedup import (
        positional_windows,
        positional_windows_cte,
    )
    from glasseenterprise_mcp_spark.operators.textstats import (
        dsir_selection,
        dsir_selection_sql,
    )

    from .conftest import compare_query

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma", "en", "s1", 16),   # target
            (2, "alpha beta gamma", "de", "s1", 16),   # raw, matches target
            (3, "zeta eta theta", "de", "s1", 14),     # raw, no overlap
            (4, "solo", "de", "s1", 4),                # <2 tokens: absent
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    wins = positional_windows(docs, w=2)
    got = {
        r.doc_id: (r.n_feats, r.dsir_score)
        for r in dsir_selection(docs, wins).collect()
    }
    assert got == {1: (2, 666666), 2: (2, 666666), 3: (2, 500000)}

    # top_k truncation with the doc_id tie-break: k=2 keeps docs 1 and 2
    top2 = {r.doc_id for r in dsir_selection(docs, wins, top_k=2).collect()}
    assert top2 == {1, 2}

    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    compare_query(
        spark,
        con,
        dsir_selection(docs, wins),
        "WITH " + positional_windows_cte(2) + "," + dsir_selection_sql(),
    )


def test_pq_topk_properties(spark):
    """sim4 PQ/ADC: on the planted-cluster corpus the M per-subspace
    codebooks resolve the 16 modes, so the ADC shortlist + exact rerank
    recovers the exact top-5 nearly perfectly (measured 1.00; pinned
    ≥ 0.9); on the near-uniform sf0.01 corpus PQ-with-rerank must still
    clear the information-bounded floor of its 20-candidate shortlist
    (pinned ≥ 0.5); rank lists are dense 1..k' with no self-matches, and
    every codebook is corpus-size-independent (M·C entries)."""
    import pyspark.sql.functions as FF

    from glasseenterprise_mcp_spark.operators.similarity import (
        IVF_CENTROIDS,
        PQ_M,
        brute_force_topk,
        pq_codebooks,
        pq_topk,
        quantized,
    )

    NC, N, DIM = 16, 400, 64
    rows = [
        (
            i,
            [
                (((i % NC) * 37 + d * 11) % 21 - 10) * 0.3
                + ((i * 13 + d * 7) % 7 - 3) * 0.03
                for d in range(DIM)
            ],
            f"c{i % NC}",
        )
        for i in range(N)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    qf = FF.expr("vec_id % 25 = 0")
    exact = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, qf).collect()}
    approx = {(r.query_id, r.neighbor_id) for r in pq_topk(emb, qf).collect()}
    assert len(exact & approx) / len(exact) >= 0.9

    # codebook size bound: at most M·C entries regardless of corpus size
    cb = pq_codebooks(quantized(emb)).collect()
    assert len(cb) <= PQ_M * IVF_CENTROIDS
    assert {r.m for r in cb} == set(range(PQ_M))

    # near-uniform corpus floor + rank-density/self-exclusion contract
    emb01 = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qf01 = FF.expr("vec_id % 50 = 0")
    got = pq_topk(emb01, qf01)
    rows01 = got.collect()
    assert all(r.query_id != r.neighbor_id for r in rows01)
    per_q = {}
    for r in rows01:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())
    exact01 = {
        (r.query_id, r.neighbor_id) for r in brute_force_topk(emb01, qf01).collect()
    }
    got01 = {(r.query_id, r.neighbor_id) for r in rows01}
    assert len(exact01 & got01) / len(exact01) >= 0.5


def test_funnel_events_semantics(spark):
    """ev5 hand-computed: u1 completes all 3 stages strictly in order;
    u2's purchase PRECEDES their click so they stall at stage 2; u3 has a
    click but no view (stage 0 — anchoring is ordered, not presence);
    u4's purchase is outside the 7-day horizon of the view; a click at
    the exact same microsecond as the view does NOT count (strict >);
    DuckDB twin agrees."""
    import datetime as dt

    import duckdb

    from glasseenterprise_mcp_spark.operators.analytics import (
        funnel_events,
        funnel_events_sql,
    )

    from .conftest import compare_query

    t0 = dt.datetime(2024, 1, 1)
    S = lambda s: t0 + dt.timedelta(seconds=s)
    rows = [
        # u1: view@0, click@10, purchase@20 → reached 3
        (1, S(0), 1, "view", 0.0, ""), (2, S(10), 1, "click", 0.0, ""),
        (3, S(20), 1, "purchase", 0.0, ""),
        # u2: view@0, purchase@5, click@10 → purchase before click: stage 2
        (4, S(0), 2, "view", 0.0, ""), (5, S(5), 2, "purchase", 0.0, ""),
        (6, S(10), 2, "click", 0.0, ""),
        # u3: click only → stage 0
        (7, S(0), 3, "click", 0.0, ""),
        # u4: view@0, click@10, purchase@8 days → horizon-blocked: stage 2
        (8, S(0), 4, "view", 0.0, ""), (9, S(10), 4, "click", 0.0, ""),
        (10, S(8 * 86400), 4, "purchase", 0.0, ""),
        # u5: click at the SAME instant as the view → strict >: stage 1
        (11, S(0), 5, "view", 0.0, ""), (12, S(0), 5, "click", 0.0, ""),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {r.user_id: r.reached for r in funnel_events(ev).collect()}
    assert got == {1: 3, 2: 2, 3: 0, 4: 2, 5: 1}

    con = duckdb.connect()
    con.register("events", ev.toPandas())
    compare_query(spark, con, funnel_events(ev), funnel_events_sql())


def test_retention_cohorts_semantics(spark):
    """ev6 hand-computed: u1 first active week 0, active weeks 0/1/3;
    u2 joins week 0, only week 0; u3 joins week 1, active weeks 1/2.
    Cohort 0 (size 2): offsets 0→2, 1→1, 3→1; cohort 1 (size 1):
    offsets 0→1, 1→1. Duplicate events inside a week count once."""
    import datetime as dt

    import duckdb

    from glasseenterprise_mcp_spark.operators.analytics import (
        retention_cohorts,
        retention_cohorts_sql,
    )

    from .conftest import compare_query

    t0 = dt.datetime(2024, 1, 1)
    W = lambda w: t0 + dt.timedelta(weeks=w)
    rows = [
        (1, W(0), 1, "view", 0.0, ""), (2, W(0), 1, "click", 0.0, ""),
        (3, W(1), 1, "view", 0.0, ""), (4, W(3), 1, "view", 0.0, ""),
        (5, W(0), 2, "view", 0.0, ""),
        (6, W(1), 3, "view", 0.0, ""), (7, W(2), 3, "view", 0.0, ""),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {
        (r.cohort_wk, r.week_offset): (r.active_users, r.cohort_size, r.retention_pct)
        for r in retention_cohorts(ev).collect()
    }
    assert got == {
        (0, 0): (2, 2, 100), (0, 1): (1, 2, 50), (0, 3): (1, 2, 50),
        (1, 0): (1, 1, 100), (1, 1): (1, 1, 100),
    }

    con = duckdb.connect()
    con.register("events", ev.toPandas())
    compare_query(spark, con, retention_cohorts(ev), retention_cohorts_sql())


def test_link_prediction_semantics(spark):
    """lp1 hand-computed: x and y share neighbors z1 (deg 2) and z2
    (deg 3) and are NOT adjacent → predicted with common=2, aa_ppm =
    1e6//2 + 1e6//3 = 833333; p and q share two neighbors but ARE
    adjacent → excluded; r-s share only one → below min_common; wedges
    through the capped hub (deg > cap) contribute nothing; DuckDB twin
    agrees."""
    import duckdb

    from glasseenterprise_mcp_spark.operators.graph import (
        link_prediction,
        link_prediction_cte,
    )

    from .conftest import compare_query

    hub_edges = [("hub", f"leaf{i}") for i in range(5)]  # deg 5 > cap 4
    edges = spark.createDataFrame(
        [
            ("x", "z1"), ("y", "z1"),               # z1: deg 2
            ("x", "z2"), ("y", "z2"), ("w", "z2"),  # z2: deg 3
            ("p", "m1"), ("q", "m1"), ("p", "m2"), ("q", "m2"), ("p", "q"),
            ("r", "t"), ("s", "t"),
            ("x", "hub"), ("y", "hub"),             # hub wedge must not count
        ]
        + hub_edges,
        "src string, dst string",
    )
    got = {
        (r.x, r.y): (r.common, r.aa_ppm)
        for r in link_prediction(edges, deg_cap=4).collect()
    }
    assert got[("x", "y")] == (2, 1000000 // 2 + 1000000 // 3)
    assert ("p", "q") not in got
    assert ("r", "s") not in got and ("s", "r") not in got

    con = duckdb.connect()
    con.register("lptest", edges.toPandas())
    compare_query(
        spark,
        con,
        link_prediction(edges, deg_cap=4),
        "WITH " + link_prediction_cte("lptest", deg_cap=4)
        + "\nSELECT x, y, common, aa_ppm FROM lp",
    )


def test_label_propagation_semantics(spark):
    """g10 checked against an independent brute-force python simulation of
    the same deterministic rule (synchronous rounds, neighbor-label mode,
    min tie-break) on two triangles joined by a bridge, plus the DuckDB
    twin on the same edges."""
    import duckdb

    from glasseenterprise_mcp_spark.operators.graph import (
        LPA_ROUNDS,
        label_propagation,
        label_propagation_cte,
    )

    from .conftest import compare_query

    edges = [
        ("a", "b"), ("b", "c"), ("a", "c"),          # triangle 1
        ("x", "y"), ("y", "z"), ("x", "z"),          # triangle 2
        ("c", "x"),                                   # bridge
        ("solo1", "solo2"),                           # 2-path component
    ]
    df = spark.createDataFrame(edges, "src string, dst string")

    # independent simulator
    from collections import Counter, defaultdict

    adj = defaultdict(set)
    for s, d in edges:
        adj[s].add(d)
        adj[d].add(s)
    lab = {n: n for n in adj}
    for _ in range(LPA_ROUNDS):
        nxt = {}
        for n in adj:
            cnt = Counter(lab[v] for v in adj[n])
            best = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            nxt[n] = best
        lab = nxt
    got = {r.id: r.community for r in label_propagation(df).collect()}
    assert got == lab
    # the two triangles must resolve to internally-uniform communities
    assert len({got["a"], got["b"], got["c"]}) == 1
    assert len({got["x"], got["y"], got["z"]}) == 1

    con = duckdb.connect()
    con.register("lpatest", df.toPandas())
    compare_query(
        spark,
        con,
        label_propagation(df),
        "WITH " + label_propagation_cte("lpatest")
        + "\nSELECT id, community FROM lpa",
    )


def test_hll_distinct_properties(spark):
    """sk2: raw-estimator relative error < 30% when n >> m (5000 distinct
    users, m=32); registers bounded by m; DuckDB twin agrees."""
    import datetime as dt

    import duckdb

    from glasseenterprise_mcp_spark.operators.analytics import (
        HLL_M,
        hll_distinct,
        hll_distinct_sql,
    )

    from .conftest import compare_query

    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, t0, i, "view", 0.0, "") for i in range(5000)]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = hll_distinct(ev).collect()
    assert len(out) == 1
    r = out[0]
    assert r.exact_distinct == 5000
    assert r.present_regs <= HLL_M and r.zero_regs == HLL_M - r.present_regs
    assert abs(r.est_distinct - 5000) / 5000 < 0.30, r.est_distinct

    con = duckdb.connect()
    con.register("events", ev.toPandas())
    compare_query(spark, con, hll_distinct(ev), hll_distinct_sql())


def test_cms_heavy_hitters_properties(spark):
    """sk3: the planted heavy entity is reported, its estimate never
    undercounts (CMS one-sided error), singletons stay below the 1%
    threshold; DuckDB twin agrees."""
    import duckdb

    from glasseenterprise_mcp_spark.operators.analytics import (
        cms_heavy_hitters,
        cms_heavy_hitters_cte,
    )

    from .conftest import compare_query

    rows = [("hot",)] * 300 + [(f"e{i}",) for i in range(700)]
    m = spark.createDataFrame(rows, "norm string").withColumn(
        "mtype", F.lit("entity")
    )
    got = {r.norm: (r.exact_n, r.est_n) for r in cms_heavy_hitters(m).collect()}
    assert "hot" in got
    assert got["hot"][0] == 300 and got["hot"][1] >= 300
    # threshold = 1% of 1000 = 10: no singleton can be estimated >= 10
    # unless collisions pushed it there — and every reported est >= exact
    assert all(est >= exact for exact, est in got.values())

    con = duckdb.connect()
    con.register("mentions", m.toPandas())
    compare_query(
        spark,
        con,
        cms_heavy_hitters(m),
        "WITH " + cms_heavy_hitters_cte()
        + "\nSELECT norm, exact_n, est_n FROM cms",
    )


def test_group_quantiles_semantics(spark):
    """qn1 hand-computed: values 1..10 in one group — p50 picks rank
    (9·50)//100+1 = 5, p90 and p99 both pick rank 9; a second group with
    a single row returns that row for every p; exercised across 4 range
    partitions so local ranks + bases genuinely compose; DuckDB twin."""
    import datetime as dt

    import duckdb

    from glasseenterprise_mcp_spark.operators.analytics import (
        group_quantiles,
        group_quantiles_sql,
    )

    from .conftest import compare_query

    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, t0, 1, "view", float(i), "") for i in range(1, 11)]
    rows.append((100, t0, 1, "click", 7.5, ""))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {
        (r.event_type, r.p): (r.q_value, r.n)
        for r in group_quantiles(ev, n_parts=4).collect()
    }
    assert got == {
        ("view", 50): (5.0, 10),
        ("view", 90): (9.0, 10),
        ("view", 99): (9.0, 10),
        ("click", 50): (7.5, 1),
        ("click", 90): (7.5, 1),
        ("click", 99): (7.5, 1),
    }

    con = duckdb.connect()
    con.register("events", ev.toPandas())
    compare_query(spark, con, group_quantiles(ev, n_parts=4), group_quantiles_sql())


def test_attribution_semantics(spark):
    """ev7 hand-computed: view 1h before purchase → view credited; touch
    exactly at the lookback boundary still credited; purchase with no
    preceding touch → 'none'; touch AFTER the purchase doesn't count;
    later touch shadows the earlier one (last-touch, not first-touch);
    DuckDB twin agrees."""
    import datetime as dt

    import duckdb

    from glasseenterprise_mcp_spark.operators.analytics import (
        attribute_conversions,
        attribute_conversions_sql,
    )

    from .conftest import compare_query

    t0 = dt.datetime(2024, 1, 1)
    S = lambda s: t0 + dt.timedelta(seconds=s)
    DAY = 86_400
    rows = [
        # u1: view@0 then click@100 then purchase@3600 → click (last touch)
        (1, S(0), 1, "view", 0.0, ""), (2, S(100), 1, "click", 0.0, ""),
        (3, S(3600), 1, "purchase", 0.0, ""),
        # u2: view exactly 1 day before purchase → boundary inclusive
        (4, S(0), 2, "view", 0.0, ""), (5, S(DAY), 2, "purchase", 0.0, ""),
        # u3: purchase with no touch → none
        (6, S(0), 3, "purchase", 0.0, ""),
        # u4: view @2 days before purchase → outside lookback → none
        (7, S(0), 4, "view", 0.0, ""), (8, S(2 * DAY), 4, "purchase", 0.0, ""),
        # u5: purchase@0, view@10 (touch after purchase) → none
        (9, S(0), 5, "purchase", 0.0, ""), (10, S(10), 5, "view", 0.0, ""),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {r.channel: (r.n_attributed, r.n_users) for r in
           attribute_conversions(ev).collect()}
    assert got == {"click": (1, 1), "view": (1, 1), "none": (3, 3)}

    con = duckdb.connect()
    con.register("events", ev.toPandas())
    compare_query(
        spark, con, attribute_conversions(ev), attribute_conversions_sql()
    )


def test_semdedup_semantics(spark):
    """cur5: three planted near-identical vectors land in one cell and
    collapse to the min id (dup_of = 1 for the other two); well-separated
    vectors all survive; DuckDB twin agrees."""
    import duckdb

    from glasseenterprise_mcp_spark.operators.similarity import DIM, semdedup, semdedup_sql

    def vec(seed, bump=0):
        # deterministic pseudo-random direction per seed
        return [
            ((seed * 37 + i * 101) % 19) - 9 + (bump if i == 0 else 0)
            for i in range(DIM)
        ]

    rows = [(1, [float(x) for x in vec(7)], "q")]
    rows += [(2, [float(x) for x in vec(7, 1)], "q")]   # near-twin of 1
    rows += [(3, [float(x) for x in vec(7, -1)], "q")]  # near-twin of 1
    rows += [(i, [float(x) for x in vec(i * 13 + 1)], "c") for i in range(4, 40)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    out = {r.vec_id: (r.kept, r.dup_of) for r in
           semdedup(emb, n_centroids=4, n_refine=1).collect()}
    assert out[1] == (True, None)
    assert out[2] == (False, 1) and out[3] == (False, 1)

    con = duckdb.connect()
    con.register("embeddings", emb.toPandas())
    from .conftest import compare_query

    compare_query(
        spark,
        con,
        semdedup(emb, n_centroids=4, n_refine=1),
        semdedup_sql(n_centroids=4, n_refine=1),
    )


def test_hits_semantics(spark):
    """g11 checked against an independent python simulation of the same
    integer recurrence on a small bipartite graph (two hubs sharing one
    authority, one exclusive authority each, plus an isolated edge), and
    the DuckDB twin."""
    import duckdb

    from glasseenterprise_mcp_spark.operators.graph import (
        HITS_ROUNDS,
        HITS_SCALE,
        hits,
        hits_cte,
    )

    from .conftest import compare_query

    edges = [
        ("h1", "a1"), ("h1", "a2"),
        ("h2", "a2"), ("h2", "a3"),
        ("h3", "a4"),
    ]
    df = spark.createDataFrame(edges, "subj string, obj string")

    nodes = sorted({n for e in edges for n in e})
    hub = {n: HITS_SCALE for n in nodes}
    auth = {n: HITS_SCALE for n in nodes}
    for _ in range(HITS_ROUNDS):
        araw = {n: 0 for n in nodes}
        for s, d in edges:
            araw[d] += hub[s]
        tot = sum(araw.values())
        auth = {n: (araw[n] * HITS_SCALE // tot if tot > 0 else 0) for n in nodes}
        hraw = {n: 0 for n in nodes}
        for s, d in edges:
            hraw[s] += auth[d]
        tot = sum(hraw.values())
        hub = {n: (hraw[n] * HITS_SCALE // tot if tot > 0 else 0) for n in nodes}

    got = {r.id: (r.hub, r.auth) for r in hits(df).collect()}
    assert got == {n: (hub[n], auth[n]) for n in nodes}
    # bipartite sanity: the shared authority a2 outranks the exclusive ones
    assert got["a2"][1] > got["a1"][1]
    # pure authorities have hub 0; pure hubs have auth 0
    assert got["a1"][0] == 0 and got["h1"][1] == 0

    con = duckdb.connect()
    con.register("hitstest", df.toPandas())
    compare_query(
        spark,
        con,
        hits(df),
        "WITH " + hits_cte("hitstest")
        + "\nSELECT id, hub, auth FROM hits_out",
    )


def test_hopping_counts_semantics(spark):
    """w5 hand-computed: an event at minute 20 belongs to exactly the 4
    hour-windows starting at :30/:15/:00 before it and its own :15 floor;
    two events 30 minutes apart share exactly 2 windows; distinct-user
    counts differ from row counts inside shared windows; DuckDB twin."""
    import datetime as dt

    import duckdb

    from glasseenterprise_mcp_spark.operators.analytics import (
        hopping_event_counts,
        hopping_event_counts_sql,
    )

    from .conftest import compare_query

    t0 = dt.datetime(2024, 1, 1)
    M = lambda m: t0 + dt.timedelta(minutes=m)
    rows = [
        (1, M(20), 1, "view", 0.0, ""),
        (2, M(50), 1, "view", 0.0, ""),   # same user, 30 min later
        (3, M(50), 2, "view", 0.0, ""),   # different user, same instant
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {
        r.window_start: (r.n, r.users)
        for r in hopping_event_counts(ev).collect()
    }
    base = int(t0.replace(tzinfo=dt.timezone.utc).timestamp())
    # event@20 covers starts at -45,-30,-15,0 past-hour offsets of its
    # 15-min floor (minute 15): windows 15,0,-15,-30; events@50 cover
    # 45,30,15,0. Shared windows: 0 and 15 (minutes).
    assert got[base + 15 * 60] == (3, 2)
    assert got[base + 0] == (3, 2)
    assert got[base - 30 * 60] == (1, 1)
    assert got[base + 45 * 60] == (2, 2)
    # every event appears in exactly 4 windows
    assert sum(n for n, _ in got.values()) == 12

    con = duckdb.connect()
    con.register("events", ev.toPandas())
    compare_query(
        spark, con, hopping_event_counts(ev), hopping_event_counts_sql()
    )


def test_session_overlap_pairs_semantics(spark):
    """ev8 hand-computed: u1-s1 [0,100] overlaps u2-s1 [50,150] by 50 and
    TOUCHES u3-s1 [100,200] (overlap 0 — inclusive); u4 [5000,5100] is
    disjoint from all; a pair spanning a bucket boundary counts ONCE
    (bucket_s=60 forces multi-bucket intervals); same-user session pairs
    never overlap by gap construction but canonical order still dedups;
    DuckDB twin (the independent naive range join) agrees."""
    import datetime as dt

    import duckdb

    from glasseenterprise_mcp_spark.operators.analytics import (
        session_intervals_cte,
        session_overlap_pairs,
        session_overlap_pairs_cte,
    )

    from .conftest import compare_query

    t0 = dt.datetime(2024, 1, 1)
    S = lambda s: t0 + dt.timedelta(seconds=s)
    rows = [
        (1, S(0), 1, "view", 0.0, ""), (2, S(100), 1, "view", 0.0, ""),
        (3, S(50), 2, "view", 0.0, ""), (4, S(150), 2, "view", 0.0, ""),
        (5, S(100), 3, "view", 0.0, ""), (6, S(200), 3, "view", 0.0, ""),
        (7, S(5000), 4, "view", 0.0, ""), (8, S(5100), 4, "view", 0.0, ""),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {
        (r.user_a, r.session_a, r.user_b, r.session_b): r.overlap_s
        for r in session_overlap_pairs(
            ev, bucket_s=60, min_overlap_s=0, k=10
        ).collect()
    }
    assert got == {
        (1, 1, 2, 1): 50,
        (1, 1, 3, 1): 0,
        (2, 1, 3, 1): 50,
    }
    # the threshold prunes the touching pair; the cap keeps the longest
    capped = {
        (r.user_a, r.session_a, r.user_b, r.session_b): r.overlap_s
        for r in session_overlap_pairs(
            ev, bucket_s=60, min_overlap_s=1, k=1
        ).collect()
    }
    assert capped == {(1, 1, 2, 1): 50, (2, 1, 3, 1): 50}

    con = duckdb.connect()
    con.register("events", ev.toPandas())
    compare_query(
        spark,
        con,
        session_overlap_pairs(ev, bucket_s=60, min_overlap_s=0, k=10),
        "WITH " + session_intervals_cte() + ",\n"
        + session_overlap_pairs_cte(min_overlap_s=0, k=10)
        + "\nSELECT user_a, session_a, user_b, session_b, overlap_s FROM ov",
    )


def test_cube_counts_semantics(spark):
    """a9 hand-computed on a 2x2 corpus: the CUBE emits all four grouping
    sets with the right masks (0 = both dims live, 3 = grand total), the
    grand total counts every row, and the mask disambiguates a ROLLED-UP
    NULL from a GENUINE NULL dimension value; DuckDB twin agrees."""
    import duckdb

    from glasseenterprise_mcp_spark.operators.analytics import (
        cube_mention_counts,
        cube_mention_counts_cte,
    )

    from .conftest import compare_query

    rows = [
        ("entity", "user", "a"), ("entity", "user", "b"),
        ("entity", "tool", "a"), ("url", "user", "u1"),
        (None, "user", "x"),  # genuine NULL mtype
    ]
    m = spark.createDataFrame(rows, "mtype string, role string, norm string")
    got = {
        (r.mtype, r.role, r.gmask): (r.n, r.n_norms)
        for r in cube_mention_counts(m).collect()
    }
    assert got[(None, None, 3)] == (5, 4)          # grand total
    assert got[("entity", "user", 0)] == (2, 2)    # fully grouped
    assert got[("entity", None, 1)] == (3, 2)      # role rolled up
    assert got[(None, "user", 2)] == (4, 4)        # mtype rolled up
    assert got[(None, "user", 0)] == (1, 1)        # GENUINE NULL, mask 0
    # sets: (m,r) pairs incl. genuine-NULL mtype = 4, (m) = 3, (r) = 2, () = 1
    assert len(got) == 4 + 3 + 2 + 1

    con = duckdb.connect()
    con.register("mentions", m.toPandas())
    compare_query(
        spark,
        con,
        cube_mention_counts(m),
        "WITH " + cube_mention_counts_cte()
        + "\nSELECT mtype, role, n, n_norms, gmask FROM cube_counts",
    )


def test_personalized_pagerank_semantics(spark, monkeypatch):
    """g12 checked against an independent python simulation of the same
    integer recurrence (seed-concentrated teleport + dangling mass, md5
    seed sample) on a small directed graph; seeds must outrank comparable
    non-seeds; DuckDB twin agrees. With every node a seed the ranks are
    g6's PageRank, on both paths."""
    import hashlib

    import duckdb

    from glasseenterprise_mcp_spark.operators.graph import (
        PR_DAMPING_PCT,
        PR_ITERS,
        PR_SCALE,
        personalized_pagerank,
        personalized_pagerank_cte,
    )

    from .conftest import compare_query

    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"),
        ("d", "a"), ("e", "d"), ("c", "f"),  # f is a dangling sink
    ]
    df = spark.createDataFrame(edges, "subj string, obj string")
    nodes = sorted({n for e in edges for n in e})
    n_seeds = 2
    seeds = set(
        sorted(nodes, key=lambda x: (hashlib.md5(x.encode()).hexdigest(), x))[
            :n_seeds
        ]
    )
    out = {n: [d for s, d in edges if s == n] for n in nodes}
    N, k, d = len(nodes), n_seeds, PR_DAMPING_PCT
    seed_base = (100 - d) * PR_SCALE * N // (100 * k)
    r = {n: PR_SCALE for n in nodes}
    for _ in range(PR_ITERS):
        in_sum = {n: 0 for n in nodes}
        for u in nodes:
            if out[u]:
                c = r[u] // len(out[u])
                for v in out[u]:
                    in_sum[v] += c
        dang = sum(r[u] for u in nodes if not out[u])
        r = {
            n: (seed_base if n in seeds else 0)
            + d * (in_sum[n] + (dang // k if n in seeds else 0)) // 100
            for n in nodes
        }
    got = {x.id: (x.rank, x.is_seed) for x in
           personalized_pagerank(df, n_seeds=n_seeds).collect()}
    assert got == {n: (r[n], n in seeds) for n in nodes}
    # the teleport concentrates mass: total seed rank exceeds a uniform share
    assert sum(v for n, (v, s) in got.items() if s) > sum(r.values()) * k // N

    con = duckdb.connect()
    con.register("pprtest", df.toPandas())
    compare_query(
        spark,
        con,
        personalized_pagerank(df, n_seeds=n_seeds),
        "WITH " + personalized_pagerank_cte("pprtest", n_seeds=n_seeds)
        + "\nSELECT id, rank, is_seed FROM ppr",
    )

    # n_seeds = N: every node a seed, so the ranks are pagerank's, with the
    # gates as shipped and with every gate at 0
    from glasseenterprise_mcp_spark.operators.graph import pagerank

    for gates in ("shipped", "zero"):
        if gates == "zero":
            for gate in route.DRIVER_ROWS:
                monkeypatch.setitem(route.DRIVER_ROWS, gate, 0)
        want = {x.id: (x.rank, True) for x in pagerank(df).collect()}
        got = {x.id: (x.rank, x.is_seed) for x in
               personalized_pagerank(df, n_seeds=N).collect()}
        assert got == want, gates


def test_harmonic_centrality_semantics(spark):
    """g13 vs an independent python BFS simulation of the same recurrence
    (same md5 seed rule, undirected closure, bounded hops, integer div) on
    a path + a disconnected pair; a reversed-only edge still connects (the
    closure is undirected); empty edges yield an empty typed frame; the
    DuckDB recursive-CTE twin agrees on the full output."""
    import hashlib

    import duckdb

    from glasseenterprise_mcp_spark.operators.graph import (
        harmonic_centrality,
        harmonic_centrality_cte,
    )

    from .conftest import compare_query

    edges = [
        ("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
        ("g", "f"),  # reversed-only: f reaches g via the closure
    ]
    e = spark.createDataFrame(edges, "subj string, obj string")

    # independent simulation
    und: dict[str, set[str]] = {}
    for s_, d_ in edges:
        und.setdefault(s_, set()).add(d_)
        und.setdefault(d_, set()).add(s_)
    nodes = sorted(und)
    seeds = sorted(nodes, key=lambda x: (hashlib.md5(x.encode()).hexdigest(), x))[:3]
    expect: dict[str, list[int]] = {}
    for s_ in seeds:
        dist = {s_: 0}
        frontier = [s_]
        for r in range(4):
            nxt = []
            for u in frontier:
                for v in und[u]:
                    if v not in dist:
                        dist[v] = r + 1
                        nxt.append(v)
            frontier = nxt
        for v, d_ in dist.items():
            if v != s_:
                expect.setdefault(v, []).append(1_000_000 // d_)
    want = {v: (sum(c), len(c)) for v, c in expect.items()}

    got = {
        r.id: (r.hc, r.n_seen)
        for r in harmonic_centrality(e, n_seeds=3).collect()
    }
    assert got == want

    con = duckdb.connect()
    con.register("hctest", e.toPandas())
    compare_query(
        spark,
        con,
        harmonic_centrality(e, n_seeds=3),
        "WITH " + harmonic_centrality_cte("hctest", n_seeds=3)
        + "\nSELECT id, hc, n_seen FROM hc",
    )

    empty = spark.createDataFrame([], "subj string, obj string")
    assert harmonic_centrality(empty).count() == 0


def test_log_histogram_quantiles_semantics(spark):
    """sk4 vs an independent python simulation (int.bit_length buckets,
    qn1's discrete rank rule), the factor-2 sandwich against the EXACT
    qn1 quantile on the same data, sum-mergeability of the histogram
    under an arbitrary split, and the DuckDB twin."""
    import datetime as dt

    import duckdb

    from glasseenterprise_mcp_spark.operators.analytics import (
        group_quantiles,
        log_histogram_quantiles,
        log_histogram_quantiles_sql,
        log_value_histogram,
    )

    from .conftest import compare_query

    t0 = dt.datetime(2024, 1, 1)
    vals = [0.01, 0.5, 1.0, 1.5, 2.0, 7.0, 7.0, 63.9, 64.1, 400.0]
    rows = [(i, t0, 1, "view", v, "") for i, v in enumerate(vals)]
    rows += [(100, t0, 1, "click", 5.0, ""), (101, t0, 1, "click", None, "")]
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    ev = spark.createDataFrame(rows, schema)

    # independent simulation
    def sim(values, ps=(50, 90, 99)):
        ints = sorted(int(abs(v) * 1000) + 1 for v in values)
        n = len(ints)
        hist: dict[int, int] = {}
        for x in ints:
            hist[x.bit_length()] = hist.get(x.bit_length(), 0) + 1
        out = {}
        for p in ps:
            rn = (n - 1) * p // 100 + 1
            cum = 0
            for b in sorted(hist):
                cum += hist[b]
                if cum >= rn:
                    out[p] = (n, len(hist), b, 1 << (b - 1))
                    break
        return out

    got = {
        (r.event_type, r.p): (r.n, r.n_buckets, r.q_bucket, r.q_est)
        for r in log_histogram_quantiles(ev).collect()
    }
    want = {("view", p): v for p, v in sim(vals).items()}
    want.update({("click", p): v for p, v in sim([5.0]).items()})
    assert got == want

    # factor-2 sandwich against qn1's exact answer (same rank rule)
    exact = {
        (r.event_type, r.p): r.q_value for r in group_quantiles(ev).collect()
    }
    for (et, p), (_, _, _, q_est) in got.items():
        w = int(abs(exact[(et, p)]) * 1000) + 1
        assert q_est <= w < 2 * q_est, (et, p, q_est, w)

    # histogram counts sum-merge under any input split
    half_a = ev.filter(F.col("event_id") % 2 == 0)
    half_b = ev.filter(F.col("event_id") % 2 == 1)
    merged: dict[tuple, int] = {}
    for half in (half_a, half_b):
        for r in log_value_histogram(half).collect():
            merged[(r.event_type, r.bucket)] = (
                merged.get((r.event_type, r.bucket), 0) + r.cnt
            )
    whole = {
        (r.event_type, r.bucket): r.cnt
        for r in log_value_histogram(ev).collect()
    }
    assert merged == whole

    con = duckdb.connect()
    con.register("events", ev.toPandas())
    compare_query(
        spark, con, log_histogram_quantiles(ev), log_histogram_quantiles_sql()
    )


def test_image_near_dups_semantics(spark):
    """mm11 vs an independent python/numpy simulation of the whole chain
    (decode-free: pixels from the closed form, NN resize, integer gray,
    mean threshold, band ints, hamming) on a doc set crafted to contain an
    exact-dup pair (Δdoc_id = lcm(256, 48) = 768 ⇒ identical pixels AND
    dims); the engine's banded join must equal the naive all-pairs set
    (pigeonhole losslessness), and the DuckDB twin agrees."""
    import itertools

    import duckdb
    import numpy as np

    from glasseenterprise_mcp_spark.operators.multimodal import (
        image_near_dups,
        image_near_dups_sql,
        synthesize_ppm_media,
    )

    ids = [0, 1, 7, 768, 769, 99, 100, 355, 611]  # 0/768 and 1/769 exact dups

    def sim_bands(d):
        w, h = d % 16 + 4, d % 12 + 4
        y, x, c = np.ogrid[0:h, 0:w, 0:3]
        px = (37 * d + 11 * y + 7 * x + 13 * c) % 256
        yi = (np.arange(8) * h) // 8
        xi = (np.arange(8) * w) // 8
        gray = px[np.ix_(yi, xi)].astype("int64").sum(axis=2) // 3
        bits = (64 * gray.ravel() >= int(gray.sum())).astype(int)
        return tuple(
            sum(int(bits[n * 16 + k]) << k for k in range(16)) for n in range(4)
        )

    sig = {d: sim_bands(d) for d in ids}

    # class collapse: identical signatures -> one class (id = min member)
    classes: dict[tuple, list[int]] = {}
    for d in sorted(ids):
        classes.setdefault(sig[d], []).append(d)
    cls = {min(v): (k, len(v)) for k, v in classes.items()}

    def ham(x, y):
        return sum(bin(a ^ b).count("1") for a, b in zip(x, y))

    want = {
        (a, b): (ham(cls[a][0], cls[b][0]), cls[a][1], cls[b][1])
        for a, b in itertools.combinations(sorted(cls), 2)
        if ham(cls[a][0], cls[b][0]) <= 3
    }
    # planted exact dups collapse INTO their class, not into pair rows
    assert sig[0] == sig[768] and sig[1] == sig[769]
    assert cls[0][1] >= 2  # class 0 carries its exact-dup member count

    docs = spark.createDataFrame([(d, "t") for d in ids], "doc_id long, text string")
    got = {
        (r.a, r.b): (r.hamming, r.na, r.nb)
        for r in image_near_dups(synthesize_ppm_media(docs)).collect()
    }
    assert got == want

    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    from .conftest import compare_query

    compare_query(
        spark,
        con,
        image_near_dups(synthesize_ppm_media(docs)),
        image_near_dups_sql(),
    )


def test_strongly_connected_components_semantics(spark):
    """g14 vs an independent python Tarjan on a graph crafted to contain a
    3-cycle, a 2-cycle hanging off it, a DAG tail, a self-loop, and an
    isolated edge: the closure+mutual decomposition must equal the classic
    stack algorithm's partition (min-member ids, sizes); the DuckDB
    recursive-CTE twin agrees on the full output; empty edges yield an
    empty typed frame."""
    import duckdb

    from glasseenterprise_mcp_spark.operators.graph import (
        strongly_connected_components,
        strongly_connected_components_cte,
    )

    from .conftest import compare_query

    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"),      # 3-cycle {a,b,c}
        ("c", "d"), ("d", "e"), ("e", "d"),      # 2-cycle {d,e} downstream
        ("e", "f"), ("f", "g"),                  # DAG tail
        ("h", "h"),                              # self-loop (trivial SCC)
        ("x", "y"),                              # isolated edge
    ]

    # independent simulation: iterative Tarjan
    adj: dict[str, list[str]] = {}
    nodes = set()
    for s_, d_ in edges:
        adj.setdefault(s_, []).append(d_)
        nodes.update((s_, d_))
    index: dict[str, int] = {}
    low: dict[str, int] = {}
    on_stack: set[str] = set()
    stack: list[str] = []
    comps: list[list[str]] = []
    counter = [0]

    def tarjan(v0):
        work = [(v0, 0)]
        while work:
            v, pi = work.pop()
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            for i in range(pi, len(adj.get(v, []))):
                w = adj[v][i]
                if w not in index:
                    work.append((v, i + 1))
                    work.append((w, 0))
                    recurse = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if not recurse:
                if low[v] == index[v]:
                    comp = []
                    while True:
                        w = stack.pop()
                        on_stack.discard(w)
                        comp.append(w)
                        if w == v:
                            break
                    comps.append(comp)
                if work:
                    parent = work[-1][0]
                    low[parent] = min(low[parent], low[v])

    for v in sorted(nodes):
        if v not in index:
            tarjan(v)
    want = {}
    for comp in comps:
        cid = min(comp)
        for v in comp:
            want[v] = (cid, len(comp))
    assert want["a"] == ("a", 3) and want["d"] == ("d", 2)
    assert want["h"] == ("h", 1) and want["f"] == ("f", 1)

    e = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r.id: (r.scc_id, r.scc_size)
        for r in strongly_connected_components(e).collect()
    }
    assert got == want

    con = duckdb.connect()
    con.register("scctest", e.toPandas())
    compare_query(
        spark,
        con,
        strongly_connected_components(e),
        "WITH " + strongly_connected_components_cte("scctest")
        + "\nSELECT id, scc_id, scc_size FROM scc",
    )

    empty = spark.createDataFrame([], "src string, dst string")
    assert strongly_connected_components(empty).count() == 0


def test_temperature_mix_semantics(spark):
    """cur6 vs an independent python simulation (math.isqrt — exact by
    definition, so this pins the engine's floor(sqrt)+correction isqrt —
    ppm div arithmetic, md5 byte gate): a skewed 3-source corpus where the
    smallest source must keep 100% (it has the max w/n ratio) and the
    head source keeps ~sqrt-proportionally less; the DuckDB twin agrees
    on the full output."""
    import hashlib
    import math
    from collections import Counter

    import duckdb

    from glasseenterprise_mcp_spark.operators.textstats import (
        temperature_mix,
        temperature_mix_sql,
    )

    from .conftest import compare_query

    rows = []
    did = 0
    for src, n in [("head", 400), ("mid", 64), ("tail", 4)]:
        for _ in range(n):
            rows.append((did, src, "t"))
            did += 1

    n_by = Counter(s for _, s, _ in rows)
    ratio = {s: math.isqrt(n) * 1_000_000_000 // n for s, n in n_by.items()}
    mx = max(ratio.values())
    keep = {s: r * 1_000_000 // mx for s, r in ratio.items()}
    thr = {s: format(keep[s] * 256 // 1_000_000, "03x") for s in keep}
    kept = Counter(
        s
        for d, s, _ in rows
        if ("0" + hashlib.md5(str(d).encode()).hexdigest()[:2]) < thr[s]
    )
    want = {
        s: (n_by[s], math.isqrt(n_by[s]), keep[s], kept.get(s, 0)) for s in n_by
    }
    assert keep["tail"] == 1_000_000  # max-ratio source keeps everything
    assert kept["tail"] == 4
    assert keep["head"] < keep["mid"] < 1_000_000  # sqrt-flattened ordering

    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r.source: (r.n_docs, r.w, r.keep_ppm, r.kept_docs)
        for r in temperature_mix(docs).collect()
    }
    assert got == want

    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    compare_query(spark, con, temperature_mix(docs), temperature_mix_sql())


def test_zorder_key_semantics(spark):
    """zo1 vs an independent python simulation (min-max 16-bit
    quantization, Morton interleave) on a crafted grid, plus the DuckDB
    twin; and the known Morton identities: (0,0)->0, (max,max)->2^32-1,
    za alone fills even bit positions, zb odd."""
    import datetime as dt

    import duckdb

    from glasseenterprise_mcp_spark.operators.layout import (
        zorder_key,
        zorder_key_sql,
    )

    from .conftest import compare_query

    base = dt.datetime(2024, 1, 1)
    rows = []
    us, ts = [], []
    eid = 0
    for u in (0, 1, 17, 255, 1000):
        for m in (0, 5, 59, 600, 1439):
            rows.append((eid, base + dt.timedelta(minutes=m), u, "view", 1.0, ""))
            us.append(u)
            ts.append(int((base + dt.timedelta(minutes=m)).timestamp() * 1_000_000))
            eid += 1

    def quant(v, lo, hi):
        return (v - lo) * 65535 // max(1, hi - lo)

    def morton(a, b):
        out = 0
        for k in range(16):
            out |= ((a >> k) & 1) << (2 * k)
            out |= ((b >> k) & 1) << (2 * k + 1)
        return out

    want = {}
    for i, (u, t) in enumerate(zip(us, ts)):
        za = quant(u, min(us), max(us))
        zb = quant(t, min(ts), max(ts))
        want[i] = (za, zb, morton(za, zb))
    assert morton(0, 0) == 0 and morton(65535, 65535) == 2**32 - 1
    assert morton(65535, 0) == sum(1 << (2 * k) for k in range(16))

    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {r.event_id: (r.za, r.zb, r.zkey) for r in zorder_key(ev).collect()}
    assert got == want

    con = duckdb.connect()
    con.register("events", ev.toPandas())
    compare_query(spark, con, zorder_key(ev), zorder_key_sql())


def test_zorder_key_wide_span(spark):
    """r6 ADVICE: int64 (v-min)*65535 silently wraps once the span exceeds
    ~1.4e14 (snowflake ids / >4.46y of unix_micros). The decimal-routed
    quantization must keep za/zb exact — in [0, 65535], monotone in v, and
    matching the python big-int simulation — on spans that overflow the
    old int64 product."""
    import datetime as dt

    from glasseenterprise_mcp_spark.operators.layout import zorder_key

    base = dt.datetime(2015, 1, 1)
    # user ids spanning 9e17 (snowflake-scale); ts spanning ~9 years
    us = [0, 1, 7_000_000_000_000_000, 900_000_000_000_000_000]
    days = [0, 400, 2200, 3300]
    rows = [
        (i, base + dt.timedelta(days=d), u, "view", 1.0, "")
        for i, (u, d) in enumerate(zip(us, days))
    ]
    ts = [
        int((base + dt.timedelta(days=d)).timestamp() * 1_000_000)
        for d in days
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {r.event_id: (r.za, r.zb) for r in zorder_key(ev).collect()}

    def quant(v, lo, hi):  # python ints: exact
        return (v - lo) * 65535 // max(1, hi - lo)

    for i, (u, t) in enumerate(zip(us, ts)):
        za, zb = got[i]
        assert (za, zb) == (quant(u, min(us), max(us)), quant(t, min(ts), max(ts)))
        assert 0 <= za <= 65535 and 0 <= zb <= 65535


def test_zorder_layout_prunes_2d(spark):
    """The payoff measurement: the SAME rectangle predicate, judged by
    per-file min/max stats (exactly the footer-pruning decision a scan
    planner makes), must touch strictly fewer files under the z-order
    layout than under a single-dimension sort of the same rows — the
    2-D locality single-column clustering cannot provide."""
    import tempfile

    from glasseenterprise_mcp_spark.operators.layout import (
        file_prune_stats,
        write_zordered,
    )

    # 64x64 grid of (za, zb) — uniform 2-D mass, pre-quantized by scaling
    df = (
        spark.range(4096)
        .selectExpr(
            "id AS event_id",
            "CAST((id % 64) * 65535 div 63 AS BIGINT) AS za",
            "CAST((id div 64) * 65535 div 63 AS BIGINT) AS zb",
        )
        .selectExpr(
            "event_id", "za", "zb",
            "CAST("
            + "+".join(
                f"(((za >> {k}) & 1) << {2 * k}) + (((zb >> {k}) & 1) << {2 * k + 1})"
                for k in range(16)
            )
            + " AS BIGINT) AS zkey",
        )
    )
    zdir = tempfile.mkdtemp()
    sdir = tempfile.mkdtemp()
    write_zordered(df, zdir, 16)
    # comparison layout: same rows, same file count, single-dim sort
    (
        df.repartitionByRange(16, "zb")
        .sortWithinPartitions("zb")
        .write.mode("overwrite")
        .parquet(sdir)
    )
    # middle-quarter rectangle in both dims
    rect = (16384, 32767)
    z_tot, z_need = file_prune_stats(spark, zdir, rect, rect)
    s_tot, s_need = file_prune_stats(spark, sdir, rect, rect)
    assert z_tot == s_tot == 16
    # single-dim layout prunes zb (4/16 files) but every file spans all za;
    # the z-order layout prunes BOTH dims
    assert z_need < s_need, (z_need, s_need)
    assert z_need <= 6


def test_bloom_semi_join_semantics(spark):
    """bf1: (1) the result is EXACTLY the plain semi join (no false
    negatives — verified on a keyspace crafted so bloom false positives
    are certain to exist at this array size); (2) the prefilter's saving
    and cost are MEASURED: pruned is a superset of true matches with a
    false-positive rate under 5% at the default 16384-bit/3-hash sizing
    with 500 keys (theory: (1-e^{-3*500/16384})^3 ~ 0.06%); (3) the
    bit-array build matches an independent python xxhash simulation is
    implicitly covered by (1)-(2) since any bit error would flip a
    membership test."""
    import pyspark.sql.functions as F

    from glasseenterprise_mcp_spark.functions.bloom import bloom_semi_join

    big = spark.range(100_000).select(F.col("id").alias("k"))
    keys = spark.range(500).select((F.col("id") * 7 + 3).alias("k"))

    result, pruned = bloom_semi_join(big, keys, "k")
    got = sorted(r.k for r in result.collect())
    want = sorted(
        r.k
        for r in big.join(keys.distinct(), "k", "left_semi").collect()
    )
    assert got == want and len(want) == 500

    n_pruned = pruned.count()
    assert n_pruned >= 500  # superset (no false negatives)
    fp_rate = (n_pruned - 500) / (100_000 - 500)
    assert fp_rate < 0.05, fp_rate


def test_compact_parquet_row_identity(spark):
    """Compaction contract: file count drops to the byte-sized target,
    row multiset is identical (compaction must never dedup, reorder-
    sensitively aggregate, or drop late rows — it only re-bins bytes)."""
    import glob
    import tempfile

    from glasseenterprise_mcp_spark.operators.layout import compact_parquet

    from .conftest import freeze

    src = tempfile.mkdtemp()
    dst = tempfile.mkdtemp()
    # simulate a streaming sink's small-file litter: 40 tiny commits
    df = spark.range(20_000).selectExpr("id", "CAST(id % 7 AS STRING) AS v")
    df.repartition(40).write.mode("overwrite").parquet(src)
    n_src = len(glob.glob(f"{src}/*.parquet"))
    assert n_src == 40

    before, after = compact_parquet(spark, src, dst, target_mb=1)
    assert before == 40 and after < 40
    assert len(glob.glob(f"{dst}/*.parquet")) == after
    assert freeze(spark.read.parquet(dst).collect()) == freeze(df.collect())


# --------------------------------------------------------------------------
# Arrow block-gather extraction kernel == row-tuple reference kernel
# --------------------------------------------------------------------------
_ARROW_KERNEL_TEXTS = [
    "hello @agent_1 call:tool_2(x) env:CFG_3 GET /api/r5 "
    "http://svc-1.example.com/api/v1/r5?q=1",
    None,
    "",
    "no mentions here",
    # exact repeat (deduplicated within a batch)
    "hello @agent_1 call:tool_2(x) env:CFG_3 GET /api/r5 "
    "http://svc-1.example.com/api/v1/r5?q=1",
    'POST http://x.example.com/a re:#3 error:"E4 failed" tbl:orders.c1 '
    "secure:/api/** derive:agent2<agent_1,hot @A @A @a",
    "@dup @dup @DUP",  # first_in_turn flag within one text
    "x" * 50 + " @tail",
]


def _arrow_kernel_batches(texts, batch_rows):
    import pyarrow as pa

    convs = [f"c{i % 3}" for i in range(len(texts))]
    return [
        pa.RecordBatch.from_arrays(
            [
                pa.array(convs[s : s + batch_rows]),
                pa.array(range(s, min(s + batch_rows, len(texts))), type=pa.int32()),
                pa.array(texts[s : s + batch_rows], type=pa.string()),
            ],
            names=["conv_id", "turn_idx", "text"],
        )
        for s in range(0, len(texts), batch_rows)
    ]


def test_extract_arrow_matches_row_kernel():
    """The production mapInArrow kernel dedupes texts per batch and
    assembles output batches with Arrow take-gathers over the per-text
    column blocks; this pins its row SEQUENCE bit-identical to the
    row-tuple reference kernel, within and across batch boundaries."""
    import glasseenterprise_mcp_spark.operators.extract as X

    texts = _ARROW_KERNEL_TEXTS
    convs = [f"c{i % 3}" for i in range(len(texts))]
    ref = [
        tuple(r)
        for r in X._extract_rows(convs, list(range(len(texts))), texts, X._ExtractState())
    ]
    assert ref, "fixture must produce mentions"

    for batch_rows in (1, 3, 100):
        got = [
            tuple(r.values())
            for rb in X._extract_arrow(iter(_arrow_kernel_batches(texts, batch_rows)))
            for r in rb.to_pylist()
        ]
        assert got == ref, batch_rows


def test_extract_arrow_sweeps_each_distinct_text_once_per_batch(monkeypatch):
    """One detector sweep per distinct non-NULL text of a batch: repeats
    within a batch share one sweep, NULL texts get none, and a batch of
    only NULL and empty texts yields an empty batch."""
    import glasseenterprise_mcp_spark.operators.extract as X

    swept: list[str] = []
    scan = X._scan_text

    def counting_scan(text, st):
        swept.append(text)
        return scan(text, st)

    monkeypatch.setattr(X, "_scan_text", counting_scan)
    texts = _ARROW_KERNEL_TEXTS + [None, "", "@dup @dup @DUP", None, ""]
    batches = _arrow_kernel_batches(texts, 8) + _arrow_kernel_batches(
        [None, "", None, ""], 4
    )
    out = list(X._extract_arrow(iter(batches)))
    expected = [set(b.column(2).to_pylist()) - {None} for b in batches]
    assert [len(e) for e in expected] == [6, 2, 1]
    assert sorted(swept) == sorted(t for e in expected for t in e)
    assert out[-1].num_rows == 0
    assert sum(rb.num_rows for rb in out) == len(
        X._extract_rows(
            [f"c{i % 3}" for i in range(len(texts))], list(range(len(texts))),
            texts, X._ExtractState(),
        )
    )


def test_pipeline_result_is_a_dataclass():
    """``PipelineResult`` is a plain dataclass: value equality, ``asdict``
    and a repr that names every part."""
    import dataclasses

    from glasseenterprise_mcp_spark.pipeline import PipelineResult

    res = PipelineResult("v1", "m", "n", "e", ["x"])
    assert res == PipelineResult("v1", "m", "n", "e", ["x"])
    assert dataclasses.asdict(res) == {
        "snapshot_version": "v1", "mentions": "m", "nodes": "n",
        "edges": "e", "metrics": ["x"],
    }
    assert repr(res).startswith("PipelineResult(snapshot_version='v1', ")
