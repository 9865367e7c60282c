"""Physical-plan audits: the plans must be the ones we'd want at 100TB —
filters pushed to the parquet scan, column pruning active, small dims
broadcast, no cartesian products in the linking path."""

from __future__ import annotations

import pyspark.sql.functions as F

from glasseenterprise_mcp_spark.functions import route
from glasseenterprise_mcp_spark.operators.analytics import disjunctive_match
from glasseenterprise_mcp_spark.operators.extract import extract_mentions
from glasseenterprise_mcp_spark.operators.link import refers_to_edges
from glasseenterprise_mcp_spark.sources.transcripts import derive_transcripts

from .conftest import SF_SMALL


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_and_pruning(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    q = docs.filter(F.col("lang") == "en").select("doc_id", "lang")
    plan = _plan(q)
    assert "PushedFilters" in plan and "lang" in plan.split("PushedFilters")[1][:200]
    # column pruning: text (the fat column) must not be read
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "text" not in read_schema


def test_refers_to_broadcasts_provided_side(spark, monkeypatch):
    # distributed path (refers_to gate at 0): provided side must broadcast
    monkeypatch.setitem(route.DRIVER_ROWS, "refers_to", 0)
    t = derive_transcripts(spark, SF_SMALL)
    m = extract_mentions(t)
    plan = _plan(refers_to_edges(m))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_refers_to_paths_agree(spark, monkeypatch):
    # the registry-sized driver short-circuit must emit EXACTLY the rows of
    # the distributed broadcast cascade
    t = derive_transcripts(spark, SF_SMALL)
    m = extract_mentions(t).cache()
    b = {tuple(r) for r in refers_to_edges(m).collect()}
    monkeypatch.setitem(route.DRIVER_ROWS, "refers_to", 0)
    a = {tuple(r) for r in refers_to_edges(m).collect()}
    m.unpersist()
    assert a == b and len(a) > 0


def test_used_by_filter_below_join(spark):
    """J18: the contains predicate must prune the probe side BEFORE the
    join (a Filter with Contains under the join input), and the join must
    be a real equi join — no cartesian."""
    from glasseenterprise_mcp_spark.operators.link import used_by_edges

    t = derive_transcripts(spark, SF_SMALL)
    m = extract_mentions(t)
    plan = _plan(used_by_edges(m))
    assert "CartesianProduct" not in plan
    assert "Contains" in plan  # pushed into a probe-side Filter
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan  # equi join


def test_contains_tier_is_literal(spark, monkeypatch):
    """Tier 2 is the reference's plain substring test, identically on the
    distributed and driver-side paths: /api/v1/r12 and /api/v1/r1?q=1 both
    match the /r1 resource, and a '.' in the provider's norm is a literal
    character, never a regex wildcard."""
    rows = [
        # consumed urls: (mtype, surface, norm, path, method)
        ("url", "http://s/api/v1/r12", "/api/v1/r12", "/api/v1/r12", None),
        ("url", "http://s/api/v1/r1?q=1", "/api/v1/r1", "/api/v1/r1", None),
        # provided endpoint /r1 (no exact/variant match for either url)
        ("endpoint", "/r1", "/r1", "/r1", "GET"),
        # metachar-bearing provider: /b.x/r9 must match /api/b.x/r9/z but
        # NOT the '.'-as-wildcard decoy /api/bQx/r9/z.
        ("url", "http://s/api/b.x/r9/z", "/api/b.x/r9/z", "/api/b.x/r9/z", None),
        ("url", "http://s/api/bQx/r9/z", "/api/bQx/r9/z", "/api/bQx/r9/z", None),
        ("endpoint", "/b.x/r9", "/b.x/r9", "/b.x/r9", "GET"),
    ]
    m = spark.createDataFrame(
        [("c0", i, *r) for i, r in enumerate(rows)],
        "conv_id string, turn_idx int, mtype string, surface string, "
        "norm string, path string, method string",
    )
    for thr in (0, 5000):  # distributed / driver-side
        monkeypatch.setitem(route.DRIVER_ROWS, "refers_to", thr)
        loose = {r.tier for r in refers_to_edges(m).collect()}
        default = refers_to_edges(m).count()
        # r12 and r1?q=1 match /r1, b.x/r9/z matches /b.x/r9; the bQx
        # decoy does not (the substring test is literal)
        assert default == 3 and loose == {"2"}, (thr, default, loose)


def test_whole_stage_codegen_relational(spark):
    """Pure relational stages (no Python boundary) must be codegen'd; the
    aggregate must be hash-based, not sort-based."""
    from glasseenterprise_mcp_spark.operators.analytics import sessionize_events

    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    plan = _plan(sessionize_events(ev))
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_calls_tool_uses_hash_aggregate(spark):
    from glasseenterprise_mcp_spark.operators.link import calls_tool_edges

    t = derive_transcripts(spark, SF_SMALL)
    m = extract_mentions(t)
    plan = _plan(calls_tool_edges(t, m))
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan


def test_bucketed_join_is_shuffle_free(spark):
    """100TB co-location story: node and edge tables bucketed on the join
    key at write time join WITHOUT a shuffle on either side (no Exchange in
    the plan once broadcast is disabled) — the persisted-graph layout that
    makes repeated graph queries exchange-free at corpus scale."""
    from glasseenterprise_mcp_spark.operators.extract import extract_mentions
    from glasseenterprise_mcp_spark.operators.link import mentions_in_edges
    from glasseenterprise_mcp_spark.operators.materialize import build_nodes
    from glasseenterprise_mcp_spark.sources.transcripts import derive_transcripts

    t = derive_transcripts(spark, SF_SMALL)
    m = extract_mentions(t)
    nodes = build_nodes(t, m, "s").withColumn("id", F.hex(F.col("id")))
    edges = mentions_in_edges(m).withColumn("subj", F.hex(F.col("subj")))

    spark.sql("DROP TABLE IF EXISTS bkt_nodes")
    spark.sql("DROP TABLE IF EXISTS bkt_edges")
    nodes.write.bucketBy(8, "id").sortBy("id").saveAsTable("bkt_nodes")
    edges.write.bucketBy(8, "subj").sortBy("subj").saveAsTable("bkt_edges")

    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("bkt_edges").join(
            spark.table("bkt_nodes").select(F.col("id").alias("subj"), "type"),
            "subj",
        )
        plan = _plan(j)
        assert "Exchange" not in plan, plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        spark.sql("DROP TABLE IF EXISTS bkt_nodes")
        spark.sql("DROP TABLE IF EXISTS bkt_edges")


def test_disjunctive_match_no_cross_join(spark):
    left = spark.createDataFrame(
        [("l1", "a@x", "alice", "A"), ("l2", "b@y", "bob", "B"), ("l3", "c@z", "carol", "C")],
        ["lid", "email", "name", "alias"],
    )
    right = spark.createDataFrame(
        [("r1", "a@x", "zz", "zz"), ("r2", "zz", "bob", "zz"), ("r3", "zz", "zz", "C")],
        ["rid", "r_email", "r_name", "r_alias"],
    )
    out = disjunctive_match(
        left, right, [("email", "r_email"), ("name", "r_name"), ("alias", "r_alias")]
    )
    got = {(r.lid, r.rid, r.via) for r in out.collect()}
    assert got == {("l1", "r1", 1), ("l2", "r2", 2), ("l3", "r3", 3)}
    assert "CartesianProduct" not in _plan(out)


def test_disjunctive_match_precedence(spark):
    # a left row matching two disjuncts takes the earliest (via=1)
    left = spark.createDataFrame([("l1", "k", "k")], ["lid", "email", "name"])
    right = spark.createDataFrame(
        [("r1", "k", "zz"), ("r2", "zz", "k")], ["rid", "r_email", "r_name"]
    )
    out = disjunctive_match(left, right, [("email", "r_email"), ("name", "r_name")])
    assert [(r.lid, r.rid, r.via) for r in out.collect()] == [("l1", "r1", 1)]


def test_contamination_broadcasts_eval_side(spark):
    """dd6: a small eval side AUTO-broadcasts under the engine threshold
    (no forced hint — an oversized eval side must degrade to a shuffle
    join, not a driver OOM) and the shingle join is a real equi join —
    no cartesian product."""
    from glasseenterprise_mcp_spark.operators.dedup import (
        contamination_pairs,
        shingles,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    plan = _plan(contamination_pairs(shingles(docs)))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_asof_join_is_window_carry_not_range_join(spark):
    """ev3: the as-of join must compile to the union-and-carry shape — a
    Window over ONE hash exchange on user_id, with NO join operator in the
    plan at all (a range-join formulation would multiply every click by
    all its preceding views — quadratic per hot user)."""
    from glasseenterprise_mcp_spark.operators.analytics import asof_join_events

    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    plan = _plan(asof_join_events(ev))
    assert "Window" in plan
    for join_op in (
        "SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
        "BroadcastNestedLoopJoin", "ShuffledHashJoin",
    ):
        assert join_op not in plan, join_op


def test_duplicate_spans_plan_shape(spark):
    """dd8: the span-merge stage must run BOTH window functions (running
    max-end, island sum) over ONE doc_id exchange, the final (doc_id, g)
    aggregate must reuse that partitioning (no further exchange after the
    windows), every Window must carry a partition spec (no global sort),
    and the dup-hash set must join back as a broadcast while small."""
    from glasseenterprise_mcp_spark.operators.dedup import (
        duplicate_spans,
        positional_windows,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    plan = _plan(duplicate_spans(positional_windows(docs)))
    assert plan.count("Window") >= 2
    assert "windowspecdefinition(doc_id" in plan
    # no partition-spec-free window anywhere
    assert "windowspecdefinition(," not in plan.replace(" ", "")
    # exactly two data exchanges: the dup-hash partial aggregate and the
    # doc_id repartition for the merge windows (broadcast exchanges are
    # not hashpartitioning)
    assert plan.count("hashpartitioning") == 2, plan.count("hashpartitioning")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_charlm_model_branch_reuses_exchange(spark):
    """tx8: the model branch (corpus bigram counts) and the probe branch
    (per-doc bigram counts) are the SAME (doc_id, bg) aggregate — AQE must
    dedupe them into one ReusedExchange at runtime so the corpus-char-
    scale explode + partial agg is paid once, and the model side must
    arrive at the join as a broadcast."""
    from glasseenterprise_mcp_spark.operators.textstats import charlm_quality

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    q = charlm_quality(docs)
    q.collect()  # AQE finalizes reuse only at execution
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pagerank_loop_plan_shape(spark):
    """g6: after the upfront edge checkpoint, ONE round of the rank loop
    must contain no cartesian product (the dangling scalar rides as a
    broadcast nested-loop over a 1-row frame — bounded by construction)
    and no partition-spec-free window; the contribution aggregate is the
    only corpus-scale hash exchange besides the state join."""
    from glasseenterprise_mcp_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")],
        "subj string, obj string",
    )
    r = pagerank(edges, iters=1)
    plan = _plan(r)
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition" not in plan


def test_bloom_prefilter_sits_below_the_shuffle(spark):
    """bf1's whole point is WHERE the discard happens: the bloom bit-test
    filter must execute in the scan stage, below the semi join's exchange,
    so non-matching rows never ship. The formatted plan lists operators
    leaf-first: the xxhash64 Filter must appear before (deeper than) any
    Exchange/BroadcastExchange of the probe side."""
    from glasseenterprise_mcp_spark.functions.bloom import bloom_semi_join

    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    keys = ev.filter(F.col("event_type") == "signup").select("user_id")
    result, pruned = bloom_semi_join(ev, keys, "user_id")
    plan = _plan(result)
    assert "xxhash64" in plan
    # the pruned side is a pure narrow filter over the scan — no exchange
    assert "Exchange" not in _plan(pruned)


def test_zorder_key_is_exchange_free(spark):
    """zo1's key computation must be narrow: one 1-row aggregate broadcast
    for the extremes (BroadcastExchange/BroadcastNestedLoopJoin of a 1-row
    dim is the accepted pattern), and NO hash/range exchange of the events
    themselves until write_zordered's deliberate range sort."""
    from glasseenterprise_mcp_spark.operators.layout import zorder_key

    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    plan = _plan(zorder_key(ev))
    import re

    # hash/range exchanges of the fact side would mean the key computation
    # itself shuffles; only the 1-row extremes may exchange (broadcast)
    fact_exchanges = [
        l for l in plan.splitlines()
        if re.search(r"Exchange (hashpartitioning|rangepartitioning)", l)
    ]
    assert fact_exchanges == [], fact_exchanges


def test_ann_query_side_shuffles_above_budget(spark, monkeypatch):
    """r6 verdict #1: above the broadcast budget (the ``ann_queries`` gate)
    the ANN query side must SHUFFLE-join (no BroadcastExchange of a
    corpus-proportional frame); below it the broadcast fast path stays.
    Row equality of the two physical paths is tests/test_routing.py's."""
    from glasseenterprise_mcp_spark.operators.similarity import ivf_topk, lsh_topk

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    qf = F.expr("vec_id % 50 = 0")

    # fast path preserved: the query side still broadcasts under the budget
    fast = _plan(ivf_topk(emb, qf))
    assert "BroadcastExchange" in _plan(lsh_topk(emb, qf))

    # Above the budget no HINT forces a broadcast — Spark's own size
    # estimate decides (adaptive, scale-safe: a corpus-proportional query
    # side blows past autoBroadcastJoinThreshold and shuffles). Assert by
    # disabling the auto threshold: any BroadcastExchange left in the plan
    # would have to come from a hint.
    monkeypatch.setitem(route.DRIVER_ROWS, "ann_queries", 0)
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert "BroadcastExchange" not in _plan(lsh_topk(emb, qf))
        # ivf: the constant-size centroid broadcasts are hint-forced by
        # design and stay; the query/probe side must not force one
        shuf = _plan(ivf_topk(emb, qf))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
    assert shuf.count("BroadcastExchange") < fast.count("BroadcastExchange")


# Spark jobs a routed impact request over the stored sf0.001 graph may run:
# the one bounded toArrow probe of edges, nodes and seeds (one job, with
# room for AQE query stages); the BFS, the per-type report and the seed
# check all run on the driver, and the report is a local frame.
IMPACT_REQUEST_JOBS = 3


def test_routed_impact_job_budget(spark, tmp_path):
    """A routed ``impact of turn …`` request, found seed and unknown seed
    alike, stays within ``IMPACT_REQUEST_JOBS`` Spark jobs (counted with
    ``statusTracker``), so a seed semi-join, a union + distinct shuffle or
    a Spark-side join + groupBy cannot creep back onto the small-graph
    path."""
    from glasseenterprise_mcp_spark.operators.materialize import GraphSink
    from glasseenterprise_mcp_spark.pipeline import run_pipeline
    from glasseenterprise_mcp_spark.plans.query_router import QueryRouter

    sink = GraphSink(spark, str(tmp_path))
    run_pipeline(spark, derive_transcripts(spark, SF_SMALL), sink=sink, snapshot_version="s")
    router = QueryRouter(spark, sink.read("nodes"), sink.read("edges"))
    tracker = spark.sparkContext.statusTracker()

    def request(prompt):
        before = set(tracker.getJobIdsForGroup(None))
        rows = router.route(prompt).df.collect()
        return len(set(tracker.getJobIdsForGroup(None)) - before), rows

    jobs, rows = request("impact of turn c0#3 depth 2")
    assert any(r.type == "turn" and r.min_dist == 0 for r in rows)
    assert jobs <= IMPACT_REQUEST_JOBS, jobs
    jobs, rows = request("impact of turn nope#99 depth 2")
    assert [r.type for r in rows] == ["seed-not-found"]
    assert jobs <= IMPACT_REQUEST_JOBS, jobs


# Spark jobs a routed ``tool_cycles`` request over the stored sf0.001 graph
# may run: the bounded ``find_cycles`` probe of the distinct edge set (its
# distinct shuffle is one AQE query stage, the collect one more); the cycle
# search runs on the driver, and the edge checkpoint is for the
# distributed path only.
TOOL_CYCLES_REQUEST_JOBS = 2


def test_routed_tool_cycles_job_budget(spark, tmp_path):
    """A routed ``tool_cycles`` request probes before it checkpoints: it
    stays within ``TOOL_CYCLES_REQUEST_JOBS`` Spark jobs (counted with
    ``statusTracker``), so an eager checkpoint cannot creep back ahead of
    the driver-path probe."""
    from glasseenterprise_mcp_spark.operators.materialize import GraphSink
    from glasseenterprise_mcp_spark.pipeline import run_pipeline
    from glasseenterprise_mcp_spark.plans.query_router import QueryRouter

    sink = GraphSink(spark, str(tmp_path))
    run_pipeline(spark, derive_transcripts(spark, SF_SMALL), sink=sink, snapshot_version="s")
    router = QueryRouter(spark, sink.read("nodes"), sink.read("edges"))
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    router.route("any circular tool dependencies?").df.collect()
    jobs = len(set(tracker.getJobIdsForGroup(None)) - before)
    assert jobs <= TOOL_CYCLES_REQUEST_JOBS, jobs


# one prompt per router template, over the stored sf0.001 graph
ROUTER_PROMPTS = [
    "any circular tool dependencies?",
    "impact of turn c0#3 depth 2",
    "impact of turn nope#99 depth 2",
    "show provided resources",
    "list consumed urls",
    "which configs appear in conversation c0?",
    "which turns call tool tool_1?",
    "where are mentions of hot_entity",
    "count nodes by type",
    "top hubs",
    "show replies in conversation c0",
    "SQL: SELECT pred, count(*) AS n FROM edges GROUP BY pred",
    "hot_entity somewhere",
]


def test_router_answers_alike_from_pinned_tables(spark, tmp_path):
    """Every ``QueryRouter`` template answers the same rows over a sink
    whose tables are pinned (read twice) as over a fresh sink's first
    read."""
    from glasseenterprise_mcp_spark.operators.materialize import GraphSink
    from glasseenterprise_mcp_spark.pipeline import run_pipeline
    from glasseenterprise_mcp_spark.plans.query_router import QueryRouter

    from .conftest import freeze

    run_pipeline(
        spark, derive_transcripts(spark, SF_SMALL), sink=GraphSink(spark, str(tmp_path)),
        snapshot_version="s",
    )

    def answers(sink):
        router = QueryRouter(spark, sink.read("nodes"), sink.read("edges"))
        out = {}
        for prompt in ROUTER_PROMPTS:
            routed = router.route(prompt)
            out[prompt] = routed.template, freeze(routed.df.collect())
        return out

    fresh = answers(GraphSink(spark, str(tmp_path)))
    pinned = GraphSink(spark, str(tmp_path))
    for table in ("nodes", "edges"):
        pinned.read(table)
        assert "FileScan" not in _plan(pinned.read(table)), table
    assert answers(pinned) == fresh
    templates = {t for t, _ in fresh.values()}
    assert len(templates) == 12, templates
    # the sf0.001 graph has no tool cycle; every other answer has rows
    assert [p for p, (_, rows) in fresh.items() if not rows] == [ROUTER_PROMPTS[0]]
