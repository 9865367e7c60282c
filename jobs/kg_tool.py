#!/usr/bin/env python
"""User-facing tool surface mirroring the reference MCP server's four tools
(src/index.ts:59-138): ``scan``, ``impact``, ``query``, ``learn`` — plus
``reset`` (S11, src/commands/resetCommand.ts) and ``curate`` (the
beyond-reference training-data pipeline). A user of the reference can
run the same operations against this engine:

    python jobs/kg_tool.py scan   --input synth:/root/testdata/sf0.001 --graph /tmp/kg
    python jobs/kg_tool.py learn  --graph /tmp/kg
    python jobs/kg_tool.py query  --graph /tmp/kg "which turns call tool tool_1"
    python jobs/kg_tool.py query  --graph /tmp/kg "SQL: SELECT pred, count(*) n FROM edges GROUP BY pred"
    python jobs/kg_tool.py impact --graph /tmp/kg --conv rt0:c3 --turn 2 --depth 3
    python jobs/kg_tool.py reset  --graph /tmp/kg --conv-prefix rt0:c3

Conversation ids in a scanned graph are always namespaced by input position
("rt<i>:"), so re-scans are id-stable whether a root is ingested alone or
alongside others.
    python jobs/kg_tool.py curate --docs .../documents.parquet --out /tmp/cur --report-pairs
    python jobs/kg_tool.py ann    --embeddings .../embeddings.parquet --query-where "vec_id = 50" --index ivf
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _spark(master=None):
    from glasseenterprise_mcp_spark.session import get_spark

    s = get_spark(app_name="kg-tool", master=master)
    s.sparkContext.setLogLevel("ERROR")
    return s


def cmd_scan(spark, args):
    from functools import reduce

    import pyspark.sql.functions as F

    from glasseenterprise_mcp_spark.operators.materialize import GraphSink
    from glasseenterprise_mcp_spark.pipeline import run_pipeline
    from glasseenterprise_mcp_spark.sources.transcripts import derive_transcripts

    def _load(inp: str):
        if inp.startswith("synth:"):
            return derive_transcripts(spark, inp[len("synth:"):])
        return spark.read.parquet(inp)

    inputs = args.input
    # S12 multi-root co-ingest (reference scans N roots in ONE pass so
    # cross-root links form): union all roots in a single job — the global
    # linking shuffle sees every root. Conversation ids are namespaced per
    # root ("rt<i>:"), INCLUDING the single-input case: a graph first built
    # from one root and later re-scanned with that root as --input #0 keeps
    # identical rt0:-prefixed ids, so the stable-id re-ingest contract holds
    # across the single→multi transition (r4 advisor item). --namespace none
    # is the migration path for graphs persisted under the older unprefixed
    # scheme (only valid with a single --input: multi-root co-ingest without
    # namespacing would collide conversation ids across roots).
    namespaced = getattr(args, "namespace", "auto") != "none"
    if not namespaced and len(inputs) > 1:
        raise SystemExit("--namespace none requires exactly one --input")
    t = reduce(
        lambda a, b: a.unionByName(b),
        [
            _load(inp).withColumn(
                "conv_id", F.concat(F.lit(f"rt{i}:"), F.col("conv_id"))
            )
            if namespaced
            else _load(inp)
            for i, inp in enumerate(inputs)
        ],
    )
    sink = GraphSink(spark, args.graph)
    res = run_pipeline(spark, t, sink=sink, snapshot_version=args.snapshot)
    return {
        "snapshot": res.snapshot_version,
        "nodes": sink.read("nodes").count(),
        "edges": sink.read("edges").count(),
    }


def cmd_learn(spark, args):
    """Post-ingest validation (learnCommand.ts:60-97): count-by-label +
    sample edges per predicate."""
    import pyspark.sql.functions as F

    from glasseenterprise_mcp_spark.operators.materialize import GraphSink

    sink = GraphSink(spark, args.graph)
    nodes, edges = sink.read("nodes"), sink.read("edges")
    by_label = {
        r.type: r.n
        for r in nodes.groupBy("type").agg(F.count("*").alias("n")).collect()
    }
    samples = {
        r.pred: r.n
        for r in edges.groupBy("pred").agg(F.count("*").alias("n")).collect()
    }
    return {"nodes_by_type": by_label, "edges_by_pred": samples}


def cmd_query(spark, args):
    from glasseenterprise_mcp_spark.operators.materialize import GraphSink
    from glasseenterprise_mcp_spark.plans.query_router import QueryRouter

    sink = GraphSink(spark, args.graph)
    router = QueryRouter(spark, sink.read("nodes"), sink.read("edges"))
    routed = router.route(args.prompt)
    rows = [r.asDict() for r in routed.df.collect()]
    # A10 result-count echo (reference prints "N results"): n_rows is the
    # FULL result count even when the printed rows are truncated to 100
    return {"template": routed.template, "n_rows": len(rows), "rows": rows[:100]}


def cmd_impact(spark, args):
    from glasseenterprise_mcp_spark.operators.graph import turn_impact
    from glasseenterprise_mcp_spark.operators.materialize import GraphSink

    sink = GraphSink(spark, args.graph)
    seed = f"{args.conv}#{args.turn}"
    reached = turn_impact(
        sink.read("edges"), sink.read("nodes"), args.conv, args.turn, args.depth
    )
    if reached is None:
        return {"seed": seed, "error": "seed-not-found"}
    return {"seed": seed, "depth": args.depth,
            "reached": [r.asDict() for r in reached]}


def cmd_reset(spark, args):
    """S11: delete by conversation prefix (reference deletes by repoRoot)
    or everything. A full reset clears every graph table through the sink
    (``DELETE FROM`` on a catalog). A prefix delete overwrites each graph
    table with its kept rows through the sink's temp-dir-and-rename swap,
    so a crash mid-reset leaves every table whole."""
    import pyspark.sql.functions as F

    from glasseenterprise_mcp_spark.functions.ids import node_id_col
    from glasseenterprise_mcp_spark.operators.canonicalize import connected_components
    from glasseenterprise_mcp_spark.operators.link import MENTION_NODE_KIND
    from glasseenterprise_mcp_spark.operators.materialize import GRAPH_TABLES, GraphSink
    from glasseenterprise_mcp_spark.pipeline import component_rows

    sink = GraphSink(spark, args.graph)
    if args.conv_prefix is None:
        for t in GRAPH_TABLES:
            sink.clear(t)
        return {"reset": "all"}
    nodes = sink.read("nodes")
    # Delimiter-anchored family match: 'c3' deletes c3 and its replica
    # family c3_r0, c3_r1... but NEVER c30/c31 (bare startswith over-matched;
    # reference resets by repoRoot, a separator-anchored path prefix).
    drop = (F.col("first_conv") == args.conv_prefix) | F.col(
        "first_conv"
    ).startswith(args.conv_prefix + "_r")
    keep_nodes = nodes.filter(~drop).localCheckpoint(eager=True)
    kept_ids = keep_nodes.select("id")

    def kept(df, col):
        return df.join(kept_ids.withColumnRenamed("id", col), col, "left_semi")

    keep_edges = kept(kept(sink.read("edges"), "subj"), "obj").localCheckpoint(eager=True)
    # every kept row is pinned before the first swap replaces a table it reads
    keep = {"nodes": keep_nodes, "edges": keep_edges}
    if sink.exists("link_registry"):
        # a registry entry's node, keyed as the node build keys its mention
        node = F.coalesce(*[
            F.when(F.col("mtype") == mtype, node_id_col(kind, F.col(key)))
            for mtype, (kind, key) in MENTION_NODE_KIND.items()
        ])
        reg = sink.read("link_registry").withColumn("subj", node)
        keep["link_registry"] = (
            kept(reg, "subj").drop("subj").localCheckpoint(eager=True)
        )
    if sink.exists("components"):
        # labels are the min member id, so a dropped member can have been a
        # label or a bridge: relabel the kept refers-to graph
        refers = keep_edges.filter(F.col("pred") == "refers-to")
        labels = connected_components(refers, src="subj", dst="obj")
        keep["components"] = component_rows(labels).localCheckpoint(eager=True)
    for table, df in keep.items():
        sink.overwrite(df, table)
    return {"reset_prefix": args.conv_prefix,
            "nodes_left": keep_nodes.count(),
            "edges_left": keep_edges.count()}


def cmd_curate(spark, args):
    """Training-data curation surface (beyond the reference's tools): run
    the composed quality→near-dup decision pipeline over a documents
    parquet and write kept/dropped decisions (+ optional near-dup pair
    report) next to the corpus."""
    from glasseenterprise_mcp_spark.operators.dedup import (
        shingles,
        simhash_near_dups,
    )
    from glasseenterprise_mcp_spark.operators.textstats import curate_corpus

    docs = spark.read.parquet(args.docs)
    sh = shingles(docs)
    decisions = curate_corpus(docs, sh, min_quality=args.min_quality)
    decisions.write.mode("overwrite").parquet(str(Path(args.out) / "decisions"))
    stats = {
        r.reason: r.n
        for r in decisions.groupBy("reason").count().withColumnRenamed("count", "n").collect()
    }
    result = {"decisions": stats, "out": args.out}
    if args.manifest:
        # the full composed gate chain + packed placement over survivors
        from glasseenterprise_mcp_spark.operators.textstats import prepare_manifest

        man = prepare_manifest(docs, sh, min_quality=args.min_quality)
        man.write.mode("overwrite").parquet(str(Path(args.out) / "manifest"))
        result["manifest"] = {
            r.status: r.n
            for r in man.groupBy("status").count().withColumnRenamed("count", "n").collect()
        }
    if args.report_pairs:
        pairs = simhash_near_dups(sh)
        pairs.write.mode("overwrite").parquet(str(Path(args.out) / "near_dup_pairs"))
        result["near_dup_pairs"] = pairs.count()
    return result


def cmd_ann(spark, args):
    """Similarity-search surface (beyond the reference's tools): top-k
    nearest neighbors for the given query vectors over an embeddings
    parquet, via the chosen index (exact brute force, banded LSH, or IVF
    with the k-means-refined fixed-C coarse quantizer)."""
    import pyspark.sql.functions as F

    from glasseenterprise_mcp_spark.operators import similarity as S

    emb = spark.read.parquet(args.embeddings)
    qf = F.expr(args.query_where)
    if args.index == "exact":
        df = S.brute_force_topk(emb, qf, k=args.k)
    elif args.index == "lsh":
        df = S.lsh_topk(emb, qf, k=args.k)
    else:
        df = S.ivf_topk(emb, qf, k=args.k, nprobe=args.nprobe)
    rows = [
        {"query_id": r.query_id, "neighbor_id": r.neighbor_id,
         "rank": r.rank, "dot": r.dot}
        for r in df.orderBy("query_id", "rank").collect()
    ]
    return {"index": args.index, "k": args.k, "results": rows}


def _parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser()
    ap.add_argument("--master", default="local[8]")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("scan")
    p.add_argument(
        "--input", required=True, action="append",
        help="repeatable: N roots co-ingest in ONE job (S12) so cross-root links form",
    )
    p.add_argument("--graph", required=True)
    p.add_argument("--snapshot", default=None)
    p.add_argument(
        "--namespace", choices=["auto", "none"], default="auto",
        help="conv-id namespacing: 'auto' prefixes rt<i>: per --input "
        "position (the stable-id contract for new graphs); 'none' keeps "
        "raw conv ids — the migration path for graphs persisted before "
        "the always-prefix change (their stable ids were minted over "
        "un-prefixed conv ids, so a prefixed re-scan would duplicate "
        "every node/edge instead of MERGE-updating)",
    )
    p.set_defaults(fn=cmd_scan)

    p = sub.add_parser("learn")
    p.add_argument("--graph", required=True)
    p.set_defaults(fn=cmd_learn)

    p = sub.add_parser("query")
    p.add_argument("--graph", required=True)
    p.add_argument("prompt")
    p.set_defaults(fn=cmd_query)

    p = sub.add_parser("impact")
    p.add_argument("--graph", required=True)
    p.add_argument("--conv", required=True)
    p.add_argument("--turn", type=int, required=True)
    p.add_argument("--depth", type=int, default=3)
    p.set_defaults(fn=cmd_impact)

    p = sub.add_parser("reset")
    p.add_argument("--graph", required=True)
    p.add_argument("--conv-prefix", default=None)
    p.set_defaults(fn=cmd_reset)

    p = sub.add_parser("curate")
    p.add_argument("--docs", required=True, help="documents parquet path")
    p.add_argument("--out", required=True)
    p.add_argument("--min-quality", type=int, default=60)
    p.add_argument("--report-pairs", action="store_true")
    p.add_argument(
        "--manifest", action="store_true",
        help="also write the composed training manifest (quality -> near-dup "
        "-> contamination -> sampling gates + packed placement of survivors)",
    )
    p.set_defaults(fn=cmd_curate)

    p = sub.add_parser("ann")
    p.add_argument("--embeddings", required=True, help="embeddings parquet path")
    p.add_argument("--query-where", required=True,
                   help="SQL predicate selecting query vectors, e.g. 'vec_id = 100'")
    p.add_argument("--index", choices=["exact", "lsh", "ivf"], default="ivf")
    p.add_argument("--k", type=int, default=5)
    p.add_argument("--nprobe", type=int, default=3)
    p.set_defaults(fn=cmd_ann)

    return ap


def _payload(spark, args) -> str:
    return json.dumps(args.fn(spark, args), default=str)


def run(spark, argv: list[str]) -> dict:
    """Run one command (``argv`` as on the command line) in ``spark`` and
    return the JSON payload the CLI prints. The session stays open."""
    return json.loads(_payload(spark, _parser().parse_args(argv)))


def main():
    args = _parser().parse_args()
    spark = _spark(args.master)
    try:
        print(_payload(spark, args))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
