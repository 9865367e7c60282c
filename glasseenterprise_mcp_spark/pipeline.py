"""End-to-end KG-construction pipeline (scan → extract → link → canonicalize
→ materialize), the analogue of the reference's `scan` tool lifecycle
(src/index.ts:160-241; SURVEY.md §3.1). A streaming micro-batch runs the
same build-and-store step (``streaming/incremental.py``), as the
reference's watch mode re-enters its scan pipeline with the changed files
(src/index.ts:207-228), so a scan and a stream store the same graph.

Stages:
  A  extract_mentions      mapInArrow, narrow (no shuffle)
  B  linking joins         equi/broadcast/window joins (shuffle on keys);
                           with a sink, refers-to also links against the
                           stored link registry
  C  components            the sink's ``components`` table, maintained by
                           ``incremental_components`` over the refers-to
                           family (one-shot CC on an empty sink)
  D  materialize           nodes + edges, snapshot stamp, partitioned upsert

Every stage records per-partition row counts into a metrics sidecar
(north rule: "every stage writes per-partition lineage + metrics";
analogue of the reference's scan summary, src/index.ts:230-238).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .functions.route import local_frame
from .operators.canonicalize import connected_components
from .operators.extract import extract_mentions
from .operators.link import (
    calls_tool_edges,
    mentions_in_edges,
    refers_to_edges,
    replies_to_edges,
)
from .operators.materialize import (
    TABLES,
    GraphSink,
    build_edges,
    build_nodes,
    snapshot_stamp,
)

# the serve benchmark's trace (perfbench/workloads.py) looks the node
# build up under its former name
build_nodes_with_attrs = build_nodes


def partition_metrics(df: DataFrame, stage: str, snapshot_version: str) -> DataFrame:
    """Per-partition row counts (lineage sidecar), computed without an extra
    scan of the source: groupBy spark_partition_id is a map-side count."""
    return df.groupBy(F.spark_partition_id().alias("partition_id")).agg(
        F.count(F.lit(1)).alias("rows")
    ).select(
        F.lit(snapshot_version).alias("snapshot_version"),
        F.lit(stage).alias("stage"),
        "partition_id",
        F.col("rows").cast("long").alias("rows"),
        F.lit("row_count").alias("metric"),
    )


@dataclass
class PipelineResult:
    """Pipeline outputs, as plans: building them runs no Spark job beyond
    the stage checkpoints, the stored-registry read, the refers-to family
    and, with a sink, the components relabel. ``mentions`` is cached
    (and ``edges`` too with a sink) until the graph is stored; a sink-less
    caller unpersists ``mentions`` after its own action."""

    snapshot_version: str
    mentions: DataFrame
    nodes: DataFrame
    edges: DataFrame
    metrics: list[DataFrame]


def _stage_checkpoint(
    spark: SparkSession,
    df: DataFrame,
    stage_dir: str | None,
    name: str,
    timings: dict[str, float],
) -> DataFrame:
    """Mid-run resumability (north rule: resumable DAG): when ``stage_dir``
    is set, each stage's output is materialized to
    ``<stage_dir>/<name>``; a rerun finds the completed stage on disk and
    skips its recomputation entirely (the batch analogue of the streaming
    checkpoint — on a cluster this is an Iceberg snapshot per stage).
    Also records the stage's wall-clock."""
    if stage_dir is None:
        return df
    path = os.path.join(stage_dir, name)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        timings[name] = 0.0  # resumed, not recomputed
        return spark.read.parquet(path)
    t0 = time.time()
    df.write.mode("overwrite").parquet(path)
    timings[name] = round(time.time() - t0, 3)
    return spark.read.parquet(path)


def build_graph(
    spark: SparkSession,
    transcripts: DataFrame,
    snap: str,
    sink: GraphSink | None = None,
    stage_dir: str | None = None,
) -> tuple[PipelineResult, dict[str, DataFrame]]:
    """Stages A, B and D as plans, plus — with a sink — the frames that
    store them, by table: ``nodes``, ``edges``, this batch's
    ``link_registry`` entries and (stage C) ``components`` when the batch
    has linking edges. With a sink, refers-to links the batch against the
    stored registry too, so a url arriving now links to an endpoint stored
    earlier (the reference links only within the delta; SURVEY.md §4
    table).

    Commit the frames with :func:`store_graph`. ``edges`` is cached exactly
    when a sink is set: an upsert onto a stored table reads it twice (new
    rows + their keys) and the scan's metrics sidecar once more; a
    sink-less caller's single action streams the union directly."""
    timings: dict[str, float] = {}

    # transcripts feeds four consumers (extract, replies, calls, nodes) but
    # only extraction reads the fat ``text`` column, and it reads it exactly
    # once — the narrow consumers re-scan the source with the text column
    # PRUNED at the scan, which is cheaper than building any cache for it:
    # the slim projection is a parquet scan of the short columns only
    # (measured: a full count of the 6M-turn amplified corpus is <1s at 2
    # cores because Catalyst never computes the text concat), so a cache
    # build (≈5s/leg) never pays for its two readers (guide §5/§6: let
    # column pruning do the work).
    slim = transcripts.drop("text")

    # Stage A — narrow; cache because four linking joins + the node build
    # consume it. The cached projection drops the engine-only columns no
    # pipeline consumer reads (span offsets, ord, extra): the columnar
    # cache build is the leg's second-biggest cost after the kernel itself,
    # and caching 15 columns when downstream reads 11 pays encode cost for
    # nothing (guide §5: cache exactly what is re-read). A two-specialized-
    # kernel-passes variant (mentions-in emitted directly, no corpus-scale
    # cache) was measured and REJECTED: the second input-boundary crossing
    # (6M fat texts through Arrow again) costs as much as the cache build
    # it saves (146s vs 125s per local[2] leg).
    # ``surface`` (the widest string column at corpus scale) is read ONLY by
    # the node build: with a sink it is cached like the rest; without one,
    # the cache skips surface's encode cost and a sink-less caller that
    # does read ``nodes`` (tests on dim corpora) re-derives a full-width
    # extraction.
    pipeline_cols = [
        "conv_id", "turn_idx", "mtype", "surface", "norm", "path",
        "first_in_turn", "method", "kind", "node_id", "turn_id",
    ]
    cached_cols = (
        pipeline_cols
        if sink is not None
        else [c for c in pipeline_cols if c != "surface"]
    )
    mentions_full = _stage_checkpoint(
        spark, extract_mentions(transcripts), stage_dir, "A_mentions", timings
    )
    mentions = mentions_full.select(*cached_cols).cache()
    e_mentions_in = mentions_in_edges(mentions).drop("subj_kind")
    e_replies = replies_to_edges(slim, mentions)
    e_calls = calls_tool_edges(slim, mentions)

    # Cross-batch linking: widen the tiered join's sides with the stored
    # registry (distinct url/endpoint mentions with their HTTP method, a
    # small dim at any scale) so links to history form. It is a sidecar
    # table, not a projection of the node table: node keys are
    # method-less, so replaying nodes would resurrect history with
    # method=NULL and break the N6 method gate across batches.
    link_input = mentions
    stored = sink.pinned("link_registry") if sink is not None else None
    if stored is not None:
        cols = ["mtype", "path", "norm", "method"]
        link_input = mentions.select(*cols).unionByName(stored.select(*cols))
    # refers is dim-sized (distinct url × endpoint matches, not occurrences)
    # and has two consumers (triple union + components); materialize it once
    # instead of re-running the 4-tier broadcast cascade per consumer.
    e_refers = refers_to_edges(link_input).localCheckpoint(eager=True)

    nodes = build_nodes(
        slim,
        mentions if sink is not None else mentions_full.select(*pipeline_cols),
        snap,
    )
    edges = _stage_checkpoint(
        spark,
        build_edges([e_mentions_in, e_replies, e_calls, e_refers], snap),
        stage_dir,
        "D_edges",
        timings,
    )
    if sink is not None:
        edges = edges.cache()

    metrics = [
        partition_metrics(mentions, "A_extract", snap),
        partition_metrics(edges, "D_edges", snap),
        partition_metrics(nodes, "D_nodes", snap),
    ]
    if timings:
        metrics.append(
            local_frame(
                spark,
                [
                    (snap, stage, -1, int(sec * 1000), "stage_wall_ms")
                    for stage, sec in timings.items()
                ],
                TABLES["metrics"].columns,
            )
        )
    result = PipelineResult(snap, mentions, nodes, edges, metrics)
    if sink is None:
        return result, {}
    # this batch's registry entries carry the (GET-defaulted, uppercased)
    # method, so the N6 gate holds across batches
    registry = (
        mentions.filter(F.col("mtype").isin("url", "endpoint"))
        .select(
            "mtype", "path", "norm",
            F.upper(F.coalesce(F.col("method"), F.lit("GET"))).alias("method"),
        )
        .distinct()
    )
    frames = {"nodes": nodes, "edges": edges, "link_registry": registry}
    # Stage C feeds on the refers family DIRECTLY (a dim-sized frame), never
    # by filtering the full cached triple table — that filter would re-scan
    # corpus-scale edges to recover a graph orders of magnitude smaller.
    components = incremental_components(spark, sink, e_refers.select("subj", "obj"))
    if components is not None:
        frames["components"] = components
    return result, frames


def store_graph(
    sink: GraphSink, result: PipelineResult, frames: dict[str, DataFrame]
) -> None:
    """Commit ``frames`` (:meth:`GraphSink.commit`, every table at once),
    then release the caches :func:`build_graph` made. The caches are
    released even when a write throws, so a retried batch does not leak one
    cache entry per attempt."""
    try:
        sink.commit(frames)
    finally:
        result.mentions.unpersist()
        result.edges.unpersist()


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    sink: GraphSink | None = None,
    snapshot_version: str | None = None,
    stage_dir: str | None = None,
) -> PipelineResult:
    """The scan: :func:`build_graph`, and with a sink :func:`store_graph`
    with the metrics sidecar as one more table. Without a sink nothing is
    stored and ``mentions`` stays cached for the caller's action (the
    caller unpersists it)."""
    snap = snapshot_version or snapshot_stamp(spark)
    result, frames = build_graph(spark, transcripts, snap, sink, stage_dir)
    if sink is not None:
        frames["metrics"] = reduce(DataFrame.unionByName, result.metrics)
        store_graph(sink, result, frames)
    return result


def incremental_components(
    spark: SparkSession, sink: GraphSink, new_edges: DataFrame
) -> DataFrame | None:
    """Incremental canonicalization: the ``components`` rows (id → comp
    label) that keep the persisted table current across micro-batches
    WITHOUT re-running connected components over the full history.

    Per batch: (1) read the whole stored table and checkpoint it eagerly;
    (2) find the components touched by any endpoint of the new edges and
    pull ONLY those components' members; (3) run CC over new-edges ∪
    member-binding edges (each member linked to its old label — valid
    because our CC labels are the min member id, so a label IS a member
    and no phantom nodes appear); (4) return the relabeled members + any
    brand-new nodes, for the caller to upsert. Only the RELABEL is
    O(delta + affected-component membership): the read and checkpoint in
    (1) cost the whole table on every batch, and so does the upsert's
    rewrite on the parquet path (GraphSink.upsert re-reads and rewrites the
    full table; only the Iceberg MERGE branch writes just the changed
    rows). A bridge edge between two old components relabels both to the
    global min, same as a full recompute (invariant pinned by
    tests/test_streaming.py::test_incremental_components_equals_one_shot).
    On an empty sink this is one-shot CC over ``new_edges``. A delta with
    no linking edges returns ``None``: there is nothing to write.

    Scale notes: ``touched`` is delta-sized; the affected-membership pull
    is a semi-join on the comp label; a mega-component touched every batch
    costs its own size — inherent to min-label relabeling, and the reason
    the table is bucketed by comp prefix."""
    graph = new_edges.select("subj", "obj")
    stored = sink.pinned("components")
    if stored is not None:
        comp = stored.select("id", "comp")
        touched = (
            graph.select(F.col("subj").alias("id"))
            .unionByName(graph.select(F.col("obj").alias("id")))
            .distinct()
        )
        affected = (
            comp.join(touched, "id", "left_semi").select("comp").distinct()
        )
        members = comp.join(affected, "comp", "left_semi")
        member_edges = members.select(
            F.col("id").alias("subj"), F.col("comp").alias("obj")
        )
        graph = graph.unionByName(member_edges)

    labels = connected_components(graph, src="subj", dst="obj")
    # an empty write would leave a schemaless parquet dir
    return None if labels.isEmpty() else component_rows(labels)


def component_rows(labels: DataFrame) -> DataFrame:
    """The stored ``components`` rows: (id, comp) labels plus the
    comp-prefix ``bucket`` the table is partitioned by, which co-locates a
    component's rows so the MoR rewrite and later per-component reads
    touch only their partitions."""
    return labels.withColumn("bucket", F.substring(F.hex(F.col("comp")), 1, 1))
