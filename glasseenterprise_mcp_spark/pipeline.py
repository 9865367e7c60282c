"""End-to-end KG-construction pipeline (scan → extract → link → canonicalize
→ materialize), the analogue of the reference's `scan` tool lifecycle
(src/index.ts:160-241; SURVEY.md §3.1).

Stages:
  A  extract_mentions      mapInArrow, narrow (no shuffle)
  B  linking joins         equi/broadcast/window joins (shuffle on keys)
  C  connected components  iterative hash joins over the refers-to graph
  D  materialize           dedup + snapshot stamp + partitioned upsert

Every stage records per-partition row counts into a metrics sidecar
(north rule: "every stage writes per-partition lineage + metrics";
analogue of the reference's scan summary, src/index.ts:230-238).
"""

from __future__ import annotations

import os
import time
from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .operators.canonicalize import connected_components
from .operators.extract import extract_mentions
from .operators.link import (
    calls_tool_edges,
    mentions_in_edges,
    refers_to_edges,
    replies_to_edges,
)
from .operators.materialize import (
    GraphSink,
    build_edges,
    build_nodes_with_attrs,
    snapshot_stamp,
    write_graph,
)


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


class PipelineResult:
    """Pipeline outputs. ``nodes`` and ``metrics`` are built LAZILY on first
    attribute access: ``build_nodes_with_attrs`` ends in a ``localCheckpoint``
    whose construction forces full Catalyst analysis/optimization/physical
    planning (``queryExecution.toRdd`` runs even with ``eager=False``) —
    measured at 6s (8 cores) to 17s (2 cores) of pure driver time per
    ``run_pipeline`` call over the amplified bench corpus. A sink-less run
    (both bench legs, the headline pipeline job) never reads nodes or
    metrics, so it must not pay for planning them (guide §1.2/§5: don't
    compute what you throw away — including plan-time work)."""

    def __init__(
        self,
        snapshot_version: str,
        mentions: DataFrame,
        nodes: DataFrame | Callable[[], DataFrame],
        edges: DataFrame,
        components: DataFrame,
        metrics: list[DataFrame] | Callable[[], list[DataFrame]],
    ):
        self.snapshot_version = snapshot_version
        self.mentions = mentions
        self.edges = edges
        self.components = components
        self._nodes = None if callable(nodes) else nodes
        self._nodes_thunk = nodes if callable(nodes) else None
        self._metrics = None if callable(metrics) else metrics
        self._metrics_thunk = metrics if callable(metrics) else None

    def __repr__(self) -> str:
        """Names the snapshot and whether the lazy parts are built yet,
        without building them."""
        return (
            f"PipelineResult(snapshot_version={self.snapshot_version!r}, "
            f"nodes={'lazy' if self._nodes is None else 'built'}, "
            f"metrics={'lazy' if self._metrics is None else 'built'})"
        )

    @property
    def nodes(self) -> DataFrame:
        if self._nodes is None:
            self._nodes = self._nodes_thunk()
        return self._nodes

    @property
    def metrics(self) -> list[DataFrame]:
        if self._metrics is None:
            self._metrics = self._metrics_thunk()
        return self._metrics


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


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    sink: GraphSink | None = None,
    snapshot_version: str | None = None,
    with_components: bool = True,
    stage_dir: str | None = None,
) -> PipelineResult:
    """The triple table is cached only when more than one consumer will
    read it: exactly when a sink is configured (write_graph + the metrics
    upsert read it twice). With sink=None the caller's single action
    streams the union directly; building an in-memory columnar copy of the
    corpus-scale triple table for one read is pure DRAM-bandwidth waste
    (and at 100TB it would not fit regardless — the sink IS the
    materialization there)."""
    snap = snapshot_version or snapshot_stamp(spark)
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
    # nodes are a lazy thunk that usually nobody reads, so the cache skips
    # surface's encode cost and the thunk re-derives a full-width extraction
    # if a sink-less caller does ask for nodes (tests on dim corpora).
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
    # refers is dim-sized (distinct url × endpoint matches, not occurrences)
    # and has two consumers (triple union + CC); materialize it once instead
    # of re-running the 4-tier broadcast cascade per consumer.
    e_refers = refers_to_edges(mentions).localCheckpoint(eager=True)

    # Stage D edges built before stage C so the (cached) triple table is the
    # single materialization everything downstream (CC, metrics, sink) reads
    # — no edge family is ever computed twice.
    # nodes carry merged attrs maps (A2 + §1.4) — the merge is over the node
    # dim only, never the edge table. Built as a THUNK: the node build ends
    # in a localCheckpoint whose construction alone forces full Catalyst
    # planning (6-17s of driver time at bench scale), so it runs only when
    # a consumer (sink write, res.nodes, res.metrics) actually asks.
    def nodes_thunk() -> DataFrame:
        if "surface" in mentions.columns:
            return build_nodes_with_attrs(slim, mentions, snap)
        # sink-less run with a pruned cache: the node build needs surface,
        # so re-derive a full-width mention frame (reuses the stage
        # checkpoint when one exists; otherwise re-extracts — only paid
        # when a sink-less caller explicitly reads nodes/metrics)
        return build_nodes_with_attrs(
            slim, mentions_full.select(*pipeline_cols), snap
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

    # Stage C — canonicalization over the cross-corpus linking graph. Feeds
    # on the refers family DIRECTLY (a dim-sized frame built from the
    # checkpointed url/endpoint registries), never by filtering the full
    # cached triple table — that filter would re-scan corpus-scale edges to
    # recover a graph that is orders of magnitude smaller.
    if with_components:
        components = connected_components(
            e_refers.select("subj", "obj"), src="subj", dst="obj"
        )
    else:
        components = spark.createDataFrame([], "id binary, comp binary")

    result = PipelineResult(
        snap,
        mentions,
        nodes_thunk,
        edges,
        components,
        # metrics thunk closes over the result so the node build is shared
        # with (and memoized by) the ``nodes`` property
        lambda: _build_metrics(spark, result, snap, timings),
    )

    if sink is not None:
        write_graph(sink, result.nodes, edges)
        metrics = result.metrics
        m = metrics[0]
        for x in metrics[1:]:
            m = m.unionByName(x)
        sink.upsert(
            m,
            "metrics",
            keys=["snapshot_version", "stage", "partition_id"],
            partition_by=["stage"],
        )

    return result


def _build_metrics(
    spark: SparkSession,
    result: PipelineResult,
    snap: str,
    timings: dict[str, float],
) -> list[DataFrame]:
    metrics = [
        partition_metrics(result.mentions, "A_extract", snap),
        partition_metrics(result.edges, "D_edges", snap),
        partition_metrics(result.nodes, "D_nodes", snap),
    ]
    if timings:
        metrics.append(
            spark.createDataFrame(
                [
                    (snap, stage, -1, int(sec * 1000), "stage_wall_ms")
                    for stage, sec in timings.items()
                ],
                "snapshot_version string, stage string, partition_id int, rows long, metric string",
            )
        )
    return metrics
