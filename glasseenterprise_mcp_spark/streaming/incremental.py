"""Incremental (micro-batch) KG construction — S7 analogue.

The reference's watch mode debounces file events into a delta batch and
re-runs extract→link→save on the delta (src/scanner/incrementalWatcher.ts:
14-101, re-entry src/index.ts:207-228), with upsert idempotence from stable
ids. Deletes are explicitly unsupported (unlink ignored,
incrementalWatcher.ts:91-95) — we match that: append/upsert only.

A micro-batch runs the scan's own build-and-store step
(``pipeline.build_graph`` + ``pipeline.store_graph``), so a stream can
continue a graph that ``kg_tool scan`` stored and both store the same rows.
Our improvement over the reference (SURVEY.md §4 table): the reference links
only *within* the delta, silently missing delta↔history links; that step
links the delta's consumed/provided mentions against the stored registry
too, so an url arriving in batch 2 still links to a resource from batch 1,
and it keeps the ``components`` table current (``incremental_components``).

Two entry points:
  * ``incremental_update``   — one micro-batch (callable from foreachBatch)
  * ``run_composed_stream``  — the Structured Streaming job: parquet file
                               source → ingest dedup →
                               foreachBatch(incremental_update),
                               checkpointed, Trigger.AvailableNow for
                               drain-and-stop semantics (the 300ms debounce
                               knob maps to processingTime triggers).

Resumability: state lives entirely in the sink tables (as in the reference,
where Neo4j is the state); a killed run restarts from the stream checkpoint
and MERGE replays are no-ops (stable ids ⇒ idempotent).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.materialize import GraphSink
from ..pipeline import build_graph, store_graph
from ..schemas import TRANSCRIPTS_SCHEMA
from .dedup_stream import dedup_stream
from .start import start_file_stream

# The ingest benchmark's trace (perfbench/workloads.py) looks these layer
# names up on this module; the micro-batch calls them through ``pipeline``.
from ..pipeline import (  # noqa: F401
    build_edges,
    build_nodes,
    calls_tool_edges,
    extract_mentions,
    incremental_components,
    mentions_in_edges,
    refers_to_edges,
    replies_to_edges,
)


def incremental_update(
    spark: SparkSession,
    sink: GraphSink,
    delta_transcripts: DataFrame,
    snapshot_version: str,
) -> int:
    """Process one delta batch: the scan's build-and-store step (extract →
    link, against the stored registry too → MERGE upsert of nodes, edges,
    link registry and components). Append-only, idempotent on replay. No
    metrics sidecar is written per micro-batch, and a zero-row batch
    writes nothing: it runs its count and no other job, and every stored
    table keeps its version (so a serving sink keeps its pins).

    Returns the number of delta rows processed, counted first, while the
    batch is cached — callers (the composed stream's post-batch hook)
    must NOT re-count the batch DataFrame themselves: the cache is
    dropped before return, so a later ``count()`` would recompute the
    deduped batch from source."""
    t = delta_transcripts.cache()
    try:
        n = t.count()
        if n:
            store_graph(sink, *build_graph(spark, t, snapshot_version, sink))
        return n
    finally:
        # unpersist even when a sink upsert throws mid-batch (the
        # crash-resume scenario): a retried batch must not leak one
        # cache entry per attempt
        t.unpersist()


def run_composed_stream(
    spark: SparkSession,
    source_dir: str,
    sink: GraphSink,
    checkpoint_dir: str,
    snapshot_version: str,
    watermark: str = "10 minutes",
    available_now: bool = True,
    processing_time: str = "1 second",
    post_batch_hook=None,
    max_files_per_trigger: int | None = None,
):
    """The COMPOSED streaming stack — the 100TB operating mode in one
    Structured Streaming job (each stage is proven in isolation elsewhere;
    this chains them end-to-end):

      1. ingest dedup: :func:`dedup_stream.dedup_stream` on the turn
         content hash ``turn_hash`` — retried/replayed turns are dropped
         at ingest, state is bounded by the watermark. INGEST CONTRACT:
         the feed must arrive approximately event-time-ordered — rows
         older than the watermark are late data and are dropped
         (standard Structured Streaming semantics; bounded dedup state is
         impossible without it). A time-shuffled feed silently loses
         data: slice source files by ts range the way bench.py's
         streaming leg does. Pinned by
         tests/test_streaming.py::test_composed_stream_drops_late;
      2. ``foreachBatch`` → :func:`incremental_update`: extract → link
         (delta + stored registry) → MERGE upsert of nodes/edges/link
         registry → incremental connected-component maintenance.

    Crash contract: the stream checkpoint commits AFTER foreachBatch
    returns, so a crash mid-batch or in the commit window replays the
    whole micro-batch on restart; every sink write is an idempotent
    MERGE-by-stable-id and the dedup/state stores restore their
    pre-batch version, so replayed effects converge to the one-shot batch
    graph (pinned by tests/test_streaming.py::
    test_composed_stream_crash_resume_equals_one_shot).

    ``post_batch_hook(batch_id, n_rows)`` is an observability seam called
    after the batch's upserts and before the checkpoint commit (used by
    the crash test as the fault-injection point; in production, a metrics
    emitter). The trigger options are :func:`start.start_file_stream`'s."""
    turn_hash = F.md5(
        F.concat_ws("|", "conv_id", F.col("turn_idx").cast("string"), "text")
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        # incremental_update caches the batch for its own fan-out and
        # returns the row count taken while cached; counting here instead
        # would recompute the deduped batch from source (its unpersist
        # drops the shared cache entry — cache() is not refcounted)
        n_rows = incremental_update(
            spark, sink, batch_df, f"{snapshot_version}-b{batch_id}"
        )
        if post_batch_hook is not None:
            post_batch_hook(batch_id, n_rows)

    return start_file_stream(
        spark, TRANSCRIPTS_SCHEMA, source_dir, checkpoint_dir, _process,
        plan=lambda turns: dedup_stream(
            turns, "turn_hash", turn_hash, watermark
        ).drop("turn_hash"),
        available_now=available_now,
        processing_time=processing_time,
        max_files_per_trigger=max_files_per_trigger,
    )
