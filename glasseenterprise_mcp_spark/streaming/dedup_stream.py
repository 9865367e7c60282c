"""Streaming exact dedup: ``dropDuplicatesWithinWatermark`` keyed on the
content hash — the streaming twin of ``operators/dedup.exact_dedup``'s
keep-first semantics, for ingest-time dedup of a live training-data feed
(SURVEY.md §2.9 × the dedup family; the reference's incremental watcher
re-scans changed files, this is the analogous only-new-content contract).

Semantics: exactly ONE representative per content hash is emitted; any
further occurrence arriving within the watermark delay of the event-time
column is dropped. WITHIN a micro-batch the surviving representative is
processing-order-dependent (Spark does not sort the batch by event time
before deduping — so it is "one per hash", not "event-time-first");
ACROSS batches the earlier batch's representative always wins because the
hash is already in state. A duplicate arriving LATER than the watermark
may be re-emitted — that is the documented bound that keeps state finite
(state per live hash only, evicted at the watermark), which is what makes
the operator viable on an unbounded 100TB/day feed where an unbounded
``dropDuplicates`` would accumulate every hash ever seen. Keys are md5
hashes, so the state store's hash partitioning is uniform by construction
— no hot state partition.

Batch parity: over a bounded replay whose duplicates all fall inside the
watermark, the emitted TEXT set equals ``exact_dedup``'s distinct hashes
(pinned by tests/test_streaming.py::test_dedup_stream_drops_in_watermark_dups).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..schemas import DOCS_STREAM_SCHEMA
from .start import start_file_stream


def dedup_stream(
    df: DataFrame, key: str, hash_expr: Column, watermark: str = "10 minutes"
) -> DataFrame:
    """The one ingest-dedup builder: ``df`` (a stream with an event-time
    ``ts``) with ``key`` = ``hash_expr`` added, keeping the first-seen row
    per ``key`` within the watermark. ``key`` names the state-store key
    column, so a caller keeps its name to restart from an existing
    checkpoint."""
    return (
        df.withColumn(key, hash_expr)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark([key])
    )


def run_dedup_stream(spark, source_dir: str, out_dir: str, checkpoint_dir: str):
    """File-source driver: watch ``source_dir`` for (doc_id, text, ts)
    parquet, emit first-seen docs (with their ``text_hash``) to
    ``out_dir``, checkpointed, availableNow (drain-and-stop)."""
    return start_file_stream(
        spark, DOCS_STREAM_SCHEMA, source_dir, checkpoint_dir, out_dir,
        plan=lambda docs: dedup_stream(docs, "text_hash", F.md5("text")),
    )
