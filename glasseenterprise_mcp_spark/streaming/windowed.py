"""Watermarked event-time windowed aggregation — the Structured Streaming
form of the tumbling-window operator (SURVEY.md §2.9; the north-star
streaming bullet "watermarks + windowed aggs for late data").

Semantics (idiomatic Spark, no custom state):
  * event-time tumbling windows via ``F.window`` — the SAME expression as
    the batch twin ``analytics.tumbling_event_counts`` (oracle-gated as
    ``ev2``), so batch/stream parity is by construction;
  * ``withWatermark`` bounds state: a window is finalized and APPENDED to
    the sink when the watermark (max seen event time - delay) passes its
    end; late events inside the delay still count, later-than-watermark
    events are dropped — exactly the contract
    ``tests/test_streaming.py::test_watermarked_window_late_data`` pins
    across a checkpoint restart (the watermark survives in the commit log);
  * append output mode + parquet sink: finalized windows are immutable
    rows, the idempotent-sink story of the incremental pipeline applies.

At 100TB/day the state store holds only open windows × event types (the
watermark evicts closed ones) — state is bounded by the delay, not the
stream length.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..schemas import EVENTS_SCHEMA
from .start import start_file_stream


WINDOW = "1 hour"
WATERMARK = "1 hour"


def windowed_counts(events):
    """The (stream-ready) plan: watermark → tumbling window → counts.
    Works identically on a batch DataFrame (watermark is a no-op there)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type",
            "n",
        )
    )


def run_windowed_counts_stream(
    spark: SparkSession, src_dir: str, out_dir: str, ckpt_dir: str
) -> StreamingQuery:
    """readStream(parquet) → watermarked windowed counts → append parquet.
    ``availableNow`` drains everything currently in ``src_dir`` then stops;
    re-invoking with the same checkpoint resumes the watermark and
    processes only newly arrived files."""
    return start_file_stream(
        spark, EVENTS_SCHEMA, src_dir, ckpt_dir, out_dir, plan=windowed_counts
    )
