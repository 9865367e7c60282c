"""Watermarked stream-stream interval join — the last first-class
Structured Streaming surface (SURVEY.md §2.9): two live event streams
joined on a key within an event-time bound, the impressions⋈clicks shape
every production funnel pipeline runs (here: click → purchase by the same
user within the attribution window, the streaming form of ev7's batch
attribution).

Semantics (idiomatic Spark, no custom state):
  * BOTH sides carry ``withWatermark`` and the join condition carries the
    event-time range (``p.ts BETWEEN c.ts AND c.ts + window``) — the two
    things Spark requires to bound stream-stream join state: each side's
    buffered rows are evicted once the other side's watermark passes the
    latest instant they could still match;
  * INNER join: pairs are emitted as soon as both sides have arrived
    (eagerly — the watermark governs state EVICTION, not emission), so an
    ``availableNow`` drain over a finite source produces exactly the batch
    join's rows. ``tests/test_streaming.py::test_stream_stream_join``
    pins that equivalence, incrementality across restarts, and replay
    idempotence;
  * append output mode + parquet sink: emitted pairs are immutable facts.

At 100TB/day each side's state holds only the rows inside the join window
(clicks: ``window`` + watermark delay; purchases: watermark delay) keyed
by user — bounded by time, not stream length.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..schemas import EVENTS_SCHEMA
from .start import start_file_stream


JOIN_WINDOW = "1 hour"
JOIN_WATERMARK = "30 minutes"


def click_purchase_pairs(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """(user_id, click_id, purchase_id, lag_sec): every purchase matched
    to every click by the same user in the preceding ``JOIN_WINDOW``. The SAME
    plan works on batch DataFrames (watermarks are no-ops there) — the
    batch/stream parity twin the invariant test compares against."""
    c = (
        clicks.withWatermark("ts", JOIN_WATERMARK)
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    p = (
        purchases.withWatermark("ts", JOIN_WATERMARK)
        .select(
            F.col("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    return (
        c.join(
            p,
            [
                c["user_id"] == p["user_id"],
                p["purchase_ts"] >= c["click_ts"],
                p["purchase_ts"] <= c["click_ts"] + F.expr(f"INTERVAL {JOIN_WINDOW}"),
            ],
        )
        .select(
            c["user_id"],
            "click_id",
            "purchase_id",
            (
                F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")
            ).cast("long").alias("lag_sec"),
        )
    )


def run_stream_join(
    spark: SparkSession, src_dir: str, out_dir: str, ckpt_dir: str
) -> StreamingQuery:
    """readStream(parquet) → filter the two event types into two streams →
    watermarked interval join → append parquet. ``availableNow`` drains the
    current files then stops; same checkpoint resumes incrementally."""
    return start_file_stream(
        spark, EVENTS_SCHEMA, src_dir, ckpt_dir, out_dir,
        plan=lambda ev: click_purchase_pairs(
            ev.filter(F.col("event_type") == "click"),
            ev.filter(F.col("event_type") == "purchase"),
        ),
    )
