"""Incremental sketch maintenance over a micro-batch stream — the
streaming face of the sk2 HyperLogLog operator.

HLL registers merge by MAX (``analytics.hll_registers`` docstring), so the
stream-maintenance recurrence is exact, not approximate-on-top-of-
approximate:

    stored_regs(t) = max-merge(stored_regs(t-1), regs(batch_t))
                   = hll_registers(batch_1 ∪ … ∪ batch_t)

i.e. the incrementally maintained sketch is BIT-IDENTICAL to the one-shot
batch sketch over the concatenated stream — the invariant
``tests/test_streaming.py::test_incremental_hll_equals_one_shot`` pins,
including across a kill-and-resume (state lives in the sink table; replays
are MAX-idempotent, the same argument as the CC/linking registries).

Per-batch cost is O(batch + M·types): one partial agg over the delta, a
max-merge against the (tiny, register-sized) stored table, one upsert.
The reference has no sketch surface; this follows its incremental-watch
shape (src/scanner/incrementalWatcher.ts:14-101) applied to an
accumulator whose merge is associative+idempotent.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.route import local_frame
from ..operators.analytics import hll_estimate, hll_registers
from ..operators.materialize import TABLES, GraphSink
from ..schemas import EVENTS_SCHEMA
from .start import start_file_stream

HLL_TABLE = "hll_registers"


def incremental_hll_update(sink: GraphSink, batch_events: DataFrame) -> None:
    """One micro-batch: fold the delta's registers into the stored sketch
    (callable from foreachBatch). MAX-idempotent, so a crashed batch's
    replay is a no-op."""
    delta = hll_registers(batch_events)
    stored = sink.pinned(HLL_TABLE)
    if stored is not None:
        merged = (
            stored.unionByName(delta)
            .groupBy("event_type", "idx")
            .agg(F.max("reg").cast("int").alias("reg"))
        )
    else:  # first batch: no stored sketch yet
        merged = delta
    sink.commit({HLL_TABLE: merged})


def read_hll_estimates(sink: GraphSink) -> DataFrame:
    """The query face: collapse the maintained registers to per-type
    estimates — same columns as the batch sk2 gate minus exact_distinct
    (a sketch reader has no raw stream)."""
    return hll_estimate(sink.read(HLL_TABLE))


def run_hll_stream(
    spark: SparkSession, source_dir: str, sink: GraphSink, checkpoint_dir: str
):
    """Structured Streaming driver: watch ``source_dir`` for event parquet,
    maintain the HLL sketch per micro-batch, availableNow (drain-and-stop)."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        incremental_hll_update(sink, batch_df)

    return start_file_stream(
        spark, EVENTS_SCHEMA, source_dir, checkpoint_dir, _process
    )


# ---- Count-Min maintenance: the NON-idempotent merge case ----------------
#
# CMS cells merge by SUM — associative (any batch split gives the same
# sketch) but NOT idempotent: a replayed micro-batch would double-count.
# foreachBatch is at-least-once, so unlike the HLL fold above, this fold
# needs transactional replay protection. The parquet GraphSink gives it
# for free: ``upsert`` swaps the WHOLE table directory atomically, so the
# last-applied batch id rides INSIDE the sketch table as a sentinel row
# (row = -1, col = -1, cell_n = batch_id) — sketch and watermark commit in
# ONE atomic rename, leaving no crash window where the sketch applied but
# the watermark didn't. (On the Iceberg branch the same pairing is a
# single MERGE transaction.) This is the standard exactly-once recipe for
# non-idempotent accumulators under replayable sources.
CMS_TABLE = "cms_sketch"
_CMS_SENTINEL_ROW = -1
_CMS_WATERMARK_COL = -1  # (row=-1, col=-1, cell_n=batch_id)
_CMS_RUNID_COL = -2  # (row=-1, col=-2, cell_n=hash64(run_id))


def _run_id_hash(run_id: str) -> int:
    import hashlib

    return int.from_bytes(
        hashlib.md5(run_id.encode()).digest()[:8], "big", signed=True
    )


def incremental_cms_update(
    sink: GraphSink,
    batch_mentions: DataFrame,
    batch_id: int,
    run_id: str | None = None,
) -> None:
    """One micro-batch: fold the delta's CMS cells into the stored sketch
    unless ``batch_id`` was already applied (exactly-once under replay).

    ``run_id`` guards the watermark's monotonicity assumption: batch ids
    are monotone only within one streaming checkpoint lineage. Pass the
    checkpoint's stable query id (``{checkpoint_dir}/metadata`` → ``id``)
    and a restarted-from-scratch checkpoint over a surviving sketch table
    fails LOUDLY (the replayed-everything stream would otherwise be
    silently dropped as 'already applied' — or double-counted). The
    checkpoint dir and the cms_sketch table must be reset together; this
    sentinel turns that contract from documentation into an error."""
    from ..operators.analytics import cms_sketch_counts

    spark = batch_mentions.sparkSession
    ent = batch_mentions.filter(F.col("mtype") == "entity").select("norm")
    delta = cms_sketch_counts(ent)
    stored = sink.pinned(CMS_TABLE)
    if stored is not None:
        sent = {
            r["col"]: r["cell_n"]
            for r in stored.filter(F.col("row") == _CMS_SENTINEL_ROW).collect()
        }
        if run_id is not None:
            stored_rh = sent.get(_CMS_RUNID_COL)
            if stored_rh is not None and stored_rh != _run_id_hash(run_id):
                raise ValueError(
                    "cms_sketch table belongs to a different streaming "
                    "checkpoint lineage (run-id sentinel mismatch); the "
                    "checkpoint dir and the sketch table must be reset "
                    "together — refusing to fold (batch ids from a fresh "
                    "checkpoint restart at 0 and would corrupt the count)"
                )
        applied = sent.get(_CMS_WATERMARK_COL)
        if applied is not None and batch_id <= applied:
            return  # replayed batch: the sentinel says it's already in
        cells = (
            stored.filter(F.col("row") != _CMS_SENTINEL_ROW)
            .unionByName(delta)
            .groupBy("row", "col")
            .agg(F.sum("cell_n").cast("long").alias("cell_n"))
        )
    else:  # first batch: no stored sketch yet
        cells = delta
    sentinel_rows = [(_CMS_SENTINEL_ROW, _CMS_WATERMARK_COL, batch_id)]
    if run_id is not None:
        sentinel_rows.append(
            (_CMS_SENTINEL_ROW, _CMS_RUNID_COL, _run_id_hash(run_id))
        )
    sentinel = local_frame(spark, sentinel_rows, TABLES[CMS_TABLE].columns)
    merged = cells.select(
        F.col("row").cast("int"), F.col("col").cast("long"), "cell_n"
    ).unionByName(sentinel)
    sink.commit({CMS_TABLE: merged})


def read_cms_sketch(sink: GraphSink) -> DataFrame:
    """The maintained sketch minus the watermark sentinel."""
    return sink.read(CMS_TABLE).filter(F.col("row") != _CMS_SENTINEL_ROW)
