"""Incremental/streaming mode: two micro-batches (split by conversation)
through the Structured Streaming path with a shared checkpoint must converge
to the same graph as a one-shot batch run — the resume-from-checkpoint
equals one-shot invariant (SURVEY.md §5.4; idempotent MERGE contract
analogue of saveNodes.ts:137-158)."""

from __future__ import annotations

import os
import tempfile

import pyspark.sql.functions as F
import pytest

from glasseenterprise_mcp_spark.operators.materialize import GraphSink
from glasseenterprise_mcp_spark.pipeline import run_pipeline
from glasseenterprise_mcp_spark.sources.transcripts import derive_transcripts
from glasseenterprise_mcp_spark.streaming.incremental import run_composed_stream

from .conftest import SF_SMALL, freeze


@pytest.fixture(scope="module")
def split_batches(spark):
    t = derive_transcripts(spark, SF_SMALL).drop("ts_epoch")
    conv_num = F.substring("conv_id", 2, 10).cast("int")
    a = t.filter(conv_num % 2 == 0)
    b = t.filter(conv_num % 2 == 1)
    return t, a, b


def _triples(df):
    from .conftest import freeze

    return freeze(df.select("subj", "pred", "obj").collect())


def test_two_batch_stream_equals_one_shot(spark, split_batches):
    t, a, b = split_batches
    src = tempfile.mkdtemp()
    ckpt = tempfile.mkdtemp()
    sink_dir = tempfile.mkdtemp()
    sink = GraphSink(spark, sink_dir)

    # batch 1 arrives; drain
    a.write.mode("append").parquet(src)
    q = run_composed_stream(spark, src, sink, ckpt, "snapS", watermark="3650 days")
    q.awaitTermination(300)

    # batch 2 arrives later; resume from the same checkpoint — only the new
    # file is processed
    b.write.mode("append").parquet(src)
    q = run_composed_stream(spark, src, sink, ckpt, "snapS", watermark="3650 days")
    q.awaitTermination(300)

    got = _triples(sink.read("edges"))

    one_shot = run_pipeline(spark, t, sink=None, snapshot_version="snap1")
    want = _triples(one_shot.edges)
    one_shot.mentions.unpersist()

    assert got == want, (
        f"incremental != one-shot: missing={len(want - got)} extra={len(got - want)}"
    )

    # node id/type parity too (names may legitimately differ per-batch mode)
    from .conftest import freeze

    got_nodes = freeze(sink.read("nodes").select("id", "type").collect())
    want_nodes = freeze(one_shot.nodes.select("id", "type").collect())
    assert got_nodes == want_nodes


def test_cross_batch_method_gate(spark):
    """N6 across batches: the persisted registry carries the mention method,
    so a GET url arriving in a later delta must link to a GET-provided
    historical endpoint but NOT to a POST-only historical endpoint."""
    from glasseenterprise_mcp_spark.streaming.incremental import incremental_update

    rows1 = [
        ("h1", 0, "user", "POST /api/ponly", None),
        ("h1", 1, "user", "GET /api/gonly", None),
    ]
    rows2 = [
        ("h2", 0, "user", "see http://x.example.com/api/ponly", None),
        ("h2", 1, "user", "see http://x.example.com/api/gonly", None),
    ]
    schema = "conv_id string, turn_idx int, role string, text string, tool string"
    sink_dir = tempfile.mkdtemp()
    sink = GraphSink(spark, sink_dir)
    incremental_update(spark, sink, spark.createDataFrame(rows1, schema), "b1")
    incremental_update(spark, sink, spark.createDataFrame(rows2, schema), "b2")
    refers = (
        sink.read("edges").filter(F.col("pred") == "refers-to").collect()
    )
    # GET url → GET endpoint links (cross-batch); GET url → POST-only
    # endpoint must not (method gate holds against history)
    assert len(refers) == 1, [r.asDict() for r in refers]
    reg = {
        (r.mtype, r.norm, r.method)
        for r in sink.read("link_registry").collect()
    }
    assert ("endpoint", "/ponly", "POST") in reg
    assert ("endpoint", "/gonly", "GET") in reg


def _table_rows(sink, table, *cols):
    """Stored rows of ``table`` (all columns by default), hashable: binary
    ids as bytes, maps as sorted item tuples."""
    def norm(v):
        if isinstance(v, bytearray):
            return bytes(v)
        if isinstance(v, dict):
            return tuple(sorted(v.items()))
        return v

    df = sink.read(table)
    rows = df.select(*(cols or sorted(df.columns))).collect()
    return {tuple(norm(v) for v in r) for r in rows}


def test_scan_then_stream_equals_one_shot(spark, split_batches):
    """A stream continues a graph a scan stored: scan conversations A, then
    stream B. The stored edges equal a one-shot run over A ∪ B, and the
    stored components equal one-shot CC over the stored refers-to edges
    (the scan stores the registry and the components the stream builds
    on)."""
    from glasseenterprise_mcp_spark.operators.canonicalize import (
        connected_components,
    )
    from glasseenterprise_mcp_spark.streaming.incremental import incremental_update

    t, a, b = split_batches
    sink = GraphSink(spark, tempfile.mkdtemp())
    run_pipeline(spark, a, sink=sink, snapshot_version="scanA")
    incremental_update(spark, sink, b, "streamB")

    one_shot = run_pipeline(spark, t, sink=None, snapshot_version="one")
    want = _triples(one_shot.edges)
    one_shot.mentions.unpersist()
    assert _triples(sink.read("edges")) == want
    refers = sink.read("edges").filter(F.col("pred") == "refers-to")
    want_cc = freeze(
        connected_components(refers, src="subj", dst="obj").select("id", "comp").collect()
    )
    got_cc = _table_rows(sink, "components", "id", "comp")
    assert got_cc == want_cc and len(got_cc) > 0


def test_scan_then_stream_keeps_method_gate(spark):
    """The method-gate rows across a scan and a stream: the scan stores
    the registry, so the streamed GET url links to the GET endpoint the
    scan stored, and not to the POST-only one."""
    from glasseenterprise_mcp_spark.streaming.incremental import incremental_update

    schema = "conv_id string, turn_idx int, role string, text string, tool string"
    history = [
        ("h1", 0, "user", "POST /api/ponly", None),
        ("h1", 1, "user", "GET /api/gonly", None),
    ]
    delta = [
        ("h2", 0, "user", "see http://x.example.com/api/ponly", None),
        ("h2", 1, "user", "see http://x.example.com/api/gonly", None),
    ]
    sink = GraphSink(spark, tempfile.mkdtemp())
    run_pipeline(
        spark, spark.createDataFrame(history, schema), sink=sink, snapshot_version="b1"
    )
    incremental_update(spark, sink, spark.createDataFrame(delta, schema), "b2")
    refers = sink.read("edges").filter(F.col("pred") == "refers-to").collect()
    assert len(refers) == 1, [r.asDict() for r in refers]


def test_scan_and_stream_store_the_same_graph(spark):
    """One ingest path: a scan and a one-batch stream of the same corpus
    store identical (id, type, attrs) node rows and the same four graph
    tables, row for row."""
    from glasseenterprise_mcp_spark.streaming.incremental import incremental_update

    t = derive_transcripts(spark, SF_SMALL).drop("ts_epoch")
    scanned = GraphSink(spark, tempfile.mkdtemp())
    streamed = GraphSink(spark, tempfile.mkdtemp())
    run_pipeline(spark, t, sink=scanned, snapshot_version="s")
    incremental_update(spark, streamed, t, "s")

    assert _table_rows(scanned, "nodes", "id", "type", "attrs") == _table_rows(
        streamed, "nodes", "id", "type", "attrs"
    )
    for table in ("nodes", "edges", "link_registry", "components"):
        assert _table_rows(scanned, table) == _table_rows(streamed, table), table


def test_replay_is_idempotent(spark, split_batches):
    """Re-processing the same delta (simulated retry) must not change the
    graph — the stable-id MERGE contract."""
    from glasseenterprise_mcp_spark.streaming.incremental import incremental_update

    _, a, _b = split_batches
    sink_dir = tempfile.mkdtemp()
    sink = GraphSink(spark, sink_dir)
    incremental_update(spark, sink, a, "snapA")
    n1 = sink.read("edges").count(), sink.read("nodes").count()
    incremental_update(spark, sink, a, "snapA")
    n2 = sink.read("edges").count(), sink.read("nodes").count()
    assert n1 == n2


def test_zero_row_batch_writes_nothing(spark, split_batches):
    """A zero-row micro-batch onto a stored graph runs its count and no
    other job, and leaves every table directory (its version) in place."""
    from glasseenterprise_mcp_spark.streaming.incremental import incremental_update

    tables = ("nodes", "edges", "link_registry", "components")
    _, a, _b = split_batches
    sink = GraphSink(spark, tempfile.mkdtemp())
    incremental_update(spark, sink, a, "snapA")
    versions = {t: sink._version(t) for t in tables}
    assert versions["nodes"] and versions["edges"]
    empty = a.limit(0)
    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), out

    def count_cached():
        c = empty.cache()
        try:
            return c.count()
        finally:
            c.unpersist()

    count_jobs, _ = jobs("zero-row-count", count_cached)
    batch_jobs, n = jobs("zero-row-batch", lambda: incremental_update(spark, sink, empty, "snapB"))
    assert n == 0
    assert batch_jobs == count_jobs
    assert {t: sink._version(t) for t in tables} == versions


def test_stateful_session_stream_two_batches(spark):
    """applyInPandasWithState session windows: two micro-batches through a
    checkpointed stream must emit exactly the CLOSED sessions the batch
    sessionizer computes (each user's final open session stays in state)."""
    import os

    from glasseenterprise_mcp_spark.streaming.stateful_sessions import (
        run_session_stream,
    )

    t0 = 1_700_000_000
    batch1 = [
        ("alice", t0), ("alice", t0 + 10),          # session 1
        ("alice", t0 + 4000),                        # closes s1, opens s2
        ("bob", t0 + 5),                             # bob s1 (stays open)
    ]
    batch2 = [
        ("alice", t0 + 9000),                        # closes s2, opens s3
        ("bob", t0 + 2500),                          # > gap: closes bob s1
        ("carol", t0),                               # new user, stays open
    ]
    src, out, ckpt = (tempfile.mkdtemp() for _ in range(3))
    schema = "user_id string, ts_s long"

    spark.createDataFrame(batch1, schema).write.mode("append").parquet(src)
    q = run_session_stream(spark, src, out, ckpt)
    q.awaitTermination(300)
    spark.createDataFrame(batch2, schema).write.mode("append").parquet(src)
    q = run_session_stream(spark, src, out, ckpt)
    q.awaitTermination(300)

    assert os.path.exists(out)
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        ("alice", t0, t0 + 10, 2),          # closed by the t0+4000 event
        ("alice", t0 + 4000, t0 + 4000, 1),  # closed by the t0+9000 event
        ("bob", t0 + 5, t0 + 5, 1),          # closed by the t0+2500 event
    }
    assert got == want


def test_stateful_session_out_of_order_across_batches(spark):
    """A later batch may carry an event OLDER than the open session's
    last_ts (only the current batch is sorted). Session bounds must extend
    with min/max — session_end never moves backwards, session_start covers
    the earliest event (r3 ADVICE: the naive extend set last_ts backwards,
    diverging from the batch sessionizer's bounds)."""
    import os

    from glasseenterprise_mcp_spark.streaming.stateful_sessions import (
        run_session_stream,
    )

    t0 = 1_700_000_000
    src, out, ckpt = (tempfile.mkdtemp() for _ in range(3))
    schema = "user_id string, ts_s long"
    # batch 1 opens dave's session [t0+100, t0+200]
    spark.createDataFrame(
        [("dave", t0 + 100), ("dave", t0 + 200)], schema
    ).write.mode("append").parquet(src)
    q = run_session_stream(spark, src, out, ckpt)
    q.awaitTermination(300)
    # batch 2: one event BEFORE the open bounds (in-gap: extends), then a
    # far-future event that closes the session
    spark.createDataFrame(
        [("dave", t0 + 50), ("dave", t0 + 50_000)], schema
    ).write.mode("append").parquet(src)
    q = run_session_stream(spark, src, out, ckpt)
    q.awaitTermination(300)

    assert os.path.exists(out)
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.read.parquet(out).collect()
    }
    # end stays t0+200 (never dragged back to t0+50); start widens to t0+50
    assert got == {("dave", t0 + 50, t0 + 200, 3)}


def test_watermarked_window_late_data(spark):
    """Watermarked tumbling windows across a checkpoint restart: an event
    later than the watermark is DROPPED (its already-finalized window stays
    immutable), a late-but-within-delay event still counts, and the
    watermark itself survives the restart via the commit log."""
    from datetime import datetime as DT

    from glasseenterprise_mcp_spark.streaming.windowed import (
        run_windowed_counts_stream,
    )

    src, out, ckpt = tempfile.mkdtemp(), tempfile.mkdtemp(), tempfile.mkdtemp()

    def ev(eid, hh, mm, et="click"):
        return (eid, DT(2024, 1, 1, hh, mm), 1, et, 0.0, "{}")

    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    # batch 1: hours 0..4 → watermark after drain = 04:30 - 1h = 03:30;
    # windows [00,01) [01,02) [02,03) finalize and append
    b1 = [ev(1, 0, 30), ev(2, 0, 40), ev(3, 1, 30), ev(4, 2, 30), ev(5, 4, 30)]
    spark.createDataFrame(b1, schema).write.mode("append").parquet(src)
    q = run_windowed_counts_stream(spark, src, out, ckpt)
    q.awaitTermination(300)
    got1 = {(r.win_start.hour, r.n) for r in spark.read.parquet(out).collect()}
    assert got1 == {(0, 2), (1, 1), (2, 1)}

    # batch 2 resumes from the checkpoint: event 6 at 00:15 is LATER than
    # the restored 03:30 watermark → dropped (window [00,01) already out);
    # event 7 at 03:45 is late-but-open → counts; event 8 at 05:30 advances
    # the watermark to 04:30 → finalizes [03,04) (with event 7) while
    # [04,05) (end 05:00 > watermark 04:30) and [05,06) stay open
    b2 = [ev(6, 0, 15), ev(7, 3, 45), ev(8, 5, 30)]
    spark.createDataFrame(b2, schema).write.mode("append").parquet(src)
    q = run_windowed_counts_stream(spark, src, out, ckpt)
    q.awaitTermination(300)

    got2 = {(r.win_start.hour, r.n) for r in spark.read.parquet(out).collect()}
    assert got2 == {(0, 2), (1, 1), (2, 1), (3, 1)}


def test_dedup_stream_drops_in_watermark_dups(spark):
    """Streaming exact dedup (dropDuplicatesWithinWatermark on md5(text)):
    a cross-batch duplicate arriving within the watermark is dropped (state
    persists through the checkpoint across availableNow restarts); distinct
    texts all pass; the emitted set equals batch exact_dedup's canonical
    rows for this bounded replay."""
    import datetime as dt
    import os

    from glasseenterprise_mcp_spark.streaming.dedup_stream import (
        run_dedup_stream,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    src, out, ckpt = (tempfile.mkdtemp() for _ in range(3))
    schema = "doc_id long, text string, ts timestamp"
    batch1 = [
        (1, "alpha beta gamma", t0),
        (2, "delta epsilon zeta", t0 + dt.timedelta(seconds=30)),
        (3, "alpha beta gamma", t0 + dt.timedelta(seconds=60)),  # in-batch dup
    ]
    batch2 = [
        (4, "alpha beta gamma", t0 + dt.timedelta(seconds=120)),  # x-batch dup
        (5, "eta theta iota", t0 + dt.timedelta(seconds=150)),
    ]
    spark.createDataFrame(batch1, schema).write.mode("append").parquet(src)
    q = run_dedup_stream(spark, src, out, ckpt)
    q.awaitTermination(300)
    spark.createDataFrame(batch2, schema).write.mode("append").parquet(src)
    q = run_dedup_stream(spark, src, out, ckpt)
    q.awaitTermination(300)

    assert os.path.exists(out)
    rows = spark.read.parquet(out).collect()
    # exactly ONE representative per distinct text (in-batch the survivor
    # is processing-order-dependent — doc 1 OR 3 — so assert the contract,
    # not an ordering Spark does not promise) …
    assert len(rows) == 3
    assert {r.text for r in rows} == {
        "alpha beta gamma", "delta epsilon zeta", "eta theta iota",
    }
    # … and the CROSS-batch duplicate (doc 4, within the watermark) must
    # always lose to batch 1's representative already in state
    assert 4 not in {r.doc_id for r in rows}


def test_incremental_components_equals_one_shot(spark):
    """Incremental canonicalization invariant: after any sequence of
    micro-batches, the persisted components table equals a one-shot CC
    over the union of all edges ever seen — including the hard case where
    a later batch BRIDGES two previously separate components (both must
    relabel to the global min), while untouched components keep their
    rows."""
    from glasseenterprise_mcp_spark.operators.canonicalize import (
        connected_components,
    )
    from glasseenterprise_mcp_spark.pipeline import incremental_components

    sink = GraphSink(spark, tempfile.mkdtemp())
    b1 = spark.createDataFrame(
        [(b"a", b"b"), (b"c", b"d"), (b"x", b"y")], "subj binary, obj binary"
    )
    b2 = spark.createDataFrame(
        [(b"b", b"c"), (b"e", b"f")], "subj binary, obj binary"  # bridge + new comp
    )

    def labels(df):
        return {bytes(r.id): bytes(r.comp) for r in df.collect()}

    sink.commit({"components": incremental_components(spark, sink, b1)})
    after1 = labels(sink.read("components"))
    assert after1 == {
        b"a": b"a", b"b": b"a", b"c": b"c", b"d": b"c", b"x": b"x", b"y": b"x"
    }

    sink.commit({"components": incremental_components(spark, sink, b2)})
    got = labels(sink.read("components"))
    want = labels(connected_components(b1.unionByName(b2), src="subj", dst="obj"))
    assert got == want  # a,b,c,d → a (bridged); e,f → e; x,y untouched
    assert got[b"x"] == b"x" and got[b"d"] == b"a"


def test_incremental_update_maintains_components(spark, split_batches):
    """End-to-end: two transcript deltas through incremental_update with
    component maintenance on — the persisted components table must equal a
    one-shot CC over the sink's final refers-to graph (which the edge-
    parity test already pins to the batch pipeline's graph)."""
    from glasseenterprise_mcp_spark.operators.canonicalize import (
        connected_components,
    )
    from glasseenterprise_mcp_spark.streaming.incremental import (
        incremental_update,
    )

    _, a, b = split_batches
    sink = GraphSink(spark, tempfile.mkdtemp())
    incremental_update(spark, sink, a, "b1")
    incremental_update(spark, sink, b, "b2")

    refers = sink.read("edges").filter(F.col("pred") == "refers-to")
    want = {
        (bytes(r.id), bytes(r.comp))
        for r in connected_components(
            refers.select("subj", "obj"), src="subj", dst="obj"
        ).collect()
    }
    got = {
        (bytes(r.id), bytes(r.comp))
        for r in sink.read("components").select("id", "comp").collect()
    }
    assert got == want and len(got) > 0


def test_composed_stream_crash_resume_equals_one_shot(spark, split_batches):
    """The FULL streaming stack composed in ONE job (ingest dedup →
    extract/link → versioned upsert → incremental components) with a
    crash injected in the checkpoint-commit window, then resumed:

    - feed batch 1 with in-batch duplicate turns → the dedup stage must
      drop them (processed-row count == distinct turns);
    - feed batch 2 with new conversations + replays of batch-1 turns →
      cross-batch dedup drops the replays (state survives restart);
    - the second run CRASHES after its upserts but before the checkpoint
      commit (partial effects persisted!); the resumed run replays the
      batch and the idempotent MERGE converges;
    - final edges == the one-shot batch pipeline on the full corpus, and
      the persisted components == one-shot CC over the final refers graph.
    """
    import pytest as _pytest

    from glasseenterprise_mcp_spark.operators.canonicalize import (
        connected_components,
    )
    from glasseenterprise_mcp_spark.streaming.incremental import (
        run_composed_stream,
    )

    t, a, b = split_batches
    src, ckpt = tempfile.mkdtemp(), tempfile.mkdtemp()
    sink = GraphSink(spark, tempfile.mkdtemp())

    # batch 1: conversations A + 40 duplicated turns inside the same feed
    a.unionByName(a.limit(40)).coalesce(1).write.mode("append").parquet(src)
    counts1 = []
    q = run_composed_stream(
        spark, src, sink, ckpt, "snapC", watermark="3650 days",
        post_batch_hook=lambda bid, n: counts1.append(n),
    )
    q.awaitTermination(300)
    assert sum(counts1) == a.count()  # in-batch duplicates dropped

    # batch 2: conversations B + 30 replayed batch-1 turns; crash in the
    # commit window of every not-yet-committed batch of this run
    b.unionByName(a.limit(30)).coalesce(1).write.mode("append").parquet(src)

    def boom(bid, n):
        raise RuntimeError("injected crash before checkpoint commit")

    q = run_composed_stream(
        spark, src, sink, ckpt, "snapC", watermark="3650 days",
        post_batch_hook=boom,
    )
    with _pytest.raises(Exception):
        q.awaitTermination(300)

    # resume from the same checkpoint: the crashed batch replays fully
    counts3 = []
    q = run_composed_stream(
        spark, src, sink, ckpt, "snapC", watermark="3650 days",
        post_batch_hook=lambda bid, n: counts3.append(n),
    )
    q.awaitTermination(300)
    assert sum(counts3) == b.count()  # replays of batch-1 turns dropped

    got = _triples(sink.read("edges"))
    one_shot = run_pipeline(spark, t, sink=None, snapshot_version="snap1")
    assert got == _triples(one_shot.edges)

    refers = sink.read("edges").filter(F.col("pred") == "refers-to")
    want_cc = {
        (bytes(r.id), bytes(r.comp))
        for r in connected_components(
            refers.select("subj", "obj"), src="subj", dst="obj"
        ).collect()
    }
    got_cc = {
        (bytes(r.id), bytes(r.comp))
        for r in sink.read("components").select("id", "comp").collect()
    }
    assert got_cc == want_cc and len(got_cc) > 0


def test_stateful_session_far_straggler_closes_separately(spark):
    """An event MORE than a gap before the open session's start must not
    merge into it (batch would treat them as two sessions — review catch):
    it closes immediately as a singleton; the open session's bounds stay
    untouched and close normally later."""
    import os

    from glasseenterprise_mcp_spark.streaming.stateful_sessions import (
        run_session_stream,
    )

    t0 = 1_700_000_000
    src, out, ckpt = (tempfile.mkdtemp() for _ in range(3))
    schema = "user_id string, ts_s long"
    spark.createDataFrame(
        [("erin", t0 + 10_000), ("erin", t0 + 10_100)], schema
    ).write.mode("append").parquet(src)
    q = run_session_stream(spark, src, out, ckpt)
    q.awaitTermination(300)
    # straggler 10000s (>gap=1800) BEFORE start + a closer that ends the
    # open session
    spark.createDataFrame(
        [("erin", t0), ("erin", t0 + 60_000)], schema
    ).write.mode("append").parquet(src)
    q = run_session_stream(spark, src, out, ckpt)
    q.awaitTermination(300)

    assert os.path.exists(out)
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        ("erin", t0, t0, 1),                       # straggler: singleton
        ("erin", t0 + 10_000, t0 + 10_100, 2),     # untouched open session
    }


def test_incremental_hll_equals_one_shot(spark):
    """Streaming sketch maintenance: HLL registers folded per micro-batch
    (two batches through the real readStream→foreachBatch path, shared
    checkpoint) are BIT-IDENTICAL to the one-shot batch sketch over the
    full stream — the MAX-merge exactness invariant; a replayed batch
    (crash simulation: re-run update on batch 1 after batch 2) changes
    nothing (MAX idempotence)."""
    from glasseenterprise_mcp_spark.operators.analytics import (
        hll_distinct,
        hll_registers,
    )
    from glasseenterprise_mcp_spark.streaming.sketches import (
        HLL_TABLE,
        incremental_hll_update,
        read_hll_estimates,
        run_hll_stream,
    )

    ev = spark.read.parquet(os.path.join(SF_SMALL, "events.parquet"))
    a = ev.filter(F.col("event_id") % 2 == 0)
    b = ev.filter(F.col("event_id") % 2 == 1)

    src, ckpt, out = tempfile.mkdtemp(), tempfile.mkdtemp(), tempfile.mkdtemp()
    sink = GraphSink(spark, out)
    # batch 1 arrives, stream drains
    a.write.mode("append").parquet(src)
    run_hll_stream(spark, src, sink, ckpt).awaitTermination()
    # batch 2 arrives later; resume from the same checkpoint
    b.write.mode("append").parquet(src)
    run_hll_stream(spark, src, sink, ckpt).awaitTermination()

    from .conftest import freeze

    cols = ["event_type", "idx", "reg"]
    streamed = freeze(sink.read(HLL_TABLE).select(*cols).collect())
    oneshot = freeze(hll_registers(ev).select(*cols).collect())
    assert streamed == oneshot

    # estimates from the maintained sketch == batch operator's estimates
    est_stream = freeze(read_hll_estimates(sink).collect())
    est_batch = freeze(
        hll_distinct(ev).drop("exact_distinct").collect()
    )
    assert est_stream == est_batch

    # crash replay: folding batch 1 again is a no-op
    incremental_hll_update(sink, a)
    assert freeze(sink.read(HLL_TABLE).select(*cols).collect()) == oneshot


def test_incremental_cms_exactly_once(spark):
    """CMS maintenance: SUM-merged cells are associative (two batches ==
    one-shot) but NOT idempotent — the batch-id sentinel riding inside the
    atomically-swapped sketch table must turn a replayed batch into a
    no-op (the exactly-once contract for non-idempotent accumulators; a
    naive refold would double-count)."""
    from glasseenterprise_mcp_spark.operators.analytics import cms_sketch_counts
    from glasseenterprise_mcp_spark.streaming.sketches import (
        incremental_cms_update,
        read_cms_sketch,
    )

    rows = [("hot",)] * 40 + [(f"e{i}",) for i in range(60)]
    m = spark.createDataFrame(rows, "norm string").withColumn(
        "mtype", F.lit("entity")
    )
    # split by row_number so the two batches are a deterministic partition
    import pyspark.sql.functions as _F
    from pyspark.sql import Window as _W

    numbered = m.withColumn(
        "_rn", _F.row_number().over(_W.orderBy(_F.lit(1)))
    )
    a = numbered.filter("_rn <= 50").drop("_rn").localCheckpoint(eager=True)
    b = numbered.filter("_rn > 50").drop("_rn").localCheckpoint(eager=True)

    out = tempfile.mkdtemp()
    sink = GraphSink(spark, out)
    incremental_cms_update(sink, a, batch_id=0)
    incremental_cms_update(sink, b, batch_id=1)

    from .conftest import freeze

    streamed = freeze(
        read_cms_sketch(sink).select("row", "col", "cell_n").collect()
    )
    oneshot = freeze(
        cms_sketch_counts(m.select("norm"))
        .select(F.col("row").cast("int"), "col", "cell_n")
        .collect()
    )
    assert streamed == oneshot

    # replayed batch (same id): sentinel gates it — sketch unchanged
    incremental_cms_update(sink, b, batch_id=1)
    assert (
        freeze(read_cms_sketch(sink).select("row", "col", "cell_n").collect())
        == oneshot
    )

    # but a genuinely NEW batch still folds (sentinel advances)
    incremental_cms_update(sink, a, batch_id=2)
    doubled = freeze(
        read_cms_sketch(sink).select("row", "col", "cell_n").collect()
    )
    assert doubled != oneshot

    # run-id lineage guard: a sketch folded under run "a" refuses a fold
    # from another checkpoint lineage ("b", whose batch ids restart) and
    # keeps every stored cell; a replayed batch id under "a" is a no-op
    lineage = GraphSink(spark, tempfile.mkdtemp())
    incremental_cms_update(lineage, a, batch_id=0, run_id="a")
    stored = freeze(lineage.read("cms_sketch").collect())
    with pytest.raises(ValueError, match="checkpoint lineage"):
        incremental_cms_update(lineage, b, batch_id=1, run_id="b")
    assert freeze(lineage.read("cms_sketch").collect()) == stored
    incremental_cms_update(lineage, b, batch_id=0, run_id="a")
    assert freeze(lineage.read("cms_sketch").collect()) == stored


def test_composed_stream_drops_late(spark):
    """Pins the ingest contract the bench leg relies on: the watermarked
    dedup (bounded state — the 100TB requirement) treats rows older than
    the event-time watermark as LATE and drops them, standard Structured
    Streaming semantics. A feed must therefore arrive approximately
    event-time-ordered (the bench slices source files by ts range); a
    shuffled feed silently loses data — the first r6 side study measured
    833+833+4+1+1+0 of 5000 before the bench split was fixed."""
    import datetime as dt

    from glasseenterprise_mcp_spark.streaming.incremental import (
        run_composed_stream,
    )

    src, ckpt = tempfile.mkdtemp(), tempfile.mkdtemp()
    sink = GraphSink(spark, tempfile.mkdtemp())
    schema = (
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp"
    )
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    new = [
        (f"cN{i}", 0, "user", f"fresh turn {i}", None, t0)
        for i in range(20)
    ]
    old = [
        (f"cO{i}", 0, "user", f"stale turn {i}", None,
         t0 - dt.timedelta(hours=1))
        for i in range(20)
    ]
    # file 1 carries the NEW timestamps; file 2 (processed after — file
    # source orders by mod time) is entirely older than watermark =
    # max(ts) - 10min after batch 1
    spark.createDataFrame(new, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    counts1 = []
    q = run_composed_stream(
        spark, src, sink, ckpt, "snapL", watermark="10 minutes",
        post_batch_hook=lambda bid, n: counts1.append(n),
    )
    q.awaitTermination(300)
    assert sum(counts1) == 20

    spark.createDataFrame(old, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    counts2 = []
    q = run_composed_stream(
        spark, src, sink, ckpt, "snapL", watermark="10 minutes",
        post_batch_hook=lambda bid, n: counts2.append(n),
    )
    q.awaitTermination(300)
    assert sum(counts2) == 0  # an hour-late file is dropped whole


def test_stream_stream_join(spark):
    """Watermarked stream-stream interval join: (1) a two-batch
    availableNow drain over a time-split feed equals the one-shot BATCH
    join run through the SAME plan (inner join emits on match — the
    watermark governs state eviction, not emission); (2) replaying with
    the same checkpoint appends nothing (idempotent resume)."""
    import glob

    from glasseenterprise_mcp_spark.streaming.stream_join import (
        click_purchase_pairs,
        run_stream_join,
    )

    from .conftest import SF_SMALL, freeze

    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    cutoff = ev.selectExpr(
        "CAST(percentile(unix_micros(CAST(ts AS TIMESTAMP)), 0.5) AS LONG) AS c"
    ).collect()[0]["c"]
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))

    src = tempfile.mkdtemp()
    out = tempfile.mkdtemp()
    ckpt = tempfile.mkdtemp()

    # event-time-ordered arrival: first half, then second half
    ev.filter(ts_us <= cutoff).coalesce(1).write.mode("append").parquet(src)
    q = run_stream_join(spark, src, out, ckpt)
    q.awaitTermination(300)
    ev.filter(ts_us > cutoff).coalesce(1).write.mode("append").parquet(src)
    q = run_stream_join(spark, src, out, ckpt)
    q.awaitTermination(300)

    got = freeze(spark.read.parquet(out).collect())

    want = freeze(
        click_purchase_pairs(
            ev.filter(F.col("event_type") == "click"),
            ev.filter(F.col("event_type") == "purchase"),
        ).collect()
    )
    assert got == want
    assert len(spark.read.parquet(out).head(1)) == 1  # non-vacuous

    # replay idempotence: same checkpoint, no new input => no new rows
    n_files = len(glob.glob(os.path.join(out, "*.parquet")))
    q = run_stream_join(spark, src, out, ckpt)
    q.awaitTermination(300)
    assert freeze(spark.read.parquet(out).collect()) == want


def test_one_stream_starter():
    """Every stream starts through ``streaming/start.py``: no other module
    of the package touches ``readStream`` or ``writeStream``, so the file
    source, trigger and checkpoint policy has one owner."""
    import ast
    from pathlib import Path

    import glasseenterprise_mcp_spark as pkg

    root = Path(pkg.__file__).parent
    sites = [
        f"{path.relative_to(root)}:{node.lineno}"
        for path in sorted(root.rglob("*.py"))
        if path != root / "streaming" / "start.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Attribute)
        and node.attr in ("readStream", "writeStream")
    ]
    assert sites == []
