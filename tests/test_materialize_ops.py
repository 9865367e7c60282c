"""Span-containment range join (J2/J8/J11), node attrs dedup-merge (A2) and
the sink's storage contracts."""

from __future__ import annotations

import pyspark.sql.functions as F

from glasseenterprise_mcp_spark.operators.link import span_containment_join
from glasseenterprise_mcp_spark.operators.materialize import build_nodes
from glasseenterprise_mcp_spark.schemas import MENTIONS_SCHEMA


def test_span_containment(spark):
    rows = [
        # error span [10, 40] contains entity [15, 22] and config [30, 38]
        ("c1", 0, "error", "E1 failed badly", "e1 failed badly", 1, 10, 40, None, True, None, None, None, None, None),
        ("c1", 0, "entity", "agent_1", "agent_1", 1, 15, 22, None, True, None, None, None, None, None),
        ("c1", 0, "config", "CFG_X", "CFG_X", 1, 30, 38, None, True, None, None, None, None, None),
        # outside the error span
        ("c1", 0, "entity", "agent_2", "agent_2", 2, 50, 57, None, True, None, None, None, None, None),
        # same spans in a DIFFERENT turn — must not join across turns
        ("c1", 1, "entity", "agent_3", "agent_3", 1, 15, 22, None, True, None, None, None, None, None),
        # equal spans: not containment (strictly larger required)
        ("c2", 0, "url", "http://h/x", "/x", 1, 0, 10, "/x", True, None, None, None, None, None),
        ("c2", 0, "entity", "samespan", "samespan", 1, 0, 10, None, True, None, None, None, None, None),
    ]
    m = spark.createDataFrame(rows, MENTIONS_SCHEMA)
    got = {
        (r.container_mtype, r.container_norm, r.contained_mtype, r.contained_norm)
        for r in span_containment_join(m).collect()
    }
    assert got == {
        ("error", "e1 failed badly", "entity", "agent_1"),
        ("error", "e1 failed badly", "config", "CFG_X"),
    }


def test_build_nodes_merges_derive_counts(spark):
    """A2 in the node build's own aggregation: a derive directive names an
    entity, so the entity's attrs gain ``n_derives`` next to its mention
    stats (derives count as mentions too); an entity no directive names
    carries no ``n_derives`` key, and no node appears twice."""
    t = spark.createDataFrame(
        [("c1", 0, "user", None), ("c1", 1, "assistant", "t1")],
        "conv_id string, turn_idx int, role string, tool string",
    )
    row = ("c1", 0, None, None, None, 1, 0, 1, None, True, None, None, None, None, None)

    def mention(mtype, surface, norm, turn=0):
        return (row[0], turn, mtype, surface, norm) + row[5:]

    m = spark.createDataFrame(
        [
            mention("entity", "@agent", "agent"),
            mention("entity", "@Agent", "agent", turn=1),
            mention("derive", "agent", "agent", turn=1),
            mention("entity", "@other", "other"),
        ],
        MENTIONS_SCHEMA,
    )
    rows = build_nodes(t, m, "v").filter(F.col("type") == "entity").collect()
    got = {r.norm: dict(r.attrs) for r in rows}
    assert len(rows) == 2
    assert got == {
        "agent": {"n_derives": "1", "n_mentions": "3", "n_surfaces": "3"},
        "other": {"n_mentions": "1", "n_surfaces": "1"},
    }


def test_sink_upsert_matches_merge_semantics(spark, tmp_path):
    """S10: the parquet-MoR fallback upsert must implement exactly Iceberg's
    ``MERGE ... WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT``
    semantics. The sandbox has no Iceberg jars, so the MERGE side is
    simulated in DuckDB (PRIMARY KEY + INSERT ... ON CONFLICT DO UPDATE —
    the same upsert contract) and both paths are asserted equal after two
    overlapping batches."""
    import duckdb

    from glasseenterprise_mcp_spark.operators.materialize import GraphSink

    b1 = [("a", "t1", "v1"), ("b", "t1", "v2"), ("d", "t2", "v9")]
    b2 = [("b", "t1", "v2-updated"), ("c", "t2", "v3")]
    schema = "id string, type string, val string"

    sink = GraphSink(spark, str(tmp_path))
    sink.upsert(spark.createDataFrame(b1, schema), "nodes", keys=["id"], partition_by=["type"])
    sink.upsert(spark.createDataFrame(b2, schema), "nodes", keys=["id"], partition_by=["type"])
    got = {(r.id, r.type, r.val) for r in spark.read.parquet(str(tmp_path / "nodes")).collect()}

    con = duckdb.connect()
    con.sql("CREATE TABLE nodes (id VARCHAR PRIMARY KEY, type VARCHAR, val VARCHAR)")
    for batch in (b1, b2):
        con.executemany(
            "INSERT INTO nodes VALUES (?, ?, ?) "
            "ON CONFLICT (id) DO UPDATE SET type = excluded.type, val = excluded.val",
            batch,
        )
    want = set(con.sql("SELECT id, type, val FROM nodes").fetchall())
    assert got == want


def test_sink_upsert_composite_key_merge_parity(spark, tmp_path):
    """S10, composite (subj, pred, obj) key — the edge-table contract."""
    import duckdb

    from glasseenterprise_mcp_spark.operators.materialize import GraphSink

    b1 = [("s1", "p", "o1", "x"), ("s1", "p", "o2", "y")]
    b2 = [("s1", "p", "o2", "y-updated"), ("s2", "q", "o1", "z")]
    schema = "subj string, pred string, obj string, v string"

    sink = GraphSink(spark, str(tmp_path))
    for b in (b1, b2):
        sink.upsert(
            spark.createDataFrame(b, schema), "edges",
            keys=["subj", "pred", "obj"], partition_by=["pred"],
        )
    stored = spark.read.parquet(str(tmp_path / "edges"))
    got = {tuple(r) for r in stored.select("subj", "pred", "obj", "v").collect()}

    con = duckdb.connect()
    con.sql(
        "CREATE TABLE edges (subj VARCHAR, pred VARCHAR, obj VARCHAR, v VARCHAR,"
        " PRIMARY KEY (subj, pred, obj))"
    )
    for batch in (b1, b2):
        con.executemany(
            "INSERT INTO edges VALUES (?, ?, ?, ?) "
            "ON CONFLICT (subj, pred, obj) DO UPDATE SET v = excluded.v",
            batch,
        )
    want = set(con.sql("SELECT subj, pred, obj, v FROM edges").fetchall())
    assert got == want


def test_versioned_readback_invariants(spark):
    """S8/S9 end-to-end gate invariants at sf0.001, beyond the oracle hash:
    every id appears EXACTLY once per table (MERGE, not append); updated
    ids carry v2 with the new value; untouched ids keep their v1 row; new
    ids exist only under v2; both versions are present in one read."""
    from collections import Counter

    from glasseenterprise_mcp_spark.operators.materialize import (
        versioned_upsert_readback,
    )
    from glasseenterprise_mcp_spark.sources.transcripts import derive_transcripts

    t = derive_transcripts(spark, "/root/testdata/sf0.001")
    rows = versioned_upsert_readback(t).collect()
    for tbl in ("nodes", "edges"):
        sub = [r for r in rows if r.tbl == tbl]
        keys = Counter((r.k1, r.k2) for r in sub)
        assert keys and max(keys.values()) == 1, f"{tbl}: duplicate keys"
        stamps = {r.snapshot_version for r in sub}
        assert stamps == {"v1", "v2"}, f"{tbl}: {stamps}"
    # new-id families appear only under v2
    new_nodes = [
        r for r in rows
        if r.tbl == "edges" and r.k2.startswith("has-user-stat|")
    ]
    assert new_nodes and all(r.snapshot_version == "v2" for r in new_nodes)


def test_iceberg_gate_raises_without_runtime(spark):
    """S10: create_all must fail loudly (not silently no-op) when the
    Iceberg runtime is absent, so a cluster misconfiguration can't corrupt
    the fallback contract."""
    import pytest

    from glasseenterprise_mcp_spark.sources.iceberg_ddl import (
        create_all,
        iceberg_available,
    )

    if iceberg_available(spark):
        create_all(spark)  # real catalog present: must succeed instead
    else:
        with pytest.raises(RuntimeError, match="Iceberg runtime"):
            create_all(spark)


def test_iceberg_merge_views_are_per_call():
    """Concurrent Iceberg upserts (the streaming fold's thread pool) must
    not share a temp view: each call registers its own view, MERGEs from
    it and drops it. Both threads register before either MERGE runs — the
    interleaving in which a shared view name merged the wrong rows."""
    import threading

    from glasseenterprise_mcp_spark.operators.materialize import GraphSink

    both_registered = threading.Barrier(2)
    lock = threading.Lock()
    created, merged, dropped = {}, [], []

    class Frame:
        def __init__(self, table):
            self.table = table

        def createOrReplaceTempView(self, name):
            with lock:
                created[self.table] = name

    class Catalog:
        def dropTempView(self, name):
            with lock:
                dropped.append(name)

    class Spark:
        catalog = Catalog()

        def sql(self, text):  # recording stub in place of spark.sql
            both_registered.wait(timeout=30)
            with lock:
                merged.append(text)

    sink = GraphSink(Spark(), "/nonexistent", use_iceberg=True)
    threads = [
        threading.Thread(target=sink.upsert, args=(Frame(t), t, ["id"], ["type"]))
        for t in ("nodes", "edges")
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert len(set(created.values())) == 2, created
    assert sorted(dropped) == sorted(created.values())
    for table, view in created.items():
        assert [m for m in merged if f"USING {view} " in m] == [
            m for m in merged if m.startswith(f"MERGE INTO kg.{table} ")
        ], (table, merged)
    assert len(merged) == 2


def test_iceberg_sink_reads_and_overwrites_catalog_tables(spark):
    """With a catalog, reads and overwrites go to ``kg.<table>``, never to
    the parquet path: the cross-batch registry and the stored components
    are read through the same sink the writes MERGE into."""
    from glasseenterprise_mcp_spark.operators.materialize import GraphSink

    calls = []

    class Spark:
        def table(self, name):  # recording stub in place of spark.table
            calls.append(("table", name))
            return name

    class Frame:
        def writeTo(self, name):
            calls.append(("writeTo", name))
            return self

        def overwrite(self, condition):
            calls.append(("overwrite", str(condition)))

    sink = GraphSink(Spark(), "/nonexistent", use_iceberg=True)
    assert sink.read("link_registry") == "kg.link_registry"
    sink.overwrite(Frame(), "components")
    assert calls == [
        ("table", "kg.link_registry"),
        ("writeTo", "kg.components"),
        ("overwrite", "Column<'true'>"),
    ]


def test_iceberg_sink_clear_deletes_catalog_rows():
    """With a catalog, a full reset's ``clear`` deletes the rows of each
    stored ``kg.<table>`` and skips a table the catalog does not have; it
    never touches the parquet path."""
    from glasseenterprise_mcp_spark.operators.materialize import GraphSink

    calls = []

    class Catalog:
        def tableExists(self, name):  # recording stub of the catalog
            calls.append(("exists", name))
            return name != "kg.metrics"

    class Spark:
        catalog = Catalog()

        def sql(self, query):
            calls.append(("sql", query))

    sink = GraphSink(Spark(), "/nonexistent", use_iceberg=True)
    sink.clear("edges")
    sink.clear("metrics")
    assert calls == [
        ("exists", "kg.edges"),
        ("sql", "DELETE FROM kg.edges"),
        ("exists", "kg.metrics"),
    ]


def test_iceberg_ddl_matches_stored_schema(spark, tmp_path):
    """Every table the sink stores has a ``TABLES`` entry, and Iceberg DDL,
    whose column names and types equal the schema of the files actually
    written: a scan's graph tables and the HLL and CMS folds' sketch
    tables. The files are read with an inferring read (partition values
    as written: type inference of partition values is switched off), never
    through ``GraphSink.read``, which declares the catalog schema."""
    from pyspark.sql.types import StringType, _parse_datatype_string

    from glasseenterprise_mcp_spark.operators.extract import extract_mentions
    from glasseenterprise_mcp_spark.operators.materialize import (
        GRAPH_TABLES,
        TABLES,
        GraphSink,
    )
    from glasseenterprise_mcp_spark.pipeline import run_pipeline
    from glasseenterprise_mcp_spark.sources.iceberg_ddl import DDL
    from glasseenterprise_mcp_spark.sources.transcripts import derive_transcripts
    from glasseenterprise_mcp_spark.streaming.sketches import (
        CMS_TABLE,
        HLL_TABLE,
        incremental_cms_update,
        incremental_hll_update,
    )

    from .conftest import SF_SMALL

    sink = GraphSink(spark, str(tmp_path))
    t = derive_transcripts(spark, SF_SMALL)
    run_pipeline(spark, t, sink=sink, snapshot_version="d")
    incremental_hll_update(sink, spark.read.parquet(f"{SF_SMALL}/events.parquet"))
    incremental_cms_update(sink, extract_mentions(t), batch_id=0)
    stored = sorted(p.name for p in tmp_path.iterdir())
    assert stored == sorted(TABLES) == sorted((*GRAPH_TABLES, HLL_TABLE, CMS_TABLE))
    conf = "spark.sql.sources.partitionColumnTypeInference.enabled"
    spark.conf.set(conf, "false")
    try:
        for table, spec in TABLES.items():
            written = spark.read.parquet(str(tmp_path / table))
            declared = _parse_datatype_string(spec.columns)
            got = {f.name: f.dataType for f in written.schema.fields}
            want = {f.name: f.dataType for f in declared.fields}
            # the files hold no type for the partition column, only its
            # values: each must read back unchanged through the declared type
            part = F.col(spec.partition)
            assert got.pop(spec.partition) == StringType(), table
            assert written.filter(
                part.cast(want.pop(spec.partition)).cast("string") != part
            ).isEmpty(), table
            assert got == want, table
            assert f"kg.{table} (" in DDL[table]
    finally:
        spark.conf.unset(conf)


def test_sink_read_runs_no_spark_job(spark, tmp_path):
    """Opening a stored table declares its catalog schema, so it runs no
    Spark job (an inferring parquet read runs one to read file footers)."""
    from glasseenterprise_mcp_spark.operators.materialize import TABLES, GraphSink

    sink = GraphSink(spark, str(tmp_path))
    edges = spark.createDataFrame(
        [(b"s", "mentions-in", b"o", {"k": "v"}, "v1")], TABLES["edges"].columns
    )
    sink.commit({"edges": edges})
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "sink-read")
    try:
        stored = sink.read("edges")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("sink-read") == []
    assert [tuple(r) for r in stored.select("pred", "snapshot_version").collect()] == [
        ("mentions-in", "v1")
    ]


def _jobs(spark, fn):
    """(Spark jobs ``fn()`` ran, its result), counted by job group."""
    import uuid

    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _edge_rows(spark, version):
    from glasseenterprise_mcp_spark.operators.materialize import TABLES

    return spark.createDataFrame(
        [(b"s", "mentions-in", b"o", {"k": "v"}, version)], TABLES["edges"].columns
    )


def test_sink_reread_pins_a_small_table(spark, tmp_path):
    """A table within the broadcast threshold is pinned on its second read
    (one checkpoint job) and served from the pin afterwards (no job)."""
    from glasseenterprise_mcp_spark.operators.materialize import GraphSink

    sink = GraphSink(spark, str(tmp_path))
    sink.commit({"edges": _edge_rows(spark, "v1")})
    jobs = [_jobs(spark, lambda: sink.read("edges"))[0] for _ in range(3)]
    assert jobs == [0, 1, 0]
    assert [r.snapshot_version for r in sink.read("edges").collect()] == ["v1"]


def test_pinned_frame_outlives_a_commit(spark, tmp_path):
    """After a commit the next read returns the new rows, while a frame
    pinned before the commit keeps answering the rows it was read at."""
    from glasseenterprise_mcp_spark.operators.materialize import GraphSink

    sink = GraphSink(spark, str(tmp_path))
    sink.commit({"edges": _edge_rows(spark, "v1")})
    sink.read("edges")
    before = sink.read("edges")
    sink.commit({"edges": _edge_rows(spark, "v2")})
    assert [r.snapshot_version for r in sink.read("edges").collect()] == ["v2"]
    assert [r.snapshot_version for r in before.collect()] == ["v1"]


def test_commit_racing_the_pin_serves_the_new_version(spark, tmp_path, monkeypatch):
    """A commit that swaps the table while its second read is pinning it
    (the checkpoint's scan finds its files gone) is not an error: the read
    serves the committed version instead."""
    from glasseenterprise_mcp_spark.operators.materialize import GraphSink

    sink = GraphSink(spark, str(tmp_path))
    sink.commit({"edges": _edge_rows(spark, "v1")})
    DataFrame = type(sink.read("edges"))  # the classic DataFrame class
    checkpoint = DataFrame.localCheckpoint

    def racing(df, eager=True):
        monkeypatch.setattr(DataFrame, "localCheckpoint", checkpoint)
        sink.commit({"edges": _edge_rows(spark, "v2")})
        return checkpoint(df, eager)

    monkeypatch.setattr(DataFrame, "localCheckpoint", racing)
    assert [r.snapshot_version for r in sink.read("edges").collect()] == ["v2"]


def test_reread_above_broadcast_threshold_is_not_pinned(spark, tmp_path):
    """A table larger than the broadcast threshold (here: any, at -1) is
    never checkpointed: every re-read reuses the opened frame, no job."""
    from glasseenterprise_mcp_spark.operators.materialize import GraphSink

    sink = GraphSink(spark, str(tmp_path))
    sink.commit({"edges": _edge_rows(spark, "v1")})
    conf = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "-1")
    try:
        jobs = [_jobs(spark, lambda: sink.read("edges"))[0] for _ in range(3)]
    finally:
        spark.conf.set(conf, old)
    assert jobs == [0, 0, 0]
    assert [r.snapshot_version for r in sink.read("edges").collect()] == ["v1"]


def test_read_after_clear_raises(spark, tmp_path):
    """``clear`` drops a pinned table too: the next read raises as a read
    of a table never written does."""
    import pytest
    from pyspark.errors import AnalysisException

    from glasseenterprise_mcp_spark.operators.materialize import GraphSink

    sink = GraphSink(spark, str(tmp_path))
    sink.commit({"edges": _edge_rows(spark, "v1")})
    sink.read("edges")
    sink.read("edges")
    sink.clear("edges")
    with pytest.raises(AnalysisException):
        sink.read("edges")


def test_components_bucket_reads_as_written(spark, tmp_path):
    """``components.bucket`` is written as a STRING hex digit and reads back
    as one even when every stored bucket is a decimal digit (partition
    inference would read those as INT)."""
    from pyspark.sql.types import StringType

    from glasseenterprise_mcp_spark.operators.materialize import GraphSink
    from glasseenterprise_mcp_spark.pipeline import component_rows

    sink = GraphSink(spark, str(tmp_path))
    labels = spark.createDataFrame(
        [(b"\x10", b"\x10"), (b"\x25", b"\x10"), (b"\x31", b"\x31")],
        "id binary, comp binary",
    )
    sink.commit({"components": component_rows(labels)})
    stored = sink.read("components")
    assert stored.schema["bucket"].dataType == StringType()
    assert sorted(r.bucket for r in stored.collect()) == ["1", "1", "3"]


def test_ppm_codec_roundtrip():
    """mm5 codec: encode(formula) → real P6 parse → pixels == formula, for
    assorted dims; malformed blobs fail loudly."""
    import numpy as np
    import pytest

    from glasseenterprise_mcp_spark.operators.multimodal import (
        _decode_ppm,
        _ppm_dims,
    )

    for d in (0, 1, 7, 13, 100, 499):
        w, h = _ppm_dims(d)
        y, x, c = np.ogrid[0:h, 0:w, 0:3]
        px = ((37 * d + 11 * y + 7 * x + 13 * c) % 256).astype(np.uint8)
        blob = f"P6\n{w} {h}\n255\n".encode() + px.tobytes()
        got = _decode_ppm(blob)
        assert got.shape == (h, w, 3)
        assert (got == px).all()

    with pytest.raises(ValueError, match="P6"):
        _decode_ppm(b"P5\n2 2\n255\n" + b"\x00" * 4)
    with pytest.raises(ValueError, match="maxval"):
        _decode_ppm(b"P6\n1 1\n65535\n" + b"\x00" * 3)


def test_wav_codec_roundtrip():
    """mm7 codec: encode(formula) → real RIFF/WAVE parse → samples ==
    formula, for assorted rates/lengths; malformed blobs fail loudly."""
    import struct

    import numpy as np
    import pytest

    from glasseenterprise_mcp_spark.operators.multimodal import (
        _decode_wav,
        _wav_params,
    )

    for d in (0, 1, 2, 13, 100, 499):
        sr, n = _wav_params(d)
        data = (((31 * d + 7 * np.arange(n, dtype=np.int64)) % 2003) - 1001).astype("<i2")
        body = data.tobytes()
        blob = struct.pack(
            "<4sI4s4sIHHIIHH4sI",
            b"RIFF", 36 + len(body), b"WAVE",
            b"fmt ", 16, 1, 1, sr, sr * 2, 2, 16,
            b"data", len(body),
        ) + body
        got_sr, got = _decode_wav(blob)
        assert got_sr == sr and len(got) == n
        assert (got == data).all()

    with pytest.raises(ValueError, match="RIFF"):
        _decode_wav(b"OggS" + b"\x00" * 60)
    # stereo rejected
    blob = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 40, b"WAVE", b"fmt ", 16, 1, 2, 8000, 32000, 4, 16,
        b"data", 4,
    ) + b"\x00" * 4
    with pytest.raises(ValueError, match="PCM16 mono"):
        _decode_wav(blob)


def test_y4m_codec_roundtrip():
    """mm8 codec: encode(formula) → real YUV4MPEG2 parse → planes ==
    formula, frame count right; malformed blobs fail loudly."""
    import numpy as np
    import pytest

    from glasseenterprise_mcp_spark.operators.multimodal import (
        _decode_y4m,
        _y4m_dims,
    )

    for d in (0, 1, 5, 23, 100, 499):
        w, h, n = _y4m_dims(d)
        f, p, y, x = np.ogrid[0:n, 0:3, 0:h, 0:w]
        px = ((29 * d + 17 * f + 13 * p + 11 * y + 7 * x) % 256).astype(np.uint8)
        parts = [f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C444\n".encode()]
        for fi in range(n):
            parts.append(b"FRAME\n" + px[fi].tobytes())
        got = _decode_y4m(b"".join(parts))
        assert got.shape == (n, 3, h, w)
        assert (got == px).all()

    with pytest.raises(ValueError, match="YUV4MPEG2"):
        _decode_y4m(b"RIFF" + b"\x00" * 60)
    with pytest.raises(ValueError, match="C444"):
        _decode_y4m(b"YUV4MPEG2 W4 H4 F25:1 C420\nFRAME\n" + b"\x00" * 24)
    with pytest.raises(ValueError, match="FRAME"):
        _decode_y4m(b"YUV4MPEG2 W2 H2 C444\nXRAME\n" + b"\x00" * 12)


def test_png_codec_roundtrip_and_malformed():
    """mm9 codec: stdlib PNG encode (filters cycling 0-4, real CRCs) →
    chunk-walk + inflate + unfilter decode → pixels == closed-form formula;
    malformed blobs (signature, truncation, CRC flip, bad filter) fail
    loudly instead of decoding garbage."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from glasseenterprise_mcp_spark.operators.multimodal import (
        _decode_png,
        _encode_png,
        _png_dims,
    )

    hs = []
    for d in (0, 1, 7, 13, 100, 499):
        buf = _encode_png(d)
        w, h = _png_dims(d)
        hs.append(h)
        y, x, c = np.ogrid[0:h, 0:w, 0:3]
        want = ((41 * d + 13 * y + 5 * x + 17 * c) % 256).astype(np.uint8)
        got = _decode_png(buf)
        assert got.shape == (h, w, 3)
        assert (got == want).all()
    assert max(hs) >= 5  # at least one image tall enough to hit all 5 filters

    buf = _encode_png(5)
    with pytest.raises(ValueError, match="not a PNG"):
        _decode_png(b"XXXX" + buf[4:])
    with pytest.raises(ValueError, match="truncated"):
        _decode_png(buf[:30])
    with pytest.raises(ValueError, match="CRC"):
        _decode_png(buf[:20] + bytes([buf[20] ^ 1]) + buf[21:])
    # bad filter type: rebuild the IDAT with filter byte 9 on row 0
    w, h = _png_dims(5)
    (idat_len,) = struct.unpack(">I", buf[8 + 25 : 8 + 25 + 4])
    raw = bytearray(zlib.decompress(buf[8 + 25 + 8 : 8 + 25 + 8 + idat_len]))
    raw[0] = 9
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    bad = (
        buf[:8] + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="filter"):
        _decode_png(bad)


def test_png_codec_property_fuzz():
    """Property: ANY (h, w, 3) uint8 image round-trips through the PNG
    encoder/decoder bit-exactly (hypothesis-driven dims + content — covers
    filter edge cases the fixture formula can't, e.g. saturated rows,
    1-pixel-wide images where the left neighbor is always 0)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from glasseenterprise_mcp_spark.operators.multimodal import (
        _decode_png,
        _encode_png_array,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=12),
        h=st.integers(min_value=1, max_value=12),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def _roundtrip(w, h, seed):
        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        got = _decode_png(_encode_png_array(px))
        assert got.shape == (h, w, 3)
        assert (got == px).all()

    _roundtrip()


def test_jpeg_codec_roundtrip_and_malformed():
    """mm10 codec: REAL baseline JPEG (grayscale, Annex K tables) — encode
    the closed-form smooth image, decode through the full
    marker/Huffman/dequant/IDCT path, land within the quantization budget
    (observed max err 5 vs tol 12 on fixtures); rough noise images still
    round-trip structurally; malformed inputs fail loudly."""
    import numpy as np
    import pytest

    from glasseenterprise_mcp_spark.operators.multimodal import (
        JPEG_TOL,
        _decode_jpeg_gray,
        _encode_jpeg_gray,
        _jpeg_dims,
        _jpeg_pixels,
    )

    for d in (0, 1, 7, 13, 100, 499):
        px = _jpeg_pixels(d)
        w, h = _jpeg_dims(d)
        dec = _decode_jpeg_gray(_encode_jpeg_gray(px))
        assert px.shape == (h, w) and dec.shape == (h, w)
        err = int(np.abs(dec.astype(int) - px.astype(int)).max())
        assert err <= JPEG_TOL, (d, err)

    # high-frequency content: lossy but structurally sound (shape + the
    # error bounded by a loose DC+AC budget, not the smooth-image budget)
    rng = np.random.default_rng(0)
    noisy = rng.integers(0, 256, size=(24, 33), dtype=np.uint8)
    dec = _decode_jpeg_gray(_encode_jpeg_gray(noisy))
    assert dec.shape == noisy.shape
    assert int(np.abs(dec.astype(int) - noisy.astype(int)).max()) < 160

    buf = _encode_jpeg_gray(_jpeg_pixels(3))
    with pytest.raises(ValueError, match="SOI"):
        _decode_jpeg_gray(b"XX" + buf[2:])
    with pytest.raises(ValueError, match="truncated"):
        _decode_jpeg_gray(buf[:40])
    with pytest.raises(ValueError):
        _decode_jpeg_gray(buf[:-30])
