"""Normative schemas for the pipeline (SURVEY.md §1.4, FIXTURES.md F1-F4).

transcripts is the input contract (BASELINE.json input_hint); mentions is the
stage-A output (analogue of the reference's per-file findings,
reference: src/scanner/astExtractor.ts:757-795). The stored graph tables'
columns are declared in ``operators/materialize.TABLES``.
"""

from __future__ import annotations

from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# events side-table (the testdata events.parquet shape) — the file source
# of the HLL sketch, windowed-count and stream-join streams.
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

# the document feed of the streaming exact dedup (dedup_stream.py)
DOCS_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("ts", TimestampType()),
    ]
)

# the per-user event feed of the streaming sessionizer (stateful_sessions.py)
SESSION_EVENTS_SCHEMA = StructType(
    [StructField("user_id", StringType()), StructField("ts_s", LongType())]
)

TRANSCRIPTS_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ]
)

# Stage-A output. ``ord`` is the 1-based occurrence ordinal of the match
# within (turn, mtype) — the cross-engine-stable identity component used in
# place of char offsets for the oracle-checked id (offsets are kept too, but
# only the engine produces them).
MENTIONS_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("mtype", StringType()),
        StructField("surface", StringType()),
        StructField("norm", StringType()),
        StructField("ord", IntegerType()),
        StructField("span_start", IntegerType()),
        StructField("span_end", IntegerType()),
        StructField("path", StringType()),  # pre-api-strip path for url/endpoint
        # True for the first occurrence of this mention's NODE KEY within the
        # turn (key = kind + path for urls, kind + norm otherwise). Lets
        # mentions-in skip its global dedup shuffle: (node, turn) pairs are
        # unique by construction when filtered on this flag.
        StructField("first_in_turn", BooleanType()),
        # HTTP verb for url (optional, NULL ⇒ defaulted to GET at link time)
        # and endpoint mentions (N6 method gating, relationshipBuilder.ts:595-602)
        StructField("method", StringType()),
        # auxiliary payload: derive-directive sources csv (J9/J10 lineage)
        StructField("extra", StringType()),
        # pre-minted ids (E16): node kind, md5('<kind>|<key>') and
        # md5('turn|<conv>|<idx>') — minted IN the kernel (memoized per
        # distinct key) so downstream edge families are pure column selects
        # instead of re-hashing the corpus per family. BINARY(16) raw
        # digests (see functions/ids.py) — half the bytes of hex in every
        # downstream shuffle/cache/file; hex is order-preserving so all
        # min/ordering semantics are unchanged.
        StructField("kind", StringType()),
        StructField("node_id", BinaryType()),
        StructField("turn_id", BinaryType()),
    ]
)

PREDICATES = ("mentions-in", "calls-tool", "replies-to", "refers-to")
