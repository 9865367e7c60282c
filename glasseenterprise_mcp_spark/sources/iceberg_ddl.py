"""Iceberg table DDL for cluster deployments (S10 analogue — the
reference's unique constraints + secondary indexes, src/neo4j/
connection.ts:17-53, become partition specs, sort orders and bloom filters).

The sandbox has no Iceberg runtime jars, so these statements are not
executed here (GraphSink falls back to partitioned parquet MoR); on a real
cluster, configure a catalog named ``kg`` (e.g. --conf
spark.sql.catalog.kg=org.apache.iceberg.spark.SparkCatalog) and run
``create_all`` once. GraphSink then uses MERGE INTO against these tables.

Recorded blocker (round 4): executing the real MERGE branch in-sandbox was
attempted and is not possible — the pyspark distribution ships no
iceberg-spark-runtime jar (287 jars, none iceberg/delta/hudi) and the
sandbox has no network route to Maven Central (DNS resolution fails), so
neither ``--packages`` nor a vendored jar download can supply one. The
MERGE semantics remain proven against the DuckDB ``INSERT … ON CONFLICT``
twin (tests/test_materialize_ops.py) and the catalog-missing gate is
itself tested (test_iceberg_gate_raises_without_runtime).

Each sink table's columns and partition column come from
``operators/materialize.TABLES``, the catalog ``GraphSink`` reads and
writes by; ``LAYOUT`` adds Iceberg transforms and properties where a table
needs them, and every other table is ``PARTITIONED BY`` its catalog
partition column. Layout rationale (SURVEY.md §4.5):
* transcripts (the source, columns ``schemas.TRANSCRIPTS_SCHEMA``):
  bucket(conv_id) keeps a conversation's turns co-located for the
  window/lag stages; days(ts) gives time-range pruning. (This is the exact
  input_hint partitioning.)
* nodes: partitioned by type (queries are type-scoped), sorted by id so
  MERGE's join locality is good; bloom filter on id for point lookups.
* edges: partitioned by pred (the query layer is predicate-scoped — a
  replies-to traversal never scans mentions-in files), bucketed by subj so
  graph expansions co-partition with their join key.
* link_registry: the distinct url/endpoint registry refers-to links
  against across batches, partitioned by mention type.
* components: id → component label, partitioned by the label's first hex
  digit so a relabel rewrites only the touched components' partitions.
* metrics: small sidecar, partitioned by stage.
* hll_registers / cms_sketch: the streaming sketches
  (``streaming/sketches.py``), partitioned by event type / sketch row.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..operators.materialize import TABLES
from ..schemas import TRANSCRIPTS_SCHEMA

LAYOUT: dict[str, str] = {
    "transcripts": """
        PARTITIONED BY (bucket(256, conv_id), days(ts))
        TBLPROPERTIES (
            'write.distribution-mode' = 'hash',
            'write.parquet.bloom-filter-enabled.column.conv_id' = 'true')""",
    "nodes": """
        PARTITIONED BY (type)
        TBLPROPERTIES (
            'write.parquet.bloom-filter-enabled.column.id' = 'true',
            'sort-order' = 'id ASC')""",
    "edges": """
        PARTITIONED BY (pred, bucket(128, subj))
        TBLPROPERTIES (
            'write.parquet.bloom-filter-enabled.column.subj' = 'true',
            'write.parquet.bloom-filter-enabled.column.obj' = 'true')""",
}


def _ddl(table: str, columns: str) -> str:
    layout = LAYOUT.get(table) or f"PARTITIONED BY ({TABLES[table].partition})"
    return f"CREATE TABLE IF NOT EXISTS kg.{table} ({columns}) USING iceberg {layout}"


TRANSCRIPTS_COLUMNS = ", ".join(
    f"{f.name} {f.dataType.simpleString().upper()}" for f in TRANSCRIPTS_SCHEMA.fields
)
DDL: dict[str, str] = {
    "transcripts": _ddl("transcripts", TRANSCRIPTS_COLUMNS),
    **{t: _ddl(t, spec.columns) for t, spec in TABLES.items()},
}


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def create_all(spark: SparkSession) -> None:
    if not iceberg_available(spark):
        raise RuntimeError(
            "Iceberg runtime not on the classpath; GraphSink parquet "
            "fallback is active (see module docstring)"
        )
    for ddl in DDL.values():
        spark.sql(ddl)
