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

Layout rationale (SURVEY.md §4.5):
* transcripts: bucket(conv_id) keeps a conversation's turns co-located for
  the window/lag stages; days(ts) gives time-range pruning. (This is the
  exact input_hint partitioning.)
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
"""

from __future__ import annotations

from pyspark.sql import SparkSession

# Column lists are the schemas GraphSink stores (ids are BINARY(16), see
# functions/ids.py); tests/test_materialize_ops.py pins them to a scan's
# stored tables.
COLUMNS: dict[str, str] = {
    "transcripts": "conv_id STRING, turn_idx INT, role STRING, "
    "text STRING, tool STRING, ts TIMESTAMP",
    "nodes": "id BINARY, type STRING, name STRING, norm STRING, key STRING, "
    "first_conv STRING, first_turn INT, attrs MAP<STRING, STRING>, "
    "snapshot_version STRING",
    "edges": "subj BINARY, pred STRING, obj BINARY, props MAP<STRING, STRING>, "
    "snapshot_version STRING",
    "link_registry": "mtype STRING, path STRING, norm STRING, method STRING",
    "components": "id BINARY, comp BINARY, bucket STRING",
    "metrics": "snapshot_version STRING, stage STRING, partition_id INT, "
    "rows BIGINT, metric STRING",
}

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
    "link_registry": "PARTITIONED BY (mtype)",
    "components": "PARTITIONED BY (bucket)",
    "metrics": "PARTITIONED BY (stage)",
}

DDL: dict[str, str] = {
    t: f"CREATE TABLE IF NOT EXISTS kg.{t} ({cols}) USING iceberg {LAYOUT[t]}"
    for t, cols in COLUMNS.items()
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
