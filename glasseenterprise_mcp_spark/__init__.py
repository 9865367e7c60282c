"""PySpark-native knowledge-graph construction engine over transcript tables.

A from-scratch rebuild (NOT a port) of the capabilities of the reference
KG-construction MCP server (see SURVEY.md): per-turn mention extraction
(vectorized Arrow UDF stage), blocking + similarity-scored entity linking,
iterative connected-components canonicalization, and (subj, pred, obj) triple
materialization into partitioned, snapshot-versioned node/edge tables.

Everything is pyspark.sql DataFrame + SQL; the single non-relational stage
(per-turn typed-span extraction, the analogue of the reference's Tree-sitter
scan, reference: src/scanner/astExtractor.ts:1678-2081) is one vectorized
mapInArrow stage that dedupes texts per Arrow batch, so a Python worker
holds at most one batch.
"""

__version__ = "0.1.0"
