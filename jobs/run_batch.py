#!/usr/bin/env python
"""spark-submit entry point for the batch KG-construction pipeline.

Cluster deployment (north rule):
    zip -r pipeline.zip glasseenterprise_mcp_spark
    spark-submit --py-files pipeline.zip \\
        --conf spark.sql.adaptive.enabled=true \\
        --conf spark.sql.adaptive.skewJoin.enabled=true \\
        jobs/run_batch.py --input <transcripts path or table> \\
        --sink <graph dir or iceberg catalog> [--snapshot <stamp>]

Local smoke:
    python jobs/run_batch.py --input synth:/root/testdata/sf0.001 \\
        --sink /tmp/kg_out
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--input",
        required=True,
        help="transcripts parquet path, iceberg table (table:<name>), or "
        "synth:<sf_dir> to synthesize from a testdata documents table",
    )
    ap.add_argument("--sink", required=True, help="graph output directory / catalog")
    ap.add_argument("--snapshot", default=None, help="snapshot stamp (default: now)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from glasseenterprise_mcp_spark.operators.materialize import GraphSink
    from glasseenterprise_mcp_spark.pipeline import run_pipeline
    from glasseenterprise_mcp_spark.session import get_spark
    from glasseenterprise_mcp_spark.sources.transcripts import derive_transcripts

    spark = get_spark(app_name="kg-batch", master=args.master)
    spark.sparkContext.setLogLevel("WARN")

    if args.input.startswith("synth:"):
        transcripts = derive_transcripts(spark, args.input[len("synth:"):])
    elif args.input.startswith("table:"):
        transcripts = spark.read.table(args.input[len("table:"):])
    else:
        transcripts = spark.read.parquet(args.input)

    sink = GraphSink(spark, args.sink)
    t0 = time.time()
    res = run_pipeline(spark, transcripts, sink=sink, snapshot_version=args.snapshot)
    triples = sink.read("edges").count()
    nodes = sink.read("nodes").count()
    wall = time.time() - t0
    print(
        json.dumps(
            {
                "snapshot": res.snapshot_version,
                "triples": triples,
                "nodes": nodes,
                "sec": round(wall, 2),
                "triples_per_sec": round(triples / wall, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
