"""Mid-run resumability: a pipeline killed after stage A resumes from the
stage checkpoint and produces the identical graph, without re-running
extraction (SURVEY §5.4 resume-from-checkpoint == one-shot)."""

from __future__ import annotations

import os
import tempfile

from glasseenterprise_mcp_spark.operators.extract import extract_mentions
from glasseenterprise_mcp_spark.pipeline import run_pipeline
from glasseenterprise_mcp_spark.sources.transcripts import derive_transcripts

from .conftest import SF_SMALL


def _triples(df):
    from .conftest import freeze

    return freeze(df.select("subj", "pred", "obj").collect())


def test_stage_resume_equals_one_shot(spark):
    t = derive_transcripts(spark, SF_SMALL)
    stage_dir = tempfile.mkdtemp()

    # simulate a run that died after stage A: only the A checkpoint exists
    extract_mentions(t).write.mode("overwrite").parquet(
        os.path.join(stage_dir, "A_mentions")
    )

    resumed = run_pipeline(
        spark, t, snapshot_version="r", stage_dir=stage_dir
    )
    got = _triples(resumed.edges)
    timings = {
        r.stage: r.rows
        for r in resumed.metrics[-1].collect()
        if r.metric == "stage_wall_ms"
    }
    resumed.mentions.unpersist(); resumed.edges.unpersist()
    assert timings["A_mentions"] == 0  # resumed, not recomputed
    assert timings["D_edges"] > 0

    one_shot = run_pipeline(spark, t, snapshot_version="r")
    want = _triples(one_shot.edges)
    one_shot.mentions.unpersist(); one_shot.edges.unpersist()
    assert got == want


def test_stage_checkpoints_written(spark):
    t = derive_transcripts(spark, SF_SMALL)
    stage_dir = tempfile.mkdtemp()
    res = run_pipeline(
        spark, t, snapshot_version="w", stage_dir=stage_dir
    )
    res.edges.count()
    res.mentions.unpersist(); res.edges.unpersist()
    assert os.path.exists(os.path.join(stage_dir, "A_mentions", "_SUCCESS"))
    assert os.path.exists(os.path.join(stage_dir, "D_edges", "_SUCCESS"))
