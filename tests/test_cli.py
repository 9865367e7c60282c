"""User-surface (CLI): drive jobs/kg_tool.py as a real subprocess the way a
user would — scan a corpus into a graph, query it, run ANN — and assert on
the printed JSON contracts (A10 result-count echo, Q4 formatting, the
beyond-reference ann surface). The other commands' contracts run in-process
through ``kg_tool.run`` on the test session, which returns the same JSON
payload the CLI prints."""

from __future__ import annotations

import json
import subprocess
import sys
import tempfile
from pathlib import Path

from jobs import kg_tool

from .conftest import SF_SMALL

REPO = Path(__file__).resolve().parent.parent
TOOL = REPO / "jobs" / "kg_tool.py"


def _run(*args: str) -> dict:
    out = subprocess.run(
        [sys.executable, str(TOOL), "--master", "local[4]", *args],
        capture_output=True,
        text=True,
        check=True,
        timeout=300,
        cwd=REPO,
    )
    # last stdout line is the JSON contract (Spark banners go to stderr)
    return json.loads(out.stdout.strip().splitlines()[-1])


def _run_in(spark, *args: str) -> dict:
    return kg_tool.run(spark, list(args))


def test_cli_scan_query_ann_roundtrip():
    graph = tempfile.mkdtemp()

    scan = _run(
        "scan", "--input", "synth:/root/testdata/sf0.001", "--graph", graph
    )
    assert scan["nodes"] > 0 and scan["edges"] > 0

    q = _run(
        "query", "--graph", graph,
        "SQL: SELECT pred, count(*) AS n FROM edges GROUP BY pred ORDER BY pred",
    )
    # Q4 formatting + A10 count echo: 4 predicate rows, counts > 0
    assert q["n_rows"] == 4
    preds = {r["pred"] for r in q["rows"]}
    assert preds == {"mentions-in", "calls-tool", "replies-to", "refers-to"}

    ann = _run(
        "ann", "--embeddings", "/root/testdata/sf0.001/embeddings.parquet",
        "--query-where", "vec_id = 50", "--index", "ivf", "--k", "3",
    )
    assert ann["index"] == "ivf" and len(ann["results"]) == 3
    assert [r["rank"] for r in ann["results"]] == [1, 2, 3]


def test_cli_impact_seed_contract(spark):
    """Q2/impact CLI surface: a resolvable seed returns per-type reach; an
    unknown seed returns the DISTINCT seed-not-found error payload
    (reference impactCommand.ts:25-44), never a silently-empty report."""
    graph = tempfile.mkdtemp()
    _run_in(spark, "scan", "--input", f"synth:{SF_SMALL}",
            "--graph", graph)

    ok = _run_in(spark, "impact", "--graph", graph, "--conv", "rt0:c3",
                 "--turn", "2", "--depth", "2")
    assert ok["seed"] == "rt0:c3#2" and len(ok["reached"]) > 0
    assert any(r["type"] == "turn" for r in ok["reached"])

    nf = _run_in(spark, "impact", "--graph", graph, "--conv", "nope", "--turn", "99")
    assert nf == {"seed": "nope#99", "error": "seed-not-found"}


def test_cli_scan_namespace_none_migration_path(spark):
    """Graphs persisted before the always-prefix change minted stable ids
    over UN-prefixed conv ids; `scan --namespace none` keeps raw conv ids
    so a re-scan MERGE-updates that history instead of duplicating every
    node, and is rejected for multi-root scans (un-namespaced co-ingest
    would collide conversation ids across roots)."""
    import pytest

    graph = tempfile.mkdtemp()
    _run_in(spark, "scan", "--input", f"synth:{SF_SMALL}",
            "--graph", graph, "--namespace", "none")
    q = _run_in(
        spark, "query", "--graph", graph,
        "SQL: SELECT count(*) AS n FROM nodes "
        "WHERE type = 'conversation' AND name LIKE 'rt%:%'",
    )
    assert q["rows"][0]["n"] == 0

    with pytest.raises(SystemExit):
        _run_in(spark, "scan",
                "--input", f"synth:{SF_SMALL}",
                "--input", f"synth:{SF_SMALL}",
                "--graph", tempfile.mkdtemp(), "--namespace", "none")


def test_cli_multi_root_scan_forms_cross_root_links(spark):
    """S12 multi-root co-ingest: two roots scanned in ONE job produce a
    single graph whose conversations are namespaced per root, and whose
    refers-to linking joined ACROSS roots (a consumed url in one root can
    match an endpoint provided by the other — the reason the reference
    scans all roots in one pass)."""
    graph = tempfile.mkdtemp()
    scan = _run_in(
        spark, "scan",
        "--input", f"synth:{SF_SMALL}",
        "--input", f"synth:{SF_SMALL}",
        "--graph", graph,
    )
    assert scan["nodes"] > 0 and scan["edges"] > 0

    q = _run_in(
        spark, "query", "--graph", graph,
        "SQL: SELECT count(*) AS n FROM edges WHERE pred = 'refers-to'",
    )
    # identical roots define identical url/resource entities, so the
    # linking dedups to EXACTLY the single-root link set (the stable-id
    # contract: re-ingesting the same content adds no edges) …
    assert q["rows"][0]["n"] == 155

    # … while per-conversation state is namespaced per root: both roots'
    # conversation families exist side by side
    q2 = _run_in(
        spark, "query", "--graph", graph,
        "SQL: SELECT count(*) AS n FROM nodes "
        "WHERE type = 'conversation' AND name LIKE 'rt1:%'",
    )
    q0 = _run_in(
        spark, "query", "--graph", graph,
        "SQL: SELECT count(*) AS n FROM nodes WHERE type = 'conversation'",
    )
    assert q2["rows"][0]["n"] > 0
    assert q0["rows"][0]["n"] == 2 * q2["rows"][0]["n"]


def test_cli_reset_prefix_then_all(spark):
    """``reset --conv-prefix`` leaves no stored row that references a
    dropped node: no edge endpoint, link-registry entry, component member or
    component label. The components stay the labelling of the kept
    refers-to graph. A full ``reset`` then leaves no graph table."""
    import duckdb

    from glasseenterprise_mcp_spark.functions.ids import stable_id_py

    graph = tempfile.mkdtemp()
    _run_in(spark, "scan", "--input", f"synth:{SF_SMALL}", "--graph", graph)
    con = duckdb.connect()

    def sql(text: str) -> list[tuple]:
        for table in ("nodes", "edges", "link_registry", "components"):
            con.sql(
                f"CREATE OR REPLACE VIEW {table} AS SELECT * FROM read_parquet("
                f"'{graph}/{table}/**/*.parquet', hive_partitioning = true)"
            )
        return con.sql(text).fetchall()

    # a conversation that first sighted a linked url or resource, so the
    # reset reaches the registry and the components too
    ((prefix,),) = sql(
        "SELECT min(first_conv) FROM nodes WHERE id IN (SELECT id FROM components)"
    )
    family = f"first_conv = '{prefix}' OR starts_with(first_conv, '{prefix}_r')"
    dropped = {bytes(r[0]) for r in sql(f"SELECT id FROM nodes WHERE {family}")}
    assert dropped

    _run_in(spark, "reset", "--graph", graph, "--conv-prefix", prefix)
    assert sql(f"SELECT count(*) FROM nodes WHERE {family}") == [(0,)]
    ends = {bytes(v) for r in sql("SELECT subj, obj FROM edges") for v in r}
    assert ends and not ends & dropped
    registry = {
        stable_id_py(*(("url", path) if mtype == "url" else ("resource", norm)))
        for mtype, path, norm in sql("SELECT mtype, path, norm FROM link_registry")
    }
    assert registry and not registry & dropped
    comps = sql("SELECT id, comp FROM components")
    assert comps and not {bytes(v) for r in comps for v in r} & dropped
    refers = sql("SELECT subj, obj FROM edges WHERE pred = 'refers-to'")
    assert {bytes(r[0]) for r in comps} == {bytes(v) for r in refers for v in r}

    _run_in(spark, "reset", "--graph", graph)
    assert list(Path(graph).iterdir()) == []
