"""Golden end-to-end: triple P/R vs the oracle reimplementation of the
reference semantics (BASELINE.md correctness target: P/R ≥ 0.95 — exact
match expected at fixture scale), id-stability and structural invariants,
and hypothesis-driven normalization parity."""

from __future__ import annotations

import duckdb
import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from glasseenterprise_mcp_spark import oracle as O
from glasseenterprise_mcp_spark.functions.normalize import (
    norm_name_py,
    norm_name_sql,
    norm_path_py,
    norm_path_sql,
    norm_resource_py,
    norm_resource_sql,
)
from glasseenterprise_mcp_spark.pipeline import run_pipeline
from glasseenterprise_mcp_spark.sources.transcripts import derive_transcripts

from .conftest import SF_MED, duck_con


def _oracle_triples(sf_dir: str) -> set[tuple[str, str, str]]:
    con = duck_con(sf_dir)
    sql = O.oracle(
        """SELECT subj, pred, obj FROM mentions_in
           UNION ALL SELECT subj, pred, obj FROM replies_to
           UNION ALL SELECT subj, pred, obj FROM calls_tool
           UNION ALL SELECT subj, pred, obj FROM refers_to""",
        O.mentions_in_cte(),
        O.replies_to_cte(),
        O.calls_tool_cte(),
        O.refers_to_cte(),
    )
    return set(map(tuple, con.sql(sql).fetchall()))


def test_triple_precision_recall(spark):
    """The headline correctness number: engine triples vs the independent
    relational reimplementation of the same semantics."""
    res = run_pipeline(
        spark, derive_transcripts(spark, SF_MED), snapshot_version="pr"
    )
    # engine ids are binary(16); hex them for comparison with the oracle's
    # md5 hex strings (lower(hex(id)) == md5 hex, see functions/ids.py)
    got = {
        (r.subj, r.pred, r.obj)
        for r in res.edges.select(
            F.lower(F.hex("subj")).alias("subj"),
            "pred",
            F.lower(F.hex("obj")).alias("obj"),
        ).collect()
    }
    res.mentions.unpersist()
    res.edges.unpersist()
    want = _oracle_triples(SF_MED)
    tp = len(got & want)
    precision = tp / len(got)
    recall = tp / len(want)
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)
    assert precision == 1.0 and recall == 1.0  # exact at fixture scale


def test_id_stability_across_runs(spark):
    """E16 determinism contract: two independent runs emit identical ids."""
    t = derive_transcripts(spark, SF_MED)
    r1 = run_pipeline(spark, t, snapshot_version="s")
    from .conftest import freeze

    e1 = freeze(r1.edges.select("subj", "pred", "obj").collect())
    r1.mentions.unpersist(); r1.edges.unpersist()
    r2 = run_pipeline(
        spark, derive_transcripts(spark, SF_MED).repartition(13),
        snapshot_version="s",
    )
    e2 = freeze(r2.edges.select("subj", "pred", "obj").collect())
    r2.mentions.unpersist(); r2.edges.unpersist()
    assert e1 == e2


def test_no_cross_conversation_mentions_in(spark):
    """Invariant: a mentions-in edge's turn obj belongs to the conversation
    the mention came from (SURVEY §5.4)."""
    from glasseenterprise_mcp_spark.operators.extract import extract_mentions
    from glasseenterprise_mcp_spark.operators.link import mentions_in_edges, turn_id_col

    t = derive_transcripts(spark, SF_MED)
    m = extract_mentions(t).cache()
    edges = mentions_in_edges(m)
    valid_turn_ids = t.select(
        turn_id_col(F.col("conv_id"), F.col("turn_idx")).alias("obj")
    ).distinct()
    orphans = edges.join(valid_turn_ids, "obj", "left_anti").count()
    m.unpersist()
    assert orphans == 0


def test_edge_uniqueness(spark):
    res = run_pipeline(
        spark, derive_transcripts(spark, SF_MED), snapshot_version="u"
    )
    total = res.edges.count()
    distinct = res.edges.select("subj", "pred", "obj").distinct().count()
    res.mentions.unpersist(); res.edges.unpersist()
    assert total == distinct


# --------------------------------------------------------------------------
# hypothesis: python vs duckdb normalization parity on arbitrary-ish input
# --------------------------------------------------------------------------
pathish = st.text(
    alphabet="abcXYZ019_-/.?#:% ", min_size=0, max_size=40
).map(lambda s: s.replace("''", ""))


@settings(max_examples=60, deadline=None)
@given(pathish)
def test_norm_parity_fuzz(s: str):
    con = duckdb.connect()
    lit = "'" + s.replace("'", "''") + "'"
    got = con.sql(
        f"SELECT {norm_path_sql(lit)}, {norm_resource_sql(lit)}, {norm_name_sql(lit)}"
    ).fetchone()
    assert got[0] == norm_path_py(s)
    assert got[1] == norm_resource_py(s)
    assert got[2] == norm_name_py(s)


# --------------------------------------------------------------------------
# hypothesis: extraction KERNEL vs a straightforward re.finditer reference.
# The kernel's vectorized candidate masks, surface→norm memoization, id
# memoization and per-kind caps are all optimizations — this property pins
# them to the naive per-row implementation they must never diverge from.
# --------------------------------------------------------------------------
_MARKERS = st.sampled_from(
    [
        " @agent_1",
        " @Hot_Entity",
        " call:tool_3(x)",
        " env:CFG_2",
        ' error:"E7 failed"',
        " re:#4",
        " http://svc-1.example.com/api/v1/r9?q=1",
        " POST http://e.example.com/api/r3",
        " GET /api/it0/{id}/x",
        " tbl:orders.c1",
        " secure:/api/r1*",
        " derive:agent2<agent_1,hot_entity",
        " http://${HOST}/api/cfg/3",
        " plain filler words",
        " @@",
        " env:x",  # near-miss: lowercase key must NOT match
        " call:9(",  # near-miss: digit-leading name must NOT match
    ]
)


def _kernel_rows(texts: list[str]):
    from glasseenterprise_mcp_spark.operators.extract import (
        _extract_rows,
        _ExtractState,
    )
    from glasseenterprise_mcp_spark.schemas import MENTIONS_SCHEMA

    names = [f.name for f in MENTIONS_SCHEMA.fields]
    out = [
        dict(zip(names, r))
        for r in _extract_rows(
            [f"c{i}" for i in range(len(texts))], list(range(len(texts))),
            texts, _ExtractState(),
        )
    ]
    return sorted(
        (
            r["conv_id"], r["turn_idx"], r["mtype"], r["surface"], r["norm"],
            r["ord"], r["path"], r["method"], r["extra"],
        )
        for r in out
    )


def _reference_rows(texts: list[str]):
    import re

    from glasseenterprise_mcp_spark.operators.extract import (
        MAX_MATCHES_PER_KIND,
        MAX_TEXT_CHARS,
        PATTERNS,
        _NORM_PY,
        _PATH_PY,
    )

    rows = []
    for i, text in enumerate(texts):
        text = text[:MAX_TEXT_CHARS]
        for det in PATTERNS:
            for ord_, m in enumerate(re.finditer(det.pattern, text), start=1):
                if ord_ > MAX_MATCHES_PER_KIND:
                    break
                surface = m.group(det.surface_g)
                path_fn = _PATH_PY.get(det.mtype)
                rows.append(
                    (
                        f"c{i}",
                        i,
                        det.mtype,
                        surface,
                        _NORM_PY[det.mtype](surface),
                        ord_,
                        path_fn(surface) if path_fn else None,
                        m.group(det.method_g) if det.method_g else None,
                        m.group(det.extra_g) if det.extra_g else None,
                    )
                )
    return sorted(rows)


_JUNK = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=20
)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.lists(st.one_of(_MARKERS, _JUNK), min_size=0, max_size=6).map("".join),
        min_size=1,
        max_size=6,
    )
)
def test_extraction_kernel_fuzz_matches_naive_reference(texts):
    assert _kernel_rows(texts) == _reference_rows(texts)
