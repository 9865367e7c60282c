"""Self-tests of the benchmark's helpers. Run from the repository root:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402


def test_spread_is_interquartile_share_of_median():
    assert stats.spread([10.0] * 10) == 0.0
    assert stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx(5.5 / 5.5)


@pytest.mark.parametrize("bad", ["", "_x", ".x", "a b", "a/b", "x" * 65, "é"])
def test_bad_metric_names_are_refused(bad):
    with pytest.raises(ValueError):
        stats.check_name(bad)


@pytest.mark.parametrize("bad", ["", "a b", "x" * 17, "s^2"])
def test_bad_units_are_refused(bad):
    with pytest.raises(ValueError):
        stats.check_unit(bad)


def test_benchmark_json_follows_the_format():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for name in names:
        stats.check_name(name)
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
        stats.check_unit(m["unit"])
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        stats.check_unit(m["unit"])
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in spec["end_to_end"])


def test_documents_are_deterministic_per_seed():
    a, b, c = gen.documents_table(7, 300), gen.documents_table(7, 300), gen.documents_table(8, 300)
    assert a.equals(b)
    assert not a.equals(c)
    assert a.column("doc_id").to_pylist() == c.column("doc_id").to_pylist()


def test_transcripts_are_deterministic_per_seed(tmp_path):
    a = gen.transcripts_table(gen.write_documents(7, str(tmp_path / "a")))
    b = gen.transcripts_table(gen.write_documents(7, str(tmp_path / "b")))
    c = gen.transcripts_table(gen.write_documents(8, str(tmp_path / "c")))
    assert a.equals(b)
    assert not a.equals(c)
    # the markers depend on doc_id only: same conversations, turns and tools
    for col in ("conv_id", "turn_idx", "role", "tool", "ts"):
        assert a.column(col).equals(c.column(col))
    assert a.num_rows == gen.BASE_DOCS


def test_corpus_renames_conversations(tmp_path):
    import pyarrow.parquet as pq

    t = gen.transcripts_table(gen.write_documents(3, str(tmp_path / "docs")))
    assert gen.write_corpus(t, 3, str(tmp_path / "c"), 4) == 3 * gen.BASE_DOCS
    corpus = pq.read_table(str(tmp_path / "c"))
    assert len(set(corpus.column("conv_id").to_pylist())) == 3 * gen.N_CONV
    assert {c.rsplit("_r", 1)[1] for c in corpus.column("conv_id").to_pylist()} == {"0", "1", "2"}
    # one copy keeps its names
    assert gen.write_corpus(t, 1, str(tmp_path / "one"), 1) == gen.BASE_DOCS
    assert pq.read_table(str(tmp_path / "one")).equals(t)


def test_request_script_is_deterministic_per_seed():
    a = gen.request_script(7, 3, 5)
    assert a == gen.request_script(7, 3, 5)
    assert a != gen.request_script(8, 3, 5)
    # the mix is the same for every seed: only parameters vary
    assert [k for k, _ in a] == [k for k, _ in gen.request_script(8, 3, 5)]
    assert len(a) == 5 * len(gen.REQUEST_CYCLE)


def test_requests_round_trip_through_parquet(tmp_path):
    reqs = gen.request_script(3, 2, 2)
    path = str(tmp_path / "r.parquet")
    gen.write_requests(reqs, path)
    assert gen.read_requests(path) == reqs


def test_impact_seeds_mention_the_hot_entity():
    # doc_id = turn * N_CONV + conv; the hot entity is on doc_id % 4 == 0
    for replicas in (1, 3):
        for kind, prompt in gen.request_script(11, replicas, 50):
            if kind == "impact_of_turn":
                conv = prompt.split()[3].split("#")[0]
                assert ("_r" in conv) == (replicas > 1)
                assert int(conv.split("_")[0][1:]) % 4 == 0 and gen.N_CONV % 4 == 0
