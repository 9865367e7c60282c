"""Seeded input generator for the benchmark workloads.

Everything the engine reads during a run is written here, during set-up, as
parquet files: the engine receives only files, never an in-memory frame or
a lazy ``amplify`` cross join. Generation runs in DuckDB and pyarrow, not in
Spark, so it costs well under a second and leaves the session's first
(cold) Spark work to the engine.

- ``write_documents``: a document table shaped like the driver's
  ``documents.parquet`` (doc_id, text, lang, source, n_chars) whose words
  come from ``random.Random(seed)``.
- ``transcripts_table``: the engine's transcript derivation in its DuckDB
  form (``transcripts_cte``, kept in lockstep with ``derive_transcripts``),
  with the detector markers fixed by doc_id, so the per-predicate triple
  counts depend on the document count only, never on the seed.
- ``write_corpus``: R replicas of the transcripts, named as ``amplify``
  names them (the serve graph's input; one file of one replica is the
  ingest stream's source).
- ``request_script``: the serve workload's seeded request mix.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Same vocabulary and length range as the driver's testdata documents.
VOCAB = (
    "a agg batch big column data fast filter group hash key line merge order "
    "part query row scan slow small sort spark stream table value vector window"
).split()
LANGS = ("en", "zh", "de", "fr")
BASE_DOCS = 5000  # the sf0.1 document count: 500 conversations x 10 turns
TURNS_PER_CONV = 10
N_CONV = BASE_DOCS // TURNS_PER_CONV

# Serve request kinds, in the fixed order one cycle issues them. Four cheap
# lookups and one depth-2 impact per cycle: the mix is the same for every
# seed, only the parameters (conversation, turn) vary.
REQUEST_CYCLE = (
    "count_by_type",
    "sql_pred_counts",
    "learn",
    "replies_chain",
    "impact_of_turn",
)


def documents_table(seed: int, n_docs: int = BASE_DOCS) -> pa.Table:
    rng = random.Random(seed)
    texts = [" ".join(rng.choices(VOCAB, k=rng.randint(8, 90))) for _ in range(n_docs)]
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [LANGS[rng.randrange(len(LANGS))] for _ in range(n_docs)],
            "source": [f"src{i % 7}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_documents(seed: int, out_dir: str) -> str:
    """Write ``<out_dir>/documents.parquet``; returns ``out_dir`` (the form
    ``derive_transcripts`` and ``transcripts_table`` take)."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(documents_table(seed), os.path.join(out_dir, "documents.parquet"))
    return out_dir


def transcripts_table(docs_dir: str) -> pa.Table:
    """The transcripts of ``<docs_dir>/documents.parquet`` with the columns
    and types ``derive_transcripts`` produces."""
    import duckdb

    from glasseenterprise_mcp_spark.sources.transcripts import transcripts_cte

    con = duckdb.connect()
    try:
        con.sql("SET threads = 1")  # keeps the row order of the documents
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{docs_dir}/documents.parquet'")
        t = con.sql(
            f"WITH {transcripts_cte()} "
            "SELECT conv_id, turn_idx, role, text, tool, ts_epoch FROM transcripts"
        ).arrow()
    finally:
        con.close()
    epoch = t.column("ts_epoch").cast(pa.int64())
    ts = pc.multiply(epoch, 1_000_000).cast(pa.timestamp("us", tz="UTC"))
    return pa.table(
        {
            "conv_id": t.column("conv_id").cast(pa.string()),
            "turn_idx": t.column("turn_idx").cast(pa.int32()),
            "role": t.column("role").cast(pa.string()),
            "text": t.column("text").cast(pa.string()),
            "tool": t.column("tool").cast(pa.string()),
            "ts": ts,
            "ts_epoch": epoch,
        }
    )


def _renamed(t: pa.Table, suffix: str) -> pa.Table:
    return t.set_column(0, "conv_id", pc.binary_join_element_wise(t.column("conv_id"), suffix, ""))


def write_corpus(t: pa.Table, replicas: int, out: str, files: int) -> int:
    """Write ``replicas`` copies of ``t`` to ``out`` as ``files`` parquet
    files; copy i renames ``conv_id`` to ``<conv_id>_r<i>`` as ``amplify``
    does (one copy keeps its names). Returns the turn count."""
    whole = t if replicas <= 1 else pa.concat_tables(
        _renamed(t, f"_r{i}") for i in range(replicas)
    )
    os.makedirs(out, exist_ok=True)
    step = -(-whole.num_rows // files)
    for i in range(files):
        pq.write_table(whole.slice(i * step, step), os.path.join(out, f"part-{i:05d}.parquet"))
    return whole.num_rows


def request_script(seed: int, replicas: int, cycles: int) -> list[tuple[str, str]]:
    """``cycles`` repetitions of REQUEST_CYCLE as (kind, prompt) pairs.

    Impact seeds are turns of conversations ``c<j>`` with j % 4 == 0: every
    turn there mentions the hot entity (doc_id % 4 == 0, since N_CONV % 4 ==
    0), so each impact reaches about half of all turns at depth 2 and costs
    the same whichever seed turn is drawn."""
    rng = random.Random(seed)

    def name(c: int) -> str:
        # write_corpus keeps the names of a single copy
        return f"c{c}" if replicas == 1 else f"c{c}_r{rng.randrange(replicas)}"

    def conv() -> str:
        return name(rng.randrange(N_CONV))

    prompts = {
        "count_by_type": lambda: "count nodes by type",
        "sql_pred_counts": lambda: "SQL: SELECT pred, count(*) AS n FROM edges GROUP BY pred",
        "learn": lambda: "",
        "replies_chain": lambda: f"show replies in conversation {conv()}",
        "impact_of_turn": lambda: (
            f"impact of turn {name(4 * rng.randrange(N_CONV // 4))}"
            f"#{rng.randrange(TURNS_PER_CONV)} depth 2"
        ),
    }
    return [(kind, prompts[kind]()) for _ in range(cycles) for kind in REQUEST_CYCLE]


def write_requests(requests: list[tuple[str, str]], path: str) -> None:
    pq.write_table(
        pa.table({"kind": [k for k, _ in requests], "prompt": [p for _, p in requests]}),
        path,
    )


def read_requests(path: str) -> list[tuple[str, str]]:
    t = pq.read_table(path)
    return list(zip(t.column("kind").to_pylist(), t.column("prompt").to_pylist()))
