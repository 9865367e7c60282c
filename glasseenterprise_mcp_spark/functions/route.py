"""The driver boundary: the one place that decides whether an operator's
input is small enough for its driver-side path, and the one row format
that crosses between Spark and the driver in both directions.

Eighteen operators keep two physical strategies behind one contract: a
driver-side replica for dim-sized inputs (distinct url/endpoint
registries, derived graphs, fixed-width centroid tables — where a
distributed loop is pure per-job scheduler latency) and the distributed
plan, which is the 100TB path. Both must return identical rows.

``DRIVER_ROWS`` maps each gate to the largest input, in rows, its driver
path takes. A gate set to 0 always takes the distributed path without
running a probe job; tests force a path with
``monkeypatch.setitem(route.DRIVER_ROWS, gate, 0)``.

Rows move through Arrow both ways. In: :func:`small_rows` collects the
probe with ``toArrow()`` and hands the driver path plain tuples (binary
ids as ``bytes``). Out: :func:`local_frame` builds the driver path's
result from a ``pyarrow.Table``, a local relation that no Python worker
touches, where ``createDataFrame(<list>)`` would pickle the rows into a
parallelized RDD and run a Python-worker job to read them.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

DRIVER_ROWS: dict[str, int] = {
    # bfs_expand and impact, PER side of their one probe: directed edge
    # rows, seeds and (impact) node rows. 50k directed rows bound the
    # symmetric closure the driver walks at 100k pairs; the probe is one
    # toArrow limit with no shuffle, and impact's report is then counted
    # on the driver, so no Spark job runs after it
    "bfs": 50_000,
    # pagerank, ppr, hits, kcore, label propagation, harmonic centrality
    # and shortest paths (edges, and seeds for shortest paths)
    "graph_loop": 100_000,
    # driver BFS per start is O(V·E): sub-second at 10k edges, a cliff
    # toward 100k on sparse graphs the distributed loop handles fine
    "find_cycles": 10_000,
    # driver closure state is O(V·reach): keep small
    "scc": 2_000,
    # connected_components: undirected edges for the driver union-find
    "cc": 500_000,
    # refers_to_edges, PER registry side: tiers 2/3 scan the provider side
    # per residual row, O(C·P) — 25M short-string ops at 5k·5k
    "refers_to": 5_000,
    # refined_centroids: corpus vectors for the numpy seed + Lloyd replay
    # (threshold·DIM longs ≤ ~50MB of driver memory)
    "ivf_centroids": 100_000,
    # ANN query-side broadcast budget (brute force, LSH, IVF, PQ): the
    # gated query sets are corpus-proportional, so above the budget the
    # query side shuffles instead of broadcasting
    "ann_queries": 100_000,
}


def small_rows(df: DataFrame, gate: str, sides: int = 1) -> list | None:
    """ONE bounded probe: collect at most cap+1 rows of ``df`` as Arrow and
    return them as tuples when they fit under the gate's cap, else
    ``None`` (the caller takes the distributed path). ``toArrow()`` runs
    the limit as CollectLimit's single-partition exchange: one job over a
    plain scan, plus one per AQE query stage (a shuffle in ``df``, such as
    a ``distinct``, is a stage of its own). The fitting rows ARE the
    driver path's input, so no separate count job runs. ``sides`` scales
    the cap for a side-tagged union of several inputs that each get the
    gate's cap; the caller then checks every side. A cap ≤ 0 runs no
    job."""
    cap = sides * DRIVER_ROWS[gate]
    if cap <= 0:
        return None
    table = df.limit(cap + 1).toArrow()
    if table.num_rows > cap:
        return None
    return list(zip(*(col.to_pylist() for col in table.columns)))


def fits(df: DataFrame, gate: str) -> bool:
    """Count-only variant of :func:`small_rows` for gates that never read
    the rows: one job counting at most cap+1 rows. A cap ≤ 0 runs no
    job."""
    cap = DRIVER_ROWS[gate]
    return cap > 0 and df.limit(cap + 1).count() <= cap


def local_frame(spark, rows: list, schema: str) -> DataFrame:
    """A driver path's result rows as a DataFrame: the tuples are typed by
    the DDL ``schema``'s Arrow schema and handed to Spark as one
    ``pyarrow.Table``. Below ``spark.sql.execution.arrow.localRelationThreshold``
    (48 MiB by default) Spark keeps it as a local relation: building and
    collecting it runs no job, and it has min(rows, parallelism)
    partitions, none when empty. Above, it is an RDD of the Arrow batches;
    no Python worker reads it either way."""
    struct = StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)
