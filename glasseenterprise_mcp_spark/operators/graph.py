"""Graph / recursive operators over the materialized triple table
(SURVEY.md §2.10): bounded traversals expressed as iterative hash joins.

Analogues:
  G1 impact traversal   src/commands/impactCommand.ts:49-92 (seed → edge
                        expansion *1..depth → label-classified projections)
  G2 cycle detection    src/commands/queryCommand.ts:36-52 (CALLS*1..8 back
                        to start, bounded)
  G5 blast radius       src/commands/queryCommand.ts:64-100
  tool transitions      the window-lag derived graph the cycle query runs
                        on (W4-shaped; replaces the reference's CALLS graph)

Each iteration is one shuffle join against the (cached) edge table; the
depth parameter is the loop bound — at 100TB the edges are partitioned by
``pred`` so a traversal restricted to a predicate subset prunes partitions
at scan time.
"""

from __future__ import annotations

from contextlib import contextmanager

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..functions.normalize import norm_name_sql
from ..functions.route import DRIVER_ROWS, local_frame, small_rows
from .link import turn_id_col, turn_id_sql

# Iterative loops shuffle their state at the DERIVED GRAPH's size, not the
# corpus's: the distinct edge set an algorithm iterates over is often orders
# of magnitude smaller than the input table, and running tens of sequential
# loop stages at the session's corpus-sized shuffle-partition count makes
# per-stage task-scheduling latency the dominant cost (interleaved A/B at
# sf0.1: HITS 2.5s → 1.9s best-leg just from right-sizing). The clamp is
# the session setting itself, so graphs big enough to need cluster-wide
# parallelism keep it — this only removes empty-task overhead, never caps
# a large graph below the cluster size.
GRAPH_EDGES_PER_PARTITION = 200_000


@contextmanager
def graph_sized_shuffle(df: DataFrame, n_edges: int):
    """Temporarily set shuffle partitions to fit ``n_edges`` loop-state rows
    (≤ the session setting); restores the session value on exit. Safe with
    AQE (which further coalesces post-shuffle, but cannot reduce the map-
    side task count this controls)."""
    spark = df.sparkSession
    old = spark.conf.get("spark.sql.shuffle.partitions")
    parts = max(1, min(int(old), n_edges // GRAPH_EDGES_PER_PARTITION + 1))
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        yield parts
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def bfs_expand(
    edges: DataFrame,
    seeds: DataFrame,
    depth: int = 3,
) -> DataFrame:
    """G1: bounded BFS from ``seeds`` (single column ``id``) over the
    undirected edge set; returns (id, dist) with the minimal hop distance
    ≤ depth.

    Two physical strategies behind one contract (the CC small-graph
    pattern, canonicalize.py):

    * directed edge rows and seeds each within the ``bfs`` gate
      (``route.DRIVER_ROWS``) → driver-side BFS over a symmetrized
      adjacency dict. A bounded traversal at dim scale is pure per-round
      scheduler latency distributed (each round = join + distinct +
      anti-join + checkpoint + emptiness probe ≈ 4 jobs); the driver path
      is ONE side-tagged ``toArrow()`` probe of the raw directed edges and
      the seeds (a limit without a shuffle: one job, see
      :func:`route.small_rows`) and exact integer semantics — identical
      (id, min-dist) output, returned as a local frame.
    * larger graphs → iterative frontier expansion: each round joins only
      the *frontier* (newly discovered nodes) against the edges — the
      classic Spark BFS that keeps per-round work proportional to the
      frontier, not the visited set. This is the 100TB path.

    An edge with a NULL endpoint is no edge and a NULL seed is no vertex,
    on both paths.
    """
    probe = _bfs_probe(edges, seeds)
    if probe is not None:
        rows = sorted(_bfs_driver_side(*probe, depth).items())
        t = _id_type(edges, "subj")
        return local_frame(edges.sparkSession, rows, f"id {t}, dist int")
    return _bfs_distributed(edges, seeds, depth)


def _bfs_probe(edges: DataFrame, seeds: DataFrame, nodes: DataFrame | None = None):
    """ONE bounded ``bfs``-gate probe for the driver BFS: the directed
    (subj, obj) rows, the seeds and, for :func:`impact`, the (id, type)
    node rows, side-tagged in one union. Returns per-side lists of
    ``[a, b, t]`` rows (edge source or seed or node id, edge target, node
    type; ``t`` only with nodes) when every side fits the gate's cap,
    else ``None``."""
    parts = [
        edges.select(F.col("subj").alias("a"), F.col("obj").alias("b")).dropna(),
        seeds.select(F.col("id").alias("a")).dropna(),
    ]
    if nodes is not None:
        parts.append(nodes.select(F.col("id").alias("a"), F.col("type").alias("t")))
    tagged = parts[0].select(F.lit(0).alias("side"), "a", "b")
    for i, part in enumerate(parts[1:], 1):
        tagged = tagged.unionByName(
            part.withColumn("side", F.lit(i)), allowMissingColumns=True
        )
    rows = small_rows(tagged, "bfs", sides=len(parts))
    if rows is None:
        return None
    split: list[list] = [[] for _ in parts]
    for side, *cols in rows:
        split[side].append(cols)
    return split if all(len(s) <= DRIVER_ROWS["bfs"] for s in split) else None


def _bfs_driver_side(edge_rows: list, seed_rows: list, depth: int):
    """Driver-side replica of the bounded BFS for dim-sized graphs —
    identical (id, min-dist ≤ depth) semantics over the symmetrized
    adjacency of the directed rows. Returns {id: dist}."""
    adj: dict = {}
    for a, b, *_ in edge_rows:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    return _walk(adj, (s for s, *_ in seed_rows), depth)


def _walk(adj: dict, sources, depth: int) -> dict:
    """The one driver BFS: {id: min hops ≤ ``depth``} from ``sources``
    (each at 0) over the adjacency dict ``adj`` (id → neighbor ids)."""
    dist = dict.fromkeys(sources, 0)
    frontier = list(dist)
    d = 0
    while frontier and d < depth:
        d += 1
        nxt = []
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = d
                    nxt.append(v)
        frontier = nxt
    return dist


def _bfs_distributed(edges: DataFrame, seeds: DataFrame, depth: int) -> DataFrame:
    """The distributed frontier-expansion loop of :func:`bfs_expand`, over
    the materialized symmetric closure of the directed edges."""
    seeds = seeds.select("id").dropna()
    e = edges.select(F.col("subj").alias("a"), F.col("obj").alias("b")).dropna()
    e = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    visited = seeds.select(F.col("id"), F.lit(0).alias("dist")).distinct()
    frontier = visited
    with graph_sized_shuffle(e, e.count()):
        for d in range(1, depth + 1):
            nxt = (
                frontier.join(e, frontier["id"] == e["a"])
                .select(F.col("b").alias("id"))
                .distinct()
                .join(visited.select("id"), "id", "left_anti")
                .withColumn("dist", F.lit(d))
                .localCheckpoint(eager=True)
            )
            if nxt.limit(1).count() == 0:
                break
            visited = visited.unionByName(nxt)
            frontier = nxt
    return visited


def bfs_cte(depth: int, seed_where: str) -> str:
    """DuckDB oracle for bfs_expand over the ``edges`` CTE (subj/obj cols):
    recursive closure with hop count, then min-dist per node."""
    return f"""bfs AS (
  WITH RECURSIVE und(a, b) AS (
    SELECT subj AS a, obj AS b FROM all_edges UNION
    SELECT obj AS a, subj AS b FROM all_edges
  ),
  seeds(id) AS (SELECT DISTINCT id FROM nodes WHERE {seed_where}),
  walk(id, dist) AS (
    SELECT id, 0 FROM seeds
    UNION
    SELECT u.b, w.dist + 1 FROM walk w JOIN und u ON w.id = u.a
    WHERE w.dist < {depth}
  )
  SELECT id, MIN(dist) AS dist FROM walk GROUP BY id
)"""


IMPACT_REPORT = "type string, n long, min_dist int"


def impact(
    edges: DataFrame, nodes: DataFrame, seeds: DataFrame, depth: int = 3
) -> DataFrame:
    """G1 complete: BFS + label classification + per-type counts ordered
    by type (NULL first), the shape of the reference's impact report
    (top-50 per category is the caller's ``limit``). A seed that resolves
    in ``nodes`` is the only row at dist 0, so the report carries the
    seed-not-found check (reference impactCommand.ts:25-44) that
    :func:`turn_impact` applies.

    * edges, nodes and seeds each within the ``bfs`` gate → the one probe
      of :func:`bfs_expand` with the node rows as a third side, the driver
      BFS, and the per-type counts taken on the driver from the collected
      node rows (one count per node row, as the join does). The report is
      a :func:`route.local_frame` (schema ``IMPACT_REPORT``), so no Spark
      job runs after the probe: a :func:`turn_impact` request over
      stored tables is the probe's one job.
    * otherwise → the distributed BFS, then a join with ``nodes`` and a
      ``groupBy`` + ``orderBy`` in Spark.
    """
    probe = _bfs_probe(edges, seeds, nodes)
    if probe is None:
        reached = _bfs_distributed(edges, seeds, depth)
        return (
            reached.join(nodes.select("id", "type"), "id")
            .groupBy("type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.min("dist").cast("int").alias("min_dist"),
            )
            .orderBy("type")
        )
    edge_rows, seed_rows, node_rows = probe
    dist = _bfs_driver_side(edge_rows, seed_rows, depth)
    per_type: dict = {}
    for i, _, t in node_rows:
        d = dist.get(i)
        if d is not None:
            n, m = per_type.get(t, (0, d))
            per_type[t] = (n + 1, min(m, d))
    order = sorted(per_type, key=lambda t: (t is not None, t or ""))  # NULL first
    rows = [(t, *per_type[t]) for t in order]
    return local_frame(edges.sparkSession, rows, IMPACT_REPORT)


def _turn_seeds(spark, conv: str, turn: int) -> DataFrame:
    """The one-row ``id`` seed frame of an impact request on turn
    ``conv#turn``."""
    turn_row = local_frame(spark, [(conv, turn)], "conv_id string, turn_idx int")
    return turn_row.select(turn_id_col(F.col("conv_id"), F.col("turn_idx")).alias("id"))


def turn_impact(
    edges: DataFrame, nodes: DataFrame, conv: str, turn: int, depth: int = 3
) -> list | None:
    """The collected :func:`impact` report rows of turn ``conv#turn``, or
    ``None`` when the seed does not resolve in ``nodes`` (no dist-0 row):
    the seed-not-found contract (reference impactCommand.ts:25-44) that the
    query router and ``kg_tool impact`` answer with a distinct marker
    instead of a silently-empty traversal."""
    seeds = _turn_seeds(edges.sparkSession, conv, turn)
    rows = impact(edges, nodes, seeds, depth=depth).collect()
    return rows if any(r.min_dist == 0 for r in rows) else None


IMPACT_PER_TYPE = 50


def impact_nodes(
    edges: DataFrame,
    nodes: DataFrame,
    seeds: DataFrame,
    depth: int = 3,
) -> DataFrame:
    """G1b: the actual touched entities, top-``IMPACT_PER_TYPE`` per category
    (reference impactCommand.ts:104-180 returns the node lists, not just
    counts). Deterministic ordering: distance first, then id. Output:
    (type, rank, id, dist, name)."""
    reached = bfs_expand(edges, seeds, depth)
    joined = reached.join(nodes.select("id", "type", "name"), "id")
    w = Window.partitionBy("type").orderBy(F.asc("dist"), F.asc("id"))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= IMPACT_PER_TYPE)
        .select(
            "type",
            F.col("rank").cast("int").alias("rank"),
            "id",
            F.col("dist").cast("int").alias("dist"),
            "name",
        )
    )


def impact_nodes_cte() -> str:
    """DuckDB twin over the ``bfs`` + ``nodes`` CTEs."""
    return f"""impact_nodes AS (
  SELECT type, CAST(rank AS INT) AS rank, id, CAST(dist AS INT) AS dist, name
  FROM (
    SELECT n.type, n.name, b.id, b.dist,
           row_number() OVER (PARTITION BY n.type ORDER BY b.dist ASC, b.id ASC) AS rank
    FROM bfs b JOIN nodes n USING (id)
  ) WHERE rank <= {IMPACT_PER_TYPE}
)"""


def tool_transitions(transcripts: DataFrame) -> DataFrame:
    """Derived directed graph for cycle analysis: within each conversation,
    consecutive tool-bearing turns produce a (from_tool, to_tool) edge with
    a weight = transition count. Window-lag shaped (W4)."""
    t = transcripts.filter(F.col("tool").isNotNull())
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    pairs = t.select(
        F.col("tool").alias("to_tool"),
        F.lag("tool").over(w).alias("from_tool"),
    ).filter(F.col("from_tool").isNotNull())
    return (
        pairs.groupBy("from_tool", "to_tool")
        .agg(F.count(F.lit(1)).cast("long").alias("weight"))
    )


def tool_transitions_cte() -> str:
    return """tool_transitions AS (
  SELECT from_tool, to_tool, CAST(COUNT(*) AS BIGINT) AS weight FROM (
    SELECT tool AS to_tool,
           lag(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS from_tool
    FROM transcripts WHERE tool IS NOT NULL
  ) WHERE from_tool IS NOT NULL
  GROUP BY from_tool, to_tool
)"""


CYCLE_MAX_LEN = 8


def find_cycles(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_len: int = CYCLE_MAX_LEN,
) -> DataFrame:
    """G2: bounded directed cycle detection via iterative path extension.

    Returns (start, cycle_len) for each distinct minimal cycle: paths are
    only extended from their lexicographically-smallest node (so each cycle
    is reported once, by its canonical start) and carry their node set for
    the revisit guard (``array_contains``), exactly the bounded
    variable-length-path semantics of the reference's CALLS*1..8 query.

    Combinatorics guard: the distributed path-extension frontier can blow up
    on dense graphs (all simple paths up to ``max_len``). Graphs within
    the ``find_cycles`` gate short-circuit to a driver-side per-start BFS
    (the CC small-graph pattern, canonicalize.py) — O(V·E·max_len) instead
    of exponential path enumeration, identical results. The distributed loop
    remains the above-gate path, where real edge dims are sparse.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).dropna().distinct()
    probe = small_rows(e, "find_cycles")
    if probe is not None:
        return _find_cycles_driver_side(edges.sparkSession, probe, _id_type(e), max_len)
    e = e.localCheckpoint(eager=True)

    # start paths only from nodes that can canonically lead a cycle
    paths = e.select(
        F.col("a").alias("start"),
        F.col("b").alias("head"),
        F.array(F.col("a")).alias("seen"),
        F.lit(1).alias("length"),
    )
    cycles = (
        paths.filter(F.col("start") == F.col("head"))
        .select("start", F.col("length").alias("cycle_len"))
    )
    for _ in range(2, max_len + 1):
        paths = (
            paths.filter(F.col("start") != F.col("head"))
            .filter(F.col("start") < F.col("head"))  # canonical-start pruning:
            # every node on a cycle starts a path; keep only paths whose
            # start is smaller than every subsequent head, so each cycle
            # survives exactly once (led by its minimal node)
            .join(e, F.col("head") == e["a"])
            # revisit guard — but returning to the START is exactly a cycle
            .filter(
                (F.col("b") == F.col("start"))
                | ~F.array_contains(F.col("seen"), F.col("b"))
            )
            .select(
                "start",
                F.col("b").alias("head"),
                F.array_append("seen", F.col("head")).alias("seen"),
                (F.col("length") + 1).alias("length"),
            )
            .localCheckpoint(eager=True)
        )
        found = paths.filter(F.col("start") == F.col("head")).select(
            "start", F.col("length").alias("cycle_len")
        )
        cycles = cycles.unionByName(found)
        if paths.limit(1).count() == 0:
            break
    return cycles.groupBy("start").agg(F.min("cycle_len").cast("int").alias("cycle_len"))


def _find_cycles_driver_side(spark, rows, t: str, max_len: int) -> DataFrame:
    """Per-start bounded BFS on the collected edge list (``rows`` — the
    probe's already-collected rows, reused rather than re-scanned). A cycle
    is reported by its minimal node s: shortest closed walk s→s inside the
    subgraph {v : v >= s} (BFS paths are simple, so this equals the minimal
    simple cycle the distributed enumeration finds)."""
    from collections import defaultdict, deque

    adj: dict = defaultdict(list)
    for a, b in rows:
        adj[a].append(b)

    out_rows = []
    for s in sorted(adj):
        # BFS from s over nodes >= s, looking for the first return to s
        best = None
        dist = {s: 0}
        q = deque([s])
        while q:
            u = q.popleft()
            du = dist[u]
            if du >= max_len:
                continue
            for v in adj.get(u, ()):
                if v == s:
                    best = du + 1
                    q.clear()
                    break
                if v > s and v not in dist:
                    dist[v] = du + 1
                    q.append(v)
        if best is not None and best <= max_len:
            out_rows.append((s, best))
    return local_frame(spark, out_rows, f"start {t}, cycle_len int")


def find_cycles_cte(
    edges_cte: str, src: str, dst: str, max_len: int = CYCLE_MAX_LEN
) -> str:
    return f"""cycles AS (
  WITH RECURSIVE e(a, b) AS (SELECT DISTINCT {src}, {dst} FROM {edges_cte}),
  walk(start, head, seen, length) AS (
    SELECT a, b, [a], 1 FROM e
    UNION ALL
    SELECT w.start, e.b, list_append(w.seen, w.head), w.length + 1
    FROM walk w JOIN e ON w.head = e.a
    WHERE w.start <> w.head AND w.start < w.head
      AND (e.b = w.start OR NOT list_contains(w.seen, e.b))
      AND w.length < {max_len}
  )
  SELECT start, CAST(MIN(length) AS INT) AS cycle_len FROM walk
  WHERE start = head GROUP BY start
)"""


def blast_radius(mentions: DataFrame) -> DataFrame:
    """G5: for every provided resource, the set of conversations that
    consume it through url mentions — (resource norm, n_convs, n_turns).
    Join chain: endpoint resources ⋈ url mentions on the normalized key ⋈
    turns. The provided side is a small dim (broadcast)."""
    provided = (
        mentions.filter(F.col("mtype") == "endpoint")
        .select(F.col("norm").alias("res_norm"))
        .distinct()
    )
    consumed = mentions.filter(F.col("mtype") == "url").select(
        "conv_id", "turn_idx", "norm"
    )
    hits = consumed.join(
        F.broadcast(provided), consumed["norm"] == provided["res_norm"]
    )
    return hits.groupBy("res_norm").agg(
        F.countDistinct("conv_id").cast("long").alias("n_convs"),
        F.countDistinct("conv_id", "turn_idx").cast("long").alias("n_turns"),
    )


def blast_radius_cte() -> str:
    return """blast AS (
  SELECT p.res_norm,
         CAST(COUNT(DISTINCT c.conv_id) AS BIGINT) AS n_convs,
         CAST(COUNT(DISTINCT (c.conv_id, c.turn_idx)) AS BIGINT) AS n_turns
  FROM (SELECT DISTINCT norm AS res_norm FROM mentions WHERE mtype = 'endpoint') p
  JOIN (SELECT conv_id, turn_idx, norm FROM mentions WHERE mtype = 'url') c
    ON c.norm = p.res_norm
  GROUP BY p.res_norm
)"""


# --------------------------------------------------------------------------
# Driver-side replicas for dim-sized graphs (the CC/find_cycles small-graph
# pattern, applied family-wide). For a graph within its ``route.DRIVER_ROWS``
# gate (``graph_loop``; ``scc`` for the closure) a distributed loop is pure
# per-round scheduler latency (each round ≈ 3-5 jobs over a handful of
# rows), while a Python replay of the SAME recurrence over the probe's rows
# returns the identical rows in milliseconds. Above the gate the
# distributed loops below remain the 100TB path. The replicas share parts:
#   * ``_walk`` is the one driver BFS: bfs_expand and impact walk the
#     symmetrized adjacency from the seeds, harmonic centrality walks once
#     per sampled seed, and the SCC closure walks from each node's
#     successors. Only find_cycles (early exit on the return to its start)
#     and shortest paths (weights) keep loops of their own;
#   * ``_ppr_driver`` is the one rank replica: PageRank (g6) is
#     personalized PageRank (g12) with every node a seed;
#   * ``_md5_rank_seeds`` replays ``_md5_sample``, the one seed sample.
# Every iterative operator works in EXACT int64 arithmetic so its rounds
# replay anywhere: Python ``//`` on the non-negative int64 values here
# equals Spark's ``div``; bytes ordering equals Spark binary ordering, so
# min/struct tie-breaks replay exactly. An edge with a NULL endpoint is no
# edge: every operator drops it before routing, so neither path ever sees a
# NULL id.
# --------------------------------------------------------------------------


def _id_type(df: DataFrame, col: int | str = 0) -> str:
    """The DDL type of ``df``'s id column (its first by default): a driver
    replica's output ids keep the input's type, also for an empty input."""
    return df.schema[col].dataType.simpleString()


def _simple_graph(
    edges: DataFrame, src: str, dst: str, symmetric: bool = False
) -> DataFrame:
    """The undirected simple graph of (src, dst): the distinct canonical
    (a, b) = (least, greatest) pairs with a ≠ b. A NULL endpoint drops the
    edge: ``least``/``greatest`` skip a NULL, so a half-NULL edge becomes a
    self-loop, and a both-NULL edge fails a ≠ b. ``symmetric`` adds every
    pair swapped; canonical pairs have a < b and swapped ones a > b, so the
    union needs no second distinct."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    if symmetric:
        e = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    return e


def _md5_sample(nodes: DataFrame, n: int) -> DataFrame:
    """The g12/g13 deterministic seed sample (the ivf_centroids idiom): the
    ``n`` lowest (md5(id text), id) ``id`` rows of ``nodes``. The md5 runs
    over the ORACLE-FACING text: binary(16) ids surface as lower-hex
    strings at the oracle (the engine-wide id contract), not raw bytes."""
    id_text = (
        F.lower(F.hex("id"))
        if dict(nodes.dtypes)["id"] == "binary"
        else F.col("id").cast("string")
    )
    return (
        nodes.select("id", F.md5(id_text.cast("binary")).alias("_h"))
        .orderBy("_h", "id")
        .limit(n)
        .select("id")
    )


def _md5_rank_seeds(node_ids, n_seeds: int, binary: bool):
    """:func:`_md5_sample` replayed on the driver: the n_seeds lowest
    (md5(oracle-facing id text), id)."""
    from hashlib import md5 as _md5

    def h(i):
        t = i.hex() if binary else str(i)
        return _md5(t.encode()).hexdigest()

    return [i for _, i in sorted(((h(i), i) for i in node_ids))[:n_seeds]]


def _ppr_driver(spark, e, t, iters, n_seeds):
    # n_seeds None: every node a seed, which is g6's PageRank
    nodes = sorted({a for a, _ in e} | {b for _, b in e})
    n = len(nodes)
    if n == 0:
        return local_frame(spark, [], f"id {t}, rank long, is_seed boolean")
    seeds = set(
        nodes if n_seeds is None else _md5_rank_seeds(nodes, n_seeds, t == "binary")
    )
    k = len(seeds)
    outdeg = {}
    for a, _ in e:
        outdeg[a] = outdeg.get(a, 0) + 1
    seed_base = (100 - PR_DAMPING_PCT) * PR_SCALE * n // (100 * k)
    r = {v: PR_SCALE for v in nodes}
    for _ in range(iters):
        in_sum = {}
        for a, b in e:
            in_sum[b] = in_sum.get(b, 0) + r[a] // outdeg[a]
        dang = sum(r[v] for v in nodes if v not in outdeg)
        r = {
            v: (seed_base if v in seeds else 0)
            + PR_DAMPING_PCT
            * (in_sum.get(v, 0) + (dang // k if v in seeds else 0))
            // 100
            for v in nodes
        }
    rows = [(v, r[v], v in seeds) for v in nodes]
    return local_frame(spark, rows, f"id {t}, rank long, is_seed boolean")


def _hits_driver(spark, e, t):
    nodes = sorted({a for a, _ in e} | {b for _, b in e})
    hub = {v: HITS_SCALE for v in nodes}
    auth = {v: HITS_SCALE for v in nodes}
    for _ in range(HITS_ROUNDS):
        araw = {}
        for a, b in e:
            araw[b] = araw.get(b, 0) + hub[a]
        tot = sum(araw.values())
        auth = {
            v: (araw.get(v, 0) * HITS_SCALE // tot if tot > 0 else 0) for v in nodes
        }
        hraw = {}
        for a, b in e:
            hraw[a] = hraw.get(a, 0) + auth[b]
        tot = sum(hraw.values())
        hub = {
            v: (hraw.get(v, 0) * HITS_SCALE // tot if tot > 0 else 0) for v in nodes
        }
    rows = [(v, hub[v], auth[v]) for v in nodes]
    return local_frame(spark, rows, f"id {t}, hub long, auth long")


def _lpa_driver(spark, e, t):
    # e: canonical (a < b) distinct edges, self-loops removed
    adj = {}
    for a, b in e:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    nodes = sorted(adj)
    label = {v: v for v in nodes}
    for _ in range(LPA_ROUNDS):
        nxt = {}
        for v in nodes:
            votes = {}
            for nb in adj[v]:
                lb = label[nb]
                votes[lb] = votes.get(lb, 0) + 1
            nxt[v] = min((-c, lb) for lb, c in votes.items())[1]
        label = nxt
    return local_frame(spark, [(v, label[v]) for v in nodes], f"id {t}, community {t}")


def _kcore_driver(spark, e, t, k, rounds):
    # e: symmetric distinct (a, b), self-loops removed
    for _ in range(rounds):
        deg = {}
        for a, _b in e:
            deg[a] = deg.get(a, 0) + 1
        drop = {v for v, d in deg.items() if d < k}
        if not drop:
            break
        e = [(a, b) for a, b in e if a not in drop and b not in drop]
    deg = {}
    for a, _b in e:
        deg[a] = deg.get(a, 0) + 1
    return local_frame(spark, sorted(deg.items()), f"id {t}, core_deg long")


def _harmonic_driver(spark, e, t, n_seeds):
    # e: the symmetric simple graph
    adj = {}
    for a, b in e:
        adj.setdefault(a, []).append(b)
    hc = {}
    n_seen = {}
    for s in _md5_rank_seeds(sorted(adj), n_seeds, t == "binary"):
        for v, dv in _walk(adj, [s], HC_ROUNDS).items():
            if v != s:
                hc[v] = hc.get(v, 0) + HC_SCALE // dv
                n_seen[v] = n_seen.get(v, 0) + 1
    rows = sorted((v, hc[v], n_seen[v]) for v in hc)
    return local_frame(spark, rows, f"id {t}, hc long, n_seen long")


def _scc_driver(spark, e, t):
    import warnings

    adj = {}
    for a, b in e:
        adj.setdefault(a, []).append(b)
    nodes = sorted({a for a, _ in e} | {b for _, b in e})
    # bounded closure: reachable via paths of length 1..SCC_MAX_DEPTH, a walk
    # of SCC_MAX_DEPTH - 1 hops from the successors (the distributed loop
    # extends the 1-hop closure SCC_MAX_DEPTH - 1 times); a node at the last
    # level means the reach may still grow past the bound
    reach = {}
    bound_hit = False
    for v in nodes:
        dist = _walk(adj, adj.get(v, ()), SCC_MAX_DEPTH - 1)
        bound_hit = bound_hit or any(d >= SCC_MAX_DEPTH - 1 for d in dist.values())
        reach[v] = set(dist)
    if bound_hit:
        warnings.warn(
            f"strongly_connected_components: directed reach did not "
            f"stabilize within max_depth={SCC_MAX_DEPTH}; components spanning "
            "longer paths may be split",
            RuntimeWarning,
            stacklevel=2,
        )
    out = []
    for v in nodes:
        mutual = [o for o in reach.get(v, ()) if v in reach.get(o, ())]
        mo = min(mutual) if mutual else None
        out.append((v, mo if mo is not None and mo < v else v))
    sizes = {}
    for _v, s in out:
        sizes[s] = sizes.get(s, 0) + 1
    rows = [(v, s, sizes[s]) for v, s in out]
    return local_frame(spark, rows, f"id {t}, scc_id {t}, scc_size long")


def _sssp_driver(spark, e, t, seed_rows, rounds):
    # e: (src, dst, w) with parallel edges already min-collapsed
    adj = {}
    for a, b, w in e:
        adj.setdefault(a, []).append((b, w))
    cost = {s: 0 for (s,) in seed_rows}
    frontier = list(cost)
    for _ in range(rounds):
        improved = {}
        for u in frontier:
            cu = cost[u]
            for v, w in adj.get(u, ()):
                c = cu + w
                if c < cost.get(v, c + 1) and c < improved.get(v, c + 1):
                    improved[v] = c
        if not improved:
            break
        for v, c in improved.items():
            cost[v] = c
        frontier = list(improved)
    return local_frame(spark, sorted(cost.items()), f"id {t}, cost long")


# G6: PageRank over the materialized graph — the classic "which node does
# the corpus keep pointing at" centrality, in EXACT integer arithmetic so
# the DuckDB twin hash-matches (float PageRank could never cross-engine
# compare bit-for-bit). Rank is scaled by PR_SCALE (ppm, the repo-wide
# integer-fraction convention); damping is an integer percentage and every
# division is an explicit integer div applied in the SAME order on both
# engines. Dangling mass (nodes with no out-edges) is redistributed
# uniformly each round — the full algorithm, not the drop-the-mass
# shortcut.
PR_SCALE = 1_000_000
PR_DAMPING_PCT = 85
PR_ITERS = 5


def pagerank(
    edges: DataFrame,
    iters: int = PR_ITERS,
) -> DataFrame:
    """G6: ``iters`` synchronous PageRank rounds over the distinct
    (subj, obj) edge set; returns (id, rank) with

        r_{t+1}(v) = base + d * (in_sum(v) + dang_t div N) div 100
        base       = (100 - d) * scale div 100        (constant-folded)
        in_sum(v)  = sum over in-edges (u,v) of  r_t(u) div outdeg(u)
        dang_t     = sum of r_t(u) over nodes with outdeg 0

    all in int64 (overflow headroom: d * N * scale must fit — at ppm scale
    safe to ~10^11 nodes).

    This is :func:`personalized_pagerank` with every node a seed: with
    S = all N nodes its seed base (100-d)·scale·N div (100·N) is ``base``
    and its dangling term is dang div N on every node. Both run the one
    rank loop, :func:`_seeded_pagerank`."""
    ranks = _seeded_pagerank(edges, iters, None)
    return ranks.select("id", "rank")


def _seeded_pagerank(edges, iters, n_seeds):
    """The rank loop of g6 and g12: (id, rank, is_seed) after ``iters``
    rounds of :func:`personalized_pagerank`'s recurrence. ``n_seeds=None``
    marks every node a seed with a constant and runs no md5 sample (g6).

    100TB shape: the edge table is distinct-ed, repartitioned by src and
    checkpointed ONCE (every round's join probes the same layout); each
    round is one src-keyed join + one dst-keyed partial-agg shuffle + a
    1-row dangling aggregate that rides along as a broadcast cross join
    (never a driver collect inside the loop); the seed flag is a column on
    the state (no per-round seed join); the state is checkpointed per round
    to truncate lineage, the same discipline as the CC loop. N is the one
    upfront driver scalar (a count), unavoidable: it is a parameter of the
    formula itself."""
    ed = (
        edges.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .dropna()
        .distinct()
    )
    probe = small_rows(ed, "graph_loop")
    if probe is not None:
        return _ppr_driver(edges.sparkSession, probe, _id_type(ed), iters, n_seeds)
    e = ed.repartition("src").localCheckpoint(eager=True)
    with graph_sized_shuffle(e, e.count()):
        nodes = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .distinct()
        )
        outdeg = e.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("outdeg")
        )
        state = nodes.join(outdeg, "id", "left")
        is_seed = F.lit(True)
        if n_seeds is not None:
            seeds = _md5_sample(nodes, n_seeds).withColumn("is_seed", F.lit(True))
            state = state.join(F.broadcast(seeds), "id", "left")
            is_seed = F.coalesce("is_seed", F.lit(False))
        state = state.select(
            "id",
            F.coalesce("outdeg", F.lit(0)).cast("long").alias("outdeg"),
            is_seed.alias("is_seed"),
            F.lit(PR_SCALE).cast("long").alias("r"),
        ).localCheckpoint(eager=True)
        n_nodes = state.count()
        if n_nodes == 0:
            return state.select("id", F.col("r").alias("rank"), "is_seed")
        k = n_nodes if n_seeds is None else min(n_seeds, n_nodes)
        seed_base = (100 - PR_DAMPING_PCT) * PR_SCALE * n_nodes // (100 * k)
        for _ in range(iters):
            contribs = (
                state.filter(F.col("outdeg") > 0)
                .select(F.col("id").alias("src"), F.expr("r div outdeg").alias("c"))
                .join(e, "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum("c").alias("in_sum"))
            )
            dang = state.filter(F.col("outdeg") == 0).agg(
                F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("dang")
            )
            state = (
                state.select("id", "outdeg", "is_seed")
                .join(contribs, "id", "left")
                .crossJoin(F.broadcast(dang))
                .select(
                    "id",
                    "outdeg",
                    "is_seed",
                    (
                        F.expr(f"IF(is_seed, {seed_base}, 0)")
                        + F.expr(
                            f"{PR_DAMPING_PCT} * (coalesce(in_sum, 0)"
                            f" + IF(is_seed, dang div {k}, 0)) div 100"
                        )
                    )
                    .cast("long")
                    .alias("r"),
                )
                .localCheckpoint(eager=True)
            )
    return state.select("id", F.col("r").alias("rank"), "is_seed")


def pagerank_cte(
    edges_cte: str,
    iters: int = PR_ITERS,
) -> str:
    """DuckDB oracle: the same rounds unrolled as a CTE chain pr0..pr{K},
    each applying the identical integer formula (same div order). Every
    iteration CTE is MATERIALIZED: pr{t} references pr{t-1} three times
    (state join, in_sum subquery, dangling scalar), and DuckDB inlines
    plain CTEs — without materialization the source pipeline would expand
    3^iters-fold (observed: fd exhaustion at iters=5 over the parquet
    scan)."""
    base = (100 - PR_DAMPING_PCT) * PR_SCALE // 100
    parts = [
        f"""pr_e AS MATERIALIZED (SELECT DISTINCT subj AS src, obj AS dst FROM {edges_cte}),
pr_nodes AS MATERIALIZED (SELECT src AS id FROM pr_e UNION SELECT dst FROM pr_e),
pr_n AS MATERIALIZED (SELECT COUNT(*) AS n FROM pr_nodes),
pr0 AS MATERIALIZED (
  SELECT n.id, CAST(COALESCE(d.c, 0) AS BIGINT) AS outdeg,
         CAST({PR_SCALE} AS BIGINT) AS r
  FROM pr_nodes n LEFT JOIN
       (SELECT src AS id, COUNT(*) AS c FROM pr_e GROUP BY src) d USING (id)
)"""
    ]
    for t in range(1, iters + 1):
        p = f"pr{t - 1}"
        parts.append(
            f"""pr{t} AS MATERIALIZED (
  SELECT s.id, s.outdeg,
         CAST({base} + {PR_DAMPING_PCT} * (COALESCE(c.in_sum, 0)
           + (SELECT COALESCE(SUM(r), 0) FROM {p} WHERE outdeg = 0)
             // (SELECT n FROM pr_n)) // 100 AS BIGINT) AS r
  FROM {p} s LEFT JOIN (
    SELECT e.dst AS id, SUM(p.r // p.outdeg) AS in_sum
    FROM {p} p JOIN pr_e e ON p.id = e.src
    WHERE p.outdeg > 0 GROUP BY e.dst) c USING (id)
)"""
        )
    return ",\n".join(parts)


# G7: bounded-hop minimum-cost paths — Bellman-Ford with frontier-only
# relaxation, the weighted generalization of bfs_expand. Weights are
# integers (here 100 - linking confidence: a low-confidence edge is an
# expensive hop), so min-cost is exact on both engines.
SP_ROUNDS = 4


def shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = SP_ROUNDS,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """G7: (id, cost) — the minimum total weight over all directed paths of
    at most ``rounds`` edges from any seed; unreached nodes absent. Exactly
    ``rounds`` synchronous Bellman-Ford rounds, but each round relaxes only
    the FRONTIER (nodes whose cost improved last round) — the standard
    exact optimization: a non-improved node's contributions were already
    applied the round it last improved, so the result equals full
    relaxation while per-round work tracks the frontier, not the graph.

    100TB shape: parallel edges collapse to min-weight once, the edge table
    is repartitioned by src and checkpointed ONCE (each round's join probes
    the same layout); a round = one src-keyed join + one dst-keyed min
    partial-agg + a min-merge into the state (partial aggs absorb the
    skew); state and frontier are checkpointed per round, and an empty
    frontier short-circuits the loop (the same single-job probe the BFS
    uses)."""
    ed = (
        edges.select(
            F.col(src).alias("src"), F.col(dst).alias("dst"), "w"
        )
        .dropna()
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
    )
    seeds = seeds.select("id").dropna()
    probe = small_rows(ed, "graph_loop")
    if probe is not None:
        seed_rows = small_rows(seeds, "graph_loop")
        if seed_rows is not None:
            t = _id_type(ed)
            return _sssp_driver(edges.sparkSession, probe, t, seed_rows, rounds)
    e = ed.repartition("src").localCheckpoint(eager=True)
    state = (
        seeds.distinct()
        .withColumn("cost", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    delta = state
    with graph_sized_shuffle(e, e.count()):
        for _ in range(rounds):
            cand = (
                delta.join(e, delta["id"] == e["src"])
                .select(
                    F.col("dst").alias("id"),
                    (F.col("cost") + F.col("w")).alias("cost"),
                )
                .groupBy("id")
                .agg(F.min("cost").alias("cost"))
            )
            old = state.select("id", F.col("cost").alias("old_cost"))
            delta = (
                cand.join(old, "id", "left")
                .filter(
                    F.col("old_cost").isNull() | (F.col("cost") < F.col("old_cost"))
                )
                .select("id", "cost")
                .localCheckpoint(eager=True)
            )
            if delta.limit(1).count() == 0:
                break
            state = (
                state.unionByName(delta)
                .groupBy("id")
                .agg(F.min("cost").alias("cost"))
                .localCheckpoint(eager=True)
            )
    return state


def shortest_paths_cte(
    edges_cte: str,
    seed_where: str,
    rounds: int = SP_ROUNDS,
    src: str = "src",
    dst: str = "dst",
    w_expr: str = "w",
) -> str:
    """DuckDB oracle: min cost over the bounded walk closure — a recursive
    CTE enumerating walks of ≤ ``rounds`` edges from the seeds (walks may
    revisit nodes; MIN is unaffected), which equals ``rounds`` Bellman-Ford
    rounds. ``seed_where`` filters the node set of the graph (distinct
    endpoints)."""
    return f"""sp AS (
  WITH RECURSIVE spe(src, dst, w) AS (
    SELECT {src}, {dst}, MIN({w_expr}) FROM {edges_cte} GROUP BY {src}, {dst}
  ),
  sp_seeds(id) AS (
    SELECT DISTINCT id FROM (
      SELECT src AS id FROM spe UNION SELECT dst FROM spe
    ) WHERE {seed_where}
  ),
  walk(id, cost, hops) AS (
    SELECT id, CAST(0 AS BIGINT), 0 FROM sp_seeds
    UNION
    SELECT e.dst, w.cost + e.w, w.hops + 1
    FROM walk w JOIN spe e ON w.id = e.src
    WHERE w.hops < {rounds}
  )
  SELECT id, MIN(cost) AS cost FROM walk GROUP BY id
)"""


# G8: exact triangle counting per node — degree-ordered edge orientation
# (the MapReduce triangle algorithm of Cohen 2009 / Suri-Vassilvitskii
# 2011): orient every undirected edge from its lower (degree, id) endpoint
# to the higher, enumerate wedges at each node's out-neighbors, close them
# against the edge set. Each triangle is counted exactly once (at its
# minimum-rank vertex, whose two out-edges form the wedge).


def triangle_counts(
    edges: DataFrame, src: str = "subj", dst: str = "obj"
) -> DataFrame:
    """G8: (id, triangles) — the number of distinct triangles each node
    participates in, over the undirected simple graph of (src, dst);
    nodes in no triangle are absent.

    100TB shape: the degree orientation IS the skew bound — a hot node
    (degree d in a graph of m edges) has out-degree at most O(sqrt(m))
    after orientation, so the wedge self-join's per-key fan-out is
    sqrt-bounded instead of d². Work: one distinct shuffle for the
    canonical edge set, one degree agg, two id-keyed joins to attach
    endpoint degrees, one u-keyed wedge self-join, one (v1,v2)-keyed
    closing semi-join (the canonical pair IS the edge key — no
    re-canonicalization), and a final explode-3 + count agg. Binary ids
    compare byte-wise in both engines (hex is order-isomorphic), so the
    orientation tie-break is cross-engine stable."""
    e = _simple_graph(edges, src, dst).localCheckpoint(eager=True)
    deg = (
        e.select(F.col("a").alias("id"))
        .unionByName(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    oriented = (
        e.join(deg.select(F.col("id").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("id").alias("b"), F.col("deg").alias("db")), "b")
        # a < b always, so a wins (deg, id)-lexicographic ties
        .select(
            F.when(F.col("da") <= F.col("db"), F.col("a"))
            .otherwise(F.col("b"))
            .alias("u"),
            F.when(F.col("da") <= F.col("db"), F.col("b"))
            .otherwise(F.col("a"))
            .alias("v"),
        )
        .localCheckpoint(eager=True)
    )
    w1 = oriented.select(F.col("u"), F.col("v").alias("v1"))
    w2 = oriented.select(F.col("u"), F.col("v").alias("v2"))
    tri = (
        w1.join(w2, "u")
        .filter(F.col("v1") < F.col("v2"))  # one row per unordered wedge
        .join(
            e,
            (F.col("v1") == F.col("a")) & (F.col("v2") == F.col("b")),
            "left_semi",
        )
    )
    return (
        tri.select(F.explode(F.array("u", "v1", "v2")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("triangles"))
    )


def triangle_counts_cte(edges_cte: str, src: str = "subj", dst: str = "obj") -> str:
    """DuckDB oracle: the identical orientation + wedge-close construction
    in SQL. The orientation is a deterministic function of (degree, id),
    so both engines enumerate the same triangle set; MATERIALIZED because
    tc_or is referenced twice by the wedge join."""
    return f"""tc_e AS MATERIALIZED (
  SELECT DISTINCT LEAST({src}, {dst}) AS a, GREATEST({src}, {dst}) AS b
  FROM {edges_cte} WHERE {src} <> {dst}
),
tc_deg AS MATERIALIZED (
  SELECT id, COUNT(*) AS deg FROM (
    SELECT a AS id FROM tc_e UNION ALL SELECT b FROM tc_e
  ) GROUP BY id
),
tc_or AS MATERIALIZED (
  SELECT CASE WHEN x.deg <= y.deg THEN e.a ELSE e.b END AS u,
         CASE WHEN x.deg <= y.deg THEN e.b ELSE e.a END AS v
  FROM tc_e e JOIN tc_deg x ON x.id = e.a JOIN tc_deg y ON y.id = e.b
),
tc_tri AS MATERIALIZED (
  SELECT w1.u, w1.v AS v1, w2.v AS v2
  FROM tc_or w1 JOIN tc_or w2 ON w1.u = w2.u AND w1.v < w2.v
  WHERE EXISTS (SELECT 1 FROM tc_e WHERE a = w1.v AND b = w2.v)
),
tc AS (
  SELECT id, COUNT(*) AS triangles FROM (
    SELECT u AS id FROM tc_tri
    UNION ALL SELECT v1 FROM tc_tri
    UNION ALL SELECT v2 FROM tc_tri
  ) GROUP BY id
)"""


# G9: k-core decomposition — iterative peeling of sub-k-degree nodes to a
# fixpoint (Seidman 1983; the distributed formulation of Montresor et al.
# 2013 reduced to synchronous rounds). The k-core is the training-graph
# densification step: entities that survive are the ones embedded in a
# robustly connected neighborhood, not linked by one stray mention.
KCORE_K = 2
KCORE_ROUNDS = 8


def kcore(
    edges: DataFrame,
    k: int = KCORE_K,
    rounds: int = KCORE_ROUNDS,
    src: str = "subj",
    dst: str = "obj",
) -> DataFrame:
    """G9: (id, core_deg) — the nodes surviving ``rounds`` synchronous
    peels of degree < ``k`` over the undirected simple graph, with their
    degree inside the surviving subgraph. Reaching the fixpoint early
    short-circuits (a peel that removes nobody changes nothing), so the
    result equals the true k-core whenever it converges within the bound.

    100TB shape: the symmetric adjacency is built once, repartitioned by
    src and checkpointed; each round is one partial-agg degree count on
    the resident key, a drop-set that is usually tiny (peeling shaves the
    fringe) so the two anti-joins broadcast under AQE's runtime size
    check, and a re-checkpoint of the shrunk edge set. Per-round work is
    proportional to the surviving graph, which only shrinks; the
    empty-drop probe is the same single-job limit(1) the Bellman-Ford
    loop uses."""
    symd = _simple_graph(edges, src, dst, symmetric=True)
    probe = small_rows(symd, "graph_loop")
    if probe is not None:
        return _kcore_driver(edges.sparkSession, probe, _id_type(symd), k, rounds)
    sym = symd.repartition("a").localCheckpoint(eager=True)
    e = sym
    with graph_sized_shuffle(sym, sym.count()):
        for _ in range(rounds):
            drop = (
                e.groupBy("a")
                .agg(F.count("*").alias("deg"))
                .filter(F.col("deg") < k)
                .select(F.col("a").alias("id"))
                .localCheckpoint(eager=True)
            )
            if drop.limit(1).count() == 0:
                break
            e = (
                e.join(drop, e["a"] == drop["id"], "left_anti")
                .join(drop, e["b"] == drop["id"], "left_anti")
                .repartition("a")
                .localCheckpoint(eager=True)
            )
    return e.groupBy("a").agg(F.count("*").alias("core_deg")).select(
        F.col("a").alias("id"), "core_deg"
    )


def kcore_cte(
    edges_cte: str,
    k: int = KCORE_K,
    rounds: int = KCORE_ROUNDS,
    src: str = "subj",
    dst: str = "obj",
) -> str:
    """DuckDB oracle: the peels unrolled as MATERIALIZED CTEs kc0..kc{R}
    (each round references its predecessor three times — edge set plus two
    degree lookups — so plain CTEs would inline 3^R-fold, the same blowup
    the PageRank oracle hit). A round past the fixpoint is the identity,
    so unrolling the full bound equals the engine's early exit."""
    parts = [
        f"""kc0 AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT {src} AS a, {dst} AS b FROM {edges_cte} WHERE {src} <> {dst}
    UNION ALL
    SELECT {dst} AS a, {src} AS b FROM {edges_cte} WHERE {src} <> {dst}
  )
)"""
    ]
    for t in range(1, rounds + 1):
        p = f"kc{t - 1}"
        parts.append(
            f"""kc{t} AS MATERIALIZED (
  SELECT e.a, e.b FROM {p} e
  JOIN (SELECT a, COUNT(*) AS d FROM {p} GROUP BY a) da
    ON da.a = e.a AND da.d >= {k}
  JOIN (SELECT a, COUNT(*) AS d FROM {p} GROUP BY a) db
    ON db.a = e.b AND db.d >= {k}
)"""
        )
    parts.append(
        f"""kcore AS (
  SELECT a AS id, COUNT(*) AS core_deg FROM kc{rounds} GROUP BY a
)"""
    )
    return ",\n".join(parts)


# LP1: link prediction by common neighbors / Adamic-Adar — the KG
# completion step (Liben-Nowell & Kleinberg 2003; Adamic & Adar 2003):
# two entities sharing many neighbors but not yet linked are the missing
# edges a construction pipeline should propose. AA's 1/log(deg z) weight
# becomes the family's integer surrogate 1e6 div deg(z) (monotone: a
# promiscuous shared neighbor contributes less).
LP_DEG_CAP = 32
LP_MIN_COMMON = 2


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    deg_cap: int = LP_DEG_CAP,
) -> DataFrame:
    """LP1: (x, y, common, aa_ppm) — non-adjacent node pairs (x < y) of
    the undirected simple graph sharing ≥ ``LP_MIN_COMMON`` neighbors, with
    the common count and the integer Adamic-Adar score.

    Hub cap (mirrored in the oracle): wedges are only counted through
    middle nodes z of degree ≤ ``deg_cap`` — a corpus-wide hub z generates
    deg(z)² candidate pairs (the cartesian blow-up on one join key) while
    its AA contribution is the SMALLEST of any neighbor, so dropping hubs
    bounds any single key's fan-out at deg_cap² with negligible score
    loss. Shape: canonical edge distinct + degree agg + one z-keyed wedge
    self-join + one (x, y) partial agg + a broadcast-scale anti-join
    against the edge set."""
    e = _simple_graph(edges, src, dst).localCheckpoint(eager=True)
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).select(F.col("a").alias("z"), F.col("b").alias("n"))
    deg = sym.groupBy("z").agg(F.count("*").alias("degz"))
    mid = sym.join(deg, "z").filter(F.col("degz") <= deg_cap)
    w1 = mid.select("z", F.col("n").alias("x"), "degz")
    w2 = mid.select("z", F.col("n").alias("y"))
    cand = (
        w1.join(w2, "z")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common"),
            F.sum(F.expr("1000000 div degz")).cast("long").alias("aa_ppm"),
        )
        .filter(F.col("common") >= LP_MIN_COMMON)
    )
    return cand.join(
        e,
        (F.col("x") == F.col("a")) & (F.col("y") == F.col("b")),
        "left_anti",
    )


def link_prediction_cte(
    edges_cte: str,
    src: str = "src",
    dst: str = "dst",
    deg_cap: int = LP_DEG_CAP,
) -> str:
    """DuckDB oracle: the identical capped-wedge construction."""
    return f"""lp_e AS MATERIALIZED (
  SELECT DISTINCT LEAST({src}, {dst}) AS a, GREATEST({src}, {dst}) AS b
  FROM {edges_cte} WHERE {src} <> {dst}
),
lp_sym AS MATERIALIZED (
  SELECT a AS z, b AS n FROM lp_e UNION ALL SELECT b, a FROM lp_e
),
lp_deg AS (SELECT z, COUNT(*) AS degz FROM lp_sym GROUP BY z),
lp_mid AS MATERIALIZED (
  SELECT z, n, degz FROM lp_sym JOIN lp_deg USING (z)
  WHERE degz <= {deg_cap}
),
lp_cand AS (
  SELECT w1.n AS x, w2.n AS y, CAST(COUNT(*) AS BIGINT) AS common,
         CAST(SUM(1000000 // w1.degz) AS BIGINT) AS aa_ppm
  FROM lp_mid w1 JOIN lp_mid w2 ON w1.z = w2.z AND w1.n < w2.n
  GROUP BY 1, 2 HAVING COUNT(*) >= {LP_MIN_COMMON}
),
lp AS (
  SELECT x, y, common, aa_ppm FROM lp_cand c
  WHERE NOT EXISTS (SELECT 1 FROM lp_e WHERE a = c.x AND b = c.y)
)"""


# G10: synchronous label propagation (Raghavan et al. 2007) — community
# detection over the entity co-occurrence graph. Deterministic variant:
# every node starts labeled with its own id; each round it adopts the
# MODE of its neighbors' labels with ties broken by the smallest label
# (the classic async/random-order LPA is non-deterministic; synchronous
# min-tie-break is the standard reproducible formulation). Bounded
# rounds, like the reference's bounded traversals (SURVEY §2 G-family).
LPA_ROUNDS = 4


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """G10: (id, community) — the label each node holds after ``LPA_ROUNDS``
    synchronous LPA updates over the undirected simple graph.

    Scale shape (the CC/PageRank loop discipline): canonical edge distinct
    once, the symmetric adjacency repartitioned by the JOIN key (neighbor)
    and checkpointed ONCE so every round probes the same layout; each
    round is one n-keyed join + one (node, label) partial-agg shuffle +
    one node-keyed min-struct agg (the mode-with-min-tie-break collapses
    to MIN(struct(-count, label)) — no per-group window, no global sort);
    state is localCheckpoint-ed per round to truncate lineage. Label
    payloads are node ids, so a round's shuffle volume is O(E), never
    O(E · label-width-growth)."""
    e = _simple_graph(edges, src, dst)
    probe = small_rows(e, "graph_loop")
    if probe is not None:
        return _lpa_driver(edges.sparkSession, probe, _id_type(e))
    sym = (
        _simple_graph(edges, src, dst, symmetric=True)
        .toDF("node", "n")
        .repartition("n")
        .localCheckpoint(eager=True)
    )
    with graph_sized_shuffle(sym, sym.count()):
        state = sym.select(F.col("node").alias("id")).distinct().withColumn(
            "label", F.col("id")
        )
        for _ in range(LPA_ROUNDS):
            votes = (
                sym.join(state, sym["n"] == state["id"])
                .groupBy("node", "label")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            state = (
                votes.groupBy("node")
                .agg(
                    F.min(
                        F.struct((-F.col("c")).alias("negc"), F.col("label"))
                    ).alias("best")
                )
                .select(
                    F.col("node").alias("id"), F.col("best.label").alias("label")
                )
                .localCheckpoint(eager=True)
            )
    return state.select("id", F.col("label").alias("community"))


def label_propagation_cte(
    edges_cte: str,
    src: str = "src",
    dst: str = "dst",
) -> str:
    """DuckDB oracle: the identical synchronous rounds unrolled as
    MATERIALIZED CTEs (each round references the previous once, but the
    chain over a parquet-scan CTE still inline-blows-up un-materialized —
    the PageRank lesson). Mode + min-tie-break is the same
    ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, label) = 1 the engine's
    MIN(struct(-c, label)) encodes."""
    parts = [
        f"""lpa_e AS MATERIALIZED (
  SELECT DISTINCT LEAST({src}, {dst}) AS a, GREATEST({src}, {dst}) AS b
  FROM {edges_cte} WHERE {src} <> {dst}
),
lpa_sym AS MATERIALIZED (
  SELECT a AS node, b AS n FROM lpa_e UNION ALL SELECT b, a FROM lpa_e
),
lpa0 AS MATERIALIZED (SELECT DISTINCT node AS id, node AS label FROM lpa_sym)"""
    ]
    for t in range(1, LPA_ROUNDS + 1):
        parts.append(
            f"""lpa{t} AS MATERIALIZED (
  SELECT node AS id, label FROM (
    SELECT s.node, l.label, ROW_NUMBER() OVER (
        PARTITION BY s.node ORDER BY COUNT(*) DESC, l.label) AS rn
    FROM lpa_sym s JOIN lpa{t - 1} l ON s.n = l.id
    GROUP BY s.node, l.label
  ) WHERE rn = 1
)"""
        )
    parts.append(
        f"lpa AS (SELECT id, label AS community FROM lpa{LPA_ROUNDS})"
    )
    return ",\n".join(parts)


# G11: HITS hubs & authorities (Kleinberg 1999) — the natural centrality
# for the refers graph, which is BIPARTITE (url turns → resources): hubs
# are turns that point at many authoritative resources, authorities are
# resources pointed at by many good hubs. Integer-exact variant: L1
# normalization each half-round as x*SCALE div Σx (the float L2 norm
# could never cross-engine hash-match — the same reasoning as g6's ppm
# PageRank). Overflow headroom: raw*SCALE ≤ deg·SCALE² must fit int64 —
# safe to deg ~9·10⁶ at ppm scale.
HITS_ROUNDS = 4
HITS_SCALE = 1_000_000


def hits(
    edges: DataFrame,
) -> DataFrame:
    """G11: (id, hub, auth) after ``HITS_ROUNDS`` synchronous HITS updates:

        auth_raw(v) = Σ_{u→v} hub(u);   auth = auth_raw·SCALE div Σauth_raw
        hub_raw(u)  = Σ_{u→v} auth(v);  hub  = hub_raw·SCALE div Σhub_raw

    (zero normalizer ⇒ all-zero side, guarded identically in the oracle).

    Scale shape (the g6 loop discipline): distinct edges repartitioned by
    src and checkpointed ONCE; each half-round is one key-joined
    partial-agg shuffle; the L1 normalizer is a 1-row aggregate riding as
    a broadcast cross join — never a driver collect inside the loop;
    state localCheckpoints per round to truncate lineage."""
    ed = (
        edges.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .dropna()
        .distinct()
    )
    probe = small_rows(ed, "graph_loop")
    if probe is not None:
        return _hits_driver(edges.sparkSession, probe, _id_type(ed))
    e = ed.repartition("src").localCheckpoint(eager=True)
    with graph_sized_shuffle(e, e.count()):
        nodes = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        state = nodes.select(
            "id",
            F.lit(HITS_SCALE).cast("long").alias("hub"),
            F.lit(HITS_SCALE).cast("long").alias("auth"),
        )

        def _normalize(raw: DataFrame, col: str) -> DataFrame:
            tot = raw.agg(
                F.coalesce(F.sum("raw"), F.lit(0)).cast("long").alias("tot")
            )
            return (
                nodes.join(raw, "id", "left")
                .crossJoin(F.broadcast(tot))
                .select(
                    "id",
                    F.expr(
                        f"CASE WHEN tot > 0 THEN coalesce(raw, 0) * {HITS_SCALE} div tot"
                        " ELSE 0 END"
                    )
                    .cast("long")
                    .alias(col),
                )
            )

        for _ in range(HITS_ROUNDS):
            araw = (
                e.join(state.select(F.col("id").alias("src"), "hub"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum("hub").alias("raw"))
            )
            auth = _normalize(araw, "auth").localCheckpoint(eager=True)
            hraw = (
                e.join(auth.select(F.col("id").alias("dst"), "auth"), "dst")
                .groupBy(F.col("src").alias("id"))
                .agg(F.sum("auth").alias("raw"))
            )
            hub = _normalize(hraw, "hub")
            state = (
                hub.join(auth, "id")
                .select("id", "hub", "auth")
                .localCheckpoint(eager=True)
            )
    return state


def hits_cte(
    edges_cte: str,
) -> str:
    """DuckDB oracle: the identical half-rounds unrolled (MATERIALIZED —
    each round is referenced by scalar normalizer subqueries, the
    PageRank inline-blowup lesson)."""
    parts = [
        f"""h_e AS MATERIALIZED (
  SELECT DISTINCT subj AS src, obj AS dst FROM {edges_cte}
),
h_nodes AS MATERIALIZED (SELECT src AS id FROM h_e UNION SELECT dst FROM h_e),
hits0 AS MATERIALIZED (
  SELECT id, CAST({HITS_SCALE} AS BIGINT) AS hub, CAST({HITS_SCALE} AS BIGINT) AS auth
  FROM h_nodes
)"""
    ]
    for t in range(1, HITS_ROUNDS + 1):
        p = f"hits{t - 1}"
        parts.append(
            f"""a{t}raw AS MATERIALIZED (
  SELECT e.dst AS id, SUM(p.hub) AS raw
  FROM {p} p JOIN h_e e ON p.id = e.src GROUP BY e.dst
),
a{t} AS MATERIALIZED (
  SELECT n.id,
         CAST(CASE WHEN (SELECT COALESCE(SUM(raw), 0) FROM a{t}raw) > 0
              THEN COALESCE(r.raw, 0) * {HITS_SCALE}
                   // (SELECT SUM(raw) FROM a{t}raw)
              ELSE 0 END AS BIGINT) AS auth
  FROM h_nodes n LEFT JOIN a{t}raw r USING (id)
),
h{t}raw AS MATERIALIZED (
  SELECT e.src AS id, SUM(a.auth) AS raw
  FROM a{t} a JOIN h_e e ON a.id = e.dst GROUP BY e.src
),
hits{t} AS MATERIALIZED (
  SELECT n.id,
         CAST(CASE WHEN (SELECT COALESCE(SUM(raw), 0) FROM h{t}raw) > 0
              THEN COALESCE(r.raw, 0) * {HITS_SCALE}
                   // (SELECT SUM(raw) FROM h{t}raw)
              ELSE 0 END AS BIGINT) AS hub,
         a.auth
  FROM h_nodes n LEFT JOIN h{t}raw r USING (id) JOIN a{t} a USING (id)
)"""
        )
    parts.append(f"hits_out AS (SELECT id, hub, auth FROM hits{HITS_ROUNDS})")
    return ",\n".join(parts)


# G12: personalized PageRank (Page et al. 1999 §6; Jeh & Widom 2002) —
# relevance RELATIVE TO A SEED SET: teleport mass returns to the seeds
# instead of spreading uniformly, so ranks answer "how close is v to
# these seeds" — the KG-query primitive behind "entities related to X"
# that global PageRank (g6) cannot express. Same integer discipline:
# ppm scale, div arithmetic, dangling mass returned to the seeds.
PPR_SEEDS = 8


def personalized_pagerank(
    edges: DataFrame,
    n_seeds: int = PPR_SEEDS,
) -> DataFrame:
    """G12: (id, rank, is_seed) after ``PR_ITERS`` synchronous rounds of

        r'(v) = [v ∈ S]·(100-d)·scale·N div (100·|S|)
                + d·(in_sum(v) + [v ∈ S]·dang div |S|) div 100

    — the g6 recurrence with BOTH the teleport base and the dangling
    mass concentrated on the seed set S (total injected mass matches g6's
    N·base, so rank magnitudes stay comparable). Seeds are the ``n_seeds``
    lowest (md5(id), id)-ranked nodes — the corpus-size-independent
    deterministic sample idiom (ivf_centroids), identical in the oracle.
    With ``n_seeds`` ≥ N every node is a seed and the ranks are
    :func:`pagerank`'s; both run the one loop, :func:`_seeded_pagerank`."""
    return _seeded_pagerank(edges, PR_ITERS, n_seeds)


def personalized_pagerank_cte(
    edges_cte: str,
    n_seeds: int = PPR_SEEDS,
) -> str:
    """DuckDB oracle: g6's unrolled-round chain with the seed indicator
    and seed-concentrated teleport/dangling terms."""
    parts = [
        f"""ppr_e AS MATERIALIZED (SELECT DISTINCT subj AS src, obj AS dst FROM {edges_cte}),
ppr_nodes AS MATERIALIZED (SELECT src AS id FROM ppr_e UNION SELECT dst FROM ppr_e),
ppr_n AS MATERIALIZED (SELECT COUNT(*) AS n FROM ppr_nodes),
ppr_seeds AS MATERIALIZED (
  SELECT id, TRUE AS is_seed FROM ppr_nodes
  ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT {n_seeds}
),
ppr_k AS MATERIALIZED (SELECT COUNT(*) AS k FROM ppr_seeds),
ppr0 AS MATERIALIZED (
  SELECT n.id, CAST(COALESCE(d.c, 0) AS BIGINT) AS outdeg,
         COALESCE(s.is_seed, FALSE) AS is_seed,
         CAST({PR_SCALE} AS BIGINT) AS r
  FROM ppr_nodes n
  LEFT JOIN (SELECT src AS id, COUNT(*) AS c FROM ppr_e GROUP BY src) d USING (id)
  LEFT JOIN ppr_seeds s USING (id)
)"""
    ]
    base_expr = (
        f"({100 - PR_DAMPING_PCT} * {PR_SCALE} * (SELECT n FROM ppr_n))"
        f" // (100 * (SELECT k FROM ppr_k))"
    )
    for t in range(1, PR_ITERS + 1):
        p = f"ppr{t - 1}"
        parts.append(
            f"""ppr{t} AS MATERIALIZED (
  SELECT s.id, s.outdeg, s.is_seed,
         CAST(CASE WHEN s.is_seed THEN {base_expr} ELSE 0 END
           + {PR_DAMPING_PCT} * (COALESCE(c.in_sum, 0)
               + CASE WHEN s.is_seed THEN
                   (SELECT COALESCE(SUM(r), 0) FROM {p} WHERE outdeg = 0)
                     // (SELECT k FROM ppr_k)
                 ELSE 0 END) // 100 AS BIGINT) AS r
  FROM {p} s LEFT JOIN (
    SELECT e.dst AS id, SUM(p.r // p.outdeg) AS in_sum
    FROM {p} p JOIN ppr_e e ON p.id = e.src
    WHERE p.outdeg > 0 GROUP BY e.dst) c USING (id)
)"""
        )
    parts.append(
        f"ppr AS (SELECT id, r AS rank, is_seed FROM ppr{PR_ITERS})"
    )
    return ",\n".join(parts)


# G13: sampled harmonic centrality (Eppstein & Wang 2001 sampling scheme;
# Boldi & Vigna 2014 argue harmonic is the axiomatically sound closeness
# variant on disconnected graphs — unreachable pairs contribute 0, no
# infinite-distance special case). Exact all-pairs closeness is O(N·E);
# the published scale path is distances from a FIXED seed sample, which
# estimates every node's centrality with error independent of N. With the
# undirected closure d(s,v) = d(v,s), so one multi-source BFS from the
# sample scores the whole graph.
HC_SEEDS = 8
HC_ROUNDS = 4
HC_SCALE = 1_000_000


def harmonic_centrality(
    edges: DataFrame,
    n_seeds: int = HC_SEEDS,
) -> DataFrame:
    """G13: (id, hc, n_seen) — hc(v) = Σ_{s∈S, s≠v, d(s,v)≤HC_ROUNDS}
    ``HC_SCALE div d(s,v)`` over the undirected closure; S = the ``n_seeds``
    lowest (md5(id-text), id) nodes (the g12/ivf deterministic-sample
    idiom, hashed over the ORACLE-FACING hex of binary ids). n_seen = how
    many seeds reached v — the estimate's own support, reported so a
    downstream consumer can weight confidence. Integer div keeps the twin
    hash-matchable where float 1/d never would.

    100TB shape: the symmetric edge table is distinct-ed, repartitioned by
    src and checkpointed ONCE; each BFS round is one src-keyed join + one
    (seed, node) min partial-agg + an anti-join against the visited state
    (first visit IS the shortest distance — layered BFS), so state stays
    ≤ |S|·N rows with |S| fixed; empty-frontier short-circuit; per-round
    localCheckpoint truncates lineage (the g6 loop discipline)."""
    ed = _simple_graph(edges, "subj", "obj", symmetric=True).toDF("src", "dst")
    probe = small_rows(ed, "graph_loop")
    if probe is not None:
        return _harmonic_driver(
            edges.sparkSession, probe, _id_type(ed), n_seeds
        )
    e = ed.repartition("src").localCheckpoint(eager=True)
    with graph_sized_shuffle(e, e.count()):
        nodes = e.select(F.col("src").alias("id")).distinct()
        seeds = _md5_sample(nodes, n_seeds).select(F.col("id").alias("s"))
        state = seeds.select(
            "s", F.col("s").alias("id"), F.lit(0).cast("int").alias("dist")
        ).localCheckpoint(eager=True)
        frontier = state
        for _ in range(HC_ROUNDS):
            nxt = (
                frontier.join(e, frontier["id"] == e["src"])
                .select("s", F.col("dst").alias("id"),
                        (F.col("dist") + 1).alias("dist"))
                .groupBy("s", "id")
                .agg(F.min("dist").cast("int").alias("dist"))
            )
            frontier = (
                nxt.join(state.select("s", "id"), ["s", "id"], "left_anti")
                .localCheckpoint(eager=True)
            )
            if frontier.limit(1).count() == 0:
                break
            state = state.unionByName(frontier).localCheckpoint(eager=True)
    return (
        state.filter(F.col("id") != F.col("s"))
        .groupBy("id")
        .agg(
            F.sum(F.expr(f"{HC_SCALE} div dist")).cast("long").alias("hc"),
            F.count(F.lit(1)).cast("long").alias("n_seen"),
        )
    )


def harmonic_centrality_cte(
    edges_cte: str,
    n_seeds: int = HC_SEEDS,
) -> str:
    """DuckDB oracle: the bounded-walk closure from the same seed sample —
    min dist per (seed, node) over walks of ≤ ``HC_ROUNDS`` edges equals BFS
    distance (walks may revisit; MIN is unaffected). ``hc_e``/``hc_und``
    MATERIALIZED so the recursive term re-reads a computed table instead
    of re-deriving the edge pipeline per iteration (the dd7 lesson)."""
    return f"""hc AS (
  WITH RECURSIVE hc_und AS MATERIALIZED (
    SELECT subj AS src, obj AS dst FROM {edges_cte} WHERE subj <> obj
    UNION SELECT obj, subj FROM {edges_cte} WHERE subj <> obj
  ),
  hc_seeds AS MATERIALIZED (
    SELECT id FROM (SELECT DISTINCT src AS id FROM hc_und)
    ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT {n_seeds}
  ),
  hc_walk(s, id, dist) AS (
    SELECT id, id, 0 FROM hc_seeds
    UNION
    SELECT w.s, e.dst, w.dist + 1
    FROM hc_walk w JOIN hc_und e ON w.id = e.src
    WHERE w.dist < {HC_ROUNDS}
  ),
  hc_mind AS (
    SELECT s, id, MIN(dist) AS dist FROM hc_walk GROUP BY s, id
  )
  SELECT id, CAST(SUM({HC_SCALE} // dist) AS BIGINT) AS hc,
         CAST(COUNT(*) AS BIGINT) AS n_seen
  FROM hc_mind WHERE id <> s GROUP BY id
)"""


SCC_MAX_DEPTH = 16


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """G14: (id, scc_id, scc_size) — strongly connected components of the
    DIRECTED graph, the directed counterpart of g4's undirected CC and the
    generalization of g2's bounded cycle scan (a node lies on some directed
    cycle iff its SCC is non-trivial or it has a self-loop). scc_id = the
    lexicographically smallest member.

    Method: bounded transitive closure (frontier expansion, each round one
    src-keyed join + distinct + anti-join vs the accumulated closure) →
    mutual-reachability self-join (closure ⋈ reversed closure) → min-member
    per node. Exact for any graph whose directed reach stabilizes within
    ``SCC_MAX_DEPTH`` hops.

    100TB shape: closure state is O(N·reach) — this operator is for the
    BOUNDED-CARDINALITY derived graphs the cycle queries already run on
    (tool/label transition graphs: N = distinct tools, not corpus rows;
    the reference's cycle surface is exactly this graph,
    src/commands/queryCommand.ts:36-52). Entity-scale SCC would use
    FW-BW/coloring (Fleischer-Hendrickson-Pinar 2000) — out of scope, and
    the engine's entity graphs are bipartite (trivial SCCs) by
    construction. The shuffle is sized to the derived graph
    (graph_sized_shuffle), rounds short-circuit on an empty frontier, and
    every round's state is localCheckpoint-truncated (the g6 loop
    discipline)."""
    ed = edges.select(F.col(src).alias("s"), F.col(dst).alias("t")).dropna().distinct()
    probe = small_rows(ed, "scc")
    if probe is not None:
        return _scc_driver(edges.sparkSession, probe, _id_type(ed))
    e = ed.repartition("s").localCheckpoint(eager=True)
    with graph_sized_shuffle(e, e.count()):
        closure = e
        frontier = e
        for _ in range(SCC_MAX_DEPTH - 1):
            nxt = (
                frontier.join(
                    e.select(F.col("s").alias("t"), F.col("t").alias("t2")),
                    "t",
                )
                .select("s", F.col("t2").alias("t"))
                .distinct()
                .join(closure, ["s", "t"], "left_anti")
                .localCheckpoint(eager=True)
            )
            if nxt.limit(1).count() == 0:
                break
            closure = closure.unionByName(nxt).localCheckpoint(eager=True)
            frontier = nxt
        else:
            # loop exhausted the bound with a still-growing frontier: the
            # closure is NOT converged and components spanning longer paths
            # would silently split — warn loudly instead (ADVICE r6).
            import warnings

            warnings.warn(
                f"strongly_connected_components: directed reach did not "
                f"stabilize within max_depth={SCC_MAX_DEPTH}; components "
                "spanning longer paths may be split",
                RuntimeWarning,
                stacklevel=2,
            )
        nodes = (
            e.select(F.col("s").alias("id"))
            .unionByName(e.select(F.col("t").alias("id")))
            .distinct()
        )
        mutual = closure.join(
            closure.select(F.col("t").alias("s"), F.col("s").alias("t")),
            ["s", "t"],
        ).select(F.col("s").alias("id"), F.col("t").alias("o"))
        sccs = (
            nodes.join(mutual, "id", "left")
            .groupBy("id")
            .agg(F.min("o").alias("_mo"))
            .select(
                "id",
                F.when(
                    F.col("_mo").isNotNull() & (F.col("_mo") < F.col("id")),
                    F.col("_mo"),
                )
                .otherwise(F.col("id"))
                .alias("scc_id"),
            )
        )
        sizes = sccs.groupBy("scc_id").agg(
            F.count(F.lit(1)).cast("long").alias("scc_size")
        )
    return sccs.join(sizes, "scc_id").select("id", "scc_id", "scc_size")


def strongly_connected_components_cte(
    edges_cte: str,
    src: str = "src",
    dst: str = "dst",
) -> str:
    """DuckDB oracle: depth-bounded recursive closure (UNION-dedup on
    (s,t,d) terminates under cycles; DISTINCT s,t collapses it — the bfs_cte
    idiom), the same mutual self-join and min-member selection. The edge
    CTE is re-read as a plain reference — cheap here because the derived
    graph is small; a scaled twin would MATERIALIZE it (the dd7 lesson)."""
    return f"""scc AS (
  WITH RECURSIVE scc_e AS MATERIALIZED (
    SELECT DISTINCT {src} AS s, {dst} AS t FROM {edges_cte}
  ),
  scc_walk(s, t, d) AS (
    SELECT s, t, 1 FROM scc_e
    UNION
    SELECT w.s, e.t, w.d + 1
    FROM scc_walk w JOIN scc_e e ON w.t = e.s
    WHERE w.d < {SCC_MAX_DEPTH}
  ),
  scc_closure AS (SELECT DISTINCT s, t FROM scc_walk),
  scc_nodes AS (
    SELECT s AS id FROM scc_e UNION SELECT t FROM scc_e
  ),
  scc_mutual AS (
    SELECT c1.s AS id, c1.t AS o
    FROM scc_closure c1 JOIN scc_closure c2 ON c1.s = c2.t AND c1.t = c2.s
  ),
  scc_assign AS (
    SELECT n.id,
           CASE WHEN MIN(m.o) IS NOT NULL AND MIN(m.o) < n.id
                THEN MIN(m.o) ELSE n.id END AS scc_id
    FROM scc_nodes n LEFT JOIN scc_mutual m ON n.id = m.id
    GROUP BY n.id
  )
  SELECT a.id, a.scc_id, CAST(z.scc_size AS BIGINT) AS scc_size
  FROM scc_assign a JOIN (
    SELECT scc_id, COUNT(*) AS scc_size FROM scc_assign GROUP BY scc_id
  ) z USING (scc_id)
)"""
