"""Stage C — canonicalization: iterative hash-join connected components +
identity resolution.

Two kernels, both analogues of reference behaviors:

* ``connected_components`` — the north rule's "iterative hash-join connected
  components over the mention graph". The reference's transitive identity
  grouping (src/scanner/developerAnalyzer.ts:214-270 groups via shared
  normalized keys; cycle queries src/commands/queryCommand.ts:36-61 walk
  bounded paths) generalizes to min-label propagation: each vertex adopts the
  smallest id reachable through the edge set. Implementation is the standard
  Spark pattern: alternate join + min-aggregate rounds until fixpoint, with
  ``localCheckpoint`` every few rounds to truncate lineage (SURVEY.md §4.2).
  At 100TB scale each round is one shuffle keyed on vertex id; skew from hot
  vertices is handled by AQE skew-join splitting (hot entity = high-degree
  vertex, but the groupBy is on the *destination* vertex with map-side
  partial min, so hot keys partial-aggregate before the shuffle).

* ``resolve_identities`` — A4/W1 analogue (developerAnalyzer.ts:214-270 +
  mode-email selection 257-261): group mention surfaces by normalized key,
  pick the most frequent surface as display name (ties → lexicographically
  smallest — deterministic), collect alias sets, count mentions.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..functions.route import local_frame, small_rows


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Return (id, component) where component = min vertex id in the
    connected component (undirected closure of ``edges``).

    Two physical strategies behind one contract:

    * graph within the ``cc`` gate (``route.DRIVER_ROWS``, in undirected
      edges) → driver-side union-find. The deduped linking graph (distinct
      resources, not occurrences) is routinely orders of magnitude smaller
      than the corpus; an iterative shuffle loop on it is pure scheduler
      latency (measured: 6.3s of rounds for a 34-node graph vs ~0.3s
      collected).
      This mirrors Spark's own broadcast-vs-shuffle join threshold idea.
    * larger graphs → iterative min-label propagation: O(diameter) rounds
      of ``labels ⋈ edges`` + min-aggregate, labels checkpointed per round,
      partitioning sized to the graph. This is the 100TB path.
    """
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .dropna()  # an edge with a NULL endpoint is no edge, on both paths
    )
    # Probe + short-circuit in ONE job: if the graph fits, the probe rows
    # ARE the input to the driver union-find — no count job, no checkpoint,
    # no second collect (the iterative loop's per-job scheduler latency is
    # the whole cost at dim scale).
    probe = small_rows(und, "cc")
    if probe is not None:
        t = und.schema[0].dataType.simpleString()
        return _cc_driver_side(edges.sparkSession, probe, t)

    und = und.localCheckpoint(eager=True)  # cut upstream lineage: each round
    # must not recompute the whole extract+link pipeline (≡ materializing
    # the frontier, SURVEY.md §4.2)
    n_edges = und.count()

    # Size the loop's partitioning to the GRAPH, not the corpus: the deduped
    # linking graph is typically orders of magnitude smaller than the input,
    # and an iterative loop on corpus-sized partition counts pays
    # rounds x tasks of pure scheduling overhead. ~500k edges/partition.
    parts = max(1, min(n_edges // 500_000 + 1, und.rdd.getNumPartitions()))
    if parts < und.rdd.getNumPartitions():
        und = und.repartition(parts, "b").localCheckpoint(eager=True)
    labels = (
        und.select(F.col("a").alias("id")).distinct().withColumn("comp", F.col("id"))
    )

    # The loop's own shuffles (per-round groupBy + label join) must be
    # graph-sized too, not just the edge layout — otherwise each round
    # still schedules a corpus-sized task wave (graph.py's loop clamp).
    from .graph import graph_sized_shuffle

    with graph_sized_shuffle(und, n_edges):
        for _ in range(max_iter):
            # candidate label for a = min(comp of neighbors b); map-side
            # partial min tames hot-vertex skew before the shuffle.
            neighbor_min = (
                und.join(labels.withColumnRenamed("id", "b"), "b")
                .groupBy("a")
                .agg(F.min("comp").alias("ncomp"))
                .withColumnRenamed("a", "id")
            )
            new_labels = (
                labels.join(neighbor_min, "id", "left")
                .select(
                    "id",
                    F.least(
                        F.col("comp"), F.coalesce(F.col("ncomp"), F.col("comp"))
                    ).alias("comp"),
                    (F.col("ncomp") < F.col("comp")).alias("changed"),
                )
                .localCheckpoint(eager=True)  # labels are small (one row per
                # vertex); eager checkpoint keeps the loop's plan O(1)/round
            )
            changed = new_labels.filter(F.col("changed")).limit(1).count()
            labels = new_labels.select("id", "comp")
            if changed == 0:
                break
        else:
            # loop exhausted max_iter with labels still changing: the
            # component diameter exceeds the bound and the labels are NOT
            # converged — silent wrong answers are worse than loud failure.
            raise RuntimeError(
                f"connected_components did not converge within "
                f"max_iter={max_iter} (component diameter exceeds the "
                "bound); raise max_iter"
            )
    return labels


def _cc_driver_side(spark, und_rows: list, t: str) -> DataFrame:
    """Union-find on the collected (undirected, deduped) edge list — only
    called for graphs within the ``cc`` gate, so driver memory is bounded by
    contract. Component label = min member id (Python bytes/str ordering ==
    Spark binary/string ordering — unsigned lexicographic — and md5 hex is
    order-preserving w.r.t. the digest, so the representative matches the
    hex-side oracle's MIN). Vertices are derived from the collected rows —
    no extra Spark job."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    all_vertices: set = set()
    for a, b in und_rows:
        all_vertices.add(a)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    rows = [(v, find(v)) for v in sorted(all_vertices)]
    return local_frame(spark, rows, f"id {t}, comp {t}")


def connected_components_cte(edges_cte: str, materialized: bool = False) -> str:
    """DuckDB oracle: recursive-CTE transitive closure (small graphs only —
    the oracle runs at sf0.01; the engine path above is the scale path).

    ``materialized=True`` (the scaled-oracle path) pins ``cc`` to compute
    once — consumers like ``canonicalize_edges_cte`` reference it twice
    (subj + obj rewrites) and DuckDB inlines plain CTEs, re-running the
    whole transitive closure per reference. It also pins ``und``: the
    recursive term re-scans ``und`` every iteration, and when ``und`` is a
    plain CTE over an EXPENSIVE edge derivation (dd7's banded SimHash pair
    join at sf1.0), inlining re-runs that derivation per iteration — the
    r6 sweep's dd7 oracle burned its whole 600s budget this way while the
    materialized form finishes in minutes."""
    kw = "MATERIALIZED " if materialized else ""
    return f"""cc AS {kw}(
  WITH RECURSIVE und(a, b) AS {kw}(
    SELECT subj, obj FROM {edges_cte}
    UNION SELECT obj, subj FROM {edges_cte}
  ), reach(a, b) AS (
    SELECT a, a FROM und
    UNION SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
  )
  SELECT a AS id, MIN(b) AS comp FROM reach GROUP BY a
)"""


def canonicalize_edges(edges: DataFrame, components: DataFrame) -> DataFrame:
    """Rewrite triple endpoints to their canonical cluster representatives
    (the materialize-stage step of the north star: after CC, alias nodes
    collapse and their edges re-point at the canonical id).

    ``components``: (id, comp). Non-clustered ids pass through. Dedup after
    rewrite (two aliases' edges may collapse onto one canonical triple).
    Two broadcast-sized hash joins — the component map is a small dim
    (distinct linked nodes, not occurrences)."""
    cs = components.select(
        F.col("id").alias("subj"), F.col("comp").alias("_subj_c")
    )
    co = components.select(F.col("id").alias("obj"), F.col("comp").alias("_obj_c"))
    return (
        edges.join(F.broadcast(cs), "subj", "left")
        .join(F.broadcast(co), "obj", "left")
        .select(
            F.coalesce(F.col("_subj_c"), F.col("subj")).alias("subj"),
            F.col("pred"),
            F.coalesce(F.col("_obj_c"), F.col("obj")).alias("obj"),
        )
        .dropDuplicates(["subj", "pred", "obj"])
    )


def canonicalize_edges_cte(edges_cte: str) -> str:
    """DuckDB twin over an edge CTE (subj, pred, obj) + the ``cc`` CTE."""
    return f"""canonical_edges AS (
  SELECT DISTINCT COALESCE(cs.comp, e.subj) AS subj, e.pred,
                  COALESCE(co.comp, e.obj) AS obj
  FROM {edges_cte} e
  LEFT JOIN cc cs ON cs.id = e.subj
  LEFT JOIN cc co ON co.id = e.obj
)"""


IDENTITY_MTYPE = "entity"


def resolve_identities(mentions: DataFrame) -> DataFrame:
    """A4 analogue: canonical display identity per normalized key.

    Output: (norm, display, n_mentions, n_surfaces, aliases) where display is
    the modal surface (count desc, then lexicographic asc — deterministic).
    """
    surf_counts = (
        mentions.filter(F.col("mtype") == IDENTITY_MTYPE)
        .groupBy("norm", "surface")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("norm").orderBy(F.desc("cnt"), F.asc("surface"))
    ranked = surf_counts.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("norm")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("surface"))).alias("display"),
            F.sum("cnt").cast("long").alias("n_mentions"),
            F.count(F.lit(1)).cast("long").alias("n_surfaces"),
            F.array_sort(F.collect_set("surface")).alias("aliases"),
        )
    )


def resolve_identities_cte() -> str:
    return f"""identities AS (
  WITH sc AS (
    SELECT norm, surface, COUNT(*) AS cnt FROM mentions
    WHERE mtype = '{IDENTITY_MTYPE}' GROUP BY norm, surface
  ), ranked AS (
    SELECT *, row_number() OVER (PARTITION BY norm ORDER BY cnt DESC, surface ASC) AS rn
    FROM sc
  )
  SELECT norm,
         MAX(CASE WHEN rn = 1 THEN surface END) AS display,
         CAST(SUM(cnt) AS BIGINT) AS n_mentions,
         CAST(COUNT(*) AS BIGINT) AS n_surfaces,
         list_sort(list(DISTINCT surface)) AS aliases
  FROM ranked GROUP BY norm
)"""
