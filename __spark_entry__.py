"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the full KG-construction pipeline on sf0.001 and
returns the per-predicate edge summary (the analogue of the reference's scan
summary, src/index.ts:230-238). ``queries()`` exposes one entry per
implemented operator from SURVEY.md §2; ``oracle_sql()`` gives the matching
DuckDB statement over the driver's pre-registered parquet views.

The transcripts input (BASELINE.json input_hint shape) is synthesized
deterministically from the ``documents`` view with transforms expressible
identically in Spark and DuckDB — see
glasseenterprise_mcp_spark/sources/transcripts.py.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from glasseenterprise_mcp_spark import oracle as O
from glasseenterprise_mcp_spark.operators import analytics as A
from glasseenterprise_mcp_spark.operators import dedup as D
from glasseenterprise_mcp_spark.operators import graph as G
from glasseenterprise_mcp_spark.operators import similarity as S
from glasseenterprise_mcp_spark.operators import textstats as T
from glasseenterprise_mcp_spark.operators.canonicalize import (
    canonicalize_edges,
    connected_components,
    resolve_identities,
)
from glasseenterprise_mcp_spark.operators import lineage as LN
from glasseenterprise_mcp_spark.operators import stateful as ST
from glasseenterprise_mcp_spark.operators.extract import extract_mentions
from glasseenterprise_mcp_spark.operators.link import (
    calls_tool_edges,
    has_column_cte,
    has_column_edges,
    mentions_in_edges,
    refers_to_edges,
    replies_to_edges,
    span_containment_cte,
    span_containment_join,
)
from glasseenterprise_mcp_spark.operators.materialize import (
    build_edges,
    build_nodes,
    node_attrs_cte,
    versioned_readback_cte,
    versioned_upsert_readback,
)
from glasseenterprise_mcp_spark.pipeline import run_pipeline
from glasseenterprise_mcp_spark.sources.transcripts import derive_transcripts

SNAP = "test-snapshot"

ANN_QUERY_WHERE = "vec_id % 50 = 0"


def _hex_ids(df: DataFrame, *cols: str) -> DataFrame:
    """Oracle-facing projection: engine ids are BINARY(16) raw md5 digests
    (functions/ids.py); the DuckDB twin computes md5 hex strings. Convert on
    the final (dim-sized) projection only — lower(hex(id)) == md5 hex."""
    for c in cols:
        df = df.withColumn(c, F.lower(F.hex(F.col(c))))
    return df


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# Memoize the shared upstream DataFrames per (session, sf_dir): the driver
# runs ~37 queries back-to-back and most re-derive transcripts + re-extract
# mentions; caching turns that into one extraction per session.
_MEMO: dict = {}


def _t(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = (id(spark), "t", sf_dir)
    if k not in _MEMO:
        _MEMO[k] = derive_transcripts(spark, sf_dir).localCheckpoint(eager=True)
    return _MEMO[k]


def _m(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = (id(spark), "m", sf_dir)
    if k not in _MEMO:
        _MEMO[k] = extract_mentions(_t(spark, sf_dir)).localCheckpoint(eager=True)
    return _MEMO[k]


def _e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized 4-family triple table (g1/g1b/pipeline/canonical queries all
    read the same edge union; one cached build per session)."""
    k = (id(spark), "e", sf_dir)
    if k not in _MEMO:
        t = _t(spark, sf_dir)
        m = _m(spark, sf_dir)
        _MEMO[k] = build_edges(
            [
                mentions_in_edges(m).drop("subj_kind"),
                replies_to_edges(t, m),
                calls_tool_edges(t, m),
                refers_to_edges(m),
            ],
            SNAP,
        ).localCheckpoint(eager=True)
    return _MEMO[k]


def _sh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized shingle table (dd2/dd3/dd4/tx3 all start from the same
    shingling of documents; one cached build per session)."""
    k = (id(spark), "sh", sf_dir)
    if k not in _MEMO:
        _MEMO[k] = D.shingles(_docs(spark, sf_dir)).localCheckpoint(eager=True)
    return _MEMO[k]


def _embsig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized banded hyperplane-signature table (dd5 + sim2 both need the
    32 integer projections per vector; one cached pass feeds both — r3
    judge #5)."""
    k = (id(spark), "embsig", sf_dir)
    if k not in _MEMO:
        _MEMO[k] = S.signatures(_emb(spark, sf_dir)).localCheckpoint(eager=True)
    return _MEMO[k]


def _simpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized SimHash near-dup pair table (dd4b reports the pairs, dd7
    clusters them — one banded self-join feeds both, same sharing pattern
    as _embsig)."""
    k = (id(spark), "simpairs", sf_dir)
    if k not in _MEMO:
        _MEMO[k] = D.simhash_near_dups(_sh(spark, sf_dir)).localCheckpoint(eager=True)
    return _MEMO[k]


def _ivfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized refined IVF centroid table — sim3 (ivf_topk) and cur5
    (semdedup) run the identical deterministic-seed + 2-Lloyd-sweep chain;
    one shared C-row table per session replaces two chains of interpreted
    higher-order aggregation sweeps."""
    k = (id(spark), "ivfc", sf_dir)
    if k not in _MEMO:
        _MEMO[k] = S.refined_centroids(S.quantized(_emb(spark, sf_dir)))
    return _MEMO[k]


def _n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized node table (d_nodes/a2/a8/g1/g1b all read the same build)."""
    k = (id(spark), "n", sf_dir)
    if k not in _MEMO:
        _MEMO[k] = build_nodes(_t(spark, sf_dir), _m(spark, sf_dir), SNAP).localCheckpoint(eager=True)
    return _MEMO[k]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full pipeline at sf0.001 → per-predicate triple counts."""
    t = derive_transcripts(spark, "/root/testdata/sf0.001")
    res = run_pipeline(spark, t, sink=None, snapshot_version=SNAP)
    return res.edges.groupBy("pred").agg(F.count(F.lit(1)).cast("long").alias("n")).orderBy("pred")


# --------------------------------------------------------------------------
# queries: one entry per operator (SURVEY.md §2 ids in the names)
# --------------------------------------------------------------------------
def q_transcripts(spark, sf_dir):
    return _t(spark, sf_dir).select("conv_id", "turn_idx", "role", "text", "tool", "ts_epoch")


def q_mentions(spark, sf_dir):
    return _m(spark, sf_dir).select(
        "conv_id", "turn_idx", "mtype", "surface", "norm", "ord", "path", "method", "extra"
    )


def q_mentions_by_type(spark, sf_dir):
    return (
        _m(spark, sf_dir)
        .groupBy("mtype")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def q_mentions_in(spark, sf_dir):
    return _hex_ids(mentions_in_edges(_m(spark, sf_dir)), "subj", "obj")


def q_replies_to(spark, sf_dir):
    return _hex_ids(
        replies_to_edges(_t(spark, sf_dir), _m(spark, sf_dir)), "subj", "obj"
    )


def q_calls_tool(spark, sf_dir):
    return _hex_ids(
        calls_tool_edges(_t(spark, sf_dir), _m(spark, sf_dir)), "subj", "obj"
    )


def q_refers_to(spark, sf_dir):
    return _hex_ids(refers_to_edges(_m(spark, sf_dir)), "subj", "obj")


def q_connected_components(spark, sf_dir):
    e = refers_to_edges(_m(spark, sf_dir))
    return _hex_ids(
        connected_components(e.select("subj", "obj"), src="subj", dst="obj"),
        "id", "comp",
    )


def q_identity_resolution(spark, sf_dir):
    return resolve_identities(_m(spark, sf_dir)).select(
        "norm", "display", "n_mentions", "n_surfaces"
    )


def q_nodes(spark, sf_dir):
    return _hex_ids(
        _n(spark, sf_dir).select(
            "id", "type", "name", "norm", "first_conv", "first_turn"
        ),
        "id",
    )


def q_count_by_label(spark, sf_dir):
    return (
        _n(spark, sf_dir)
        .groupBy("type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


# --- graph layer ----------------------------------------------------------
def q_impact(spark, sf_dir):
    edges = _e(spark, sf_dir)
    nodes = _n(spark, sf_dir)
    seeds = nodes.filter(
        (F.col("type") == "entity") & (F.col("norm") == "hot_entity")
    ).select("id")
    return G.impact(edges, nodes, seeds, depth=2)


def q_tool_transitions(spark, sf_dir):
    return G.tool_transitions(_t(spark, sf_dir))


def q_tool_cycles(spark, sf_dir):
    return G.find_cycles(
        G.tool_transitions(_t(spark, sf_dir)), "from_tool", "to_tool", max_len=8
    )


def q_blast_radius(spark, sf_dir):
    return G.blast_radius(_m(spark, sf_dir))


# --- training-data ops -----------------------------------------------------
def q_exact_dedup(spark, sf_dir):
    return D.exact_dedup(_docs(spark, sf_dir))


def q_lsh_candidates(spark, sf_dir):
    return D.lsh_candidate_pairs(D.lsh_bands_fused(_sh(spark, sf_dir)))


def q_near_dup_jaccard(spark, sf_dir):
    sh = _sh(spark, sf_dir)
    pairs = D.lsh_candidate_pairs(D.lsh_bands_fused(sh))
    return D.jaccard_verify(pairs, sh)


def q_simhash(spark, sf_dir):
    return D.simhash(_sh(spark, sf_dir))


def q_simhash_near_dups(spark, sf_dir):
    """dd4b: SimHash near-dup pairs — banded candidates (lossless at
    hamming ≤ 3 by pigeonhole) + exact hamming verify."""
    return _simpairs(spark, sf_dir)


def q_embedding_near_dups(spark, sf_dir):
    return S.embedding_near_dup_pairs(
        _emb(spark, sf_dir), banded=_embsig(spark, sf_dir)
    )


def q_contamination(spark, sf_dir):
    """dd6: train/eval contamination check — distinct shared k-gram count
    between every train doc and the (broadcast) eval subset."""
    return D.contamination_pairs(_sh(spark, sf_dir))


def q_dup_clusters(spark, sf_dir):
    """dd7: duplicate CLUSTERS — the dedup endgame. Near-dup pairs are only
    half the job: transitively-linked docs (A~B, B~C) must collapse into
    one group with one canonical survivor. Composes the engine's own
    operators: SimHash banded pairs → iterative connected components →
    min-id canonical + cluster size. Only clustered docs appear (singletons
    need no decision)."""
    from glasseenterprise_mcp_spark.operators.canonicalize import (
        connected_components,
    )

    pairs = _simpairs(spark, sf_dir).select(
        F.col("a").alias("subj"), F.col("b").alias("obj")
    )
    comp = connected_components(pairs, src="subj", dst="obj")
    sizes = comp.groupBy("comp").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return comp.join(sizes, "comp").select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("comp").cast("long").alias("canonical_doc_id"),
        "cluster_size",
    )


def q_duplicate_spans(spark, sf_dir):
    """dd8: span-level exact-substring dedup (Lee et al. 2021 w-gram
    formulation) — maximal duplicated token spans INSIDE documents, the
    passages an exact-substring dedup pass would cut (doc-level dd1–dd7
    can't see boilerplate shared between otherwise-distinct docs)."""
    return D.duplicate_spans(D.positional_windows(_docs(spark, sf_dir)))


def q_repetition_stats(spark, sf_dir):
    """tx7: Gopher-style duplicate-bigram fraction per document — the
    intra-document repetition quality heuristic."""
    return T.repetition_stats(D.positional_windows(_docs(spark, sf_dir), w=2))


def q_dsir_selection(spark, sf_dir):
    """cur4: DSIR-style data selection (Xie et al. 2023) — top-k raw
    documents by hashed-bigram importance score against the lang='en'
    target subset, in exact ppm integers."""
    docs = _docs(spark, sf_dir)
    return T.dsir_selection(docs, D.positional_windows(docs, w=2))


def q_segment_dedup(spark, sf_dir):
    """dd9: C4-style segment-level keep-first dedup report — the text cut
    into aligned K-token segments, every corpus-wide repeat dropped with
    the globally-first occurrence as keeper (the keep/drop CALL per
    segment, where dd8 only reports duplicated regions)."""
    return D.segment_dedup_report(_docs(spark, sf_dir))


def q_charlm_quality(spark, sf_dir):
    """tx8: CCNet-style char-bigram LM quality scores against the
    corpus-trained bigram model — rare-transition counts and mean corpus
    frequency, integer-exact."""
    return T.charlm_quality(_docs(spark, sf_dir))


def q_bpe_merge_candidates(spark, sf_dir):
    """bpe1: tokenizer-training step — the first BPE merge-candidate
    table (top adjacent char pairs weighted by word frequency), computed
    over the vocabulary, not the corpus."""
    return T.bpe_merge_candidates(_docs(spark, sf_dir))


def q_mixture_weights(spark, sf_dir):
    """cur3: domain-mixture reweighting to a uniform source target —
    per-source sampling weights in ppm, integer-exact."""
    return T.mixture_weights(_docs(spark, sf_dir))


def q_bloom_semi_join(spark, sf_dir):
    """bf1: bloom-prefiltered semi join — events of users who ever signed
    up. The 2KiB bit array built from the key side rides the probe plan as
    a literal (map-side discard BEFORE the shuffle); exact verify join
    after, so the result is exactly the plain semi join the oracle runs."""
    from glasseenterprise_mcp_spark.functions.bloom import bloom_semi_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    keys = ev.filter(F.col("event_type") == "signup").select("user_id")
    result, _pruned = bloom_semi_join(ev, keys, "user_id")
    return result.select("event_id", "user_id", "event_type")


def q_zorder_key(spark, sf_dir):
    """zo1: Morton/Z-order layout key over (user_id, event time) — the
    write-path clustering pass behind OPTIMIZE ZORDER: 16-bit min-max
    quantization of both dims + the 32-term bit interleave, all integer
    column expressions (extremes ride a 1-row broadcast)."""
    from glasseenterprise_mcp_spark.operators.layout import zorder_key

    return zorder_key(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_temperature_mix(spark, sf_dir):
    """cur6: √-temperature mixture sampling (Rae 2021 / Arivazhagan 2019) —
    per-source keep rates ∝ n^(1/2)/n scaled so the most up-weighted source
    keeps 100%, integer-exact isqrt, realized through the deterministic
    hash gate whose survivors the oracle recounts."""
    return T.temperature_mix(_docs(spark, sf_dir))


def q_tfidf_keywords(spark, sf_dir):
    """tx9: per-document top-k salient terms by integer tf-idf (ppm idf
    surrogate — monotone in N/df, so the ranking is the tf-idf ranking),
    deterministic tie-break by term."""
    return T.tfidf_keywords(_docs(spark, sf_dir))


def q_pagerank(spark, sf_dir):
    """g6: integer-exact PageRank (5 synchronous rounds, 85% damping,
    ppm-scaled ranks, dangling mass redistributed) over the refers-to
    graph — the centrality the float formulation could never cross-engine
    hash-match."""
    e = refers_to_edges(_m(spark, sf_dir))
    return _hex_ids(G.pagerank(e.select("subj", "obj")), "id")


def q_shortest_paths(spark, sf_dir):
    """g7: bounded-hop minimum-cost paths (frontier-relaxation
    Bellman-Ford) over the refers graph, edge cost = 100 - linking
    confidence (a low-confidence link is an expensive hop); seeds = the
    1/16 of nodes whose id's first hex nibble is 0 — a deterministic,
    scale-stable seed rule expressible identically in both engines."""
    e = refers_to_edges(_m(spark, sf_dir)).select(
        "subj", "obj", F.expr("CAST(100 - confidence AS BIGINT)").alias("w")
    )
    nodes = (
        e.select(F.col("subj").alias("id"))
        .unionByName(e.select(F.col("obj").alias("id")))
        .distinct()
    )
    seeds = nodes.filter(F.lower(F.hex(F.col("id"))).startswith("0"))
    return _hex_ids(
        G.shortest_paths(e, seeds, src="subj", dst="obj"), "id"
    )


def q_triangle_counts(spark, sf_dir):
    """g8: per-node triangle counts over the entity CO-OCCURRENCE graph
    (j26's pair table — the refers graph is bipartite url→resource, so it
    provably contains no triangles) via degree-ordered orientation — each
    triangle enumerated once at its minimum-(deg, id) vertex, so a hot
    entity's wedge fan-out is sqrt(m)-bounded instead of deg^2."""
    pairs = A.cooccurrence_pairs(_m(spark, sf_dir), min_count=1).select("a", "b")
    return G.triangle_counts(pairs, src="a", dst="b")


def q_kcore(spark, sf_dir):
    """g9: 2-core of the entity co-occurrence graph by iterative peeling —
    the densification gate that keeps only entities embedded in a
    robustly connected neighborhood (a pendant chain peels away round by
    round, which a one-shot degree filter would miss; the acyclic refers
    graph has an empty 2-core by construction)."""
    pairs = A.cooccurrence_pairs(_m(spark, sf_dir), min_count=1).select("a", "b")
    return G.kcore(pairs, src="a", dst="b")


def q_fingerprints(spark, sf_dir):
    return T.fingerprints(_sh(spark, sf_dir))


def q_lang_scores(spark, sf_dir):
    return T.lang_scores(_docs(spark, sf_dir))


def q_token_stats(spark, sf_dir):
    return T.token_stats(_docs(spark, sf_dir))


def q_asof_join(spark, sf_dir):
    """ev3: temporal AS-OF join (latest view at-or-before each click per
    user) via the scalable union-and-carry window; oracle = DuckDB's
    NATIVE ASOF LEFT JOIN (independent implementation)."""
    return A.asof_join_events(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_hypertable_rollup(spark, sf_dir):
    """ev4: hierarchical hour→day→week continuous-aggregate rollup; the
    flat-from-raw oracle proves the reaggregation identity."""
    return A.hypertable_rollup(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_funnel(spark, sf_dir):
    """ev5: ordered view→click→purchase funnel per user (greedy-earliest
    anchors, strict ordering, 7-day horizon) — one user_id exchange."""
    return A.funnel_events(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_retention(spark, sf_dir):
    """ev6: weekly retention cohorts from a fixed integer week epoch."""
    return A.retention_cohorts(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_link_prediction(spark, sf_dir):
    """lp1: common-neighbor / integer Adamic-Adar link prediction over the
    entity co-occurrence graph — the KG-completion step proposing the
    missing edges; hub middles capped (deg ≤ 32, mirrored in the oracle)."""
    pairs = A.cooccurrence_pairs(_m(spark, sf_dir), min_count=1).select("a", "b")
    return G.link_prediction(pairs, src="a", dst="b")


def q_label_propagation(spark, sf_dir):
    """g10: synchronous label-propagation communities (Raghavan et al.
    2007; min-tie-break deterministic variant, 4 bounded rounds) over the
    entity co-occurrence graph."""
    pairs = A.cooccurrence_pairs(_m(spark, sf_dir), min_count=1).select("a", "b")
    return G.label_propagation(pairs, src="a", dst="b")


def q_hll_distinct(spark, sf_dir):
    """sk2: HyperLogLog registers + integer raw estimate per event_type
    (deterministic md5 substreams; exact count alongside)."""
    return A.hll_distinct(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_cms_heavy_hitters(spark, sf_dir):
    """sk3: Count-Min-sketch heavy hitters over the entity-mention stream
    (D=4 salted rows, W=512; est >= exact by construction)."""
    return A.cms_heavy_hitters(_m(spark, sf_dir))


def q_group_quantiles(spark, sf_dir):
    """qn1: EXACT per-group percentiles (p50/p90/p99 of value per
    event_type) by two-phase distributed rank selection — no group ever
    sorts on a single reducer."""
    return A.group_quantiles(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_harmonic_centrality(spark, sf_dir):
    """g13: sampled harmonic centrality (Eppstein-Wang 2001 / Boldi-Vigna
    2014) over the undirected refers graph — every node scored by
    sum(scale div d(seed, node)) from the deterministic 8-seed md5-rank
    sample; the closeness-family centrality the PageRank/HITS pair cannot
    express (it ranks by DISTANCE, not by link mass)."""
    e = refers_to_edges(_m(spark, sf_dir))
    return _hex_ids(G.harmonic_centrality(e.select("subj", "obj")), "id")


def q_scc(spark, sf_dir):
    """g14: strongly connected components of the directed tool-transition
    graph — the directed counterpart of g4's undirected CC and the
    closure-form generalization of g2's cycle scan (non-trivial SCC ⟺ on a
    directed cycle); scc_id = lexicographically smallest member, with the
    component size alongside."""
    return G.strongly_connected_components(
        G.tool_transitions(_t(spark, sf_dir)), "from_tool", "to_tool"
    )


def q_log_quantiles(spark, sf_dir):
    """sk4: DDSketch-style base-2 log-histogram quantiles (p50/p90/p99 of
    value per event_type) — the mergeable fixed-size sketch path to the
    same order statistic qn1 answers exactly; factor-2 error bound by
    construction."""
    return A.log_histogram_quantiles(
        spark.read.parquet(f"{sf_dir}/events.parquet")
    )


def q_attribution(spark, sf_dir):

    """ev7: last-touch conversion attribution (1-day lookback) via one
    ignore-nulls carry window — the backward complement of ev5's funnel."""
    return A.attribute_conversions(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_semdedup(spark, sf_dir):
    """cur5: SemDeDup (Abbas et al. 2023) — k-means cells via the sim3 IVF
    machinery, within-cell integer-cosine eviction, min-id keep rule."""
    return S.semdedup(_emb(spark, sf_dir), centroids=_ivfc(spark, sf_dir))


def q_cube_counts(spark, sf_dir):
    """a9: CUBE(mtype, role) mention counts + grouping mask — one Expand
    + partial agg, never 4 scans."""
    return A.cube_mention_counts(
        _m(spark, sf_dir).join(
            _t(spark, sf_dir).select("conv_id", "turn_idx", "role"),
            ["conv_id", "turn_idx"],
        )
    )


def q_session_overlaps(spark, sf_dir):
    """ev8: interval-overlap self-join over gap sessions via bucket
    decomposition (explode → bucket equi join → dedup → residual range
    predicate); the oracle is the INDEPENDENT naive range join."""
    return A.session_overlap_pairs(
        spark.read.parquet(f"{sf_dir}/events.parquet")
    )


def q_personalized_pagerank(spark, sf_dir):
    """g12: personalized PageRank — teleport + dangling mass concentrated
    on a deterministic 8-node seed set (md5-rank sample), integer-exact;
    the seed-relative relevance ranking g6's global PageRank can't
    express."""
    e = refers_to_edges(_m(spark, sf_dir))
    return _hex_ids(G.personalized_pagerank(e.select("subj", "obj")), "id")


def q_hits(spark, sf_dir):
    """g11: integer-exact HITS hubs/authorities (Kleinberg 1999; L1 ppm
    normalization, 4 synchronous rounds) over the bipartite refers graph
    — the centrality pair PageRank can't express there."""
    e = refers_to_edges(_m(spark, sf_dir))
    return _hex_ids(G.hits(e.select("subj", "obj")), "id")


def q_hopping_counts(spark, sf_dir):
    """w5: 1h/15min hopping event-time windows (generator expand + one
    partial agg, the streaming-ready sliding-window plan)."""
    return A.hopping_event_counts(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_pack_sequences(spark, sf_dir):
    """tx6: GPT-style sequence packing — global token-offset placement via
    a TWO-PHASE distributed prefix sum (range partition → per-partition
    totals → broadcast base offsets → intra-partition cumsum); oracle is
    the single global window, proving the decomposition exact."""
    return T.pack_sequences(_docs(spark, sf_dir))


def q_kmv_distinct(spark, sf_dir):
    """sk1: KMV distinct-count sketch per event_type (deterministic md5
    hash, salted two-phase k-minima merge, integer estimator) with the
    exact count alongside."""
    return A.kmv_distinct(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_redact_mentions(spark, sf_dir):
    """tx5: PII-style redaction report — every @-mention replaced by a
    placeholder; oracle checks the md5 of the full rewritten text."""
    return T.redact_mentions(_t(spark, sf_dir))


def q_stratified_sample(spark, sf_dir):
    """tx4: deterministic hash-gated stratified sampling (data mixing) —
    reproducible and monotone in the per-stratum rate."""
    return T.stratified_sample(_docs(spark, sf_dir))


def q_prepare_manifest(spark, sf_dir):
    """cur2: the composed training manifest — quality → near-dup →
    contamination → sampling precedence, packed placement over survivors;
    one oracle chains every gate's CTE twin."""
    return T.prepare_manifest(_docs(spark, sf_dir), _sh(spark, sf_dir))


def q_curate_corpus(spark, sf_dir):
    """cur1: end-to-end curation decision (quality gate → near-dup
    keep-first) with per-document keep/reason."""
    return T.curate_corpus(_docs(spark, sf_dir), _sh(spark, sf_dir))


def q_ann_brute(spark, sf_dir):
    return S.brute_force_topk(_emb(spark, sf_dir), F.expr(ANN_QUERY_WHERE))


def q_ann_lsh(spark, sf_dir):
    return S.lsh_topk(
        _emb(spark, sf_dir), F.expr(ANN_QUERY_WHERE), banded=_embsig(spark, sf_dir)
    )


def q_ann_ivf(spark, sf_dir):
    """sim3: IVF-partitioned ANN — sampled centroids, argmax-dot cell
    assignment, nprobe-cell probe, exact integer rerank."""
    return S.ivf_topk(
        _emb(spark, sf_dir), F.expr(ANN_QUERY_WHERE),
        centroids=_ivfc(spark, sf_dir),
    )


def q_ann_pq(spark, sf_dir):
    """sim4: product-quantization ANN (Jégou et al. 2011) — M per-subspace
    codebooks, corpus stored as M codes/vector, ADC lookup-table scoring,
    exact rerank of the shortlist."""
    return S.pq_topk(_emb(spark, sf_dir), F.expr(ANN_QUERY_WHERE))


# --- analytics (remaining join/agg/window coverage) ------------------------
def q_tiered_attribution(spark, sf_dir):
    return A.tiered_attribution(_t(spark, sf_dir), _m(spark, sf_dir))


def q_cooccurrence(spark, sf_dir):
    return A.cooccurrence_pairs(_m(spark, sf_dir))


def q_conv_shared(spark, sf_dir):
    return A.conv_shared_entities(_m(spark, sf_dir))


def q_entity_stats(spark, sf_dir):
    return A.entity_stats(_t(spark, sf_dir), _m(spark, sf_dir))


def q_sessionize(spark, sf_dir):
    return A.sessionize_events(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_top_entities(spark, sf_dir):
    return A.top_entities(_m(spark, sf_dir))


def q_new_entities(spark, sf_dir):
    return A.new_entities_second_half(_m(spark, sf_dir), _t(spark, sf_dir))


def q_tumbling_counts(spark, sf_dir):
    return A.tumbling_event_counts(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_queries_table(spark, sf_dir):
    import pyspark.sql.functions as FF

    m = _m(spark, sf_dir)
    return (
        m.filter(FF.col("mtype") == "table")
        .select("conv_id", "turn_idx", FF.split("norm", r"\.").getItem(0).alias("tbl"))
        .groupBy("tbl")
        .agg(
            FF.countDistinct("conv_id", "turn_idx").cast("long").alias("n_turns"),
            FF.count(FF.lit(1)).cast("long").alias("n_mentions"),
        )
    )


def q_all_triples(spark, sf_dir):
    """Full-pipeline triple set: the CORRECTNESS entry that mirrors the
    P/R target directly."""
    return _hex_ids(_e(spark, sf_dir).select("subj", "pred", "obj"), "subj", "obj")


def q_canonical_triples(spark, sf_dir):
    """Triples after CC canonicalization rewrites endpoints to cluster
    representatives (min id in component)."""
    m = _m(spark, sf_dir)
    e_refers = refers_to_edges(m)
    comps = connected_components(e_refers.select("subj", "obj"), "subj", "obj")
    return _hex_ids(canonicalize_edges(_e(spark, sf_dir), comps), "subj", "obj")


def q_mention_attrs(spark, sf_dir):
    from glasseenterprise_mcp_spark.operators.extract import enrich_mention_attrs

    return enrich_mention_attrs(_m(spark, sf_dir))


# --- round-2 additions: previously test-only / missing operators -----------
def q_span_containment(spark, sf_dir):
    """J2/J8/J11: span-nesting range join on the probe fixture subset
    (error spans wrapping @probe_ entities)."""
    m = _m(spark, sf_dir)
    probe = m.filter(
        ((F.col("mtype") == "error") & F.col("norm").startswith("e9 with "))
        | ((F.col("mtype") == "entity") & F.col("norm").startswith("probe_"))
    )
    return span_containment_join(probe)


def q_alias_identity(spark, sf_dir):
    """J23: disjunctive identity join (exact OR underscore-stripped norm)."""
    return A.entity_alias_match(_m(spark, sf_dir))


def q_node_attrs(spark, sf_dir):
    """A2 + §1.4: merged node attrs (multi-source), exploded to rows."""
    return _hex_ids(
        _n(spark, sf_dir).select("id", "type", F.explode("attrs").alias("k", "v")), "id"
    )


def q_secures_api(spark, sf_dir):
    """J17/N5: ant-pattern regex theta join, first-match-wins."""
    return LN.secures_api(_m(spark, sf_dir))


def q_lineage_triples(spark, sf_dir):
    """J9/J10: nested-lineage explode + chained registry joins."""
    return _hex_ids(LN.lineage_triples(_m(spark, sf_dir)), "subj", "obj")


def q_impact_nodes(spark, sf_dir):
    """G1b: touched node listing, top-50 per category, deterministic."""
    edges = _e(spark, sf_dir)
    nodes = _n(spark, sf_dir)
    seeds = nodes.filter(
        (F.col("type") == "entity") & (F.col("norm") == "hot_entity")
    ).select("id")
    return _hex_ids(G.impact_nodes(edges, nodes, seeds, depth=2), "id")


def q_stateful_scan(spark, sf_dir):
    """S6: group-carry stateful scan (code-fence state per conversation)."""
    return ST.stateful_block_scan(_t(spark, sf_dir))


# --- multimodal plumbing (deterministic fake-media table; codec stays a
# disclosed engine-only stub — these gate the schema/metadata/Arrow paths) --
def q_media_metadata(spark, sf_dir):
    from glasseenterprise_mcp_spark.operators.multimodal import synthesize_media

    return synthesize_media(_docs(spark, sf_dir)).drop("content")


def q_frame_plan(spark, sf_dir):
    from glasseenterprise_mcp_spark.operators.multimodal import (
        frame_sample,
        synthesize_media,
    )

    return frame_sample(synthesize_media(_docs(spark, sf_dir)))


def q_resize_plan(spark, sf_dir):
    from glasseenterprise_mcp_spark.operators.multimodal import (
        resize_plan,
        synthesize_media,
    )

    return resize_plan(synthesize_media(_docs(spark, sf_dir)))


def q_has_column(spark, sf_dir):
    """J15/J16: table → column edges parsed from structured tbl mentions."""
    return _hex_ids(has_column_edges(_m(spark, sf_dir)), "subj", "obj")


def q_direction_cascade(spark, sf_dir):
    """E6: ordered provided/consumed classifier cascade (arm index exposed
    so order sensitivity is oracle-checked)."""
    from glasseenterprise_mcp_spark.operators.extract import direction_cascade

    return direction_cascade(_t(spark, sf_dir), _m(spark, sf_dir))


def q_test_turns(spark, sf_dir):
    """E14: multi-pattern test-marker turn gate."""
    from glasseenterprise_mcp_spark.operators.extract import test_turn_flags

    return test_turn_flags(_t(spark, sf_dir))


def q_modifies(spark, sf_dir):
    """J25: multi-value explode + registry equi join (MODIFIED_FILE shape)."""
    from glasseenterprise_mcp_spark.operators.link import modifies_edges

    return _hex_ids(modifies_edges(_m(spark, sf_dir)), "subj", "obj")


def q_has_member(spark, sf_dir):
    """J27: role-column membership edges (HAS_MEMBER shape)."""
    from glasseenterprise_mcp_spark.operators.link import has_member_edges

    return _hex_ids(has_member_edges(_t(spark, sf_dir)), "subj", "obj")


def q_media_features(spark, sf_dir):
    from glasseenterprise_mcp_spark.operators.multimodal import (
        media_features_int,
        synthesize_media,
    )

    return media_features_int(synthesize_media(_docs(spark, sf_dir)))


def q_provides_api(spark, sf_dir):
    """J4: conversation provides-api resource edges (method via int-code min)."""
    from glasseenterprise_mcp_spark.operators.link import provides_api_edges

    return _hex_ids(provides_api_edges(_m(spark, sf_dir)), "subj", "obj")


def q_uses_config(spark, sf_dir):
    """J7: conversation uses-config edges with use counts."""
    from glasseenterprise_mcp_spark.operators.link import uses_config_edges

    return _hex_ids(uses_config_edges(_m(spark, sf_dir)), "subj", "obj")


def q_pluralize_match(spark, sf_dir):
    """J14: pluralize-key fallback join against the table catalog dim."""
    from glasseenterprise_mcp_spark.operators.link import pluralize_table_match

    return pluralize_table_match(_m(spark, sf_dir))


def q_contributes(spark, sf_dir):
    """J22: role-member contributes-to-entity stats edges."""
    return _hex_ids(
        A.contributes_edges(_t(spark, sf_dir), _m(spark, sf_dir)), "subj", "obj"
    )


def q_type_schemas(spark, sf_dir):
    """E9/E10: type-definition schemas — schema'd struct column flattened to
    per-field rows with declaration ordinality."""
    from glasseenterprise_mcp_spark.operators.extract import type_schemas

    return type_schemas(_t(spark, sf_dir))


def q_manifest_deps(spark, sf_dir):
    """S5/E12: schema-on-read structured-payload extraction — JSON manifest
    in the turn text parsed with from_json + exploded into typed
    per-dependency rows."""
    from glasseenterprise_mcp_spark.operators.extract import manifest_deps

    return manifest_deps(_t(spark, sf_dir))


def q_jpeg_check(spark, sf_dir):
    """mm10: REAL lossy codec (baseline JPEG, grayscale) — encode the
    closed-form image, decode it back, report header dims + a
    within-quant-tolerance boolean; the oracle expects TRUE everywhere, so
    any DCT/Huffman/stuffing bug fails the value hash."""
    from glasseenterprise_mcp_spark.operators.multimodal import (
        synthesize_and_check_jpeg,
    )

    return synthesize_and_check_jpeg(_docs(spark, sf_dir))


def q_xml_deps(spark, sf_dir):
    """S5 second format: XML-ish dependency declarations parsed by regex
    (the reference's pom.xml/csproj mechanism)."""
    from glasseenterprise_mcp_spark.operators.extract import xml_deps

    return xml_deps(_t(spark, sf_dir))


def q_clean_names(spark, sf_dir):
    """N9/N10: quote strip + identifier sanitize over raw quoted tokens."""
    from glasseenterprise_mcp_spark.operators.extract import clean_names

    return clean_names(_t(spark, sf_dir))


def q_used_by(spark, sf_dir):
    """J18: equi join + contains filter (security rule → same-conversation
    entities whose name contains the kind needle)."""
    from glasseenterprise_mcp_spark.operators.link import used_by_edges

    return _hex_ids(used_by_edges(_m(spark, sf_dir)), "subj", "obj")


def _router(spark, sf_dir):
    from glasseenterprise_mcp_spark.plans.query_router import QueryRouter

    k = (id(spark), "router", sf_dir)
    if k not in _MEMO:
        _MEMO[k] = QueryRouter(spark, _n(spark, sf_dir), _e(spark, sf_dir))
    return _MEMO[k]


def q_depends_on(spark, sf_dir):
    """J12: conversation → tool dependency edges with usage props."""
    from glasseenterprise_mcp_spark.operators.link import depends_on_edges

    return _hex_ids(depends_on_edges(_m(spark, sf_dir)), "subj", "obj")


def q_contains_turn(spark, sf_dir):
    """J24: conversation → turn containment edges."""
    from glasseenterprise_mcp_spark.operators.link import contains_turn_edges

    return _hex_ids(contains_turn_edges(_t(spark, sf_dir)), "subj", "obj")


def q_repo_api_rollup(spark, sf_dir):
    """J19: container-level API grouping join — the reference groups APIs
    by repoRoot & direction to emit REPO_PROVIDES_API / REPO_USES_API
    (relationshipBuilder.ts:462-502); here the E6 cascade's direction
    classification rolls up per (conversation, direction)."""
    from glasseenterprise_mcp_spark.operators.extract import direction_cascade

    dc = direction_cascade(_t(spark, sf_dir), _m(spark, sf_dir))
    return dc.groupBy("conv_id", "direction").agg(
        F.countDistinct("norm").cast("long").alias("n_apis"),
        F.count(F.lit(1)).cast("long").alias("n_mentions"),
    )


def q_routed_count_by_type(spark, sf_dir):
    """Q2: a routed NL template end-to-end (route → template → DataFrame),
    oracle-gated on its result — count-by-type with the default LIMIT."""
    routed = _router(spark, sf_dir).route("count nodes by type")
    assert routed.template == "count_by_type", routed.template
    return routed.df


def q_routed_fallback(spark, sf_dir):
    """Q3: the tokenized-fallback contains-search, routed end-to-end."""
    routed = _router(spark, sf_dir).route("hot_entity probe")
    assert routed.template == "fallback_search", routed.template
    return routed.df


def q_routed_impact(spark, sf_dir):
    """Q2/G1 routed end-to-end: an 'impact of turn …' prompt through the
    NL router's impact template against a recursive-BFS oracle (the one
    router template family that had no oracle-gated instance). Seed c0#3
    exists at every sf (conversations are c0..c<n/10>, 10 turns each)."""
    routed = _router(spark, sf_dir).route("impact of turn c0#3 depth 2")
    assert routed.template == "impact_of_turn", routed.template
    return routed.df


def q_versioned_readback(spark, sf_dir):
    """S8/S9: the versioned-sink read path EXECUTED — two GraphSink.upsert
    generations (v2 updates half the ids, adds others), then both versions
    read back from the persisted tables; oracle is the closed form of the
    two-INSERT…ON CONFLICT history."""
    return versioned_upsert_readback(_t(spark, sf_dir))


def q_ppm_decode(spark, sf_dir):
    """mm5: REAL codec round trip — numpy-encoded P6 PPM blobs parsed back
    by a real header+buffer decoder, reduced to integer channel sums; the
    oracle recomputes the sums from the closed-form pixel function."""
    from glasseenterprise_mcp_spark.operators.multimodal import (
        decode_ppm_features,
        synthesize_ppm_media,
    )

    return decode_ppm_features(synthesize_ppm_media(_docs(spark, sf_dir)))


def q_ppm_resize(spark, sf_dir):
    """mm6: decode + real nearest-neighbor resize to 8x8 + integer sums."""
    from glasseenterprise_mcp_spark.operators.multimodal import (
        resize_ppm_features,
        synthesize_ppm_media,
    )

    return resize_ppm_features(synthesize_ppm_media(_docs(spark, sf_dir)))


def q_image_near_dups(spark, sf_dir):
    """mm11: perceptual-hash (aHash) image near-duplicates — decode the
    real PPM blobs, 8x8 integer aHash as 4x16-bit bands, dd4's pigeonhole
    band join + exact hamming <= 3; the bridge from the multimodal decode
    path into the dedup family."""
    from glasseenterprise_mcp_spark.operators.multimodal import (
        image_near_dups,
        synthesize_ppm_media,
    )

    return image_near_dups(synthesize_ppm_media(_docs(spark, sf_dir)))


def q_png_decode(spark, sf_dir):
    """mm9: REAL compressed-codec round trip — stdlib-encoded PNG blobs
    (zlib deflate, filters cycling none/sub/up/average/paeth, verified
    CRCs) parsed back by a real chunk-walk + inflate + unfilter decoder,
    reduced to integer channel sums; the oracle recomputes the sums from
    the closed-form pixel function without seeing bytes."""
    from glasseenterprise_mcp_spark.operators.multimodal import (
        decode_png_features,
        synthesize_png_media,
    )

    return decode_png_features(synthesize_png_media(_docs(spark, sf_dir)))


def q_wav_decode(spark, sf_dir):
    """mm7: REAL audio codec round trip — PCM16 WAV blobs (canonical RIFF
    header) parsed by a real struct+frombuffer decoder, reduced to integer
    sample stats; the oracle recomputes them from the closed-form sample
    function."""
    from glasseenterprise_mcp_spark.operators.multimodal import (
        decode_wav_features,
        synthesize_wav_media,
    )

    return decode_wav_features(synthesize_wav_media(_docs(spark, sf_dir)))


def q_y4m_frames(spark, sf_dir):
    """mm8: REAL video codec round trip — Y4M (YUV4MPEG2) blobs parsed by
    a real header+FRAME-marker decoder, every-2nd-frame sampling EXECUTED
    on the decoded planes, integer plane sums oracle-recomputed from the
    closed-form pixel function."""
    from glasseenterprise_mcp_spark.operators.multimodal import (
        decode_y4m_frame_samples,
        synthesize_y4m_media,
    )

    return decode_y4m_frame_samples(synthesize_y4m_media(_docs(spark, sf_dir)))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDERING CONTRACT: the driver's correctness artifact records only the
    # FIRST 50 entries (registration order). The first 50 below are exactly
    # one dedicated oracle gate per SURVEY.md §2 row, so the artifact of
    # record covers every §2 row; plumbing variants (second a8/w4 forms)
    # and the LLM-data-pipeline family (dd/tx/cur/sim/mm) follow — those
    # stay oracle-gated through the full-sweep replay test
    # (tests/test_driver_contract.py runs ALL entries).
    return {
        # --- sources / scan (S1-S6) ---
        "s1_transcripts_scan": q_transcripts,
        "s5_manifest_deps": q_manifest_deps,
        "s6_stateful_scan": q_stateful_scan,
        # --- extraction (E1-E14, N9/N10) ---
        "e1_extract_mentions": q_mentions,
        "e6_direction_cascade": q_direction_cascade,
        "e8_mention_attrs": q_mention_attrs,
        "e9_type_schemas": q_type_schemas,
        "e14_test_turns": q_test_turns,
        "n9_clean_names": q_clean_names,
        # --- joins / linking (J1-J27) ---
        "j1_mentions_in": q_mentions_in,
        "j2_span_containment": q_span_containment,
        "j4_provides_api": q_provides_api,
        "j5_calls_tool": q_calls_tool,
        "j6_queries_table": q_queries_table,
        "j7_uses_config": q_uses_config,
        "j8_tiered_attribution": q_tiered_attribution,
        "j9_lineage_triples": q_lineage_triples,
        "j12_depends_on": q_depends_on,
        "j13_conv_shared_entities": q_conv_shared,
        "j14_pluralize_match": q_pluralize_match,
        "j15_has_column": q_has_column,
        "j17_secures_api": q_secures_api,
        "j18_used_by": q_used_by,
        "j19_repo_api_rollup": q_repo_api_rollup,
        "j20_refers_to_tiered": q_refers_to,
        "j22_contributes": q_contributes,
        "j23_alias_identity": q_alias_identity,
        "j24_contains_turn": q_contains_turn,
        "j25_modifies": q_modifies,
        "j26_cooccurrence_pairs": q_cooccurrence,
        "j27_has_member": q_has_member,
        # --- windows / aggregation / set ops (W, A, U, L) ---
        "w4_replies_to": q_replies_to,
        "a2_node_attrs": q_node_attrs,
        "a4_identity_resolution": q_identity_resolution,
        "a5_entity_stats": q_entity_stats,
        "a8_count_by_label": q_count_by_label,
        "u5_new_entities": q_new_entities,
        "w1_top_entities": q_top_entities,
        # --- graph algorithms (G1-G5) ---
        "g1_impact": q_impact,
        "g1b_impact_nodes": q_impact_nodes,
        "g2_tool_cycles": q_tool_cycles,
        "g4_connected_components": q_connected_components,
        "g4b_canonical_triples": q_canonical_triples,
        "g5_blast_radius": q_blast_radius,
        # --- materialize / pipeline (S8-S12, U1, A1) ---
        "d_nodes_materialize": q_nodes,
        "pipeline_all_triples": q_all_triples,
        "s8_versioned_readback": q_versioned_readback,
        # --- query routing (Q1-Q4) ---
        "q2_routed_count_by_type": q_routed_count_by_type,
        "q3_routed_fallback": q_routed_fallback,
        "q4_routed_impact": q_routed_impact,
        # ---- entry 51+: plumbing variants + LLM-data-pipeline family ----
        # (ev1/ev2 moved below in r5 to make window room for the S8 sink
        # gate and the routed-impact gate; they stay oracle-gated via the
        # full-sweep replay test)
        "ev1_sessionize": q_sessionize,
        "ev2_tumbling_counts": q_tumbling_counts,
        "ev3_asof_join": q_asof_join,
        "ev4_hypertable_rollup": q_hypertable_rollup,
        "ev5_funnel": q_funnel,
        "ev7_attribution": q_attribution,
        "g10_label_propagation": q_label_propagation,
        "g11_hits": q_hits,
        "g12_personalized_pagerank": q_personalized_pagerank,
        "g13_harmonic_centrality": q_harmonic_centrality,
        "g14_scc": q_scc,
        "ev8_session_overlaps": q_session_overlaps,
        "a9_cube_counts": q_cube_counts,
        "w5_hopping_counts": q_hopping_counts,
        "sk2_hll_distinct": q_hll_distinct,
        "sk3_cms_heavy_hitters": q_cms_heavy_hitters,
        "qn1_group_quantiles": q_group_quantiles,
        "sk4_log_quantiles": q_log_quantiles,
        "cur5_semdedup": q_semdedup,
        "ev6_retention": q_retention,
        "lp1_link_prediction": q_link_prediction,
        "sk1_kmv_distinct": q_kmv_distinct,
        "tx6_pack_sequences": q_pack_sequences,
        "w4_tool_transitions": q_tool_transitions,
        "a8_mentions_by_type": q_mentions_by_type,
        "dd1_exact_dedup": q_exact_dedup,
        "dd2_lsh_candidates": q_lsh_candidates,
        "dd3_near_dup_jaccard": q_near_dup_jaccard,
        "dd4_simhash": q_simhash,
        "dd4b_simhash_near_dups": q_simhash_near_dups,
        "dd5_embedding_near_dups": q_embedding_near_dups,
        "dd6_contamination": q_contamination,
        "dd7_dup_clusters": q_dup_clusters,
        "dd8_duplicate_spans": q_duplicate_spans,
        "dd9_segment_dedup": q_segment_dedup,
        "tx1_lang_scores": q_lang_scores,
        "tx2_token_stats": q_token_stats,
        "tx3_fingerprints": q_fingerprints,
        "tx4_stratified_sample": q_stratified_sample,
        "tx7_repetition_stats": q_repetition_stats,
        "tx8_charlm_quality": q_charlm_quality,
        "tx5_redact_mentions": q_redact_mentions,
        "bpe1_merge_candidates": q_bpe_merge_candidates,
        "cur1_corpus_curation": q_curate_corpus,
        "cur2_prepare_manifest": q_prepare_manifest,
        "cur3_mixture_weights": q_mixture_weights,
        "cur4_dsir_selection": q_dsir_selection,
        "cur6_temperature_mix": q_temperature_mix,
        "zo1_zorder_key": q_zorder_key,
        "bf1_bloom_semi_join": q_bloom_semi_join,
        "tx9_tfidf_keywords": q_tfidf_keywords,
        "g6_pagerank": q_pagerank,
        "g7_shortest_paths": q_shortest_paths,
        "g8_triangle_counts": q_triangle_counts,
        "g9_kcore": q_kcore,
        "sim1_ann_bruteforce": q_ann_brute,
        "sim2_ann_lsh": q_ann_lsh,
        "sim3_ann_ivf": q_ann_ivf,
        "sim4_ann_pq": q_ann_pq,
        "mm1_media_metadata": q_media_metadata,
        "mm2_frame_plan": q_frame_plan,
        "mm3_resize_plan": q_resize_plan,
        "mm4_media_features": q_media_features,
        "mm5_ppm_decode": q_ppm_decode,
        "mm6_ppm_resize": q_ppm_resize,
        "mm7_wav_decode": q_wav_decode,
        "mm8_y4m_frames": q_y4m_frames,
        "mm9_png_decode": q_png_decode,
        "mm10_jpeg_check": q_jpeg_check,
        "mm11_image_near_dups": q_image_near_dups,
        "s5b_xml_deps": q_xml_deps,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "s1_transcripts_scan": O.oracle(
            "SELECT conv_id, turn_idx, role, text, tool, ts_epoch FROM transcripts"
        ),
        "e1_extract_mentions": O.oracle(
            "SELECT conv_id, turn_idx, mtype, surface, norm, ord, path, method, extra "
            "FROM mentions"
        ),
        "a8_mentions_by_type": O.oracle(
            "SELECT mtype, CAST(COUNT(*) AS BIGINT) AS n FROM mentions GROUP BY mtype"
        ),
        "j1_mentions_in": O.oracle(
            "SELECT subj, pred, obj, subj_kind FROM mentions_in", O.mentions_in_cte()
        ),
        "w4_replies_to": O.oracle(
            "SELECT subj, pred, obj, mode FROM replies_to", O.replies_to_cte()
        ),
        "j5_calls_tool": O.oracle(
            "SELECT subj, pred, obj, via FROM calls_tool", O.calls_tool_cte()
        ),
        "j20_refers_to_tiered": O.oracle(
            "SELECT subj, pred, obj, confidence, tier, method FROM refers_to",
            O.refers_to_cte(),
        ),
        "g4_connected_components": O.oracle(
            "SELECT id, comp FROM cc",
            O.refers_to_cte(),
            O.connected_components_cte("refers_to"),
        ),
        "a4_identity_resolution": O.oracle(
            "SELECT norm, display, n_mentions, n_surfaces FROM identities",
            O.resolve_identities_cte(),
        ),
        "d_nodes_materialize": O.oracle(
            "SELECT id, type, name, norm, first_conv, first_turn FROM nodes",
            O.nodes_cte(),
        ),
        "a8_count_by_label": O.oracle(
            "SELECT type, CAST(COUNT(*) AS BIGINT) AS n FROM nodes GROUP BY type",
            O.nodes_cte(),
        ),
        "g1_impact": O.oracle(
            "SELECT n.type, CAST(COUNT(*) AS BIGINT) AS n, CAST(MIN(b.dist) AS INT) AS min_dist "
            "FROM bfs b JOIN nodes n USING (id) GROUP BY n.type",
            O.mentions_in_cte(),
            O.replies_to_cte(),
            O.calls_tool_cte(),
            O.refers_to_cte(),
            """all_edges AS (
  SELECT subj, obj FROM mentions_in
  UNION ALL SELECT subj, obj FROM replies_to
  UNION ALL SELECT subj, obj FROM calls_tool
  UNION ALL SELECT subj, obj FROM refers_to
)""",
            O.nodes_cte(),
            G.bfs_cte(2, "type = 'entity' AND norm = 'hot_entity'"),
        ),
        "w4_tool_transitions": O.oracle(
            "SELECT from_tool, to_tool, weight FROM tool_transitions",
            G.tool_transitions_cte(),
        ),
        "g2_tool_cycles": O.oracle(
            "SELECT start, cycle_len FROM cycles",
            G.tool_transitions_cte(),
            G.find_cycles_cte("tool_transitions", "from_tool", "to_tool", 8),
        ),
        "g5_blast_radius": O.oracle(
            "SELECT res_norm, n_convs, n_turns FROM blast", G.blast_radius_cte()
        ),
        "dd1_exact_dedup": D.exact_dedup_sql(),
        "dd2_lsh_candidates": "WITH "
        + ",\n".join([D.shingles_cte(), D.minhash_cte(), D.lsh_bands_cte(), D.lsh_candidates_cte()])
        + "\nSELECT a, b FROM candidates",
        "dd3_near_dup_jaccard": "WITH "
        + ",\n".join(
            [
                D.shingles_cte(),
                D.minhash_cte(),
                D.lsh_bands_cte(),
                D.lsh_candidates_cte(),
                D.jaccard_verify_cte(),
            ]
        )
        + "\nSELECT a, b, inter, union_n, jaccard_pct FROM jaccard",
        "dd4_simhash": "WITH "
        + ",\n".join([D.shingles_cte(), D.simhash_cte()])
        + "\nSELECT doc_id, simhash FROM simhash",
        "dd4b_simhash_near_dups": "WITH "
        + ",\n".join(
            [D.shingles_cte(), D.simhash_cte(), D.simhash_near_dups_cte()]
        )
        + "\nSELECT a, b, hamming FROM simhash_pairs",
        "dd5_embedding_near_dups": S.embedding_near_dup_pairs_sql(),
        "dd6_contamination": "WITH "
        + ",\n".join([D.shingles_cte(), D.contamination_cte()])
        + "\nSELECT train_doc_id, eval_doc_id, n_shared FROM contamination",
        "dd7_dup_clusters": "WITH "
        + ",\n".join(
            [
                D.shingles_cte(),
                D.simhash_cte(),
                D.simhash_near_dups_cte(),
                "dup_edges AS (SELECT a AS subj, b AS obj FROM simhash_pairs)",
                __import__(
                    "glasseenterprise_mcp_spark.operators.canonicalize",
                    fromlist=["x"],
                ).connected_components_cte("dup_edges"),
                "sizes AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS cluster_size"
                " FROM cc GROUP BY comp)",
            ]
        )
        + "\nSELECT CAST(cc.id AS BIGINT) AS doc_id,"
        " CAST(cc.comp AS BIGINT) AS canonical_doc_id, sizes.cluster_size"
        " FROM cc JOIN sizes USING (comp)",
        "dd8_duplicate_spans": "WITH "
        + ",\n".join([D.positional_windows_cte(), D.duplicate_spans_cte()])
        + "\nSELECT doc_id, span_start, span_end, span_tokens FROM dup_spans",
        "tx7_repetition_stats": "WITH "
        + D.positional_windows_cte(2)
        + "\n"
        + T.repetition_stats_sql(),
        "cur4_dsir_selection": "WITH "
        + D.positional_windows_cte(2)
        + ","
        + T.dsir_selection_sql(),
        "dd9_segment_dedup": "WITH "
        + D.segment_dedup_cte()
        + "\nSELECT doc_id, n_segments, kept_segments, dropped_tokens"
        " FROM seg_report",
        "tx8_charlm_quality": T.charlm_quality_sql(),
        "bpe1_merge_candidates": T.bpe_merge_candidates_sql(),
        "cur3_mixture_weights": T.mixture_weights_sql(),
        "cur6_temperature_mix": T.temperature_mix_sql(),
        "zo1_zorder_key": __import__(
            "glasseenterprise_mcp_spark.operators.layout", fromlist=["x"]
        ).zorder_key_sql(),
        "bf1_bloom_semi_join": """
SELECT event_id, CAST(user_id AS BIGINT) AS user_id, event_type
FROM events
WHERE user_id IN (SELECT user_id FROM events WHERE event_type = 'signup')""",
        "tx9_tfidf_keywords": T.tfidf_keywords_sql(),
        "g6_pagerank": O.oracle(
            f"SELECT id, rank FROM (SELECT id, r AS rank FROM pr{G.PR_ITERS})",
            O.refers_to_cte(),
            G.pagerank_cte("refers_to"),
        ),
        "g7_shortest_paths": O.oracle(
            "SELECT id, cost FROM sp",
            O.refers_to_cte(),
            G.shortest_paths_cte(
                "refers_to",
                "id LIKE '0%'",
                src="subj",
                dst="obj",
                w_expr="100 - confidence",
            ),
        ),
        "g8_triangle_counts": O.oracle(
            "SELECT id, triangles FROM tc",
            A.cooccurrence_cte(min_count=1),
            G.triangle_counts_cte("cooccur", src="a", dst="b"),
        ),
        "g9_kcore": O.oracle(
            "SELECT id, core_deg FROM kcore",
            A.cooccurrence_cte(min_count=1),
            G.kcore_cte("cooccur", src="a", dst="b"),
        ),
        "tx1_lang_scores": T.lang_scores_sql(),
        "tx2_token_stats": T.token_stats_sql(),
        "tx3_fingerprints": "WITH "
        + ",\n".join([D.shingles_cte(), T.fingerprints_cte()])
        + "\nSELECT doc_id, fingerprint FROM fingerprints",
        "tx4_stratified_sample": T.stratified_sample_sql(),
        "tx5_redact_mentions": O.oracle(
            "SELECT conv_id, turn_idx, n_redactions, redacted_md5 FROM redacted",
            T.redact_mentions_cte(),
        ),
        "cur1_corpus_curation": "WITH "
        + ",\n".join([D.shingles_cte(), T.fingerprints_cte(), T.curate_corpus_cte()])
        + "\nSELECT doc_id, keep, reason FROM curated",
        "cur2_prepare_manifest": "WITH "
        + ",\n".join(
            [
                D.shingles_cte(),
                T.fingerprints_cte(),
                T.curate_corpus_cte(),
                D.contamination_cte(),
                T.prepare_manifest_sql(),
            ]
        )
        + "\nSELECT doc_id, status, start_tok, first_bin FROM manifest",
        "sim1_ann_bruteforce": S.brute_force_topk_sql(ANN_QUERY_WHERE),
        "sim2_ann_lsh": S.lsh_topk_sql(ANN_QUERY_WHERE),
        "sim3_ann_ivf": S.ivf_topk_sql(ANN_QUERY_WHERE),
        "sim4_ann_pq": S.pq_topk_sql(ANN_QUERY_WHERE),
        "j8_tiered_attribution": O.oracle(
            "SELECT norm, tool, tier, n FROM attribution", A.tiered_attribution_cte()
        ),
        "j26_cooccurrence_pairs": O.oracle(
            "SELECT a, b, n_turns FROM cooccur", A.cooccurrence_cte()
        ),
        "j13_conv_shared_entities": O.oracle(
            "SELECT conv_a, conv_b, shared_count, sample FROM conv_pairs",
            A.conv_shared_entities_cte(),
        ),
        "a5_entity_stats": O.oracle(
            "SELECT norm, n_mentions, n_convs, first_ts, last_ts, top_roles FROM entity_stats",
            A.entity_stats_cte(),
        ),
        "ev1_sessionize": A.sessionize_events_sql(),
        "w1_top_entities": O.oracle(
            "SELECT rank, norm, n FROM top_entities", A.top_entities_cte()
        ),
        "u5_new_entities": O.oracle(
            "SELECT norm FROM new_entities", A.new_entities_cte()
        ),
        "pipeline_all_triples": O.oracle(
            "SELECT subj, pred, obj FROM all_edges",
            O.mentions_in_cte(),
            O.replies_to_cte(),
            O.calls_tool_cte(),
            O.refers_to_cte(),
            """all_edges AS (
  SELECT subj, pred, obj FROM mentions_in
  UNION ALL SELECT subj, pred, obj FROM replies_to
  UNION ALL SELECT subj, pred, obj FROM calls_tool
  UNION ALL SELECT subj, pred, obj FROM refers_to
)""",
        ),
        "g4b_canonical_triples": O.oracle(
            "SELECT subj, pred, obj FROM canonical_edges",
            O.mentions_in_cte(),
            O.replies_to_cte(),
            O.calls_tool_cte(),
            O.refers_to_cte(),
            """all_edges AS (
  SELECT subj, pred, obj FROM mentions_in
  UNION ALL SELECT subj, pred, obj FROM replies_to
  UNION ALL SELECT subj, pred, obj FROM calls_tool
  UNION ALL SELECT subj, pred, obj FROM refers_to
)""",
            O.connected_components_cte("refers_to"),
            __import__(
                "glasseenterprise_mcp_spark.operators.canonicalize", fromlist=["x"]
            ).canonicalize_edges_cte("all_edges"),
        ),
        "ev2_tumbling_counts": A.tumbling_event_counts_sql(),
        "ev3_asof_join": A.asof_join_events_sql(),
        "ev4_hypertable_rollup": A.hypertable_rollup_sql(),
        "ev5_funnel": A.funnel_events_sql(),
        "ev7_attribution": A.attribute_conversions_sql(),
        "g10_label_propagation": O.oracle(
            "SELECT id, community FROM lpa",
            A.cooccurrence_cte(min_count=1),
            G.label_propagation_cte("cooccur", src="a", dst="b"),
        ),
        "g12_personalized_pagerank": O.oracle(
            "SELECT id, rank, is_seed FROM ppr",
            O.refers_to_cte(),
            G.personalized_pagerank_cte("refers_to"),
        ),
        "g13_harmonic_centrality": O.oracle(
            "SELECT id, hc, n_seen FROM hc",
            O.refers_to_cte(),
            G.harmonic_centrality_cte("refers_to"),
        ),
        "g14_scc": O.oracle(
            "SELECT id, scc_id, scc_size FROM scc",
            G.tool_transitions_cte(),
            G.strongly_connected_components_cte(
                "tool_transitions", src="from_tool", dst="to_tool"
            ),
        ),
        "g11_hits": O.oracle(
            "SELECT id, hub, auth FROM hits_out",
            O.refers_to_cte(),
            G.hits_cte("refers_to"),
        ),
        "w5_hopping_counts": A.hopping_event_counts_sql(),
        "a9_cube_counts": O.oracle(
            "SELECT mtype, role, n, n_norms, gmask FROM cube_counts",
            "mentions_roled AS (SELECT m.*, t.role FROM mentions m"
            " JOIN transcripts t USING (conv_id, turn_idx))",
            A.cube_mention_counts_cte().replace("FROM mentions", "FROM mentions_roled"),
        ),
        "ev8_session_overlaps": "WITH " + A.session_intervals_cte()
        + ",\n" + A.session_overlap_pairs_cte()
        + "\nSELECT user_a, session_a, user_b, session_b, overlap_s FROM ov",
        "sk2_hll_distinct": A.hll_distinct_sql(),
        "sk3_cms_heavy_hitters": O.oracle(
            "SELECT norm, exact_n, est_n FROM cms",
            A.cms_heavy_hitters_cte(),
        ),
        "qn1_group_quantiles": A.group_quantiles_sql(),
        "sk4_log_quantiles": A.log_histogram_quantiles_sql(),
        "cur5_semdedup": S.semdedup_sql(),
        "ev6_retention": A.retention_cohorts_sql(),
        "lp1_link_prediction": O.oracle(
            "SELECT x, y, common, aa_ppm FROM lp",
            A.cooccurrence_cte(min_count=1),
            G.link_prediction_cte("cooccur", src="a", dst="b"),
        ),
        "sk1_kmv_distinct": A.kmv_distinct_sql(),
        "tx6_pack_sequences": T.pack_sequences_sql(),
        "j6_queries_table": O.oracle(
            "SELECT split_part(norm, '.', 1) AS tbl, "
            "CAST(COUNT(DISTINCT (conv_id, turn_idx)) AS BIGINT) AS n_turns, "
            "CAST(COUNT(*) AS BIGINT) AS n_mentions "
            "FROM mentions WHERE mtype = 'table' GROUP BY 1"
        ),
        "e8_mention_attrs": O.oracle(
            "SELECT conv_id, turn_idx, mtype, surface, norm, ord, scheme, host, "
            "error_code, tool_base, tool_num, cfg_ns FROM mention_attrs",
            __import__(
                "glasseenterprise_mcp_spark.operators.extract", fromlist=["x"]
            ).enrich_mention_attrs_cte(),
        ),
        "j2_span_containment": O.oracle(
            "SELECT conv_id, turn_idx, container_mtype, container_norm, "
            "contained_mtype, contained_norm, container_ord, contained_ord "
            "FROM span_contain",
            span_containment_cte(),
        ),
        "j23_alias_identity": O.oracle(
            "SELECT lid, rid, via FROM alias_match", A.entity_alias_match_cte()
        ),
        "a2_node_attrs": O.oracle(
            "SELECT id, type, k, v FROM node_attrs", node_attrs_cte()
        ),
        "j17_secures_api": O.oracle(
            "SELECT res_path, pattern, rule_rank FROM secures", LN.secures_api_cte()
        ),
        "j9_lineage_triples": O.oracle(
            "SELECT subj, pred, obj, arg_idx, n FROM lineage", LN.lineage_triples_cte()
        ),
        "g1b_impact_nodes": O.oracle(
            "SELECT type, rank, id, dist, name FROM impact_nodes",
            O.mentions_in_cte(),
            O.replies_to_cte(),
            O.calls_tool_cte(),
            O.refers_to_cte(),
            """all_edges AS (
  SELECT subj, obj FROM mentions_in
  UNION ALL SELECT subj, obj FROM replies_to
  UNION ALL SELECT subj, obj FROM calls_tool
  UNION ALL SELECT subj, obj FROM refers_to
)""",
            O.nodes_cte(),
            G.bfs_cte(2, "type = 'entity' AND norm = 'hot_entity'"),
            G.impact_nodes_cte(),
        ),
        "s6_stateful_scan": O.oracle(
            "SELECT conv_id, turn_idx, fences, in_block FROM block_scan",
            ST.stateful_block_scan_cte(),
        ),
        "j15_has_column": O.oracle(
            "SELECT subj, pred, obj, tbl, col, n FROM has_column", has_column_cte()
        ),
        "j4_provides_api": O.oracle(
            "SELECT subj, pred, obj, method, n FROM provides_api",
            __import__(
                "glasseenterprise_mcp_spark.operators.link", fromlist=["x"]
            ).provides_api_cte(),
        ),
        "j7_uses_config": O.oracle(
            "SELECT subj, pred, obj, cfg, n_turns, n FROM uses_config",
            __import__(
                "glasseenterprise_mcp_spark.operators.link", fromlist=["x"]
            ).uses_config_cte(),
        ),
        "j14_pluralize_match": O.oracle(
            "SELECT tbl, catalog_name, via, n FROM plural_match",
            __import__(
                "glasseenterprise_mcp_spark.operators.link", fromlist=["x"]
            ).pluralize_table_match_cte(),
        ),
        "j22_contributes": O.oracle(
            "SELECT subj, pred, obj, role, n_mentions, n_convs, first_ts, last_ts "
            "FROM contributes",
            A.contributes_cte(),
        ),
        "e6_direction_cascade": O.oracle(
            "SELECT conv_id, turn_idx, mtype, norm, ord, arm, direction "
            "FROM direction_cascade",
            __import__(
                "glasseenterprise_mcp_spark.operators.extract", fromlist=["x"]
            ).direction_cascade_cte(),
        ),
        "e14_test_turns": O.oracle(
            "SELECT conv_id, turn_idx, marker FROM test_turns",
            __import__(
                "glasseenterprise_mcp_spark.operators.extract", fromlist=["x"]
            ).test_turn_flags_cte(),
        ),
        "j25_modifies": O.oracle(
            "SELECT subj, pred, obj, src_norm, n FROM modifies",
            __import__(
                "glasseenterprise_mcp_spark.operators.link", fromlist=["x"]
            ).modifies_cte(),
        ),
        "j27_has_member": O.oracle(
            "SELECT subj, pred, obj, role, n_turns, first_turn FROM has_member",
            __import__(
                "glasseenterprise_mcp_spark.operators.link", fromlist=["x"]
            ).has_member_cte(),
        ),
        "e9_type_schemas": O.oracle(
            "SELECT conv_id, turn_idx, def_idx, type_name, field_idx, "
            "field_name, field_type FROM type_schemas",
            __import__(
                "glasseenterprise_mcp_spark.operators.extract", fromlist=["x"]
            ).type_schemas_cte(),
        ),
        "s5_manifest_deps": O.oracle(
            "SELECT conv_id, turn_idx, dep_idx, dep_name, dep_ver "
            "FROM manifest_deps",
            __import__(
                "glasseenterprise_mcp_spark.operators.extract", fromlist=["x"]
            ).manifest_deps_cte(),
        ),
        "s5b_xml_deps": O.oracle(
            "SELECT conv_id, turn_idx, dep_idx, dep_name, dep_ver "
            "FROM xml_deps",
            __import__(
                "glasseenterprise_mcp_spark.operators.extract", fromlist=["x"]
            ).xml_deps_cte(),
        ),
        "n9_clean_names": O.oracle(
            "SELECT conv_id, turn_idx, surface, stripped, ident FROM clean_names",
            __import__(
                "glasseenterprise_mcp_spark.operators.extract", fromlist=["x"]
            ).clean_names_cte(),
        ),
        "j18_used_by": O.oracle(
            "SELECT subj, pred, obj, pattern, ent, n FROM used_by",
            __import__(
                "glasseenterprise_mcp_spark.operators.link", fromlist=["x"]
            ).used_by_cte(),
        ),
        "j12_depends_on": O.oracle(
            "SELECT subj, pred, obj, tool, n_calls, first_turn FROM depends_on",
            __import__(
                "glasseenterprise_mcp_spark.operators.link", fromlist=["x"]
            ).depends_on_cte(),
        ),
        "j24_contains_turn": O.oracle(
            "SELECT subj, pred, obj, turn_idx FROM contains_turn",
            __import__(
                "glasseenterprise_mcp_spark.operators.link", fromlist=["x"]
            ).contains_turn_cte(),
        ),
        "j19_repo_api_rollup": O.oracle(
            "SELECT conv_id, direction, "
            "CAST(COUNT(DISTINCT norm) AS BIGINT) AS n_apis, "
            "CAST(COUNT(*) AS BIGINT) AS n_mentions "
            "FROM direction_cascade GROUP BY conv_id, direction",
            __import__(
                "glasseenterprise_mcp_spark.operators.extract", fromlist=["x"]
            ).direction_cascade_cte(),
        ),
        # Q2: the routed template compiles to count-by-type over the node
        # table with the router's default LIMIT (row count ≪ limit, so the
        # limit never truncates — asserted in
        # tests/test_operators.py::test_routed_queries_limit_headroom)
        "q2_routed_count_by_type": O.oracle(
            "SELECT type, CAST(COUNT(*) AS BIGINT) AS n FROM nodes "
            "GROUP BY type ORDER BY type LIMIT 100",
            O.nodes_cte(),
        ),
        # Q3: the fallback tokenizes 'hot_entity probe' into two contains
        # terms over lower(name)/lower(norm) — mirrored verbatim
        "q3_routed_fallback": O.oracle(
            "SELECT type, name, norm FROM nodes "
            "WHERE strpos(lower(name), 'hot_entity') > 0 "
            "   OR strpos(lower(COALESCE(norm, '')), 'hot_entity') > 0 "
            "   OR strpos(lower(name), 'probe') > 0 "
            "   OR strpos(lower(COALESCE(norm, '')), 'probe') > 0 "
            "ORDER BY type, name LIMIT 100",
            O.nodes_cte(),
        ),
        "mm1_media_metadata": __import__(
            "glasseenterprise_mcp_spark.operators.multimodal", fromlist=["x"]
        ).media_metadata_sql(),
        "mm2_frame_plan": __import__(
            "glasseenterprise_mcp_spark.operators.multimodal", fromlist=["x"]
        ).frame_sample_sql(),
        "mm3_resize_plan": __import__(
            "glasseenterprise_mcp_spark.operators.multimodal", fromlist=["x"]
        ).resize_plan_sql(),
        "mm4_media_features": __import__(
            "glasseenterprise_mcp_spark.operators.multimodal", fromlist=["x"]
        ).media_features_int_sql(),
        "mm5_ppm_decode": __import__(
            "glasseenterprise_mcp_spark.operators.multimodal", fromlist=["x"]
        ).ppm_decode_sql(),
        "mm6_ppm_resize": __import__(
            "glasseenterprise_mcp_spark.operators.multimodal", fromlist=["x"]
        ).ppm_resize_sql(),
        "mm7_wav_decode": __import__(
            "glasseenterprise_mcp_spark.operators.multimodal", fromlist=["x"]
        ).wav_decode_sql(),
        "mm8_y4m_frames": __import__(
            "glasseenterprise_mcp_spark.operators.multimodal", fromlist=["x"]
        ).y4m_frame_samples_sql(),
        "mm9_png_decode": __import__(
            "glasseenterprise_mcp_spark.operators.multimodal", fromlist=["x"]
        ).png_decode_sql(),
        "mm10_jpeg_check": __import__(
            "glasseenterprise_mcp_spark.operators.multimodal", fromlist=["x"]
        ).jpeg_check_sql(),
        "mm11_image_near_dups": __import__(
            "glasseenterprise_mcp_spark.operators.multimodal", fromlist=["x"]
        ).image_near_dups_sql(),
        "s8_versioned_readback": O.oracle(
            "SELECT tbl, k1, k2, val, snapshot_version FROM versioned",
            versioned_readback_cte(),
        ),
        # Q4: the routed impact template — BFS from the turn seed over the
        # 4-family edge union, per-type counts; the router's default LIMIT
        # never truncates (≤ #node types rows), same headroom argument as q2
        "q4_routed_impact": O.oracle(
            "SELECT n.type, CAST(COUNT(*) AS BIGINT) AS n, "
            "CAST(MIN(b.dist) AS INT) AS min_dist "
            "FROM bfs b JOIN nodes n USING (id) GROUP BY n.type "
            "ORDER BY type LIMIT 100",
            O.mentions_in_cte(),
            O.replies_to_cte(),
            O.calls_tool_cte(),
            O.refers_to_cte(),
            """all_edges AS (
  SELECT subj, obj FROM mentions_in
  UNION ALL SELECT subj, obj FROM replies_to
  UNION ALL SELECT subj, obj FROM calls_tool
  UNION ALL SELECT subj, obj FROM refers_to
)""",
            O.nodes_cte(),
            G.bfs_cte(2, "type = 'turn' AND name = 'c0#3'"),
        ),
    }


def oracle_sql_scaled() -> dict[str, str]:
    """Scale-path oracle OVERRIDES for the big (sf≥1.0) sweeps.

    The driver gate at sf0.01 and the sf≤0.1 sweeps keep the deliberately
    naive twins in :func:`oracle_sql` — their independence from the engine's
    candidate-generation strategy is the losslessness proof. But three of
    those twins are O(N²) formulations DuckDB cannot finish over a
    10×-replica corpus (r5 sweep: dd4b/dd7/g4b oracle_timeout while the
    engine sides ran in 2.4–14.2s). These overrides define the SAME result
    sets with scalable shapes:

    * dd4b/dd7 — banded SimHash candidates (pigeonhole-lossless at
      hamming ≤ 3, the identical argument the engine's own kernel proves
      against the naive twin at sf0.1) + MATERIALIZED signature CTE.
    * g4b — the identical recursive-CTE closure, just MATERIALIZED so the
      two canonical-edge rewrites (subj + obj) don't each recompute it.
    * ev8 — bucket-decomposed equi join + residual range predicate +
      DISTINCT (lossless at any bucket width: overlapping intervals both
      span the bucket of greatest(start)), replacing the naive N² range
      self-join that is infeasible over ~954k sessions at 10×.

    Consumed by jobs/scale_sweep.py (default on; --naive-oracles restores
    the N² twins for the small-sf proof runs)."""
    cc_mod = __import__(
        "glasseenterprise_mcp_spark.operators.canonicalize", fromlist=["x"]
    )
    return {
        "dd4b_simhash_near_dups": "WITH "
        + ",\n".join(
            [
                D.shingles_cte(),
                D.simhash_cte(materialized=True),
                D.simhash_near_dups_banded_cte(),
            ]
        )
        + "\nSELECT a, b, hamming FROM simhash_pairs",
        "dd7_dup_clusters": "WITH "
        + ",\n".join(
            [
                D.shingles_cte(),
                D.simhash_cte(materialized=True),
                D.simhash_near_dups_banded_cte(),
                "dup_edges AS (SELECT a AS subj, b AS obj FROM simhash_pairs)",
                cc_mod.connected_components_cte("dup_edges", materialized=True),
                "sizes AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS cluster_size"
                " FROM cc GROUP BY comp)",
            ]
        )
        + "\nSELECT CAST(cc.id AS BIGINT) AS doc_id,"
        " CAST(cc.comp AS BIGINT) AS canonical_doc_id, sizes.cluster_size"
        " FROM cc JOIN sizes USING (comp)",
        "ev8_session_overlaps": "WITH " + A.session_intervals_cte()
        + ",\n" + A.session_overlap_pairs_banded_cte()
        + "\nSELECT user_a, session_a, user_b, session_b, overlap_s FROM ov",
        "g4b_canonical_triples": O.oracle(
            "SELECT subj, pred, obj FROM canonical_edges",
            O.mentions_in_cte(),
            O.replies_to_cte(),
            O.calls_tool_cte(),
            O.refers_to_cte(),
            """all_edges AS (
  SELECT subj, pred, obj FROM mentions_in
  UNION ALL SELECT subj, pred, obj FROM replies_to
  UNION ALL SELECT subj, pred, obj FROM calls_tool
  UNION ALL SELECT subj, pred, obj FROM refers_to
)""",
            O.connected_components_cte("refers_to", materialized=True),
            cc_mod.canonicalize_edges_cte("all_edges"),
        ),
    }
