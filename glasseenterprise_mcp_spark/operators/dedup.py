"""Deduplication operators for large-scale training-data pipelines, over the
``documents`` table: exact (hash groupBy), MinHash+LSH banding, n-gram
Jaccard verification, SimHash.

Scale notes (100TB design point):
* exact dedup is one shuffle keyed on the content hash — uniform by
  construction (md5), no skew.
* MinHash/LSH: signatures are computed in a single narrow pass (shingle
  explode + per-seed min is a partial aggregate before the shuffle); the
  candidate join shuffles only (band_hash → doc) pairs, and band hashes
  are uniform. The verify join touches only candidate pairs — never the
  full cross product.
* all hashing is md5-hex with *lexicographic* min as the minwise function,
  chosen deliberately: identical semantics in Spark, Python and DuckDB
  (the oracle), no 64-bit integer-conversion divergence.

Every operator's DuckDB-oracle twin sits next to it.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

# MinHash parameters: K seeds, B bands of R rows (K = B*R).
MINHASH_K = 8
LSH_BANDS = 4
LSH_ROWS = 2
SHINGLE_K = 3

_TOKENIZE = r"\s+"


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact duplicate groups: (text_hash, n_docs, canonical_doc_id).
    Canonical = min doc_id (deterministic keep-first)."""
    return (
        documents.select(F.md5(F.col("text")).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("canonical_doc_id"),
        )
    )


def exact_dedup_sql() -> str:
    return """
SELECT md5(text) AS text_hash,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS canonical_doc_id
FROM documents GROUP BY md5(text)"""


def shingles(documents: DataFrame) -> DataFrame:
    """Word k-gram shingles: (doc_id, sh). Narrow (explode, no shuffle)."""
    toks = F.split(F.col("text"), _TOKENIZE)
    parts = ", ".join(f"element_at(toks, i + {j})" for j in range(SHINGLE_K))
    # Guard short docs: Spark's sequence(1, 0) is the DESCENDING [1, 0],
    # so without the CASE a <k-token document hits element_at(toks, 0) and
    # the whole job dies with INVALID_ARRAY_INDEX_IN_ELEMENT_AT (r3
    # ADVICE). DuckDB's range(1, 1) is empty, so emitting array() here is
    # exactly the oracle's behavior: short docs produce no shingles.
    sh = F.expr(
        f"CASE WHEN size(toks) >= {SHINGLE_K} THEN"
        f" transform(sequence(1, size(toks) - {SHINGLE_K - 1}),"
        f" i -> concat_ws(' ', {parts})) ELSE array() END"
    )
    return (
        documents.select("doc_id", toks.alias("toks"))
        .select("doc_id", F.explode(sh).alias("sh"))
        .distinct()
    )


def shingles_cte() -> str:
    parts = " || ' ' || ".join(f"toks[i + {j}]" for j in range(SHINGLE_K))
    return f"""shingles AS (
  SELECT DISTINCT doc_id, {parts} AS sh
  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks FROM documents),
       unnest(range(1, greatest(len(toks) - {SHINGLE_K - 1}, 0) + 1)) AS t(i)
)"""


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, seed, mh): per-seed minwise hash = lexicographic min of
    md5('<seed>|<shingle>'). One narrow pass + one partial-agg shuffle."""
    seeds = F.explode(F.expr(f"sequence(0, {MINHASH_K - 1})")).alias("seed")
    return (
        sh.select("doc_id", "sh", seeds)
        .select(
            "doc_id",
            "seed",
            F.md5(F.concat_ws("|", F.col("seed").cast("string"), F.col("sh"))).alias("h"),
        )
        .groupBy("doc_id", "seed")
        .agg(F.min("h").alias("mh"))
    )


def minhash_cte() -> str:
    return f"""minhash AS (
  SELECT doc_id, seed, MIN(md5(CAST(seed AS VARCHAR) || '|' || sh)) AS mh
  FROM shingles, unnest(range(0, {MINHASH_K})) AS s(seed)
  GROUP BY doc_id, seed
)"""


def lsh_bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, band_hash): md5 over the band's seed-ordered minhashes."""
    banded = sigs.withColumn("band", (F.col("seed") / LSH_ROWS).cast("int"))
    return (
        banded.groupBy("doc_id", "band")
        .agg(F.array_sort(F.collect_list(F.struct("seed", "mh"))).alias("sm"))
        .select(
            "doc_id",
            "band",
            F.md5(
                F.concat_ws("|", F.expr("transform(sm, x -> x.mh)"))
            ).alias("band_hash"),
        )
    )


def lsh_bands_cte() -> str:
    return f"""bands AS (
  SELECT doc_id, band, md5(string_agg(mh, '|' ORDER BY seed)) AS band_hash
  FROM (SELECT doc_id, seed, mh, CAST(seed // {LSH_ROWS} AS INT) AS band FROM minhash)
  GROUP BY doc_id, band
)"""


def lsh_bands_fused(sh: DataFrame) -> DataFrame:
    """Fused minhash→bands: ONE groupBy(doc_id) with K min-aggregate
    columns (one per seed) replaces the seed-explode + two downstream
    shuffles of the long-form path — K× fewer aggregate input rows and a
    single exchange, with bit-identical band hashes (min over the same
    shingle set per seed; band hash concatenates the same seed order).
    Equality with the long-form path is pinned by
    ``tests/test_operators.py::test_lsh_fused_equals_longform``; the DuckDB
    oracle keeps the long form (readability over speed — it is the spec).
    """
    mins = [
        F.min(
            F.md5(F.concat_ws("|", F.lit(str(s)), F.col("sh")))
        ).alias(f"mh{s}")
        for s in range(MINHASH_K)
    ]
    agg = sh.groupBy("doc_id").agg(*mins)
    n_bands = MINHASH_K // LSH_ROWS
    bands_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.col(f"mh{b * LSH_ROWS + j}")
                            for j in range(LSH_ROWS)
                        ],
                    )
                ).alias("band_hash"),
            )
            for b in range(n_bands)
        ]
    )
    return agg.select("doc_id", F.explode(bands_arr).alias("bb")).select(
        "doc_id",
        F.col("bb.band").alias("band"),
        F.col("bb.band_hash").alias("band_hash"),
    )


def lsh_candidate_pairs(bands: DataFrame) -> DataFrame:
    """Docs sharing any band hash → candidate pairs (a < b), distinct.
    Self-join keyed on (band, band_hash) — uniform md5 keys, skew-free."""
    l = bands.select("band", "band_hash", F.col("doc_id").alias("a"))
    r = bands.select("band", "band_hash", F.col("doc_id").alias("b"))
    return (
        l.join(r, ["band", "band_hash"])
        .filter(F.col("a") < F.col("b"))
        .select(F.col("a").cast("long"), F.col("b").cast("long"))
        .distinct()
    )


def lsh_candidates_cte() -> str:
    return """candidates AS (
  SELECT DISTINCT CAST(l.doc_id AS BIGINT) AS a, CAST(r.doc_id AS BIGINT) AS b
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id
)"""


def jaccard_verify(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs:
    (a, b, inter, union_n, jaccard_pct). Integer percentage (0-100) avoids
    float-format divergence; the verify join touches candidates only."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # the shingle equality is part of the JOIN CONDITION, not a post-join
    # filter: (b, sh) are hash-join keys by construction, so the
    # intermediate is |A∩B| rows per pair — a post-join filter would be
    # correct only as long as Catalyst folded it into the keys, and
    # |A|x|B| rows per pair if it ever didn't.
    inter = (
        pairs.join(sh.select(F.col("doc_id").alias("a"), "sh"), "a")
        .join(
            sh.select(F.col("doc_id").alias("b2"), F.col("sh").alias("sh_b")),
            (F.col("b") == F.col("b2")) & (F.col("sh") == F.col("sh_b")),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        pairs.join(inter, ["a", "b"], "left")
        .na.fill({"inter": 0})
        .join(sizes.select(F.col("doc_id").alias("a"), F.col("n").alias("na")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("n").alias("nb")), "b")
        .select(
            "a",
            "b",
            F.col("inter").cast("long").alias("inter"),
            (F.col("na") + F.col("nb") - F.col("inter")).cast("long").alias("union_n"),
            (F.col("inter") * 100 / (F.col("na") + F.col("nb") - F.col("inter")))
            .cast("int")
            .alias("jaccard_pct"),
        )
    )


def jaccard_verify_cte() -> str:
    return """jaccard AS (
  WITH sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
  inter AS (
    SELECT c.a, c.b, COUNT(*) AS inter
    FROM candidates c
    JOIN shingles sa ON sa.doc_id = c.a
    JOIN shingles sb ON sb.doc_id = c.b AND sb.sh = sa.sh
    GROUP BY c.a, c.b
  )
  SELECT c.a, c.b,
         CAST(COALESCE(i.inter, 0) AS BIGINT) AS inter,
         CAST(na.n + nb.n - COALESCE(i.inter, 0) AS BIGINT) AS union_n,
         CAST(COALESCE(i.inter, 0) * 100 // (na.n + nb.n - COALESCE(i.inter, 0)) AS INT) AS jaccard_pct
  FROM candidates c
  LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
  JOIN sizes na ON na.doc_id = c.a
  JOIN sizes nb ON nb.doc_id = c.b
)"""


NEAR_DUP_JACCARD_PCT = 50


def near_dup_pairs(documents: DataFrame) -> DataFrame:
    """Full MinHash→LSH→verify chain: near-duplicate pairs above threshold."""
    sh = shingles(documents)
    pairs = lsh_candidate_pairs(lsh_bands_fused(sh))
    return jaccard_verify(pairs, sh).filter(F.col("jaccard_pct") >= NEAR_DUP_JACCARD_PCT)


# ---------------------------------------------------------------------------
# SimHash (32-bit over md5 hex-digit parity — engine + oracle identical)
# ---------------------------------------------------------------------------
_HEX_ODD = "13579bdf"  # hex digits with low bit set


def simhash(sh: DataFrame) -> DataFrame:
    """(doc_id, simhash): 32-char bit string. Bit i = majority over the
    doc's shingles of parity(md5(sh)[i]). Pure column expressions."""
    h = F.md5(F.col("sh"))
    bits = [
        F.when(
            F.instr(F.lit(_HEX_ODD), F.substring(h, i + 1, 1)) > 0, 1
        ).otherwise(0)
        for i in range(32)
    ]
    per = sh.select(
        "doc_id", *[b.alias(f"b{i}") for i, b in enumerate(bits)]
    )
    agg = per.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(f"b{i}").alias(f"s{i}") for i in range(32)],
    )
    sim = F.concat(
        *[
            F.when(F.col(f"s{i}") * 2 >= F.col("n"), F.lit("1")).otherwise(F.lit("0"))
            for i in range(32)
        ]
    )
    return agg.select("doc_id", sim.alias("simhash"))


SIMHASH_MAX_HAMMING = 3


def simhash_near_dups(sh: DataFrame) -> DataFrame:
    """SimHash near-duplicate pairs: band the 32-bit signature into 4
    8-bit keys; candidates = docs sharing ANY band (pigeonhole: ≤3
    differing bits across 4 bands leave at least one band identical, so
    recall is EXACTLY 1.0 at SIMHASH_MAX_HAMMING ≤ 3 — banding loses nothing),
    then exact hamming verify on candidates only. The band join is an equi
    join on uniform keys — never an all-pairs product at corpus scale.

    Output: (a, b, hamming) with a < b, hamming ≤ SIMHASH_MAX_HAMMING."""
    # materialize the dim-sized signature table ONCE — both sides of the
    # band self-join read it, and recomputing it means re-aggregating the
    # full shingle table twice (same registry pattern as the linking tiers)
    s = simhash(sh).localCheckpoint(eager=True)
    n_bands, width = 4, 8
    bands_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.substring("simhash", b * width + 1, width).alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    # integer form of the signature: hamming = bit_count(xor) — one JVM op
    # instead of 32 substring compares per candidate
    sv = s.withColumn("v", F.conv("simhash", 2, 10).cast("long"))
    bands = sv.select(
        "doc_id", "v", F.explode(bands_arr).alias("bb")
    ).select(
        "doc_id",
        "v",
        F.col("bb.band").alias("band"),
        F.col("bb.key").alias("key"),
    )
    l = bands.select(
        "band", "key", F.col("doc_id").alias("a"), F.col("v").alias("va")
    )
    r = bands.select(
        "band", "key", F.col("doc_id").alias("b"), F.col("v").alias("vb")
    )
    cand = (
        l.join(r, ["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .select(F.col("a").cast("long"), F.col("b").cast("long"), "va", "vb")
        .distinct()
    )
    ham = F.bit_count(F.col("va").bitwiseXOR(F.col("vb"))).cast("int")
    return (
        cand.select("a", "b", ham.alias("hamming"))
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )


def simhash_near_dups_cte() -> str:
    """Oracle twin: the full self-join + hamming filter (the banded
    candidate step is a lossless optimization at SIMHASH_MAX_HAMMING ≤ 3 — see
    simhash_near_dups — so the naive form defines the same set)."""
    ham = " + ".join(
        f"(CASE WHEN substr(x.simhash, {i}, 1) <> substr(y.simhash, {i}, 1)"
        " THEN 1 ELSE 0 END)"
        for i in range(1, 33)
    )
    return f"""simhash_pairs AS (
  SELECT CAST(x.doc_id AS BIGINT) AS a, CAST(y.doc_id AS BIGINT) AS b,
         CAST({ham} AS INT) AS hamming
  FROM simhash x JOIN simhash y ON x.doc_id < y.doc_id
  WHERE {ham} <= {SIMHASH_MAX_HAMMING}
)"""


def simhash_near_dups_banded_cte() -> str:
    """SCALED oracle twin (the sf1.0 sweep path): banded candidates + exact
    hamming verify — the same pigeonhole argument as the engine (≤3
    differing bits across 4 8-char bands leave ≥1 band identical), so the
    defined set is IDENTICAL to :func:`simhash_near_dups_cte`. The naive
    O(N²) twin above stays the independence/losslessness proof at sf≤0.1;
    this one exists because DuckDB cannot finish the N² self-join over a
    10×-replica corpus inside any reasonable budget while the banded form
    is a plain equi join. ``bands`` is MATERIALIZED so the simhash
    aggregation runs once, not once per band reference."""
    ham = " + ".join(
        f"(CASE WHEN substr(x.simhash, {i}, 1) <> substr(y.simhash, {i}, 1)"
        " THEN 1 ELSE 0 END)"
        for i in range(1, 33)
    )
    band_union = "\n    UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band,"
        f" substr(simhash, {b * 8 + 1}, 8) AS key FROM simhash"
        for b in range(4)
    )
    return f"""bands AS MATERIALIZED (
    {band_union}
),
simhash_pairs AS (
  SELECT DISTINCT CAST(x.doc_id AS BIGINT) AS a,
         CAST(y.doc_id AS BIGINT) AS b, CAST({ham} AS INT) AS hamming
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
  WHERE {ham} <= {SIMHASH_MAX_HAMMING}
)"""


def simhash_cte(materialized: bool = False) -> str:
    """``materialized=True`` (the scaled-oracle path) pins the signature
    aggregation to run ONCE — the banded twin references ``simhash`` four
    times (one per band) and DuckDB inlines plain CTEs."""
    bit_sums = ", ".join(
        f"SUM(CASE WHEN instr('{_HEX_ODD}', substr(md5(sh), {i + 1}, 1)) > 0 THEN 1 ELSE 0 END) AS s{i}"
        for i in range(32)
    )
    sim = " || ".join(
        f"(CASE WHEN s{i} * 2 >= n THEN '1' ELSE '0' END)" for i in range(32)
    )
    kw = "MATERIALIZED " if materialized else ""
    return f"""simhash AS {kw}(
  SELECT doc_id, {sim} AS simhash
  FROM (SELECT doc_id, COUNT(*) AS n, {bit_sums} FROM shingles GROUP BY doc_id)
)"""


CONTAM_EVAL_FILTER = "doc_id % 101 = 7"  # the fixture's stand-in eval set
CONTAM_MIN_SHARED = 2


def contamination_pairs(sh: DataFrame) -> DataFrame:
    """Train/eval contamination check — the release gate a training corpus
    runs against its benchmark/eval sets: for every (train doc, eval doc)
    pair, count the DISTINCT word k-gram shingles they share; pairs at or
    above ``CONTAM_MIN_SHARED`` are contamination candidates for removal or
    decontamination review.

    Scale shape: a REAL eval set is a small curated corpus (benchmarks are
    KB–MB, the corpus is TB), so Catalyst auto-broadcasts it under the
    32 MB threshold; the hint is deliberately NOT forced — the default
    modulo CONTAM_EVAL_FILTER here is a fixture stand-in whose size grows with
    the corpus, and a forced broadcast would collect a corpus-proportional
    relation to the driver (review catch). Oversized eval sides therefore
    degrade to a safe shuffle join instead of an OOM. The join is keyed by
    shingle, never all-pairs, so per-shingle fan-out is bounded by the
    eval side's occurrences of that shingle; the pair aggregation shuffles
    only rows that actually matched. The shingle table is already distinct
    per (doc, sh), so COUNT(*) is a distinct-shingle overlap count.

    Output: (train_doc_id, eval_doc_id, n_shared)."""
    ev = sh.filter(F.expr(CONTAM_EVAL_FILTER)).select(
        F.col("doc_id").alias("eval_doc_id"), "sh"
    )
    tr = sh.filter(~F.expr(CONTAM_EVAL_FILTER)).select(
        F.col("doc_id").alias("train_doc_id"), "sh"
    )
    return (
        tr.join(ev, "sh")
        .groupBy("train_doc_id", "eval_doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= CONTAM_MIN_SHARED)
    )


def contamination_cte() -> str:
    """Expects the ``shingles`` CTE upstream.

    The CONTAM_EVAL_FILTER is applied in pre-aliased subqueries (not as
    ``e.{filter}``), so ANY valid predicate — function calls, parenthesized
    expressions — renders identically to the engine side's F.expr over the
    unaliased frame (r4 advisor item)."""
    return f"""contamination AS (
  SELECT t.doc_id AS train_doc_id, e.doc_id AS eval_doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM (SELECT * FROM shingles WHERE NOT ({CONTAM_EVAL_FILTER})) t
  JOIN (SELECT * FROM shingles WHERE {CONTAM_EVAL_FILTER}) e ON t.sh = e.sh
  GROUP BY 1, 2 HAVING COUNT(*) >= {CONTAM_MIN_SHARED}
)"""


# Exact-substring (span-level) dedup: window width in tokens. 6 is wide
# enough that random w-gram collisions are negligible at the synth vocab
# (30^6 keys vs ~25k windows at sf0.01) while genuine near-duplicate
# replicas still share long runs; production corpora use ~50 (see
# duplicate_spans docstring).
DUP_SPAN_W = 6


def _widen(documents: DataFrame) -> DataFrame:
    """Small-scan guard (same class as similarity.quantized's): a modest
    documents table arrives as 1–2 parquet splits, and a per-token hashing
    pass then runs on 1–2 tasks with the other cores idle (the 10x sweep
    clocked dd8 at 27.9s with 14 idle cores). Repartition UP when the scan
    yields fewer splits than the session parallelism; a no-op at real
    corpus scale where the scan already produces >= cores splits."""
    sc = documents.sparkSession.sparkContext
    if documents.rdd.getNumPartitions() < sc.defaultParallelism:
        documents = documents.repartition(sc.defaultParallelism)
    return documents


def positional_windows(documents: DataFrame, w: int = DUP_SPAN_W) -> DataFrame:
    """(doc_id, i, h): md5 over every w-token rolling window of the
    document, with its 1-based start token index. Narrow (explode only,
    no shuffle). Deliberately NOT distinct — span-level dedup needs every
    occurrence, including a window repeated inside one document."""
    documents = _widen(documents)
    toks = F.split(F.col("text"), _TOKENIZE)
    # Keep the higher-order lambda MINIMAL: transform() bodies are
    # interpreted (never codegen'd — the same Spark property the ANN dot
    # products hit), so the lambda does one slice + one array_join and the
    # md5 runs as an ordinary codegen'd projection AFTER the explode;
    # position comes free from posexplode (measured 2.6x faster than
    # struct(i, md5(concat_ws(element_at…))) per element).
    # Same short-doc guard as shingles(): sequence(1, 0) is DESCENDING in
    # Spark, so <w-token docs must emit array() (the oracle's empty range).
    wins = F.expr(
        f"CASE WHEN size(toks) >= {w} THEN"
        f" transform(sequence(1, size(toks) - {w - 1}),"
        f" i -> array_join(slice(toks, i, {w}), ' '))"
        f" ELSE array() END"
    )
    return (
        documents.select("doc_id", toks.alias("toks"))
        .select("doc_id", F.posexplode(wins).alias("p", "win"))
        .select(
            "doc_id",
            (F.col("p") + 1).cast("int").alias("i"),
            F.md5("win").alias("h"),
        )
    )


def positional_windows_cte(w: int = DUP_SPAN_W) -> str:
    parts = " || ' ' || ".join(f"toks[i + {j}]" for j in range(w))
    return f"""wins AS (
  SELECT doc_id, CAST(i AS INT) AS i, md5({parts}) AS h
  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks FROM documents),
       unnest(range(1, greatest(len(toks) - {w - 1}, 0) + 1)) AS t(i)
)"""


def duplicate_spans(wins: DataFrame) -> DataFrame:
    """Span-level exact-substring duplication — the w-gram formulation of
    exact-substring dedup from Lee et al., "Deduplicating Training Data
    Makes Language Models Better" (2021): a w-token window whose hash
    occurs MORE THAN ONCE corpus-wide (across documents, or repeated
    within one) marks its token span as duplicated; overlapping or
    abutting marked windows merge into maximal spans per document —
    exactly the spans that paper removes (doc-level dedup like dd1–dd7
    keeps one copy of a duplicated document; THIS finds the duplicated
    passages inside otherwise-distinct documents: boilerplate, licenses,
    quoted chunks).

    Returns (doc_id, span_start, span_end, span_tokens) with 1-based
    inclusive token indices of each maximal duplicated span.

    100TB shape (plan audited at sf0.01): the duplicated-hash set is one
    partially-aggregated shuffle of (h, count) on the uniform md5 key —
    far smaller than the raw window table — and joins back as a
    BroadcastHashJoin while the dup set fits the threshold (the common
    case: duplicated hashes ≪ windows), degrading to a shuffle join on
    the same uniform key when it doesn't. The window table is computed
    twice (once to count, once to locate) as two NARROW scan+hash passes
    — deliberate: recomputing a map-only stage beats caching
    corpus-token-scale windows. Span merging runs both window functions
    over ONE doc_id exchange + sort, and the final (doc_id, g) aggregate
    reuses that partitioning with no further shuffle — never a global
    sort. The paper's suffix-array formulation is O(n) total work but
    inherently sequential per shard; the w-gram form trades w× hashing
    volume for full shuffle parallelism — the right trade on a
    1000-executor cluster (production width ~50 tokens; the window count
    is tokens−w+1 ≈ corpus token count either way)."""
    dup = (
        wins.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .select("h")
    )
    marked = wins.join(dup, "h").select(
        "doc_id", "i", (F.col("i") + (DUP_SPAN_W - 1)).alias("e")
    )
    # gaps-and-islands merge: a window starts a new island iff its span
    # begins past (running max end) + 1 — i.e. it neither overlaps nor
    # abuts any earlier marked window of the document
    prev = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    grouped = marked.withColumn(
        "brk",
        F.when(
            F.col("i") > F.coalesce(F.max("e").over(prev), F.lit(-1)) + 1, 1
        ).otherwise(0),
    ).withColumn("g", F.sum("brk").over(run))
    return (
        grouped.groupBy("doc_id", "g")
        .agg(F.min("i").alias("span_start"), F.max("e").alias("span_end"))
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("int")
            .alias("span_tokens"),
        )
    )


def duplicate_spans_cte() -> str:
    """Expects the ``wins`` CTE upstream (``positional_windows_cte``)."""
    return f"""dup AS (SELECT h FROM wins GROUP BY h HAVING COUNT(*) > 1),
marked AS (SELECT doc_id, i, i + {DUP_SPAN_W - 1} AS e FROM wins JOIN dup USING (h)),
islands AS (
  SELECT doc_id, i, e,
         CASE WHEN i > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY i
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
              THEN 1 ELSE 0 END AS brk
  FROM marked),
grouped AS (
  SELECT doc_id, i, e,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS UNBOUNDED PRECEDING) AS g
  FROM islands),
dup_spans AS (
  SELECT doc_id, CAST(MIN(i) AS INT) AS span_start,
         CAST(MAX(e) AS INT) AS span_end,
         CAST(MAX(e) - MIN(i) + 1 AS INT) AS span_tokens
  FROM grouped GROUP BY doc_id, g
)"""


# Segment-level keep-first dedup: non-overlapping segment width in tokens.
# The corpus has no newline structure, so the C4 "line" unit becomes a
# fixed K-token segment aligned to K boundaries; 8 is a few of the synth
# corpus's ~10-token sentences' worth and keeps accidental collisions nil
# at the 30-word vocabulary (30^8 keys).
SEG_K = 8


def segment_dedup_report(documents: DataFrame) -> DataFrame:
    """dd9: C4-style segment dedup report (Raffel et al. 2020 §2.2 clean
    each "three-sentence span" / line occurring more than once in the
    corpus; Lee et al. 2021 call this the "line-level" baseline): the text
    is cut into NON-overlapping k-token segments and every segment whose
    exact text occurs elsewhere in the corpus — in another document or
    earlier in the same one — is dropped; the globally FIRST occurrence
    (min (doc_id, seg_idx)) is the keeper. Differs from dd8 in both unit
    and decision: dd8 marks maximal duplicated REGIONS over overlapping
    windows (a report of what's duplicated); dd9 makes the keep/drop CALL
    per aligned segment with a canonical survivor, the form a curation
    pass applies directly.

    Returns per document (every document gets a row):
    (doc_id, n_segments, kept_segments, dropped_tokens).

    100TB shape: one narrow segment pass (≈ tokens/k rows, k× fewer than
    dd8's window table), ONE shuffle on the uniform md5 segment key where
    the keep-first rank is a row_number over per-hash groups (group size =
    duplication multiplicity, never corpus-scale), then the per-doc
    aggregate on doc_id. Tail segments shorter than k hash over their
    actual tokens on both engines (slice clips identically)."""
    documents = _widen(documents)
    toks = F.split(F.col("text"), _TOKENIZE)
    # minimal interpreted lambda, md5 codegen'd after the explode — the
    # same formulation positional_windows() uses (measured 2.6x faster)
    segs = F.expr(
        f"transform(sequence(0, (size(toks) + {SEG_K - 1}) div {SEG_K} - 1),"
        f" s -> array_join(slice(toks, s * {SEG_K} + 1, {SEG_K}), ' '))"
    )
    seg_tab = (
        documents.select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            F.size("toks").alias("n_toks"),
            F.posexplode(segs).alias("s", "seg"),
        )
        .select(
            "doc_id",
            "s",
            F.md5("seg").alias("h"),
            F.least(F.lit(SEG_K), F.col("n_toks") - F.col("s") * SEG_K).alias("seg_len"),
        )
    )
    w = Window.partitionBy("h").orderBy("doc_id", "s")
    ranked = seg_tab.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_segments"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("int")
        .alias("kept_segments"),
        F.sum(F.when(F.col("rn") > 1, F.col("seg_len")).otherwise(0))
        .cast("long")
        .alias("dropped_tokens"),
    )


def segment_dedup_cte() -> str:
    return f"""segs AS (
  SELECT doc_id, s,
         md5(array_to_string(toks[s * {SEG_K} + 1 : s * {SEG_K} + {SEG_K}], ' ')) AS h,
         LEAST({SEG_K}, len(toks) - s * {SEG_K}) AS seg_len
  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks FROM documents),
       unnest(range(0, (len(toks) + {SEG_K - 1}) // {SEG_K})) AS t(s)
),
seg_ranked AS (
  SELECT doc_id, s, seg_len,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, s) AS rn
  FROM segs
),
seg_report AS (
  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_segments,
         CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INT) AS kept_segments,
         CAST(SUM(CASE WHEN rn > 1 THEN seg_len ELSE 0 END) AS BIGINT)
           AS dropped_tokens
  FROM seg_ranked GROUP BY doc_id
)"""
