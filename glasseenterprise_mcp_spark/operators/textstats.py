"""Text-analysis operators for training-data pipelines over ``documents``:
language-ID (lexicon-hit heuristic), quality scoring, token counting,
document fingerprinting.

All are pure column expressions (JVM-side, codegen'd — the UDF-free fast
path); scores are integer-valued to keep the DuckDB oracle bit-identical.
At 100TB these are narrow map-only stages: no shuffle at all unless the
caller aggregates.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

# tiny per-language lexicons for the n-gram/stopword heuristic; generated
# into both dialects from this single table.
LANG_LEXICON: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and"],
    "es": ["el", "la", "de", "y"],
    "de": ["der", "die", "das", "und"],
    "fr": ["le", "la", "de", "et"],
    "zh": ["spark", "data", "query", "scan"],  # domain tokens as a stand-in
}

STOPWORDS = ["the", "a", "of", "and", "to", "in"]


def _hits(text: Column, words: list[str]) -> Column:
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.size(F.regexp_extract_all(text, F.lit(pat), 1))


def _hits_sql(expr: str, words: list[str]) -> str:
    pat = r"\b(" + "|".join(words) + r")\b"
    return f"len(regexp_extract_all({expr}, '{pat}', 1))"


def lang_scores(documents: DataFrame) -> DataFrame:
    """(doc_id, lang, predicted_lang, *per-lang hit counts). Predicted =
    argmax hits, ties broken by language code asc (deterministic)."""
    langs = sorted(LANG_LEXICON)
    cols = {lang: _hits(F.col("text"), LANG_LEXICON[lang]) for lang in langs}
    # argmax via greatest over (hits, reversed-lang tiebreak) encoded struct
    best = None
    for lang in langs:
        cand = F.struct(
            cols[lang].alias("h"), F.lit(_inv(lang)).alias("inv"), F.lit(lang).alias("l")
        )
        best = cand if best is None else F.when(
            (cand["h"] > best["h"]) | ((cand["h"] == best["h"]) & (cand["inv"] > best["inv"])),
            cand,
        ).otherwise(best)
    return documents.select(
        "doc_id",
        "lang",
        best["l"].alias("predicted_lang"),
        *[cols[lang].cast("int").alias(f"hits_{lang}") for lang in langs],
    )


def _inv(lang: str) -> str:
    """Lexicographically-inverting key so 'max' picks the alphabetically
    FIRST language on ties (deterministic, same trick in SQL)."""
    return "".join(chr(255 - ord(c)) for c in lang)


def lang_scores_sql() -> str:
    langs = sorted(LANG_LEXICON)
    hit_cols = ", ".join(
        f"CAST({_hits_sql('text', LANG_LEXICON[lang])} AS INT) AS hits_{lang}"
        for lang in langs
    )
    # argmax with alphabetical-first tie-break as a CASE cascade: lang L wins
    # if its hits >= max of all later (alphabetically greater) languages.
    arms = []
    for i, lang in enumerate(langs[:-1]):
        rest = ", ".join(f"hits_{x}" for x in langs[i + 1 :])
        greatest = rest if "," not in rest else f"GREATEST({rest})"
        arms.append(f"WHEN hits_{lang} >= {greatest} THEN '{lang}'")
    case = "CASE " + " ".join(arms) + f" ELSE '{langs[-1]}' END"
    return f"""
WITH scored AS (SELECT doc_id, lang, {hit_cols} FROM documents)
SELECT doc_id, lang, {case} AS predicted_lang,
       {", ".join(f"hits_{lang}" for lang in langs)}
FROM scored"""


# BPE-ish pre-tokenizer (GPT-2-style split classes: contraction suffixes,
# letter runs, digit runs, punctuation runs — the RE2 ∩ Java ∩ Python
# subset, no lookahead). Counts the units a byte-pair encoder would merge
# from; the whitespace count alone undercounts code/punctuation-heavy text.
BPE_SPLIT_RX = r"'(s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def token_stats(documents: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_subtokens, n_chars, n_stopwords, quality):
    whitespace token count, BPE-ish subtoken count (GPT-2-style split
    classes), stopword hits, and an integer 0-100 quality score
    (length band + token richness + stopword ratio)."""
    toks = F.size(F.split(F.col("text"), r"\s+"))
    subtoks = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_SPLIT_RX), 0))
    stops = _hits(F.col("text"), STOPWORDS)
    quality = (
        F.least(F.lit(50), toks)
        + F.least(F.lit(25), stops * 5)
        + F.when((F.col("n_chars") >= 100) & (F.col("n_chars") <= 2000), 25).otherwise(0)
    )
    return documents.select(
        "doc_id",
        toks.cast("int").alias("n_tokens"),
        subtoks.cast("int").alias("n_subtokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
        stops.cast("int").alias("n_stopwords"),
    ).withColumn(
        "quality",
        (
            F.least(F.lit(50), F.col("n_tokens"))
            + F.least(F.lit(25), F.col("n_stopwords") * 5)
            + F.when((F.col("n_chars") >= 100) & (F.col("n_chars") <= 2000), 25).otherwise(0)
        ).cast("int"),
    )


def token_stats_sql() -> str:
    stops = _hits_sql("text", STOPWORDS)
    bpe = BPE_SPLIT_RX.replace("'", "''")
    return f"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(text, '\\s+')) AS INT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '{bpe}', 0)) AS INT) AS n_subtokens,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST({stops} AS INT) AS n_stopwords,
       CAST(LEAST(50, len(regexp_split_to_array(text, '\\s+')))
            + LEAST(25, {stops} * 5)
            + (CASE WHEN n_chars BETWEEN 100 AND 2000 THEN 25 ELSE 0 END) AS INT) AS quality
FROM documents"""


def repetition_stats(wins: DataFrame) -> DataFrame:
    """Gopher-style intra-document repetition signal (Rae et al. 2021,
    "Scaling Language Models: … Gopher", app. A quality heuristics —
    "fraction of duplicate n-grams"): per document, the share of n-gram
    occurrences that repeat an n-gram already seen in the SAME document,
    as an integer percentage. High values flag machine-generated or
    boiler-plate text a curation pass should drop.

    Input is the positional window table (``dedup.positional_windows`` at
    the chosen n) — one partially-aggregated shuffle keyed on doc_id; the
    distinct count is exact (two-phase), never an approximation, so the
    oracle matches bit-for-bit. Integer `div` keeps Spark and DuckDB
    rounding identical (double-cast rounding differs between them)."""
    return (
        wins.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.countDistinct("h").cast("long").alias("n_distinct"),
        )
        .withColumn(
            "rep_pct",
            F.expr("(n_grams - n_distinct) * 100 div n_grams").cast("int"),
        )
    )


def repetition_stats_sql() -> str:
    """Expects the ``wins`` CTE upstream (``dedup.positional_windows_cte``)."""
    return """
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct,
       CAST(((COUNT(*) - COUNT(DISTINCT h)) * 100) // COUNT(*) AS INT) AS rep_pct
FROM wins GROUP BY doc_id"""


FP_HASHES = 4


def fingerprints(sh: DataFrame) -> DataFrame:
    """Winnowing-style document fingerprint: the FP_HASHES smallest shingle hashes
    (md5-hex, lexicographic) joined — a compact rolling-hash-family sketch.
    (doc_id, fingerprint)."""
    return (
        sh.select("doc_id", F.md5(F.col("sh")).alias("h"))
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                "|", F.slice(F.array_sort(F.collect_set("h")), 1, FP_HASHES)
            ).alias("fingerprint")
        )
    )


def fingerprints_cte() -> str:
    return f"""fingerprints AS (
  SELECT doc_id,
         array_to_string(list_sort(list(DISTINCT md5(sh)))[1:{FP_HASHES}], '|') AS fingerprint
  FROM shingles GROUP BY doc_id
)"""


CURATE_MIN_QUALITY = 60


def curate_corpus(
    documents: DataFrame, sh: DataFrame, min_quality: int = CURATE_MIN_QUALITY
) -> DataFrame:
    """End-to-end corpus-curation decision — the composition the
    training-data pipeline actually ships: quality gate (token_stats) then
    near-dup keep-first (winnowing fingerprint collision groups keep their
    lowest doc_id), with the FIRST failing rule as the drop reason.

    Design choices (mirrored verbatim in the oracle): the dedup rank is
    computed over ALL documents (not post-filter survivors) so the output
    is stable under threshold changes; reason precedence is quality before
    near-dup. Shape at scale: one narrow quality map + the fingerprint
    groupBy (one shuffle on doc_id-bounded keys) + a window over
    fingerprint-collision groups (tiny: only colliding groups have >1 row).

    Output: (doc_id, keep boolean, reason ∈ {'low-quality','near-dup',
    'kept'})."""
    ts = token_stats(documents).select("doc_id", "quality")
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    fp = (
        fingerprints(sh)
        .withColumn("fp_rank", F.row_number().over(w))
        .select("doc_id", "fp_rank")
    )
    # LEFT join + default rank 1: documents too short to shingle have no
    # fingerprint row, but every document must still receive a decision
    # (r3 ADVICE — the inner join silently dropped them).
    reason = (
        F.when(F.col("quality") < min_quality, F.lit("low-quality"))
        .when(F.coalesce(F.col("fp_rank"), F.lit(1)) > 1, F.lit("near-dup"))
        .otherwise(F.lit("kept"))
    )
    return ts.join(fp, "doc_id", "left").select(
        "doc_id",
        (reason == F.lit("kept")).alias("keep"),
        reason.alias("reason"),
    )


def curate_corpus_cte() -> str:
    """Expects ``shingles`` and ``fingerprints`` CTEs upstream."""
    return f"""curated AS (
  WITH ts AS ({token_stats_sql()}),
  fp AS (
    SELECT doc_id,
           row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS fp_rank
    FROM fingerprints
  )
  SELECT ts.doc_id,
         (CASE WHEN quality < {CURATE_MIN_QUALITY} THEN 'low-quality'
               WHEN COALESCE(fp_rank, 1) > 1 THEN 'near-dup' ELSE 'kept' END) = 'kept' AS keep,
         CASE WHEN quality < {CURATE_MIN_QUALITY} THEN 'low-quality'
              WHEN COALESCE(fp_rank, 1) > 1 THEN 'near-dup' ELSE 'kept' END AS reason
  FROM ts LEFT JOIN fp USING (doc_id)
)"""


# Deterministic stratified sampling — the data-mixing primitive a training
# pipeline uses to rebalance language/source strata. Hash-gated, NOT
# random: keep a document iff the first byte of md5(doc_id) is below the
# stratum's rate (in 256ths). Properties a mixing pipeline relies on, both
# by construction: (a) reproducible across runs/engines (no RNG state, no
# partition-order dependence — contrast df.sample, whose output changes
# with the split layout); (b) MONOTONE — raising a stratum's rate only
# ADDS documents, so remixes are supersets and downstream caches stay
# valid. The hex-string comparison (lexicographic on lowercase hex ==
# byte order) is bit-identical in Spark and DuckDB.
DEFAULT_MIX: dict[str, int] = {"en": 224, "es": 128, "de": 128, "fr": 96, "zh": 96}
MIX_DEFAULT_RATE = 64  # the rate of a language DEFAULT_MIX does not name


def _rate_hex(r: int) -> str:
    """Rate (in 256ths) → the 2-char comparison threshold. 256 = keep-all
    maps to 'zz' (lexicographically above every hex pair, so the gate is
    always true). Out-of-range rates raise instead of silently inverting:
    f'{256:02x}' is the 3-char '100' and the string compare would keep
    only buckets starting '0' (~6%) — a review-caught monotonicity break."""
    if not 0 <= r <= 256:
        raise ValueError(f"stratum rate must be in 0..256, got {r}")
    return "zz" if r == 256 else f"{r:02x}"


def stratified_sample(
    documents: DataFrame,
    rates: dict[str, int] | None = None,
    default_rate: int = MIX_DEFAULT_RATE,
) -> DataFrame:
    """(doc_id, lang, bucket, rate): the kept sample. ``bucket`` is the
    gating hash byte (hex) and ``rate`` the stratum's threshold — exposed
    so the oracle checks the gate itself, not just the survivor set.
    Rates are 0..256 (256 = keep the whole stratum).
    Narrow (one map, no shuffle)."""
    rates = DEFAULT_MIX if rates is None else rates
    bucket = F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2
    )
    rate_col = F.lit(_rate_hex(default_rate))
    for lang, r in sorted(rates.items()):
        rate_col = F.when(F.col("lang") == lang, F.lit(_rate_hex(r))).otherwise(
            rate_col
        )
    return (
        documents.select(
            "doc_id",
            "lang",
            bucket.alias("bucket"),
            rate_col.alias("rate"),
        )
        .filter(F.col("bucket") < F.col("rate"))
    )


def _mix_rate_case() -> str:
    """The SQL twin of :func:`stratified_sample`'s rate column at
    ``DEFAULT_MIX`` / ``MIX_DEFAULT_RATE``."""
    arms = " ".join(
        f"WHEN lang = '{lang}' THEN '{_rate_hex(r)}'"
        for lang, r in sorted(DEFAULT_MIX.items())
    )
    return f"CASE {arms} ELSE '{_rate_hex(MIX_DEFAULT_RATE)}' END"


def stratified_sample_sql() -> str:
    rate_case = _mix_rate_case()
    return f"""
SELECT doc_id, lang,
       substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
       {rate_case} AS rate
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
      < {rate_case}"""


# PII-style redaction over transcripts — the anonymization pass a
# training-data pipeline runs before release: replace every @-mention
# (the fixture's personal-identifier analogue) with a fixed placeholder
# token, and report the redaction count plus an md5 of the redacted text
# so the oracle checks the FULL rewritten string, not just the count.
# Pure column expressions (regexp_replace + regexp_extract_all) — narrow,
# JVM-side, no shuffle; the same regex is valid in Java and RE2.
REDACT_RX = r"@[A-Za-z_][A-Za-z0-9_]*"
REDACT_TOKEN = "@REDACTED"


def redact_mentions(transcripts: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, n_redactions, redacted_md5): per-turn redaction
    report. Turns with no mention pass through with n_redactions = 0 and
    the hash of the unchanged text (every turn gets a row — same
    every-record-gets-a-decision contract as curate_corpus)."""
    red = F.regexp_replace(F.col("text"), REDACT_RX, REDACT_TOKEN)
    n = F.size(F.regexp_extract_all(F.col("text"), F.lit(REDACT_RX), 0))
    return transcripts.select(
        "conv_id",
        "turn_idx",
        n.cast("int").alias("n_redactions"),
        F.md5(red).alias("redacted_md5"),
    )


def redact_mentions_cte() -> str:
    return f"""redacted AS (
  SELECT conv_id, turn_idx,
         CAST(len(regexp_extract_all(text, '{REDACT_RX}', 0)) AS INT) AS n_redactions,
         md5(regexp_replace(text, '{REDACT_RX}', '{REDACT_TOKEN}', 'g')) AS redacted_md5
  FROM transcripts
)"""


# Sequence packing — the pretraining batch-prep op: documents are
# concatenated in global doc_id order and cut into fixed ctx-token bins
# (docs may span bin boundaries — the standard packed-pretraining layout).
# Each document's placement is a pure function of the EXCLUSIVE prefix sum
# of token counts, so the operator is really "distributed prefix sum done
# right": a naive single window ORDER BY doc_id funnels the whole corpus
# through ONE task (the r3 top_entities anti-pattern at 10^9 docs); here
# the cumsum is two-phase —
#   stage 1: range-partition by doc_id, per-partition token totals (P tiny
#            rows) collected and turned into per-partition base offsets
#            (the only driver step: P = shuffle-partition count, a
#            size-bounded scheduler constant, NOT data-dependent);
#   stage 2: intra-partition exclusive cumsum (window partitioned BY the
#            range-partition id — each sort is one partition's rows) plus
#            the broadcast base offset.
# The oracle computes the same placement with DuckDB's global window — the
# equality proves the two-phase decomposition exact.
PACK_CTX = 512


def pack_sequences(documents: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, start_tok, first_bin, last_bin): global packed
    placement of every document at PACK_CTX-token bin width."""
    n = F.size(F.split(F.col("text"), r"\s+")).cast("long")
    d = documents.select("doc_id", n.alias("n_tokens"))
    d = d.repartitionByRange(max(d.sparkSession.sparkContext.defaultParallelism, 1), "doc_id")
    # Materialize ONCE: repartitionByRange SAMPLES its boundaries per job,
    # so without pinning, the stage-1 totals job and the stage-2 window job
    # could see DIFFERENT partition layouts — the broadcast base offsets
    # would then be keyed to stale pids (observed at sf0.1: 62% of bins
    # shifted). The checkpoint freezes the layout both stages read.
    d = d.withColumn("_pid", F.spark_partition_id()).localCheckpoint(eager=True)

    # stage 1: per-partition totals -> exclusive base offsets (P rows)
    parts = d.groupBy("_pid").agg(F.sum("n_tokens").alias("t")).collect()
    base, acc = {}, 0
    for r in sorted(parts, key=lambda r: r._pid):
        base[r._pid] = acc
        acc += r.t
    if base:
        base_col = F.create_map(
            *[F.lit(x) for kv in sorted(base.items()) for x in kv]
        )[F.col("_pid")]
    else:  # empty corpus: no partitions reported; offset is trivially 0
        base_col = F.lit(0)

    # stage 2: intra-partition exclusive cumsum + broadcast base
    w = (
        Window.partitionBy("_pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) + base_col
    return d.select(
        "doc_id",
        "n_tokens",
        start.cast("long").alias("start_tok"),
    ).select(
        "doc_id",
        "n_tokens",
        "start_tok",
        F.expr(f"start_tok div {PACK_CTX}").cast("long").alias("first_bin"),
        F.expr(f"(start_tok + greatest(n_tokens - 1, 0)) div {PACK_CTX}")
        .cast("long")
        .alias("last_bin"),
    )


def pack_sequences_sql() -> str:
    """Oracle: the single global window (fine at oracle scale) — equality
    with the engine's two-phase prefix sum proves the decomposition."""
    return f"""
WITH d AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT doc_id, n_tokens,
       CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok,
       CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // {PACK_CTX} AS BIGINT) AS first_bin,
       CAST((COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            + GREATEST(n_tokens - 1, 0)) // {PACK_CTX} AS BIGINT) AS last_bin
FROM d"""


def prepare_manifest(
    documents: DataFrame,
    sh: DataFrame,
    min_quality: int = CURATE_MIN_QUALITY,
) -> DataFrame:
    """The composed end-to-end training-data product: one pass that takes a
    raw corpus to a TRAINING MANIFEST — per document, the first failing
    gate (quality → near-dup → contamination → sampling, in that
    precedence) or 'kept', and for kept documents their packed placement
    (start token offset + first PACK_CTX-bin) over the surviving set.

    Composes the already-gated operators verbatim (curate_corpus,
    contamination_pairs, stratified_sample, pack_sequences), so the oracle
    chains their CTE twins; precedence is mirrored exactly. Shape at
    scale: each gate is the underlying operator's shape; the packing runs
    over survivors only.

    Output: (doc_id, status ∈ {'low-quality','near-dup','contaminated',
    'not-sampled','kept'}, start_tok, first_bin — NULL unless kept)."""
    from .dedup import contamination_pairs

    decisions = curate_corpus(documents, sh, min_quality).select(
        "doc_id", F.col("reason").alias("cur_reason")
    )
    contam = (
        contamination_pairs(sh)
        .select(F.col("train_doc_id").alias("doc_id"))
        .distinct()
        .withColumn("is_contam", F.lit(True))
    )
    sampled = (
        stratified_sample(documents)
        .select("doc_id")
        .withColumn("is_sampled", F.lit(True))
    )
    status = (
        F.when(F.col("cur_reason") != "kept", F.col("cur_reason"))
        .when(F.coalesce(F.col("is_contam"), F.lit(False)), F.lit("contaminated"))
        .when(~F.coalesce(F.col("is_sampled"), F.lit(False)), F.lit("not-sampled"))
        .otherwise(F.lit("kept"))
    )
    flags = (
        documents.select("doc_id")
        .join(decisions, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .join(sampled, "doc_id", "left")
        .select("doc_id", status.alias("status"))
    )
    kept = documents.join(
        flags.filter(F.col("status") == "kept").select("doc_id"), "doc_id"
    )
    packed = pack_sequences(kept).select("doc_id", "start_tok", "first_bin")
    return flags.join(packed, "doc_id", "left").select(
        "doc_id", "status", "start_tok", "first_bin"
    )


def prepare_manifest_sql() -> str:
    """Oracle: the same precedence chained over the operators' CTE twins
    (expects ``shingles``/``fingerprints``/``curated``/``contamination``
    upstream); packing over survivors via the single global window."""
    rate_case = _mix_rate_case()
    return f"""manifest AS (
  WITH flags AS (
    SELECT d.doc_id,
           CASE WHEN c.reason <> 'kept' THEN c.reason
                WHEN ct.doc_id IS NOT NULL THEN 'contaminated'
                WHEN NOT (substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) < {rate_case})
                     THEN 'not-sampled'
                ELSE 'kept' END AS status
    FROM documents d
    JOIN curated c USING (doc_id)
    LEFT JOIN (SELECT DISTINCT train_doc_id AS doc_id FROM contamination) ct
      USING (doc_id)
  ), kept AS (
    SELECT d.doc_id,
           CAST(len(regexp_split_to_array(d.text, '\\s+')) AS BIGINT) AS n_tokens
    FROM documents d JOIN flags USING (doc_id) WHERE flags.status = 'kept'
  ), packed AS (
    SELECT doc_id,
           CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
    FROM kept
  )
  SELECT f.doc_id, f.status,
         p.start_tok,
         CAST(p.start_tok // {PACK_CTX} AS BIGINT) AS first_bin
  FROM flags f LEFT JOIN packed p USING (doc_id)
)"""


# Character-bigram LM quality scoring (CCNet-style, Wenzek et al. 2020 —
# there a KenLM 5-gram ranks documents into head/middle/tail; here the
# model is a char-bigram table TRAINED ON THE CORPUS ITSELF, the
# self-supervised variant, and the scores are integer-exact so the DuckDB
# twin matches bit-for-bit where float log-probs could not). A document
# full of improbable character transitions (gibberish, encoding damage,
# non-text) shows a high rare-bigram count and a low mean corpus
# frequency.
RARE_BIGRAM_MAX = 4  # corpus occurrences < this → the bigram is "rare"


def charlm_quality(documents: DataFrame) -> DataFrame:
    """tx8: per-document char-bigram LM statistics against the corpus-wide
    bigram model: (doc_id, n_bigrams, n_distinct_bigrams, rare_bigrams,
    mean_bigram_freq). ``rare_bigrams`` counts occurrences of bigrams seen
    fewer than ``RARE_BIGRAM_MAX`` times corpus-wide; ``mean_bigram_freq`` is the
    integer mean corpus count over the document's bigram occurrences —
    the unigram-over-bigrams LM score in exact integer form (integer div;
    at a 100TB corpus the sum n*corpus_n needs the log-bucketed variant to
    stay in int64 — noted, not needed at any tested scale).

    100TB shape: the doc-side (doc_id, bigram) partial aggregate collapses
    to ≤ alphabet² rows per document BEFORE its shuffle; the model is the
    same aggregate re-keyed by bigram (alphabet²-bounded → Catalyst
    broadcasts it); the final per-doc aggregate reuses the doc_id key.
    The model and probe branches share the SAME (doc_id, bg) exchange —
    AQE dedupes the two identical subplans into one ReusedExchange at
    runtime (audited post-execution; the static plan shows the subtree
    twice), so the corpus-char-scale explode+partial-agg is paid once. Documents shorter than two characters emit no row (no
    bigrams), same as the oracle's empty range.

    Overlapping bigrams come from a Java-regex LOOKAHEAD —
    ``(?s)(?=(..))`` captures the 2 chars at every position — which runs
    as one codegen'd JVM regexp_extract_all call per document; the
    interpreted ``transform(sequence(...), i -> substring(text, i, 2))``
    formulation (a per-CHAR interpreted lambda, the Spark property the dd8
    window pass hit) measured 10× slower at the 10x corpus (62.9s vs 6.0s
    for the doc-side aggregate), with output equality asserted. The oracle
    keeps the range+substr form — RE2 has no lookahead, and mechanism
    independence is the point of the twin."""
    from .dedup import _widen

    documents = _widen(documents)
    bg = documents.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(r"(?s)(?=(..))"), 1)
        ).alias("bg"),
    )
    dc = bg.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("n"))
    model = dc.groupBy("bg").agg(F.sum("n").alias("corpus_n"))
    return (
        dc.join(model, "bg")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_bigrams"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_bigrams"),
            F.sum(F.when(F.col("corpus_n") < RARE_BIGRAM_MAX, F.col("n")).otherwise(0))
            .cast("long")
            .alias("rare_bigrams"),
            F.expr("sum(n * corpus_n) div sum(n)")
            .cast("long")
            .alias("mean_bigram_freq"),
        )
    )


def charlm_quality_sql() -> str:
    return f"""
WITH charbg AS (
  SELECT doc_id, substr(text, i, 2) AS bg
  FROM documents, unnest(range(1, greatest(length(text) - 1, 0) + 1)) AS t(i)
),
dc AS (SELECT doc_id, bg, COUNT(*) AS n FROM charbg GROUP BY doc_id, bg),
model AS (SELECT bg, SUM(n) AS corpus_n FROM dc GROUP BY bg)
SELECT doc_id,
       CAST(SUM(n) AS BIGINT) AS n_bigrams,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams,
       CAST(SUM(CASE WHEN corpus_n < {RARE_BIGRAM_MAX} THEN n ELSE 0 END) AS BIGINT)
         AS rare_bigrams,
       CAST(SUM(n * corpus_n) // SUM(n) AS BIGINT) AS mean_bigram_freq
FROM dc JOIN model USING (bg) GROUP BY doc_id"""


# One BPE merge iteration — the tokenizer-TRAINING step (Sennrich et al.
# 2016 alg. 1): count adjacent symbol pairs over the corpus, weighted by
# word frequency; the top pair is the next merge. Symbols here are
# characters (the first iteration).
BPE_TOP_N = 50


def bpe_merge_candidates(documents: DataFrame) -> DataFrame:
    """bpe1: the first BPE merge-candidate table: (pair, pair_count,
    n_word_positions) — top ``BPE_TOP_N`` adjacent character pairs by corpus
    count (count desc, pair asc: total order, deterministic LIMIT).
    ``pair_count`` weights each in-word occurrence by the word's corpus
    frequency; ``n_word_positions`` counts distinct (word, position)
    sites.

    100TB shape — the property that makes BPE training distributable: the
    corpus collapses to the VOCABULARY first (one partial-agg shuffle on
    uniform word keys), and pair counting then runs over distinct words ×
    their length — vocabulary-bounded, orders of magnitude smaller than
    the corpus. The final ordered LIMIT sorts the alphabet²-bounded pair
    table only."""
    from .dedup import _widen

    documents = _widen(documents)
    words = (
        documents.select(F.explode(F.split(F.col("text"), r"\s+")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # same codegen'd lookahead extraction as charlm_quality (the vocab
    # table is small, but the mechanism is strictly better either way)
    pairs = words.select(
        "freq",
        F.explode(
            F.regexp_extract_all(F.col("word"), F.lit(r"(?s)(?=(..))"), 1)
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.sum("freq").cast("long").alias("pair_count"),
            F.count(F.lit(1)).cast("long").alias("n_word_positions"),
        )
        .orderBy(F.col("pair_count").desc(), F.col("pair").asc())
        .limit(BPE_TOP_N)
    )


def bpe_merge_candidates_sql() -> str:
    return f"""
WITH words AS (
  SELECT word, COUNT(*) AS freq
  FROM (SELECT unnest(regexp_split_to_array(text, '\\s+')) AS word FROM documents)
  GROUP BY word
),
wpairs AS (
  SELECT freq, substr(word, i, 2) AS pair
  FROM words, unnest(range(1, greatest(length(word) - 1, 0) + 1)) AS t(i)
)
SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count,
       CAST(COUNT(*) AS BIGINT) AS n_word_positions
FROM wpairs GROUP BY pair
ORDER BY pair_count DESC, pair ASC LIMIT {BPE_TOP_N}"""


def mixture_weights(documents: DataFrame) -> DataFrame:
    """cur3: domain-mixture reweighting — per source, the sampling weight
    that rebalances the corpus to a UNIFORM source mixture (the data-
    mixing step of e.g. The Pile / Dolma recipes, with uniform as the
    declared target): (source, n_docs, n_tokens, weight_ppm,
    expected_docs). weight_ppm = target share ÷ actual share in parts per
    million, integer-exact (div); expected_docs applies it back. An
    over-represented source gets weight < 1e6 (downsample), an
    under-represented one > 1e6 (upsample/repeat).

    100TB shape: one partial-agg shuffle to the source-bounded table,
    then a 1-row global aggregate broadcast back — nothing here scales
    with the corpus."""
    by_src = documents.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), r"\s+"))).cast("long").alias("n_tokens"),
    )
    tot = by_src.agg(
        F.sum("n_docs").alias("total_docs"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    return (
        by_src.crossJoin(F.broadcast(tot))
        .withColumn(
            "weight_ppm",
            F.expr("total_docs * 1000000 div (n_sources * n_docs)").cast("long"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "weight_ppm",
            F.expr("n_docs * weight_ppm div 1000000").cast("long").alias("expected_docs"),
        )
    )


def mixture_weights_sql() -> str:
    return """
WITH by_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(regexp_split_to_array(text, '\\s+'))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT SUM(n_docs) AS total_docs, COUNT(*) AS n_sources FROM by_src)
SELECT source, n_docs, n_tokens,
       CAST(total_docs * 1000000 // (n_sources * n_docs) AS BIGINT) AS weight_ppm,
       CAST(n_docs * (total_docs * 1000000 // (n_sources * n_docs)) // 1000000
            AS BIGINT) AS expected_docs
FROM by_src, tot"""


# Temperature-flattened mixture sampling — the Gopher/multilingual-NMT
# data-mixing move (Rae 2021 §A3.1; Arivazhagan 2019 temperature sampling):
# sample source s with probability ∝ n_s^(1/T); T=2 (√-smoothing, the
# common production choice) boosts small sources and damps the head
# without cur3's hard uniform target. Everything integer-exact so the
# DuckDB twin hash-matches: √ via isqrt (correctly-rounded double sqrt +
# one-step integer correction — provably exact for n < 2^52), shares and
# rates in ppm div arithmetic, and the per-doc gate is the tx4 idiom (md5
# byte bucket vs an IN-QUERY hex threshold, both 3-char padded so the
# keep-all rate 256 = '100' still compares lexicographically).
_ISQRT = (
    "CASE WHEN (_r0 + 1) * (_r0 + 1) <= {n} THEN _r0 + 1 "
    "WHEN _r0 * _r0 > {n} THEN _r0 - 1 ELSE _r0 END"
)


def temperature_mix(documents: DataFrame) -> DataFrame:
    """cur6: (source, n_docs, w, keep_ppm, kept_docs) — √-temperature
    mixture sampling. w = isqrt(n_docs) (∝ n_s^0.5); the realized per-doc
    keep probability scales the per-source ratio w/n so the most
    UP-weighted source keeps 100% (never upsamples — a sampling gate can
    only drop): keep_ppm_s = (w_s div n_s) / max_t(w_t div n_t) in ppm.
    kept_docs counts the docs actually passing the deterministic hash
    gate, so the gate itself — not just the arithmetic — is oracle-checked.

    100TB shape: one source-bounded partial agg, a 1-row max broadcast,
    then one narrow gate pass + one source-bounded count — nothing
    quadratic, nothing driver-side."""
    by_src = documents.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    w = (
        by_src.withColumn(
            "_r0", F.expr("CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE))) AS BIGINT)")
        )
        .withColumn("w", F.expr(_ISQRT.format(n="n_docs")).cast("long"))
        .withColumn("ratio", F.expr("w * 1000000000 div n_docs"))
    )
    mx = w.agg(F.max("ratio").alias("max_ratio"))
    rates = (
        w.crossJoin(F.broadcast(mx))
        .withColumn("keep_ppm", F.expr("ratio * 1000000 div max_ratio").cast("long"))
        .withColumn("rate256", F.expr("keep_ppm * 256 div 1000000"))
        .withColumn("thr", F.lpad(F.lower(F.hex(F.col("rate256"))), 3, "0"))
        .select("source", "n_docs", "w", "keep_ppm", "thr")
    )
    gated = (
        documents.select(
            "source",
            F.lpad(
                F.substring(
                    F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2
                ),
                3,
                "0",
            ).alias("bucket"),
        )
        .join(F.broadcast(rates.select("source", "thr")), "source")
        .filter(F.col("bucket") < F.col("thr"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("kept_docs"))
    )
    return (
        rates.join(gated, "source", "left")
        .select(
            "source",
            "n_docs",
            "w",
            "keep_ppm",
            F.coalesce(F.col("kept_docs"), F.lit(0)).cast("long").alias("kept_docs"),
        )
    )


def temperature_mix_sql() -> str:
    isqrt = _ISQRT.format(n="n_docs")
    return f"""
WITH tm_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
),
tm_w AS (
  SELECT source, n_docs, CAST({isqrt} AS BIGINT) AS w,
         CAST({isqrt} AS BIGINT) * 1000000000 // n_docs AS ratio
  FROM (SELECT source, n_docs,
               CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE))) AS BIGINT) AS _r0
        FROM tm_src)
),
tm_rates AS (
  SELECT source, n_docs, w,
         CAST(ratio * 1000000 // (SELECT MAX(ratio) FROM tm_w) AS BIGINT)
           AS keep_ppm,
         lpad(lower(to_hex(
           ratio * 1000000 // (SELECT MAX(ratio) FROM tm_w) * 256 // 1000000
         )), 3, '0') AS thr
  FROM tm_w
),
tm_gated AS (
  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS kept_docs
  FROM documents d JOIN tm_rates r ON d.source = r.source
  WHERE lpad(substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2), 3, '0') < r.thr
  GROUP BY d.source
)
SELECT r.source, r.n_docs, r.w, r.keep_ppm,
       CAST(COALESCE(g.kept_docs, 0) AS BIGINT) AS kept_docs
FROM tm_rates r LEFT JOIN tm_gated g ON r.source = g.source"""


# TF-IDF keyword extraction — per-document top-k salient terms, the
# classic relevance weighting (Sparck Jones 1972) in EXACT integer form:
# idf_scaled = n_docs * 1e6 div df (the ppm integer surrogate of N/df —
# monotone in the real idf, so the ranking is the tf-idf ranking), and
# score = tf * idf_scaled. Float log-idf could never hash-match across
# engines; the integer surrogate ranks identically for fixed N.
TFIDF_K = 5


def tfidf_keywords(documents: DataFrame) -> DataFrame:
    """tx9: (doc_id, rk, term, tf, df, score) — the top ``TFIDF_K`` terms per
    document by integer tf-idf, rank ties broken by term asc (total order,
    deterministic).

    100TB shape: (doc_id, term) and term partial-agg shuffles; the df
    lookup is a shuffle equi join on the term key with a one-row build
    side per key — Zipfian probe-side skew ("the" pairs with every doc)
    is exactly the shape AQE's skew split handles, and stopwords' scores
    are the LOWEST so the final per-doc window (doc_id-partitioned,
    bounded by the doc's vocabulary) drops them anyway. n_docs rides as a
    1-row broadcast cross join, never a driver scalar."""
    terms = documents.select(
        "doc_id", F.explode(F.split(F.col("text"), r"\s+")).alias("term")
    ).filter(F.col("term") != "")
    tf = terms.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    nd = documents.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (F.col("tf") * F.expr("n_docs * 1000000 div df"))
            .cast("long")
            .alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= TFIDF_K)
        .select("doc_id", "rk", "term", "tf", "df", "score")
    )


def tfidf_keywords_sql() -> str:
    return f"""
WITH tfidf_terms AS (
  SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS term
  FROM documents
),
tfidf_tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tfidf_terms WHERE term <> '' GROUP BY doc_id, term
),
tfidf_df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tfidf_tf GROUP BY term),
tfidf_nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
tfidf_scored AS (
  SELECT doc_id, term, tf, df,
         CAST(tf * (n_docs * 1000000 // df) AS BIGINT) AS score
  FROM tfidf_tf JOIN tfidf_df USING (term), tfidf_nd
),
tfidf_ranked AS (
  SELECT doc_id, term, tf, df, score,
         CAST(row_number() OVER (PARTITION BY doc_id
              ORDER BY score DESC, term ASC) AS INT) AS rk
  FROM tfidf_scored
)
SELECT doc_id, rk, term, tf, df, score FROM tfidf_ranked WHERE rk <= {TFIDF_K}"""


# cur4: DSIR-style data selection — Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling": score every raw document by
# how much its hashed-ngram feature distribution resembles a trusted
# target subset, then keep the top slice. The classic importance weight is
# a sum of log(p_target/p_raw) over features; here each bucket carries the
# integer ppm ratio surrogate (tc+1)*1e6 div (rc+1) — monotone per-bucket
# in the true target/raw ratio, with add-1 smoothing — and a document's
# score is the count-weighted integer mean, so the DuckDB twin
# hash-matches where float log-weights never could (the same surrogate
# discipline as tx8's LM score and tx9's idf).
DSIR_BUCKETS = 1024
DSIR_TOP_K = 100
DSIR_TARGET_LANG = "en"


def dsir_selection(
    documents: DataFrame,
    wins: DataFrame,
    top_k: int = DSIR_TOP_K,
) -> DataFrame:
    """cur4: (doc_id, n_feats, dsir_score) — the ``top_k`` documents whose
    hashed word-bigram distribution best matches the target subset
    (``lang = DSIR_TARGET_LANG``, the trusted-domain stand-in), ties broken by
    doc_id asc (total order). ``wins`` is positional_windows(documents, 2)
    — the bigram stream WITH multiplicity, which DSIR's feature counts
    require (the dedup family's distinct-ed shingles would undercount).

    100TB shape: one narrow bucket projection over the bigram stream
    (md5 already computed by the shared window pass), one
    (doc_id, bucket) partial-agg shuffle that collapses each doc to
    ≤ min(len, DSIR_BUCKETS) rows, ONE bucket-keyed aggregate producing raw
    and target counts together (the target filter is a SUM(CASE), not a
    second corpus pass), a DSIR_BUCKETS-row score table that broadcasts, and a
    final doc_id agg. Selection is orderBy+limit — Spark's TakeOrdered, a
    per-partition top-k merge, never a global sort."""
    b = (
        F.conv(F.substring(F.col("h"), 1, 8), 16, 10).cast("long") % DSIR_BUCKETS
    ).alias("bucket")
    dc = (
        wins.select("doc_id", b)
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    bc = (
        dc.join(documents.select("doc_id", "lang"), "doc_id")
        .groupBy("bucket")
        .agg(
            F.sum("n").cast("long").alias("rc"),
            F.sum(
                F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("n")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("tc"),
        )
    )
    score = bc.select(
        "bucket",
        F.expr("(tc + 1) * 1000000 div (rc + 1)").cast("long").alias("s"),
    )
    doc = (
        dc.join(F.broadcast(score), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_feats"),
            F.sum(F.col("n") * F.col("s")).cast("long").alias("tot"),
        )
        .select(
            "doc_id",
            "n_feats",
            F.expr("tot div n_feats").cast("long").alias("dsir_score"),
        )
    )
    return doc.orderBy(F.col("dsir_score").desc(), F.col("doc_id").asc()).limit(
        top_k
    )


def dsir_selection_sql() -> str:
    """Oracle: the identical integer construction over the shared ``wins``
    CTE (positional_windows_cte(2)); hex-prefix bucket parse is the KMV
    idiom, // the engine's div, same tie-broken ORDER BY LIMIT."""
    return f"""
dsir_dc AS (
  SELECT doc_id,
         CAST(CONCAT('0x', substr(h, 1, 8)) AS BIGINT) % {DSIR_BUCKETS} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM wins GROUP BY 1, 2
),
dsir_bc AS (
  SELECT bucket, CAST(SUM(n) AS BIGINT) AS rc,
         CAST(SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN n ELSE 0 END) AS BIGINT) AS tc
  FROM dsir_dc JOIN documents USING (doc_id) GROUP BY bucket
),
dsir_s AS (
  SELECT bucket, CAST((tc + 1) * 1000000 // (rc + 1) AS BIGINT) AS s FROM dsir_bc
),
dsir_doc AS (
  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_feats,
         CAST(CAST(SUM(n * s) AS BIGINT) // CAST(SUM(n) AS BIGINT) AS BIGINT) AS dsir_score
  FROM dsir_dc JOIN dsir_s USING (bucket) GROUP BY doc_id
)
SELECT doc_id, n_feats, dsir_score FROM dsir_doc
ORDER BY dsir_score DESC, doc_id ASC LIMIT {DSIR_TOP_K}"""
