"""Deterministic transcripts synthesis + loading.

The north rule's input is an Iceberg table of transcripts
(conv_id, turn_idx, role, text, tool, ts). No such table ships with the
sandbox testdata, so we *derive* one deterministically from the driver's
``documents`` parquet (seed data) using only transforms that are expressible
identically in Spark and in DuckDB SQL — this lets every downstream pipeline
stage face the driver's DuckDB oracle gate.

The derivation embeds deterministic instances of every detector family
(FIXTURES.md F1): ``@name`` entity mentions (incl. a hot entity on 50% of
turns with case-variant surfaces — the skew case), ``call:tool(...)`` tool
calls, ``env:KEY`` configs, ``error:"..."`` messages, ``re:#N`` reply
references, consumed full-URL mentions and provided ``GET /path`` endpoints
(which link across conversations through the tiered entity-linking join —
analogue of reference src/scanner/relationshipBuilder.ts:547-590).

Spark side and the DuckDB CTE below MUST stay in lockstep; parity is pinned
by tests/test_transcripts.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

# 2024-01-01T00:00:00Z
EPOCH0 = 1704067200
TURNS_PER_CONV = 10


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def derive_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize the transcripts table from documents, deterministically.

    Layout: ``n_conv = max(n_docs // 10, 1)`` conversations; doc_id d maps to
    conversation ``c<d % n_conv>`` at turn ``d // n_conv`` — turn_idx is dense
    0..9 per conversation and ts is monotone within a conversation.
    """
    docs = load_documents(spark, sf_dir)
    n_docs = docs.count()  # one tiny job; at scale this is a catalog stat
    n_conv = max(n_docs // TURNS_PER_CONV, 1)

    d = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    marker = lambda cond, *parts: F.when(cond, F.concat(*parts)).otherwise(  # noqa: E731
        F.lit("")
    )

    text = F.concat(
        F.col("text"),
        # always-present entity mention
        F.concat(F.lit(" @agent_"), s(d % 23)),
        # hot entity on 50% of turns, case-variant surfaces (near-dup forms)
        marker(
            d % 2 == 0,
            F.when(d % 4 == 0, F.lit(" @Hot_Entity")).otherwise(F.lit(" @hot_entity")),
        ),
        marker(d % 3 == 0, F.lit(" call:tool_"), s(d % 7), F.lit("(x)")),
        marker(d % 5 == 0, F.lit(" env:CFG_"), s(d % 11)),
        marker(d % 7 == 0, F.lit(' error:"E'), s(d % 13), F.lit(' failed"')),
        marker(
            (d % 4 == 1) & (d >= n_conv),
            F.lit(" re:#"),
            s(F.floor(d / n_conv) - 1),
        ),
        marker(
            d % 6 == 0,
            # consumed URL; every other one carries an explicit HTTP verb
            # (method gating fixture — N6): POST urls must NOT link to the
            # GET-provided endpoints below.
            F.when(d % 12 == 0, F.lit(" POST http://svc-")).otherwise(
                F.lit(" http://svc-")
            ),
            s(d % 5),
            F.lit(".example.com/api/v1/r"),
            s(d % 17),
            F.lit("?q=1"),
        ),
        marker(
            d % 6 == 3,
            # provided endpoint with verb split GET/POST (method gate fixture)
            F.when(d % 12 == 3, F.lit(" POST /api/r")).otherwise(
                F.lit(" GET /api/r")
            ),
            s(d % 17),
        ),
        marker(
            d % 9 == 0,
            F.lit(" tbl:"),
            # last two names are singular/plural VARIANTS of catalog tables
            # (order→orders, nations→nation) — the J14 pluralize-key join
            # fixture; the first four match the catalog exactly
            F.element_at(
                F.array(
                    F.lit("orders"), F.lit("lineitem"), F.lit("customer"),
                    F.lit("part"), F.lit("order"), F.lit("nations"),
                ),
                # index on d//9 so the d%9==0 gate doesn't alias the cycle
                # (9k mod 6 only hits {0, 3}); d//9 walks all 6 names
                (F.floor(d / 9) % 6 + 1).cast("int"),
            ),
            F.lit(".c"),
            s(d % 6),
        ),
        # --- tiered-linking fixtures (J20 tiers 1/1b/2/3, N2, N4-N6) -------
        # tier-1 exact-path consumer: path == provided /api/r<k> verbatim
        marker(d % 15 == 2, F.lit(" http://edge.example.com/api/r"), s(d % 17)),
        # POST consumer (distinct path): method gate routes it to the POST
        # providers only, via the api-variant tier
        marker(d % 30 == 17, F.lit(" POST http://edge2.example.com/api/v9/r"), s(d % 17)),
        # tier-2 consumer: no exact/variant provider, but path CONTAINS /r<k>
        marker(d % 25 == 21, F.lit(" http://svc.example.com/api/v1/r"), s(d % 17), F.lit("/extra")),
        # template-path providers (N4): '{id}' and ':id' placeholder styles
        marker(d % 16 == 5, F.lit(" GET /api/it"), s(d % 3), F.lit("/{id}/x")),
        marker(d % 16 == 13, F.lit(" GET /api/obj"), s(d % 3), F.lit("/:oid")),
        # consumers whose concrete paths only match through the template tier
        marker(
            d % 10 == 7,
            F.lit(" http://tsvc.example.com/api/it"),
            s(d % 3),
            F.lit("/"),
            s(d % 23),
            F.lit("/x?z=1"),
        ),
        marker(
            d % 20 == 9,
            F.lit(" http://tsvc.example.com/api/obj"),
            s(d % 3),
            F.lit("/o"),
            s(d % 7),
        ),
        # N2 template-placeholder URL (host is a ${VAR}) + its plain provider
        marker(d % 14 == 8, F.lit(" http://${HOST}/api/cfg/"), s(d % 9)),
        marker(d % 14 == 1, F.lit(" GET /cfg/"), s(d % 9)),
        # security ant-pattern rules (N5/J17)
        marker(d % 26 == 6, F.lit(" secure:/api/r1*")),
        marker(d % 26 == 19, F.lit(" secure:/api/**")),
        # data-lineage directive (J9/J10); every other target drops the
        # underscore — the fuzzy disjunct of the identity join (J23)
        marker(
            d % 17 == 11,
            F.lit(" derive:"),
            F.when(d % 34 == 11, F.concat(F.lit("agent"), s((d + 1) % 23))).otherwise(
                F.concat(F.lit("agent_"), s((d + 1) % 23))
            ),
            F.lit("<agent_"),
            s(d % 23),
            F.lit(",hot_entity"),
        ),
        # span-nesting probe (J2/J11): an entity mention inside an error span
        marker(d % 11 == 4, F.lit(' error:"E9 with @probe_'), s(d % 13), F.lit(' inner"')),
        # late-half-only entities (U5 anti-join fixture): appear only on
        # turn_idx >= 6 (> every conversation's mid of 4.5), so the
        # second-half anti join is non-empty at every sf
        marker(
            (d % 19 == 15) & (F.floor(d / n_conv) >= 6),
            F.lit(" @late_"),
            s(d % 8),
        ),
        # code-fence toggle (S6 stateful group-carry scan)
        marker(d % 21 == 13, F.lit(" ```")),
        # E6 order-sensitivity probe: an endpoint declared in a TOOL-role
        # turn (d%12==2 ⇒ d%4==2 ⇒ role=tool) matches BOTH the client-context
        # arm (⇒ consumed) and the server-declaration arm (⇒ provided); the
        # cascade must classify it by the earlier arm
        marker(d % 12 == 2, F.lit(" GET /relay/r"), s(d % 17)),
        # E14 test-turn markers (two pattern forms, like the reference's
        # .test./.spec./__tests__ multi-pattern file gate)
        marker(d % 23 == 21, F.lit(" [test-run]")),
        marker(d % 23 == 3, F.lit(" [spec-run]")),
        # E9/E10 type-definition schema: named struct with a variable-length
        # field list (every other instance carries a third field so the
        # explode ordinality is exercised at both lengths)
        marker(
            d % 13 == 7,
            F.lit(" type:Shape"),
            s(d % 5),
            F.lit("{id:int,name:str"),
            F.when(d % 26 == 7, F.lit(",flag:bool")).otherwise(F.lit("")),
            F.lit("}"),
        ),
        # every third type-def turn declares a SECOND type (multi-def per
        # turn: 39 = 3x13, so d%39==33 ⇒ d%13==7) — the E9 all-defs-per-
        # file fidelity case
        marker(d % 39 == 33, F.lit(" type:Extra"), s(d % 4), F.lit("{a:int}")),
        # N9/N10 cleanup probe: backtick-quoted token with an identifier-
        # illegal trailing char (quote strip + [^\w.$] sanitize fixture)
        marker(d % 18 == 5, F.lit(" raw:`Cls$"), s(d % 6), F.lit("!`")),
        # S5 second manifest format: XML-ish dependency declarations parsed
        # by REGEX (the reference's pom.xml/csproj mechanism,
        # dependencyExtractor.ts:246-307 — regex over XML, not a DOM).
        # Every other instance declares a second dep (ordinality at both
        # list lengths).
        marker(
            d % 37 == 20,
            F.lit(' pom:<dep name="lib_'),
            s(d % 11),
            F.lit('" ver="3.'),
            s(d % 5),
            F.lit('"/>'),
            F.when(
                d % 74 == 20, F.lit('<dep name="core" ver="1.0"/>')
            ).otherwise(F.lit("")),
        ),
        # S5/E12 structured-payload probe: a JSON manifest (schema-on-read
        # from_json extraction — reference dependencyExtractor parses
        # package manifests into typed dependency entities). Every other
        # instance carries a SECOND dependency so the explode ordinality is
        # exercised at both list lengths. MUST stay the LAST marker: the
        # extractor anchors the JSON capture at end-of-text.
        marker(
            d % 31 == 12,
            F.lit(' manifest:{"deps":[{"n":"pkg_'),
            s(d % 13),
            F.lit('","v":"1.'),
            s(d % 4),
            F.lit('.0"}'),
            F.when(d % 62 == 43, F.lit(',{"n":"pkg_x","v":"2.0.0"}')).otherwise(
                F.lit("")
            ),
            F.lit("]}"),
        ),
    )

    return docs.select(
        F.concat(F.lit("c"), s(d % n_conv)).alias("conv_id"),
        F.floor(d / n_conv).cast("int").alias("turn_idx"),
        F.element_at(
            F.array(F.lit("user"), F.lit("assistant"), F.lit("tool"), F.lit("system")),
            (d % 4 + 1).cast("int"),
        ).alias("role"),
        text.alias("text"),
        F.when(d % 4 == 2, F.concat(F.lit("tool_"), s(d % 7))).alias("tool"),
        F.timestamp_seconds(F.lit(EPOCH0) + d * 60).alias("ts"),
        (F.lit(EPOCH0) + d * 60).cast("long").alias("ts_epoch"),
    )


def amplify(transcripts: DataFrame, factor: int) -> DataFrame:
    """Deterministically replicate the corpus ``factor``× for benchmarking
    (FIXTURES.md F1: bench ≥10⁶ turns, parameterized). Each replica is a new
    conversation family (``conv_id || '_r<i>'``) so linking/canonicalization
    work scales with data size, matching how a real corpus grows (more
    conversations, not longer ones)."""
    if factor <= 1:
        return transcripts
    spark = transcripts.sparkSession
    reps = spark.range(factor).select(F.col("id").alias("_rep"))
    # Repartition the NARROW side before the multiply, broadcast the replica
    # index: the wide replicated rows are produced in place and never
    # shuffled (a post-hoc repartition of the result would shuffle
    # factor x the bytes).
    base = transcripts.repartition(spark.sparkContext.defaultParallelism * 2)
    out = base.crossJoin(F.broadcast(reps)).withColumn(
        "conv_id", F.concat_ws("_r", F.col("conv_id"), F.col("_rep").cast("string"))
    )
    return out.drop("_rep")


def transcripts_cte() -> str:
    """DuckDB-dialect CTE body equivalent to :func:`derive_transcripts`.

    Emits a ``transcripts`` CTE over the pre-registered ``documents`` view.
    ``n_conv`` is computed in-SQL so the same text works at any sf.
    """
    return f"""
transcripts AS (
  SELECT
    'c' || CAST(doc_id % n_conv AS VARCHAR)                       AS conv_id,
    CAST(doc_id // n_conv AS INT)                                 AS turn_idx,
    CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
         WHEN 2 THEN 'tool' ELSE 'system' END                     AS role,
    text
      || ' @agent_' || CAST(doc_id % 23 AS VARCHAR)
      || CASE WHEN doc_id % 2 = 0 THEN
           (CASE WHEN doc_id % 4 = 0 THEN ' @Hot_Entity' ELSE ' @hot_entity' END)
         ELSE '' END
      || CASE WHEN doc_id % 3 = 0 THEN ' call:tool_' || CAST(doc_id % 7 AS VARCHAR) || '(x)' ELSE '' END
      || CASE WHEN doc_id % 5 = 0 THEN ' env:CFG_' || CAST(doc_id % 11 AS VARCHAR) ELSE '' END
      || CASE WHEN doc_id % 7 = 0 THEN ' error:"E' || CAST(doc_id % 13 AS VARCHAR) || ' failed"' ELSE '' END
      || CASE WHEN doc_id % 4 = 1 AND doc_id >= n_conv
              THEN ' re:#' || CAST(doc_id // n_conv - 1 AS VARCHAR) ELSE '' END
      || CASE WHEN doc_id % 6 = 0 THEN
           (CASE WHEN doc_id % 12 = 0 THEN ' POST http://svc-' ELSE ' http://svc-' END)
              || CAST(doc_id % 5 AS VARCHAR)
              || '.example.com/api/v1/r' || CAST(doc_id % 17 AS VARCHAR) || '?q=1' ELSE '' END
      || CASE WHEN doc_id % 6 = 3 THEN
           (CASE WHEN doc_id % 12 = 3 THEN ' POST /api/r' ELSE ' GET /api/r' END)
              || CAST(doc_id % 17 AS VARCHAR) ELSE '' END
      || CASE WHEN doc_id % 9 = 0 THEN ' tbl:' ||
              (CASE CAST((doc_id // 9) % 6 AS INT) WHEN 0 THEN 'orders' WHEN 1 THEN 'lineitem'
                    WHEN 2 THEN 'customer' WHEN 3 THEN 'part'
                    WHEN 4 THEN 'order' ELSE 'nations' END) || '.c' || CAST(doc_id % 6 AS VARCHAR)
         ELSE '' END
      || CASE WHEN doc_id % 15 = 2 THEN ' http://edge.example.com/api/r' || CAST(doc_id % 17 AS VARCHAR) ELSE '' END
      || CASE WHEN doc_id % 30 = 17 THEN ' POST http://edge2.example.com/api/v9/r' || CAST(doc_id % 17 AS VARCHAR) ELSE '' END
      || CASE WHEN doc_id % 25 = 21 THEN ' http://svc.example.com/api/v1/r' || CAST(doc_id % 17 AS VARCHAR) || '/extra' ELSE '' END
      || CASE WHEN doc_id % 16 = 5 THEN ' GET /api/it' || CAST(doc_id % 3 AS VARCHAR) || '/{{id}}/x' ELSE '' END
      || CASE WHEN doc_id % 16 = 13 THEN ' GET /api/obj' || CAST(doc_id % 3 AS VARCHAR) || '/:oid' ELSE '' END
      || CASE WHEN doc_id % 10 = 7 THEN ' http://tsvc.example.com/api/it' || CAST(doc_id % 3 AS VARCHAR)
              || '/' || CAST(doc_id % 23 AS VARCHAR) || '/x?z=1' ELSE '' END
      || CASE WHEN doc_id % 20 = 9 THEN ' http://tsvc.example.com/api/obj' || CAST(doc_id % 3 AS VARCHAR)
              || '/o' || CAST(doc_id % 7 AS VARCHAR) ELSE '' END
      || CASE WHEN doc_id % 14 = 8 THEN ' http://${{HOST}}/api/cfg/' || CAST(doc_id % 9 AS VARCHAR) ELSE '' END
      || CASE WHEN doc_id % 14 = 1 THEN ' GET /cfg/' || CAST(doc_id % 9 AS VARCHAR) ELSE '' END
      || CASE WHEN doc_id % 26 = 6 THEN ' secure:/api/r1*' ELSE '' END
      || CASE WHEN doc_id % 26 = 19 THEN ' secure:/api/**' ELSE '' END
      || CASE WHEN doc_id % 17 = 11 THEN ' derive:' ||
              (CASE WHEN doc_id % 34 = 11 THEN 'agent' ELSE 'agent_' END)
              || CAST((doc_id + 1) % 23 AS VARCHAR)
              || '<agent_' || CAST(doc_id % 23 AS VARCHAR) || ',hot_entity' ELSE '' END
      || CASE WHEN doc_id % 11 = 4 THEN ' error:"E9 with @probe_' || CAST(doc_id % 13 AS VARCHAR) || ' inner"' ELSE '' END
      || CASE WHEN doc_id % 19 = 15 AND doc_id // n_conv >= 6
              THEN ' @late_' || CAST(doc_id % 8 AS VARCHAR) ELSE '' END
      || CASE WHEN doc_id % 21 = 13 THEN ' ```' ELSE '' END
      || CASE WHEN doc_id % 12 = 2 THEN ' GET /relay/r' || CAST(doc_id % 17 AS VARCHAR) ELSE '' END
      || CASE WHEN doc_id % 23 = 21 THEN ' [test-run]' ELSE '' END
      || CASE WHEN doc_id % 23 = 3 THEN ' [spec-run]' ELSE '' END
      || CASE WHEN doc_id % 13 = 7 THEN ' type:Shape' || CAST(doc_id % 5 AS VARCHAR)
              || '{{id:int,name:str' || (CASE WHEN doc_id % 26 = 7 THEN ',flag:bool' ELSE '' END) || '}}' ELSE '' END
      || CASE WHEN doc_id % 39 = 33 THEN ' type:Extra' || CAST(doc_id % 4 AS VARCHAR) || '{{a:int}}' ELSE '' END
      || CASE WHEN doc_id % 18 = 5 THEN ' raw:`Cls$' || CAST(doc_id % 6 AS VARCHAR) || '!`' ELSE '' END
      || CASE WHEN doc_id % 37 = 20 THEN ' pom:<dep name="lib_' || CAST(doc_id % 11 AS VARCHAR)
              || '" ver="3.' || CAST(doc_id % 5 AS VARCHAR) || '"/>'
              || (CASE WHEN doc_id % 74 = 20 THEN '<dep name="core" ver="1.0"/>' ELSE '' END) ELSE '' END
      || CASE WHEN doc_id % 31 = 12 THEN ' manifest:{{"deps":[{{"n":"pkg_' || CAST(doc_id % 13 AS VARCHAR)
              || '","v":"1.' || CAST(doc_id % 4 AS VARCHAR) || '.0"}}'
              || (CASE WHEN doc_id % 62 = 43 THEN ',{{"n":"pkg_x","v":"2.0.0"}}' ELSE '' END) || ']}}' ELSE '' END
                                                                  AS text,
    CASE WHEN doc_id % 4 = 2 THEN 'tool_' || CAST(doc_id % 7 AS VARCHAR) END AS tool,
    CAST({EPOCH0} + doc_id * 60 AS BIGINT)                        AS ts_epoch
  FROM documents,
       (SELECT GREATEST(COUNT(*) // {TURNS_PER_CONV}, 1) AS n_conv FROM documents)
)"""
