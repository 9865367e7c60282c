"""Query layer: NL-template router → DataFrame plans (SURVEY.md §2.11).

Analogue of the reference's natural-language query command
(src/commands/queryCommand.ts:8-292): a ``SQL:`` passthrough (≡ its
``CYPHER:`` passthrough, queryCommand.ts:18-26), regex-matched templates in
precedence order (advanced before basic before fallback,
queryCommand.ts:195-212), then a tokenized keyword fallback over node names
(queryCommand.ts:214-288). Every template compiles to DataFrame ops over the
registered ``nodes``/``edges`` temp views; results get the reference's
default LIMIT 100 unless the template overrides (queryCommand.ts:13-15).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

DEFAULT_LIMIT = 100  # reference: src/index.ts:126-127


@dataclass
class RoutedQuery:
    template: str
    df: DataFrame


class QueryRouter:
    """Routes a prompt to a DataFrame plan over nodes/edges/transcripts
    DataFrames. Register the materialized tables once, then ``route()``."""

    def __init__(
        self,
        spark: SparkSession,
        nodes: DataFrame,
        edges: DataFrame,
    ):
        self.spark = spark
        self.nodes = nodes
        self.edges = edges
        nodes.createOrReplaceTempView("nodes")
        edges.createOrReplaceTempView("edges")
        # precedence-ordered templates (regex, handler) — Q2. The advanced
        # templates mirror the reference's set (queryCommand.ts:29-192):
        # cycle detection, impact-of-seed, provided/consumed listings,
        # configs-per-container, who-calls.
        self.templates: list[tuple[str, re.Pattern, Callable[[re.Match], DataFrame]]] = [
            (
                "tool_cycles",
                re.compile(r"(?:circular|cycle|cyclic).*tool", re.I),
                self._tool_cycles,
            ),
            (
                "impact_of_turn",
                # ':' admitted in the conv-id class: kg_tool-scanned graphs
                # always namespace conversation ids as "rt<i>:<conv>"
                re.compile(
                    r"impact.*turn\s+['\"]?([A-Za-z0-9_\-:]+)#(\d+)['\"]?(?:.*depth\s+(\d+))?",
                    re.I,
                ),
                self._impact_of_turn,
            ),
            (
                "list_provided",
                re.compile(r"(?:list|show).*provided\s+(?:resources|apis|endpoints)", re.I),
                lambda m: self._list_kind("resource"),
            ),
            (
                "list_consumed",
                re.compile(r"(?:list|show).*consumed\s+(?:urls|apis|resources)", re.I),
                lambda m: self._list_kind("url"),
            ),
            (
                "configs_in_conversation",
                re.compile(
                    r"(?:what|which).*configs?.*conversation\s+['\"]?([A-Za-z0-9_\-:]+)['\"]?",
                    re.I,
                ),
                self._configs_in_conversation,
            ),
            (
                "calls_of_tool",
                re.compile(r"(?:what|which).*(?:calls?|uses?)\s+tool\s+([A-Za-z0-9_.\-]+)", re.I),
                self._calls_of_tool,
            ),
            (
                "mentions_of",
                re.compile(r"(?:where|what).*mentions?\s+(?:of\s+)?([A-Za-z0-9_.\-]+)", re.I),
                self._mentions_of,
            ),
            (
                "count_by_type",
                re.compile(r"count.*(?:by|per)\s+(?:type|label)", re.I),
                self._count_by_type,
            ),
            (
                "most_connected",
                re.compile(r"most\s+connected|top\s+hubs?", re.I),
                self._most_connected,
            ),
            (
                "replies_chain",
                re.compile(r"repl(?:y|ies).*(?:in|for)\s+conversation\s+([A-Za-z0-9_.:\-]+)", re.I),
                self._replies_chain,
            ),
        ]

    # --- Q1: raw passthrough -------------------------------------------
    def route(self, prompt: str) -> RoutedQuery:
        prompt = prompt.strip()
        if prompt.upper().startswith("SQL:"):
            df = self.spark.sql(prompt[4:])
            return RoutedQuery("sql_passthrough", self._with_limit(df, prompt))
        for name, rx, handler in self.templates:
            m = rx.search(prompt)
            if m:
                return RoutedQuery(name, handler(m).limit(DEFAULT_LIMIT))
        return RoutedQuery("fallback_search", self._fallback(prompt).limit(DEFAULT_LIMIT))

    def _with_limit(self, df: DataFrame, prompt: str) -> DataFrame:
        if re.search(r"\blimit\s+\d+", prompt, re.I):
            return df
        return df.limit(DEFAULT_LIMIT)

    # --- Q2 templates ---------------------------------------------------
    def _calls_of_tool(self, m: re.Match) -> DataFrame:
        tool = m.group(1).lower()
        tool_nodes = self.nodes.filter(
            (F.col("type") == "tool") & (F.col("norm") == tool)
        )
        return (
            self.edges.filter(F.col("pred") == "calls-tool")
            .join(tool_nodes.select(F.col("id").alias("obj")), "obj")
            .join(
                self.nodes.select(F.col("id").alias("subj"), F.col("name").alias("turn")),
                "subj",
            )
            .select("turn")
            .orderBy("turn")
        )

    def _mentions_of(self, m: re.Match) -> DataFrame:
        key = m.group(1).lower()
        ent = self.nodes.filter(F.col("norm") == key)
        return (
            self.edges.filter(F.col("pred") == "mentions-in")
            .join(ent.select(F.col("id").alias("subj")), "subj")
            .join(
                self.nodes.select(F.col("id").alias("obj"), F.col("name").alias("turn")),
                "obj",
            )
            .select("turn")
            .orderBy("turn")
        )

    def _count_by_type(self, m: re.Match) -> DataFrame:
        return self.nodes.groupBy("type").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        ).orderBy("type")

    def _most_connected(self, m: re.Match) -> DataFrame:
        deg = (
            self.edges.select(F.col("subj").alias("id"))
            .unionByName(self.edges.select(F.col("obj").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        )
        return (
            deg.join(self.nodes.select("id", "type", "name"), "id")
            .orderBy(F.desc("degree"), F.asc("id"))
        )

    def _replies_chain(self, m: re.Match) -> DataFrame:
        conv = m.group(1)
        conv_turns = self.nodes.filter(
            (F.col("type") == "turn") & (F.col("first_conv") == conv)
        )
        return (
            self.edges.filter(F.col("pred") == "replies-to")
            .join(conv_turns.select(F.col("id").alias("subj"), F.col("name").alias("from_turn")), "subj")
            .join(
                self.nodes.select(F.col("id").alias("obj"), F.col("name").alias("to_turn")),
                "obj",
            )
            .select("from_turn", "to_turn")
            .orderBy("from_turn")
        )

    def _tool_cycles(self, m: re.Match) -> DataFrame:
        from ..operators.graph import find_cycles

        calls = self.edges.filter(F.col("pred") == "calls-tool")
        # turn→tool edges form a bipartite graph; derive tool→tool via
        # shared turns is conversation-order dependent, so cycle-check the
        # refers-to graph too — union both directed slices
        refers = self.edges.filter(F.col("pred") == "refers-to")
        g = calls.select("subj", "obj").unionByName(refers.select("subj", "obj"))
        return find_cycles(g, "subj", "obj", max_len=8)

    def _impact_of_turn(self, m: re.Match) -> DataFrame:
        from ..functions.route import local_frame
        from ..operators.graph import IMPACT_REPORT, turn_impact

        conv, turn = m.group(1), int(m.group(2))
        depth = int(m.group(3)) if m.group(3) else 3
        rows = turn_impact(self.edges, self.nodes, conv, turn, depth)
        # an unknown seed answers with a DISTINCT marker row (same schema
        # as the impact report)
        if rows is None:
            rows = [("seed-not-found", 0, None)]
        return local_frame(self.spark, rows, IMPACT_REPORT)

    def _list_kind(self, kind: str) -> DataFrame:
        return (
            self.nodes.filter(F.col("type") == kind)
            .select("name", "norm")
            .orderBy("norm", "name")
        )

    def _configs_in_conversation(self, m: re.Match) -> DataFrame:
        conv = m.group(1)
        conv_turns = self.nodes.filter(
            (F.col("type") == "turn") & (F.col("first_conv") == conv)
        ).select(F.col("id").alias("obj"))
        cfg = self.nodes.filter(F.col("type") == "config").select(
            F.col("id").alias("subj"), F.col("name").alias("config")
        )
        return (
            self.edges.filter(F.col("pred") == "mentions-in")
            .join(conv_turns, "obj")
            .join(cfg, "subj")
            .select("config")
            .distinct()
            .orderBy("config")
        )

    # --- Q3: tokenized fallback ----------------------------------------
    def _fallback(self, prompt: str) -> DataFrame:
        words = [
            w
            for w in re.sub(r"[^\w\s]", " ", prompt.lower()).split()
            if len(w) > 2
        ][:8]
        if not words:
            return self.nodes.select("type", "name").limit(0)
        cond = None
        for w in words:
            c = F.lower(F.col("name")).contains(w) | F.lower(
                F.coalesce(F.col("norm"), F.lit(""))
            ).contains(w)
            cond = c if cond is None else (cond | c)
        return self.nodes.filter(cond).select("type", "name", "norm").orderBy(
            "type", "name"
        )
