"""Normalization kernels (SURVEY.md §2.3 N1-N15 analogues).

Each normalizer exists in three lockstep dialects:

* ``*_py``   — Python, used inside the vectorized extraction UDF;
* ``*_col``  — Spark Column expression (JVM-side, codegen'd) for relational
               stages;
* ``*_sql``  — DuckDB SQL snippet builder for the oracle gate.

Regexes are restricted to the RE2 ∩ java.util.regex ∩ Python ``re`` common
subset (no lookaround, no backrefs) so all three dialects agree exactly.

Reference semantics being replayed: path/URL identity normalization
(src/scanner/astExtractor.ts:93-116), linking-side API-path normalization
(src/scanner/relationshipBuilder.ts:607-645), template-placeholder strip
(astExtractor.ts:119-125), person/name normalization
(src/scanner/developerAnalyzer.ts:50-56).
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import Column

# --- N1: strip scheme+host, query/hash, collapse //, drop trailing / -------
RE_SCHEME_HOST = r"^[a-z]+://[^/]*"
RE_QUERY_HASH = r"[?#].*"
RE_MULTISLASH = r"/{2,}"
# --- N3: strip /api, /api-vN, /api/vN prefixes (linking-side) --------------
RE_API_PREFIX = r"^/api(-v[0-9]+)?/(v[0-9]+/)?"
# --- N2: template placeholder ----------------------------------------------
RE_TEMPLATE = r"\$\{[^}]+\}"
# --- N7: person/entity name normalize --------------------------------------
RE_SPECIALS = r"[^a-z0-9_ ]"
RE_SPACES = r" +"


def norm_path_py(s: str) -> str:
    """N1: URL/path → identity path (no api-strip). Empty-safe."""
    s = re.sub(RE_SCHEME_HOST, "", s)
    s = re.sub(RE_QUERY_HASH, "", s)
    s = re.sub(RE_MULTISLASH, "/", s)
    if len(s) > 1 and s.endswith("/"):
        s = s[:-1]
    return s.lower()


def norm_resource_py(s: str) -> str:
    """N1+N3: fully normalized resource key (blocking key for linking)."""
    s = norm_path_py(s)
    s = re.sub(RE_API_PREFIX, "/", s)
    return s


def norm_name_py(s: str) -> str:
    """N7: entity-name blocking key: lower, strip specials, collapse spaces."""
    s = s.strip().lower()
    s = re.sub(RE_SPECIALS, "", s)
    s = re.sub(RE_SPACES, " ", s)
    return s


def strip_template_py(s: str) -> str:
    return re.sub(RE_TEMPLATE, "", s)


def strip_template_sql(expr: str) -> str:
    """N2 in the DuckDB dialect."""
    return f"regexp_replace({expr}, '{RE_TEMPLATE}', '', 'g')"


# --------------------------------------------------------------------------
# Spark Column dialect
# --------------------------------------------------------------------------
def norm_path_col(c: Column) -> Column:
    """N1 as a pure Column chain."""
    x = F.regexp_replace(c, RE_SCHEME_HOST, "")
    x = F.regexp_replace(x, RE_QUERY_HASH, "")
    x = F.regexp_replace(x, RE_MULTISLASH, "/")
    x = F.when((F.length(x) > 1) & x.endswith("/"), x.substr(F.lit(1), F.length(x) - 1)).otherwise(
        x
    )
    return F.lower(x)


def norm_resource_col(c: Column) -> Column:
    return F.regexp_replace(norm_path_col(c), RE_API_PREFIX, "/")


def norm_name_col(c: Column) -> Column:
    x = F.lower(F.trim(c))
    x = F.regexp_replace(x, RE_SPECIALS, "")
    return F.regexp_replace(x, RE_SPACES, " ")


# --------------------------------------------------------------------------
# DuckDB SQL dialect (oracle)
# --------------------------------------------------------------------------
def norm_path_sql(expr: str) -> str:
    x = f"regexp_replace({expr}, '{RE_SCHEME_HOST}', '')"
    x = f"regexp_replace({x}, '[?#].*', '')"
    x = f"regexp_replace({x}, '/{{2,}}', '/', 'g')"
    x = (
        f"(CASE WHEN len({x}) > 1 AND {x} LIKE '%/' "
        f"THEN substr({x}, 1, len({x}) - 1) ELSE {x} END)"
    )
    return f"lower({x})"


def norm_resource_sql(expr: str) -> str:
    return f"regexp_replace({norm_path_sql(expr)}, '{RE_API_PREFIX}', '/')"


def norm_name_sql(expr: str) -> str:
    x = f"lower(trim({expr}))"
    x = f"regexp_replace({x}, '[^a-z0-9_ ]', '', 'g')"
    return f"regexp_replace({x}, ' +', ' ', 'g')"
