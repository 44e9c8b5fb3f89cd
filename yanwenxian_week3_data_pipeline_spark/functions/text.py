"""Text-cleaning scalar functions.

Reference parity: ``clean_text_series`` (cleaner.py:23-48) = HTML-entity
decode → collapse whitespace runs to one space → strip; None/NaN → "".
``_is_missing`` (cleaner.py:73-82) = null, empty, or whitespace-only.

Each function has two synchronized forms:

- ``*_expr(col)``  → a Spark ``Column`` (pure built-ins, codegen-friendly)
- ``*_sql(expr)``  → the equivalent DuckDB SQL snippet (string), used to
  build the oracle queries. Both are generated from the same frozen
  constants, so they cannot drift.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from ..constants import HTML_ENTITIES, WHITESPACE_CLASS

_WS_RUN = WHITESPACE_CLASS + "+"


def _sql_quote(s: str) -> str:
    """Quote a string literal for SQL."""
    return "'" + s.replace("'", "''") + "'"


# ---------------------------------------------------------------------------
# HTML entity decode (subset table; `&amp;` last — see constants.HTML_ENTITIES)
# ---------------------------------------------------------------------------

def unescape_entities_expr(col: Column) -> Column:
    out = col
    for ent, ch in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return out


def unescape_entities_sql(expr: str) -> str:
    out = expr
    for ent, ch in HTML_ENTITIES:
        out = f"replace({out}, {_sql_quote(ent)}, {_sql_quote(ch)})"
    return out


# ---------------------------------------------------------------------------
# clean_text: decode entities, collapse whitespace runs, strip; null -> ""
# ---------------------------------------------------------------------------

def clean_text_expr(col: Column) -> Column:
    collapsed = F.regexp_replace(unescape_entities_expr(col), _WS_RUN, " ")
    return F.coalesce(F.trim(collapsed), F.lit(""))


def clean_text_sql(expr: str) -> str:
    collapsed = f"regexp_replace({unescape_entities_sql(expr)}, '{_WS_RUN}', ' ', 'g')"
    return f"coalesce(trim({collapsed}), '')"


# ---------------------------------------------------------------------------
# missingness predicate: null OR blank after trimming whitespace
# ---------------------------------------------------------------------------

def is_missing_expr(col: Column) -> Column:
    return col.isNull() | (F.trim(F.regexp_replace(col, _WS_RUN, " ")) == "")


def is_missing_sql(expr: str) -> str:
    return f"({expr} IS NULL OR trim(regexp_replace({expr}, '{_WS_RUN}', ' ', 'g')) = '')"


def not_missing_expr(col: Column) -> Column:
    return ~is_missing_expr(col)
