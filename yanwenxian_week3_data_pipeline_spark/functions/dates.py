"""Permissive date parsing → ISO-8601 string.

Reference parity: ``parse_iso_date`` (cleaner.py:51-70) uses
``dateutil.parser.parse`` and renders ``%Y-%m-%dT%H:%M:%SZ``; the literals
"none"/"null"/"nan" (case-insensitive) and blanks are missing (cleaner.py:64).

Spark-first design: an ordered ``coalesce`` of ``to_timestamp`` over a FROZEN
format list covering every format in the reference fixture
(sample_data.json; catalogued in the reference prompt-log.md:83), after a
small normalization pass (strip ordinal suffixes "1st"→"1", "Sept"→"Sep").
``dateutil``'s day-first resolution of 15/03/2025 (month 15 impossible →
day-first) is encoded by trying month-first d/M before M/d never — the
fixture only contains unambiguous day-first values; divergence documented.

A ``pandas_udf`` dateutil fallback (``parse_iso_date_udf``) provides full
generality off the oracle path.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from ..constants import MISSING_DATE_LITERALS

# (spark_format, duckdb_format) pairs, tried in order. Both engines attempt
# the same normalized string with the same ordered list.
DATE_FORMATS: tuple[tuple[str, str], ...] = (
    ("yyyy-MM-dd'T'HH:mm:ssXXX", "%Y-%m-%dT%H:%M:%S%z"),   # 2025-02-20T14:30:00Z / +00:00
    ("yyyy-MM-dd'T'HH:mm:ss", "%Y-%m-%dT%H:%M:%S"),         # 2025-02-20T14:30:00
    ("yyyy-MM-dd HH:mm:ss", "%Y-%m-%d %H:%M:%S"),
    ("yyyy-MM-dd", "%Y-%m-%d"),
    ("MMM d, yyyy", "%b %-d, %Y"),                           # Jan 15, 2025
    ("MMMM d, yyyy", "%B %-d, %Y"),                          # March 1, 2025 / July 1, 2025
    ("d/M/yyyy", "%-d/%-m/%Y"),                              # 15/03/2025 (day-first)
    ("M/d/yyyy", "%-m/%-d/%Y"),                              # fallback month-first
)

ISO_OUT_SPARK = "yyyy-MM-dd'T'HH:mm:ss'Z'"
ISO_OUT_DUCKDB = "%Y-%m-%dT%H:%M:%SZ"


def _normalize_expr(col: Column) -> Column:
    s = F.trim(col)
    # missing literals -> null
    miss = F.lower(s).isin(*MISSING_DATE_LITERALS) | (s == "")
    s = F.when(~miss, s)
    # "July 1st, 2025" -> "July 1, 2025"
    s = F.regexp_replace(s, r"(\d+)(st|nd|rd|th)\b", r"$1")
    # "Sept 15, 2025" -> "Sep 15, 2025" (Java MMM expects 3-letter)
    s = F.regexp_replace(s, r"\bSept\b", "Sep")
    # trailing Z -> +00:00 so one offset format covers it
    s = F.regexp_replace(s, r"Z$", "+00:00")
    return s


def _normalize_sql(expr: str) -> str:
    s = f"trim({expr})"
    miss = f"(lower({s}) IN ('none','null','nan') OR {s} = '')"
    s = f"(CASE WHEN NOT {miss} THEN {s} END)"
    s = f"regexp_replace({s}, '([0-9]+)(st|nd|rd|th)\\b', '\\1', 'g')"
    s = f"regexp_replace({s}, '\\bSept\\b', 'Sep', 'g')"
    s = f"regexp_replace({s}, 'Z$', '+00:00')"
    return s


def _needs_literal(s: Column, fmt: str) -> Column:
    """TRUE when ``s`` holds the literal that pattern ``fmt`` cannot parse
    without: ``'T'`` in either case, else the first of ``: - , /`` in it."""
    if "'T'" in fmt:
        return s.contains("T") | s.contains("t")
    lit = next(ch for ch in ":-,/" if ch in fmt)
    return s.contains(lit)


def parse_timestamp_expr(col: Column) -> Column:
    """Permissive parse → TimestampType (null when unparseable).

    The 3-regex normalize pass is LET-BOUND via ``transform(array(...),
    λ)[0]`` so it is evaluated once per row; inlined, every one of the
    coalesce's try_to_timestamp branches re-runs it (lazily-evaluated
    coalesce branches are outside codegen subexpression elimination —
    measured 2.9 s vs 1.9 s for 100k rows).

    Each attempt is guarded by a literal its pattern needs (``_needs_literal``).
    Lemma: ``try_to_timestamp(s, fmt)`` is non-null only if ``s`` contains
    every literal of ``fmt``. java.time matches a pattern literal char for
    char and must consume the whole input, and Spark builds its parsers
    case-insensitive, so the literal ``T`` matches ``T`` or ``t`` and
    nothing else (tests/test_properties.py tries every BMP char in each
    literal's slot). So ``when(needs_literal, try_to_timestamp(s, fmt))``
    equals the bare attempt on every input and the coalesce is unchanged;
    an attempt that cannot match is skipped instead of throwing and catching
    a parse exception (~3 per row of a mixed-format column)."""

    def attempts(s: Column) -> Column:
        return F.coalesce(
            *[F.when(_needs_literal(s, fmt), F.try_to_timestamp(s, F.lit(fmt))) for fmt, _ in DATE_FORMATS]
        )

    return F.transform(F.array(_normalize_expr(col)), lambda s: attempts(s))[0]


def parse_iso_date_expr(col: Column) -> Column:
    """Permissive parse → ISO-8601 string '%Y-%m-%dT%H:%M:%SZ' or null."""
    return F.date_format(parse_timestamp_expr(col), ISO_OUT_SPARK)


def parse_timestamp_sql(expr: str) -> str:
    s = _normalize_sql(expr)
    attempts = ", ".join(f"try_strptime({s}, '{fmt}')" for _, fmt in DATE_FORMATS)
    return f"coalesce({attempts})"


def parse_iso_date_sql(expr: str) -> str:
    return f"strftime({parse_timestamp_sql(expr)}, '{ISO_OUT_DUCKDB}')"


def parse_iso_date_udf():
    """dateutil-backed fallback, Arrow-vectorized — full reference fidelity
    for arbitrary formats. Off the oracle path."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from dateutil import parser as dateutil_parser

    def _parse(s):
        def one(v):
            if v is None:
                return None
            t = str(v).strip()
            if not t or t.lower() in MISSING_DATE_LITERALS:
                return None
            try:
                return dateutil_parser.parse(t).strftime("%Y-%m-%dT%H:%M:%SZ")
            except (ValueError, TypeError, KeyError, OverflowError):
                return None

        return s.map(one)

    # real class objects, not strings: this module's `from __future__ import
    # annotations` would otherwise leave hints PySpark cannot resolve
    _parse.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_parse, "string")
