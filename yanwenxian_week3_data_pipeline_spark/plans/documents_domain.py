"""The ``documents``-table domain: cleaning, completeness requirement,
keep-first dedup key, and validation rules — the reference's article
semantics transplanted onto the driver's synthetic corpus (SURVEY.md §7.1).

Both the Spark expressions and the DuckDB SQL snippets are defined HERE,
side by side, from the same constants — the funnel / validation oracle
queries are assembled from these fragments.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..constants import MAX_CONTENT_LENGTH, MIN_CONTENT_LENGTH
from ..functions.text import clean_text_expr, clean_text_sql, is_missing_expr, is_missing_sql
from ..operators.validate import Rule, failure_rule
from ..sources.tables import read_parquet_fanout

KNOWN_LANGS = ("de", "en", "es", "fr", "zh")

# ---------------------------------------------------------------------------
# Spark side
# ---------------------------------------------------------------------------

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the documents scan for the curation/LM plans: one split per file, so
    # the tokenize/shingle/hash map work needs the scan fan-out
    # (sources/tables.py) to run on more than one core
    return read_parquet_fanout(spark, f"{sf_dir}/documents.parquet")


def cleaned_documents(documents: DataFrame) -> DataFrame:
    """doc_id, text_clean, lang, source (stage: clean)."""
    return documents.select(
        "doc_id",
        clean_text_expr(F.col("text")).alias("text_clean"),
        "lang",
        "source",
    )


def complete_predicate() -> Column:
    return (
        ~is_missing_expr(F.col("text_clean"))
        & ~is_missing_expr(F.col("lang"))
        & ~is_missing_expr(F.col("source"))
    )


def document_rules() -> list[Rule]:
    """Validation rules over the cleaned documents shape, mirroring the
    reference's field-chain style (validator.py:48-96) with document
    columns."""
    text = F.col("text_clean")
    n = F.length(text)
    t_missing = text == ""
    t_short = ~t_missing & (n < MIN_CONTENT_LENGTH)
    t_long = ~t_missing & ~t_short & (n > MAX_CONTENT_LENGTH)
    s_missing = is_missing_expr(F.col("source"))
    l_missing = is_missing_expr(F.col("lang"))
    l_unknown = ~l_missing & ~F.col("lang").isin(*KNOWN_LANGS)
    return [
        failure_rule("missing_text", t_missing, "Text is missing or empty."),
        failure_rule(
            "short_text",
            t_short,
            F.format_string(
                "Text is too short: %d characters (minimum %d required).",
                n,
                F.lit(MIN_CONTENT_LENGTH),
            ),
        ),
        failure_rule(
            "text_too_long",
            t_long,
            F.format_string(
                "Text is too long: %d characters (maximum %d).", n, F.lit(MAX_CONTENT_LENGTH)
            ),
        ),
        failure_rule("missing_source", s_missing, "Source is missing or empty."),
        failure_rule("missing_lang", l_missing, "Language is missing or empty."),
        failure_rule(
            "unknown_lang",
            l_unknown,
            F.concat(F.lit("Language is not recognized (got: "), F.col("lang"), F.lit(").")),
        ),
    ]


# ---------------------------------------------------------------------------
# DuckDB SQL side — same fragments, same constants
# ---------------------------------------------------------------------------

CLEAN_SQL = clean_text_sql("text")

CLEANED_CTE = (
    f"SELECT doc_id, {CLEAN_SQL} AS text_clean, lang, source FROM documents"
)

COMPLETE_WHERE = (
    f"NOT {is_missing_sql('text_clean')}"
    f" AND NOT {is_missing_sql('lang')}"
    f" AND NOT {is_missing_sql('source')}"
)

_KNOWN = ", ".join(f"'{l}'" for l in KNOWN_LANGS)

# (code, fail_predicate_sql, message_sql) in rule order
RULES_SQL: list[tuple[str, str, str]] = [
    ("missing_text", "text_clean = ''", "'Text is missing or empty.'"),
    (
        "short_text",
        f"text_clean <> '' AND length(text_clean) < {MIN_CONTENT_LENGTH}",
        f"'Text is too short: ' || length(text_clean) || ' characters (minimum {MIN_CONTENT_LENGTH} required).'",
    ),
    (
        "text_too_long",
        f"text_clean <> '' AND length(text_clean) >= {MIN_CONTENT_LENGTH} AND length(text_clean) > {MAX_CONTENT_LENGTH}",
        f"'Text is too long: ' || length(text_clean) || ' characters (maximum {MAX_CONTENT_LENGTH}).'",
    ),
    ("missing_source", is_missing_sql("source"), "'Source is missing or empty.'"),
    ("missing_lang", is_missing_sql("lang"), "'Language is missing or empty.'"),
    (
        "unknown_lang",
        f"NOT {is_missing_sql('lang')} AND lang NOT IN ({_KNOWN})",
        "'Language is not recognized (got: ' || lang || ').'",
    ),
]

PASSED_SQL = "NOT (" + " OR ".join(f"({p})" for _, p, _ in RULES_SQL) + ")"

REASON_SQL = (
    "CASE "
    + " ".join(f"WHEN ({p}) THEN '{code}'" for code, p, _ in RULES_SQL)
    + " END"
)

MESSAGE_SQL = (
    "CASE WHEN "
    + PASSED_SQL
    + " THEN NULL ELSE concat_ws(' ', "
    + ", ".join(f"CASE WHEN ({p}) THEN {m} END" for _, p, m in RULES_SQL)
    + ") END"
)

DEDUP_CTE = (
    "SELECT * FROM complete QUALIFY row_number() OVER (PARTITION BY text_clean ORDER BY doc_id) = 1"
)
