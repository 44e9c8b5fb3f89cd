"""Text-analysis scalar functions for the LLM-data-pipeline surface:
tokenization, token counting (whitespace + BPE-ish pieces), quality scoring,
heuristic language-ID, and document fingerprinting.

Every function has a Spark ``Column`` form and a synchronized DuckDB SQL
form, both driven by the frozen tables in ``constants``.

Convention: all operate on a CLEANED text value (single-space separated —
output of ``text.clean_text_expr``), which makes whitespace tokenization a
plain split on one space in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from ..constants import BPE_PIECE_REGEX, LANG_STOPWORDS, QUALITY_STOPWORDS

# ---------------------------------------------------------------------------
# Tokenization (over cleaned text)
# ---------------------------------------------------------------------------

def tokens_expr(clean: Column) -> Column:
    return F.when(clean == "", F.array().cast("array<string>")).otherwise(F.split(clean, " "))


def tokens_sql(clean: str) -> str:
    return f"(CASE WHEN {clean} = '' THEN []::VARCHAR[] ELSE string_split({clean}, ' ') END)"


def token_count_expr(clean: Column) -> Column:
    return F.size(tokens_expr(clean)).cast("long")


def token_count_sql(clean: str) -> str:
    return f"CAST(len({tokens_sql(clean)}) AS BIGINT)"


def bpe_piece_count_expr(text: Column) -> Column:
    return F.regexp_count(text, F.lit(BPE_PIECE_REGEX)).cast("long")


def bpe_piece_count_sql(expr: str) -> str:
    return f"CAST(len(regexp_extract_all({expr}, '{BPE_PIECE_REGEX}')) AS BIGINT)"


# ---------------------------------------------------------------------------
# Quality scoring: length, alpha ratio, stopword ratio, avg token length
# ---------------------------------------------------------------------------

def _stopword_hits_expr(toks: Column, words: tuple[str, ...]) -> Column:
    lit = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(lit, t))).cast("long")


def _stopword_hits_sql(toks: str, words: tuple[str, ...]) -> str:
    lit = "[" + ", ".join("'" + w + "'" for w in words) + "]"
    return f"CAST(len(list_filter({toks}, t -> list_contains({lit}, t))) AS BIGINT)"


def quality_features_expr(clean: Column) -> dict[str, Column]:
    """Returns named feature Columns; caller aliases them."""
    toks = tokens_expr(clean)
    n_chars = F.length(clean).cast("long")
    n_tokens = F.size(toks).cast("long")
    alpha_chars = F.length(F.regexp_replace(clean, "[^A-Za-z]", "")).cast("long")
    stop_hits = _stopword_hits_expr(toks, QUALITY_STOPWORDS)
    nz = F.greatest(n_chars, F.lit(1))
    nzt = F.greatest(n_tokens, F.lit(1))
    alpha_ratio = F.round(alpha_chars / nz, 4)
    stop_ratio = F.round(stop_hits / nzt, 4)
    avg_token_len = F.round((n_chars - (n_tokens - 1)) / nzt, 4)  # chars minus separators
    # score is computed in DECIMAL so the weighted sum is exact: a double
    # weighted sum lands on half-way rounding boundaries (e.g. 0.62745) that
    # Spark and DuckDB round differently
    dec = "decimal(14,6)"
    len_term = F.least((n_chars / F.lit(500.0)).cast(dec), F.lit("1.0").cast(dec))
    w3 = F.lit("0.3").cast("decimal(2,1)")
    w4 = F.lit("0.4").cast("decimal(2,1)")
    # the exact sum has at most 5 decimals (4-decimal ratios × 1-decimal
    # weights), so casting to scale 5 is EXACT — no rounding step to diverge
    score = (len_term * w3 + alpha_ratio.cast(dec) * w4 + stop_ratio.cast(dec) * w3).cast(
        "decimal(14,5)"
    )
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "alpha_ratio": alpha_ratio,
        "stopword_ratio": stop_ratio,
        "avg_token_len": avg_token_len,
        "quality_score": score,
    }


def quality_features_sql(clean: str) -> dict[str, str]:
    toks = tokens_sql(clean)
    n_chars = f"CAST(length({clean}) AS BIGINT)"
    n_tokens = f"CAST(len({toks}) AS BIGINT)"
    alpha_chars = f"CAST(length(regexp_replace({clean}, '[^A-Za-z]', '', 'g')) AS BIGINT)"
    stop_hits = _stopword_hits_sql(toks, QUALITY_STOPWORDS)
    nz = f"greatest({n_chars}, 1)"
    nzt = f"greatest({n_tokens}, 1)"
    alpha_ratio = f"round({alpha_chars} / {nz}, 4)"
    stop_ratio = f"round({stop_hits} / {nzt}, 4)"
    avg_token_len = f"round(({n_chars} - ({n_tokens} - 1)) / {nzt}, 4)"
    len_term = f"least(CAST({n_chars} / 500.0 AS DECIMAL(14,6)), CAST('1.0' AS DECIMAL(14,6)))"
    score = (
        f"CAST({len_term} * CAST('0.3' AS DECIMAL(2,1))"
        f" + CAST({alpha_ratio} AS DECIMAL(14,6)) * CAST('0.4' AS DECIMAL(2,1))"
        f" + CAST({stop_ratio} AS DECIMAL(14,6)) * CAST('0.3' AS DECIMAL(2,1)) AS DECIMAL(14,5))"
    )
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "alpha_ratio": alpha_ratio,
        "stopword_ratio": stop_ratio,
        "avg_token_len": avg_token_len,
        "quality_score": score,
    }


# ---------------------------------------------------------------------------
# Heuristic language-ID: stopword-hit argmax, ties broken by ascending code
# ---------------------------------------------------------------------------

def lang_scores_expr(clean: Column) -> dict[str, Column]:
    toks = tokens_expr(clean)
    return {lang: _stopword_hits_expr(toks, words) for lang, words in sorted(LANG_STOPWORDS.items())}


def lang_scores_sql(clean: str) -> dict[str, str]:
    toks = tokens_sql(clean)
    return {lang: _stopword_hits_sql(toks, words) for lang, words in sorted(LANG_STOPWORDS.items())}


def lang_id_expr(clean: Column) -> Column:
    scores = lang_scores_expr(clean)
    langs = sorted(scores)
    expr = F.lit(langs[-1])
    # evaluate in ascending order: first lang whose score >= all later ones
    for i in range(len(langs) - 2, -1, -1):
        later = [scores[l] for l in langs[i + 1:]]
        cond = scores[langs[i]] >= (later[0] if len(later) == 1 else F.greatest(*later))
        expr = F.when(cond, F.lit(langs[i])).otherwise(expr)
    return expr


def lang_id_sql(clean: str) -> str:
    scores = lang_scores_sql(clean)
    langs = sorted(scores)
    parts = []
    for i, lang in enumerate(langs[:-1]):
        later = [scores[l] for l in langs[i + 1:]]
        great = later[0] if len(later) == 1 else "greatest(" + ", ".join(later) + ")"
        parts.append(f"WHEN {scores[lang]} >= {great} THEN '{lang}'")
    return "(CASE " + " ".join(parts) + f" ELSE '{langs[-1]}' END)"


# ---------------------------------------------------------------------------
# Document fingerprints
# ---------------------------------------------------------------------------

def fingerprint_md5_expr(clean: Column) -> Column:
    return F.md5(clean)


def fingerprint_md5_sql(clean: str) -> str:
    return f"md5({clean})"


def fingerprint_shape_expr(clean: Column) -> Column:
    """Order-insensitive fingerprint: md5 over the sorted distinct token set."""
    toks = F.array_sort(F.array_distinct(tokens_expr(clean)))
    return F.md5(F.concat_ws(" ", toks))


def fingerprint_shape_sql(clean: str) -> str:
    toks = f"list_sort(list_distinct({tokens_sql(clean)}))"
    return f"md5(array_to_string({toks}, ' '))"


ROLLING_BASE = 131
ROLLING_MOD = 2_147_483_647  # 2^31 - 1; acc*131 + 0x10FFFF < 2^39, int64-safe


def fingerprint_rolling_expr(clean: Column) -> Column:
    """Rabin-Karp rolling polynomial hash over characters:
    h = fold(h*B + codepoint) mod P — the incremental-update fingerprint a
    sliding-window duplicate scan uses; here the whole-document value."""
    chars = F.split(clean, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * ROLLING_BASE + F.ascii(c)) % ROLLING_MOD,
    )


def fingerprint_rolling_sql(clean: str) -> str:
    chars = f"string_split_regex({clean}, '')"
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform({chars}, c -> CAST(ascii(c) AS BIGINT))), "
        f"(a, b) -> (a * {ROLLING_BASE} + b) % {ROLLING_MOD})"
    )


# ---------------------------------------------------------------------------
# PII scrubbing: redact emails / phone numbers / IPv4 addresses.
# Patterns are RE2-and-Java-compatible (no backrefs, no lookaround) so the
# exact same strings drive Spark's regexp_replace/regexp_count and DuckDB's
# regexp_replace(..., 'g')/regexp_extract_all.
# ---------------------------------------------------------------------------

PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", r"\+?[0-9]{1,2}[- ][0-9]{3}[- ][0-9]{3}[- ][0-9]{4}"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"),
)


def pii_counts_expr(text: Column) -> dict[str, Column]:
    return {
        f"n_{name}": F.regexp_count(text, F.lit(pat)).cast("long")
        for name, pat in PII_PATTERNS
    }


def pii_counts_sql(expr: str) -> dict[str, str]:
    return {
        f"n_{name}": f"CAST(len(regexp_extract_all({expr}, '{pat}')) AS BIGINT)"
        for name, pat in PII_PATTERNS
    }


def pii_scrub_expr(text: Column) -> Column:
    """Replace each PII category with a typed placeholder, in declaration
    order (email before ipv4 so a host part already rewritten to <EMAIL>
    cannot be re-matched as an address)."""
    out = text
    for name, pat in PII_PATTERNS:
        out = F.regexp_replace(out, pat, f"<{name.upper()}>")
    return out


def pii_scrub_sql(expr: str) -> str:
    out = expr
    for name, pat in PII_PATTERNS:
        out = f"regexp_replace({out}, '{pat}', '<{name.upper()}>', 'g')"
    return out


# ---------------------------------------------------------------------------
# Repetition stats (Gopher-style quality signals): duplicate-token fraction,
# most-frequent-token fraction, duplicate-2-gram fraction. All native
# array expressions; the O(distinct × n) top-token scan is bounded by
# document length, not table size, so it stays embarrassingly parallel.
# ---------------------------------------------------------------------------

def repetition_features_expr(clean: Column) -> dict[str, Column]:
    toks = tokens_expr(clean)
    n = F.size(toks).cast("long")
    nz = F.greatest(n, F.lit(1))
    uniq = F.array_distinct(toks)
    n_uniq = F.size(uniq).cast("long")
    top_cnt = F.array_max(
        F.transform(uniq, lambda d: F.size(F.filter(toks, lambda t: t == d)))
    ).cast("long")
    n_int = F.size(toks)  # int-typed: sequence() lambda vars must be INT for element_at
    grams2 = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n_int - 1),
            lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    n2 = F.size(grams2).cast("long")
    nz2 = F.greatest(n2, F.lit(1))
    return {
        "n_tokens": n,
        "dup_token_ratio": F.round((n - n_uniq) / nz, 4),
        "top_token_frac": F.round(F.coalesce(top_cnt, F.lit(0)) / nz, 4),
        "dup_2gram_ratio": F.round((n2 - F.size(F.array_distinct(grams2)).cast("long")) / nz2, 4),
    }


def repetition_features_sql(clean: str) -> dict[str, str]:
    toks = tokens_sql(clean)
    n = f"CAST(len({toks}) AS BIGINT)"
    nz = f"greatest({n}, 1)"
    uniq = f"list_distinct({toks})"
    n_uniq = f"CAST(len({uniq}) AS BIGINT)"
    top_cnt = (
        f"CAST(list_max(list_transform({uniq}, d -> len(list_filter({toks}, t -> t = d)))) AS BIGINT)"
    )
    grams2 = (
        f"(CASE WHEN {n} >= 2 THEN list_transform(range(1, {n}), "
        f"i -> ({toks})[i] || ' ' || ({toks})[i + 1]) ELSE []::VARCHAR[] END)"
    )
    n2 = f"CAST(len({grams2}) AS BIGINT)"
    nz2 = f"greatest({n2}, 1)"
    return {
        "n_tokens": n,
        "dup_token_ratio": f"round(({n} - {n_uniq}) / {nz}, 4)",
        "top_token_frac": f"round(coalesce({top_cnt}, 0) / {nz}, 4)",
        "dup_2gram_ratio": f"round(({n2} - CAST(len(list_distinct({grams2})) AS BIGINT)) / {nz2}, 4)",
    }


# ---------------------------------------------------------------------------
# Gopher-style document quality rules (Rae et al. 2021, "Scaling Language
# Models: ... Gopher", §A1.1 — public paper). Thresholds adapted to the
# driver corpus (10-99 tokens/doc) so each rule is non-trivial here while
# keeping the published rule *forms*: token-count band, mean-word-length
# band, symbol-to-word ratio, numeric-token fraction, stopword floor.
# All integer/boolean arithmetic — bit-identical across engines.
# ---------------------------------------------------------------------------

GOPHER_MIN_TOKENS = 30
GOPHER_MAX_TOKENS = 90
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_NUMERIC_FRAC = 0.2
GOPHER_MIN_STOPWORD_HITS = 2


def gopher_rules_expr(clean: Column) -> dict[str, Column]:
    toks = tokens_expr(clean)
    n = F.size(toks).cast("long")
    nz = F.greatest(n, F.lit(1))
    char_sum = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")), F.lit(0).cast("long"), lambda a, x: a + x
    )
    mean_len = char_sum / nz  # double; same IEEE division both engines
    n_symbols = (
        F.size(F.split(clean, "#", -1)) - 1 + F.size(F.split(clean, r"\.\.\.", -1)) - 1
    ).cast("long")
    n_numeric = F.size(F.filter(toks, lambda t: t.rlike("^[0-9]+$"))).cast("long")
    stop_hits = _stopword_hits_expr(toks, QUALITY_STOPWORDS)
    rules = {
        "r_token_count": (n >= GOPHER_MIN_TOKENS) & (n <= GOPHER_MAX_TOKENS),
        "r_mean_word_len": (mean_len >= GOPHER_MIN_MEAN_WORD_LEN)
        & (mean_len <= GOPHER_MAX_MEAN_WORD_LEN),
        "r_symbol_ratio": (n_symbols / nz) < GOPHER_MAX_SYMBOL_RATIO,
        "r_numeric_frac": (n_numeric / nz) < GOPHER_MAX_NUMERIC_FRAC,
        "r_stopwords": stop_hits >= GOPHER_MIN_STOPWORD_HITS,
    }
    passes = None
    for c in rules.values():
        passes = c if passes is None else (passes & c)
    return {**rules, "passes_gopher": passes}


def gopher_rules_sql(clean: str) -> dict[str, str]:
    toks = tokens_sql(clean)
    n = f"CAST(len({toks}) AS BIGINT)"
    nz = f"greatest({n}, 1)"
    char_sum = f"CAST(coalesce(list_sum(list_transform({toks}, t -> length(t))), 0) AS BIGINT)"
    mean_len = f"({char_sum} / {nz})"
    n_symbols = (
        f"CAST(len(str_split({clean}, '#')) - 1"
        f" + len(regexp_split_to_array({clean}, '\\.\\.\\.')) - 1 AS BIGINT)"
    )
    n_numeric = f"CAST(len(list_filter({toks}, t -> regexp_matches(t, '^[0-9]+$'))) AS BIGINT)"
    stop_hits = _stopword_hits_sql(toks, QUALITY_STOPWORDS)
    rules = {
        "r_token_count": f"({n} >= {GOPHER_MIN_TOKENS} AND {n} <= {GOPHER_MAX_TOKENS})",
        "r_mean_word_len": (
            f"({mean_len} >= {GOPHER_MIN_MEAN_WORD_LEN} AND {mean_len} <= {GOPHER_MAX_MEAN_WORD_LEN})"
        ),
        "r_symbol_ratio": f"(({n_symbols} / {nz}) < {GOPHER_MAX_SYMBOL_RATIO})",
        "r_numeric_frac": f"(({n_numeric} / {nz}) < {GOPHER_MAX_NUMERIC_FRAC})",
        "r_stopwords": f"({stop_hits} >= {GOPHER_MIN_STOPWORD_HITS})",
    }
    passes = " AND ".join(rules.values())
    return {**rules, "passes_gopher": f"({passes})"}
