"""pipe_run — the end-to-end article cleaning pipeline (reference
run_cleaning_pipeline, cleaner.py:284-393):

load → text clean → date standardize → drop incomplete → dedup (keep-first)
→ validate → save valid JSON + quality report.

Spark shape: ONE ACTION. One scan computes per-row stage-survival flags
(_complete, _kept, passed), the same shape as the flagship funnel query.
Every report aggregate (funnel, column presence, completeness, date range)
is an ``observe()`` metric on that scan, and the action itself is a
``collect()`` of the kept rows: passed rows carry their text columns for
the sink, failed rows carry only record_id/reason/message for the report
details. The driver sorts the rows by record_id and derives the rest.

Exactness:

(a) The CollectMetrics node sits above the dedup window's exchange, in the
    result stage, with Filter(_kept) above it (a filter is never pushed
    through CollectMetrics). Spark merges each result task's accumulator
    update once per partition, so every metric equals the ``agg()`` of the
    same expression over the flagged frame.
(b) The reference's failed-record index is the 0-based position in the
    post-dedup frame (cleaner.py reset_index after dedup). That frame is the
    kept rows in record_id order, so a driver ``enumerate`` over the
    record_id-sorted collected rows is that index.

No cache, no global sort, no second collect: the collected rows are the
valid rows the sink writes and the failed rows the report lists, nothing
more. Returns the cleaned post-dedup DataFrame (cleaner.py:393), lazily.
"""

from __future__ import annotations

import functools
from collections import Counter
from collections.abc import Sequence
from datetime import datetime, timedelta, timezone
from pathlib import Path

from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.window import Window

from .domains.articles import article_rules
from .functions.dates import parse_iso_date_expr
from .functions.text import clean_text_expr
from .operators.incomplete import REQUIRED_ARTICLE_COLUMNS
from .operators.validate import validation_columns
from .report import ValidationStats, render_quality_report
from .schema import RECORD_ID, TEXT_COLUMNS
from .sinks.json_records import save_records_pretty, save_text
from .sources.articles_json import load_articles

ISO_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss'Z'"

# The stage expressions below are built once per process, on first use, by
# the functools.cache'd builders. They depend only on module constants (and
# the report's column list, which is their cache key), and a Column is an
# immutable expression tree bound to no session, so one object serves every
# call on every session (tests/test_properties.py runs the pipeline twice,
# the second time on a new session, and compares the output bytes).
# Rebuilding them on each call cost ~1,650 py4j round trips per pass.


@functools.cache
def _cleaned_exprs() -> dict[str, Column]:
    """Stage 2: cleaned text columns and the parsed published_date, by
    output column. Callers must not mutate the (shared) dict."""
    out = {c: clean_text_expr(F.col(c)) for c in TEXT_COLUMNS}
    out["published_date"] = parse_iso_date_expr(F.col("published_date"))
    return out


@functools.cache
def complete_expr() -> Column:
    """``_complete`` on a ``clean_articles`` frame: no required column
    missing (null, empty or whitespace-only). Batch and stream share it."""
    # Lemma: on a clean_text_expr output x, not_missing_expr(x) == (x != "").
    # x is never null (coalesce to ""), every whitespace run in it is one
    # space (collapsed), and it has no leading or trailing space (trimmed),
    # so the missingness test's collapse and trim leave x unchanged and
    # "null or blank after trimming" reduces to x == "". Comparing skips a
    # second regex pass per required column per row.
    complete = F.lit(True)
    for c in REQUIRED_ARTICLE_COLUMNS:
        complete = complete & (F.col(c) != "")
    return complete


@functools.cache
def _flag_exprs() -> tuple[Column, dict[str, Column]]:
    """(``_kept``, the validation verdict columns)."""
    # hash prefix on the key: same grouping, long-first shuffle comparisons
    w = (
        Window.partitionBy(F.xxhash64("title", "url"), "title", "url")
        .orderBy(F.col(RECORD_ID).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    kept = F.col("_complete") & (F.sum(F.col("_complete").cast("int")).over(w) == 1)
    return kept, validation_columns(article_rules())


@functools.cache
def _funnel_exprs() -> tuple[Column, ...]:
    return (
        F.count(F.lit(1)).alias("n_load"),
        F.sum(F.col("_complete").cast("long")).alias("n_complete"),
        F.sum(F.col("_kept").cast("long")).alias("n_dedup"),
        F.sum((F.col("_kept") & F.col("passed")).cast("long")).alias("n_valid"),
    )


def clean_articles(df: DataFrame) -> DataFrame:
    """Stages 2a+2b: text cleaning on the text columns; permissive date
    standardization of published_date to an ISO string."""
    cols = set(df.columns)
    return df.withColumns({c: e for c, e in _cleaned_exprs().items() if c in cols})


def flag_stages(cleaned: DataFrame) -> DataFrame:
    """Add per-row stage-survival flags to a cleaned frame:

    - ``_complete`` — survives drop_incomplete (no required column missing;
      ``complete_expr``);
    - ``_kept``     — additionally survives keep-first dedup: first complete
      row (by record_id) per (title, url) key. The keys are already
      normalized by clean_articles (clean_text is idempotent), so the window
      partitions on them directly; incomplete rows share the window but
      never advance the conditional rank — exactly dedup_keep_first applied
      to the complete subset;
    - ``passed/reason/message`` — the validation verdict columns.
    """
    kept, verdicts = _flag_exprs()
    flagged = cleaned.withColumn("_complete", complete_expr()).withColumn("_kept", kept)
    return flagged.withColumns(verdicts)


def attach_funnel_observation(
    flagged: DataFrame, name: str | None = "funnel", extra: Sequence[Column] = ()
) -> tuple[DataFrame, Observation]:
    """Attach the stage funnel, plus any ``extra`` aggregates, as
    ``df.observe()`` metrics: (observed_df, Observation). The metrics
    accumulate inside whatever action consumes ``observed_df``, so they
    cost ZERO extra jobs; at 100 TB this replaces a second scan-aggregate
    pass with accumulator traffic piggybacked on that action.
    ``name=None`` gives the Observation a unique name."""
    obs = Observation(name)
    observed = flagged.observe(obs, *_funnel_exprs(), *extra)
    return observed, obs


@functools.cache
def _report_exprs(candidate_cols: tuple[str, ...]) -> tuple[tuple[Column, ...], tuple[Column, ...]]:
    """(report aggregates, kept-row projection) for ``report_action``."""
    kept, passed = F.col("_kept"), F.col("passed")
    text_cols = (*candidate_cols, "published_date")

    ts = F.to_timestamp(F.col("published_date"), ISO_TS_FORMAT)
    aggs = [
        F.min(F.when(kept, F.unix_micros(ts))).alias("dr_earliest"),
        F.max(F.when(kept, F.unix_micros(ts))).alias("dr_latest"),
        F.count(F.when(kept, ts)).cast("long").alias("dr_n"),
    ]
    # presence is tested on the CLEANED values, where clean_text has already
    # coalesced absent columns to "" — so "ever non-blank" is the signal
    # that the input carried the column (an input column holding only blank
    # strings is indistinguishable post-clean; documented edge)
    for c in candidate_cols:
        aggs.append(
            F.max(F.col(c).isNotNull() & (F.trim(F.col(c).cast("string")) != "")).alias(f"_has_{c}")
        )
    # completeness replicates the golden's counting (cleaner.py:199-200
    # astype(str) rendering): a value is missing only when it is a non-null
    # string that trims to "" — a null renders as 'None'/'NaN' and counts as
    # present. quality_report.txt:26 (published_date 100.0% with one null
    # parsed date) pins this; the funnel's drop-incomplete stage keeps the
    # intended null=missing semantics (SURVEY.md §1.4).
    for c in text_cols:
        blank = F.col(c).isNotNull() & (F.trim(F.col(c).cast("string")) == "")
        aggs.append(
            F.sum(F.when(kept & ~blank, 1).otherwise(0)).cast("long").alias(f"_ne_{c}")
        )
    row = (
        F.col(RECORD_ID), passed, F.col("reason"), F.col("message"),
        *[F.when(passed, F.col(c)).alias(c) for c in text_cols],
    )
    return tuple(aggs), row


def report_action(flagged: DataFrame, candidate_cols: list[str]) -> tuple[DataFrame, Observation]:
    """The pipeline's one action: (kept-rows frame, its Observation).
    Collecting the frame fills the Observation with every scalar the report
    needs. Passed rows carry their text columns; failed rows carry nulls
    there, since only record_id, reason and message are read for them."""
    aggs, row = _report_exprs(tuple(candidate_cols))
    observed, obs = attach_funnel_observation(flagged, name=None, extra=aggs)
    return observed.where(F.col("_kept")).select(*row), obs


def _utc(micros: int) -> datetime:
    # published_date strings are ISO-with-Z (UTC); the reference renders the
    # range as tz-aware pandas Timestamps ('... 00:00:00+00:00')
    return datetime(1970, 1, 1, tzinfo=timezone.utc) + timedelta(microseconds=micros)


def run_cleaning_pipeline(
    spark: SparkSession,
    input_path: str | Path,
    output_path: str | Path = "cleaned_output.json",
    report_path: str | Path = "quality_report.txt",
    verbose: bool = True,
) -> DataFrame:
    def say(msg: str) -> None:
        if verbose:
            print(msg)

    # 1-4. load → clean → flag → validate: one scan, one window shuffle,
    # one collect
    raw = load_articles(spark, str(input_path))
    flagged = flag_stages(clean_articles(raw))
    # report column set mirrors the reference's pandas frame: only columns
    # the input actually carried (a schema-padding column that is all-null
    # never existed in the source JSON), in schema order, with the derived
    # published_date appended LAST (cleaner.py:311-312 appends it to the
    # frame). Presence is decided by the observed _has_* metrics.
    candidate_cols = [c for c in raw.columns if c not in (RECORD_ID, "published_date")]
    frame, obs = report_action(flagged, candidate_cols)
    rows = sorted(frame.collect(), key=lambda r: r[0])  # r[0] is record_id
    a = obs.get
    n_load, n_complete, n_dedup, n_valid = (
        int(a["n_load"]),
        int(a["n_complete"] or 0),
        int(a["n_dedup"] or 0),
        int(a["n_valid"] or 0),
    )
    report_cols = (
        [c for c in candidate_cols if a[f"_has_{c}"]] + ["published_date"]
        if n_load
        else []
    )
    n_dropped, n_dupes = n_load - n_complete, n_complete - n_dedup
    say(f"[1/6] loaded {n_load} records from {input_path}")
    say(f"[2/6] cleaned; dropped {n_dropped} incomplete, {n_complete} remaining")
    say(f"[3/6] dedup removed {n_dupes} duplicates, {n_dedup} remaining")

    # lemma (b): the enumerate position is the post-dedup index
    pos = {c: i for i, c in enumerate(frame.columns)}
    records, details = [], []
    for idx, r in enumerate(rows):
        _, ok, reason, message = r[:4]
        if ok:
            records.append({c: r[pos[c]] for c in report_cols})
        else:
            details.append({"index": idx, "reason": reason, "message": message})
    # distribution order = Counter.most_common: count desc, ties by first
    # occurrence (validator.py:155 insertion order == cleaned-index order;
    # most_common's sort is stable)
    stats = ValidationStats(
        total=n_dedup,
        passed=n_valid,
        failed=n_dedup - n_valid,
        failure_reasons=Counter(d["reason"] for d in details).most_common(),
        failed_record_details=details,
    )
    say(f"[4/6] validation: {n_valid}/{n_dedup} passed")

    comp_rows = [(c, int(a[f"_ne_{c}"] or 0), n_dedup) for c in report_cols]
    dr = (_utc(a["dr_earliest"]), _utc(a["dr_latest"]), int(a["dr_n"])) if a["dr_n"] else None

    # 4+6. save valid records
    n_saved = save_records_pretty(records, output_path)
    say(f"[5/6] saved {n_saved} valid records to {output_path}")

    # 5. render + save report
    report = render_quality_report(
        original_count=n_load,
        cleaned_count=n_dedup,
        deleted_incomplete=n_dropped,
        deleted_duplicates=n_dupes,
        completeness_rows=comp_rows,
        stats=stats,
        date_range=dr,
        n_cleaned_rows=n_dedup,
    )
    save_text(report, report_path)
    say(f"[6/6] wrote quality report to {report_path}")
    say(f"summary: {n_load} loaded -> {n_dedup} after cleaning -> {n_saved} valid (saved)")

    return flagged.where(F.col("_kept")).drop("_complete", "_kept", "passed", "reason", "message")
