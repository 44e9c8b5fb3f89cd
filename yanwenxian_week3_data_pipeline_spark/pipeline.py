"""pipe_run — the end-to-end article cleaning pipeline (reference
run_cleaning_pipeline, cleaner.py:284-393):

load → text clean → date standardize → drop incomplete → dedup (keep-first)
→ validate → save valid JSON + quality report.

Spark shape: SINGLE-PASS. One scan computes per-row stage-survival flags
(_complete, _kept, passed) — the same shape as the flagship funnel query —
and one cached frame feeds every report aggregate and the valid-row sink.
The staged form (a cached DataFrame per stage, counted one by one) paid
three cache writes of wide string frames; at 100 TB it would re-scan and
re-clean the table once per stage. Here the table is read once, shuffled
once (the dedup-key window), and every count is a conditional sum over the
flags. Returns the cleaned post-dedup DataFrame exactly as the reference
does (cleaner.py:393).
"""

from __future__ import annotations

from datetime import timezone
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from .domains.articles import article_rules
from .functions.dates import parse_iso_date_expr
from .functions.text import clean_text_expr, not_missing_expr
from .operators.incomplete import REQUIRED_ARTICLE_COLUMNS
from .operators.validate import with_validation
from .report import ValidationStats, render_quality_report
from .schema import RECORD_ID, TEXT_COLUMNS
from .sinks.json_records import save_records_pretty, save_text
from .sources.articles_json import load_articles

ISO_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss'Z'"


def clean_articles(df: DataFrame) -> DataFrame:
    """Stages 2a+2b: text cleaning on the text columns; permissive date
    standardization of published_date to an ISO string."""
    out = df.withColumns({c: clean_text_expr(F.col(c)) for c in TEXT_COLUMNS if c in df.columns})
    if "published_date" in out.columns:
        out = out.withColumn("published_date", parse_iso_date_expr(F.col("published_date")))
    return out


def flag_stages(cleaned: DataFrame) -> DataFrame:
    """Add per-row stage-survival flags to a cleaned frame:

    - ``_complete`` — survives drop_incomplete (no required column missing);
    - ``_kept``     — additionally survives keep-first dedup: first complete
      row (by record_id) per (title, url) key. The keys are already
      normalized by clean_articles (clean_text is idempotent), so the window
      partitions on them directly; incomplete rows share the window but
      never advance the conditional rank — exactly dedup_keep_first applied
      to the complete subset;
    - ``passed/reason/message`` — the validation verdict columns.
    """
    complete = F.lit(True)
    for c in REQUIRED_ARTICLE_COLUMNS:
        if c in cleaned.columns:
            complete = complete & not_missing_expr(F.col(c))
    flagged = cleaned.withColumn("_complete", complete)
    # hash prefix on the key: same grouping, long-first shuffle comparisons
    w = (
        Window.partitionBy(F.xxhash64("title", "url"), "title", "url")
        .orderBy(F.col(RECORD_ID).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = flagged.withColumn(
        "_kept",
        F.col("_complete") & (F.sum(F.col("_complete").cast("int")).over(w) == 1),
    )
    return with_validation(flagged, article_rules())


def attach_funnel_observation(flagged: DataFrame, name: str = "funnel"):
    """Attach the stage funnel as ``df.observe()`` metrics: (observed_df,
    Observation). The metrics accumulate inside whatever action consumes
    ``observed_df`` (typically the valid-rows sink), so the funnel costs
    ZERO extra jobs — at 100 TB this replaces a whole second scan-aggregate
    pass with accumulator traffic piggybacked on the write. The metric
    expressions are the exact aggregates ``run_cleaning_pipeline`` computes,
    so both paths report identical numbers (pinned by test)."""
    from pyspark.sql import Observation

    obs = Observation(name)
    observed = flagged.observe(
        obs,
        F.count(F.lit(1)).alias("n_load"),
        F.sum(F.col("_complete").cast("long")).alias("n_complete"),
        F.sum(F.col("_kept").cast("long")).alias("n_dedup"),
        F.sum((F.col("_kept") & F.col("passed")).cast("long")).alias("n_valid"),
    )
    return observed, obs


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

    # 1-3. load → clean → flag (one scan, one window shuffle, one cache)
    raw = load_articles(spark, str(input_path))
    flagged = flag_stages(clean_articles(raw)).cache()
    kept = F.col("_kept")

    # report column set mirrors the reference's pandas frame: only columns
    # the input actually carried (a schema-padding column that is all-null
    # never existed in the source JSON), in schema order, with the derived
    # published_date appended LAST (cleaner.py:311-312 appends it to the
    # frame). Presence is decided by the same single aggregate pass below.
    candidate_cols = [c for c in raw.columns if c not in (RECORD_ID, "published_date")]

    # one aggregate job produces every scalar the report needs: the stage
    # funnel, pass counts, column presence, per-column completeness of the
    # deduped set, and the date range of the deduped set
    ts = F.to_timestamp(F.col("published_date"), ISO_TS_FORMAT)
    aggs = [
        F.count(F.lit(1)).alias("n_load"),
        F.sum(F.col("_complete").cast("long")).alias("n_complete"),
        F.sum(kept.cast("long")).alias("n_dedup"),
        F.sum((kept & F.col("passed")).cast("long")).alias("n_valid"),
        F.min(F.when(kept, ts)).alias("dr_earliest"),
        F.max(F.when(kept, ts)).alias("dr_latest"),
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
    for c in candidate_cols + ["published_date"]:
        blank = F.col(c).isNotNull() & (F.trim(F.col(c).cast("string")) == "")
        aggs.append(
            F.sum(F.when(kept & ~blank, 1).otherwise(0)).cast("long").alias(f"_ne_{c}")
        )
    a = flagged.agg(*aggs).collect()[0]
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

    # failed-record details carry the reference's index: the 0-based position
    # in the POST-DEDUP frame (cleaner.py reset_index after dedup), not the
    # ingest record_id. The rank uses the same partition-offset technique as
    # record_id assignment (sources/articles_json.py:30-60): range-partition
    # the kept rows on record_id, collect one subtotal row per partition,
    # and add each partition's global offset to its local row_number — no
    # unpartitioned window (the old shape dragged every kept row through a
    # single task). The ranged frame is cut to an EAGER LOCAL CHECKPOINT
    # before the offsets collect: RangePartitioner's reservoir sample is
    # seeded with the rdd id, which changes per job, so re-executing the
    # range exchange in the later failed-detail jobs could assign different
    # range bounds once input partitions exceed the per-partition sample
    # size — the checkpoint pins one physical pid assignment for both jobs
    # (same discipline as plans/curation_ext.py _q_equidepth_histogram).
    nparts = max(2, spark.sparkContext.defaultParallelism)
    ranged = (
        flagged.where(kept)
        .select(RECORD_ID, "passed", "reason", "message")
        .repartitionByRange(nparts, F.col(RECORD_ID).asc())
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    off_rows, off_acc = [], 0
    for pid, cnt in sorted(
        (int(r["_pid"]), int(r["n"]))
        for r in ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    ):
        off_rows.append((pid, off_acc))
        off_acc += cnt
    off = spark.createDataFrame(off_rows, "_pid int, _off long")
    w_local = Window.partitionBy("_pid").orderBy(F.col(RECORD_ID).asc())
    kept_pos = ranged.join(F.broadcast(off), "_pid").withColumn(
        "_cleaned_idx", F.row_number().over(w_local) - 1 + F.col("_off")
    )
    failed = kept_pos.where(~F.col("passed"))
    # distribution order = Counter.most_common: count desc, ties by first
    # occurrence (validator.py:155 insertion order == cleaned-index order)
    dist = [
        (r["reason"], int(r["n"]))
        for r in failed.groupBy("reason")
        .agg(F.count(F.lit(1)).alias("n"), F.min(RECORD_ID).alias("first_at"))
        .orderBy(F.desc("n"), F.asc("first_at"))
        .collect()
    ]
    details = [
        {"index": int(r["_cleaned_idx"]), "reason": r["reason"], "message": r["message"]}
        for r in failed.select("_cleaned_idx", "reason", "message").orderBy("_cleaned_idx").collect()
    ]
    stats = ValidationStats(
        total=n_dedup,
        passed=n_valid,
        failed=n_dedup - n_valid,
        failure_reasons=dist,
        failed_record_details=details,
    )
    say(f"[4/6] validation: {n_valid}/{n_dedup} passed")

    comp_rows = [(c, int(a[f"_ne_{c}"] or 0), n_dedup) for c in report_cols]
    # published_date strings are ISO-with-Z (UTC); the reference renders the
    # range as tz-aware pandas Timestamps ('... 00:00:00+00:00')
    dr = (
        (
            a["dr_earliest"].replace(tzinfo=timezone.utc),
            a["dr_latest"].replace(tzinfo=timezone.utc),
            int(a["dr_n"]),
        )
        if a["dr_n"]
        else None
    )

    # 4+6. save valid records
    valid = flagged.where(kept & F.col("passed"))
    n_saved = save_records_pretty(valid.orderBy(RECORD_ID), output_path, columns=report_cols)
    # the sink was the last job to read the cache; the returned frame below
    # recomputes from its lineage if the caller runs it
    flagged.unpersist(blocking=False)
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

    return flagged.where(kept).drop("_complete", "_kept", "passed", "reason", "message")
