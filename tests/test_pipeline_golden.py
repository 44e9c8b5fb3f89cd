"""End-to-end golden test of the article cleaning pipeline on an original
dirty fixture engineered to exercise every failure mode the reference's
fixture covers (SURVEY.md §5.1): whitespace + HTML entities, null/blank
required fields, duplicates (non-adjacent), short content, bad URL schemes,
uppercase-scheme quirk, mixed/invalid date formats, over-long titles,
missing published dates.

Expected outcomes are derived by hand from the operator semantics:
funnel 17 -> 13 (‑4 incomplete) -> 11 (‑2 duplicates) -> 4 valid.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

LONG_CONTENT = ("spark engine keeps every analytics operator declarative " * 4).strip()  # > 120 chars
SHORT_CONTENT = "too short to pass"


def _fixture_records() -> list[dict]:
    base_url = "https://example.org/articles/engine"
    return [
        # 0: valid; needs whitespace collapapse + entity decode, "Jan 15, 2025"
        {
            "title": "  Spark   &amp; Data \t Engines ",
            "content": LONG_CONTENT,
            "url": base_url + "/0",
            "published": "Jan 15, 2025",
            "category": "Technology",
            "author": " A.  Writer ",
        },
        # 1: null title -> incomplete
        {"title": None, "content": LONG_CONTENT, "url": base_url + "/1", "published": "2025-02-01"},
        # 2: whitespace-only title -> incomplete
        {"title": "   ", "content": LONG_CONTENT, "url": base_url + "/2", "published": "2025-02-02"},
        # 3: empty content -> incomplete
        {"title": "Empty body", "content": "", "url": base_url + "/3", "published": "2025-02-03"},
        # 4: null url -> incomplete
        {"title": "No link", "content": LONG_CONTENT, "url": None, "published": "2025-02-04"},
        # 5: duplicate of 0 (same normalized title+url, extra spacing) -> deduped
        {
            "title": "Spark & Data Engines",
            "content": LONG_CONTENT + " duplicate body",
            "url": base_url + "/0",
            "published": "Feb 20, 2025",
        },
        # 6: short content -> short_content
        {"title": "Stub", "content": SHORT_CONTENT, "url": base_url + "/6", "published": "2025-03-01"},
        # 7: ftp scheme -> invalid_url
        {"title": "Bad scheme", "content": LONG_CONTENT, "url": "ftp://example.org/7", "published": "2025-03-02"},
        # 8: schemeless -> invalid_url
        {"title": "No scheme", "content": LONG_CONTENT, "url": "example.org/8", "published": "2025-03-03"},
        # 9: impossible date -> parses to null -> missing_published (golden
        # semantics: the check reads the PARSED date only; the raw string
        # never rescues — see domains/articles.py module doc)
        {"title": "Odd date", "content": LONG_CONTENT, "url": base_url + "/9", "published": "2025-13-99"},
        # 10: uppercase scheme -> invalid_url (case-sensitive startswith quirk)
        {"title": "Loud scheme", "content": LONG_CONTENT, "url": "HTTP://example.org/10", "published": "2025-03-05"},
        # 11: ordinal date "July 1st, 2025" -> valid
        {"title": "Ordinal date", "content": LONG_CONTENT, "url": base_url + "/11", "published": "July 1st, 2025"},
        # 12: second duplicate of 0, non-adjacent -> deduped
        {
            "title": "Spark  &amp;  Data Engines",
            "content": LONG_CONTENT,
            "url": base_url + "/0",
            "published": "2025-04-01",
        },
        # 13: entities in content -> valid
        {
            "title": "Entity body",
            "content": "A&nbsp;B &lt;tag&gt; " + LONG_CONTENT,
            "url": base_url + "/13",
            "published": "15/03/2025",
        },
        # 14: over-long title -> title_too_long
        {"title": "T" * 501, "content": LONG_CONTENT, "url": base_url + "/14", "published": "2025-05-01"},
        # 15: ISO date with Z -> valid
        {"title": "Zulu time", "content": LONG_CONTENT, "url": base_url + "/15", "published": "2025-06-07T14:30:00Z"},
        # 16: no published at all -> missing_published
        {"title": "Dateless", "content": LONG_CONTENT, "url": base_url + "/16", "published": None},
    ]


EXPECTED_VALID_IDS = {0, 11, 13, 15}
EXPECTED_REASONS = {
    6: "short_content",
    7: "invalid_url",
    8: "invalid_url",
    9: "missing_published",
    10: "invalid_url",
    14: "title_too_long",
    16: "missing_published",
}


@pytest.fixture(scope="module")
def fixture_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("articles") / "dirty_articles.json"
    p.write_text(json.dumps(_fixture_records(), indent=2), encoding="utf-8")
    return str(p)


def test_pipeline_golden(spark, fixture_path, tmp_path_factory):
    from yanwenxian_week3_data_pipeline_spark.domains.articles import article_rules
    from yanwenxian_week3_data_pipeline_spark.operators.dedup import dedup_keep_first
    from yanwenxian_week3_data_pipeline_spark.operators.incomplete import drop_incomplete
    from yanwenxian_week3_data_pipeline_spark.operators.validate import with_validation
    from yanwenxian_week3_data_pipeline_spark.pipeline import clean_articles
    from yanwenxian_week3_data_pipeline_spark.sources.articles_json import load_articles

    raw = load_articles(spark, fixture_path)
    assert raw.count() == 17

    cleaned = clean_articles(raw)
    complete = drop_incomplete(cleaned)
    assert complete.count() == 13  # -4 incomplete

    deduped = dedup_keep_first(complete, key_cols=("title", "url"), order_col="record_id")
    assert deduped.count() == 11  # -2 duplicates
    kept_ids = {r.record_id for r in deduped.select("record_id").collect()}
    assert 0 in kept_ids and 5 not in kept_ids and 12 not in kept_ids

    validated = with_validation(deduped, article_rules())
    rows = {r.record_id: r for r in validated.collect()}

    valid_ids = {rid for rid, r in rows.items() if r.passed}
    assert valid_ids == EXPECTED_VALID_IDS
    for rid, reason in EXPECTED_REASONS.items():
        assert rows[rid].reason == reason, f"record {rid}: {rows[rid].reason} != {reason}"

    # cleaning semantics
    assert rows[0].title == "Spark & Data Engines"
    assert rows[0].author == "A. Writer"
    assert rows[0].published_date == "2025-01-15T00:00:00Z"
    assert rows[11].published_date == "2025-07-01T00:00:00Z"
    assert rows[13].published_date == "2025-03-15T00:00:00Z"  # day-first 15/03/2025
    assert rows[15].published_date == "2025-06-07T14:30:00Z"
    assert rows[9].published_date is None  # 2025-13-99 unparseable
    assert rows[13].content.startswith("A B <tag>")

    # uppercase-scheme quirk message comes from the scheme check
    assert "URL must start with http:// or https://" in rows[10].message


def test_full_pipeline_files(spark, fixture_path, tmp_path_factory):
    from yanwenxian_week3_data_pipeline_spark.pipeline import run_cleaning_pipeline

    out_dir = tmp_path_factory.mktemp("out")
    out_json = out_dir / "cleaned_output.json"
    out_report = out_dir / "quality_report.txt"

    run_cleaning_pipeline(spark, fixture_path, out_json, out_report, verbose=False)

    records = json.loads(out_json.read_text())
    assert len(records) == len(EXPECTED_VALID_IDS)
    titles = {r["title"] for r in records}
    assert "Spark & Data Engines" in titles

    report = out_report.read_text()
    assert "Total records processed:   17" in report
    assert "Cleaned record count:      11" in report
    assert "  Total validation passed:   4" in report
    assert "  Total validation failed:   7" in report
    assert "     3  URL must start with http:// or https:// and have valid format." in report
    assert "End of report" in report


def test_report_failed_details_and_distribution_order(spark, fixture_path, tmp_path_factory):
    """``Index:`` is the 0-based position in the post-dedup frame ordered by
    record_id (the reference's reset_index after dedup), not the record_id.
    The distribution is Counter.most_common order: count descending, ties
    by first occurrence in that frame (content at index 1 before title at
    index 8)."""
    from yanwenxian_week3_data_pipeline_spark.pipeline import run_cleaning_pipeline

    out_dir = tmp_path_factory.mktemp("details")
    out_report = out_dir / "quality_report.txt"
    run_cleaning_pipeline(spark, fixture_path, out_dir / "cleaned_output.json", out_report, verbose=False)
    lines = out_report.read_text().splitlines()

    indices = [int(ln.split(":", 1)[1]) for ln in lines if ln.startswith("  Index:")]
    assert indices == [1, 2, 3, 4, 5, 8, 10]

    start = lines.index("4. VALIDATION FAILURE DISTRIBUTION") + 2
    dist = lines[start : lines.index("", start)]
    assert dist == [
        "     3  URL must start with http:// or https:// and have valid format.",
        "     2  Published date is missing or empty.",
        "     1  Content is too short (minimum 120 characters).",
        "     1  Title exceeds maximum length (500 characters).",
    ]


def test_pipeline_leaves_no_cached_frame(spark, fixture_path, tmp_path_factory):
    """run_cleaning_pipeline runs as one action over an uncached frame and
    must leave no cache entry behind; the returned frame stays lazily
    recomputable."""
    from yanwenxian_week3_data_pipeline_spark.pipeline import run_cleaning_pipeline

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    out_dir = tmp_path_factory.mktemp("nocache")
    out = run_cleaning_pipeline(
        spark,
        fixture_path,
        out_dir / "cleaned_output.json",
        out_dir / "quality_report.txt",
        verbose=False,
    )
    assert cache_manager.isEmpty()
    assert out.count() == 11


def test_pipeline_is_one_action(spark, fixture_path, tmp_path_factory):
    """One call starts at most 5 jobs: schema inference, the shuffle-map
    stages and the one collect (the cached, multi-action shape started
    25)."""
    from yanwenxian_week3_data_pipeline_spark.pipeline import run_cleaning_pipeline

    sc = spark.sparkContext
    out_dir = tmp_path_factory.mktemp("onejob")
    sc.setJobGroup("test_pipeline_is_one_action", "run_cleaning_pipeline")
    try:
        run_cleaning_pipeline(
            spark, fixture_path, out_dir / "cleaned_output.json", out_dir / "quality_report.txt", verbose=False
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("test_pipeline_is_one_action")
    assert 0 < len(jobs) <= 5


def test_pipeline_plan_build_round_trip_budget(spark, fixture_path, tmp_path_factory):
    """A warm call builds the article plan, from load_articles through
    report_action, in at most 600 py4j round trips. Per-call Python
    call-site capture (~5 round trips per Column call) and per-call
    rebuilding of the constant stage expressions put it at ~4,700."""
    import gc

    from py4j.java_gateway import GatewayClient

    from yanwenxian_week3_data_pipeline_spark import pipeline
    from yanwenxian_week3_data_pipeline_spark.schema import RECORD_ID

    out_dir = tmp_path_factory.mktemp("roundtrips")
    pipeline.run_cleaning_pipeline(
        spark, fixture_path, out_dir / "cleaned_output.json", out_dir / "quality_report.txt", verbose=False
    )
    sent = 0
    send = GatewayClient.send_command

    def counting(self, *args, **kwargs):
        nonlocal sent
        sent += 1
        return send(self, *args, **kwargs)

    gc.collect()  # no py4j finalizer traffic from earlier garbage
    GatewayClient.send_command = counting
    try:
        raw = pipeline.load_articles(spark, fixture_path)
        flagged = pipeline.flag_stages(pipeline.clean_articles(raw))
        candidate_cols = [c for c in raw.columns if c not in (RECORD_ID, "published_date")]
        pipeline.report_action(flagged, candidate_cols)
    finally:
        GatewayClient.send_command = send
    assert sent <= 600, sent


def test_report_metrics_observed_above_last_exchange(spark, fixture_path):
    """Lemma (a) of pipeline.py: CollectMetrics runs in the result stage,
    above the dedup window's exchange, and the _kept filter stays above it
    (so the metrics see every flagged row, exactly once)."""
    from yanwenxian_week3_data_pipeline_spark.pipeline import clean_articles, flag_stages, report_action
    from yanwenxian_week3_data_pipeline_spark.sources.articles_json import load_articles

    flagged = flag_stages(clean_articles(load_articles(spark, fixture_path)))
    frame, _ = report_action(flagged, ["title", "content", "url"])
    plan = frame._jdf.queryExecution().executedPlan().toString().splitlines()

    def first(node):
        return next(i for i, ln in enumerate(plan) if ln.lstrip(" :+-").startswith(node))

    kept_filter = next(i for i, ln in enumerate(plan) if "Filter" in ln and "_kept" in ln)
    assert kept_filter < first("CollectMetrics") < first("Exchange")


def test_load_articles_single_document_ids_without_shuffle(spark, fixture_path, tmp_path):
    """A multiLine document is one partition, so monotonically_increasing_id
    already is the dense file-order position: no window, no _pid shuffle,
    and no sort for the {"articles": [...]} wrapper either."""
    import contextlib
    import io

    from yanwenxian_week3_data_pipeline_spark.sources.articles_json import load_articles

    wrapped = tmp_path / "wrapped_articles.json"
    wrapped.write_text(json.dumps({"articles": _fixture_records()}, indent=2), encoding="utf-8")
    titles = [r["title"] for r in _fixture_records()]
    for path in (fixture_path, str(wrapped)):
        df = load_articles(spark, path)
        rows = sorted(df.select("record_id", "title").collect())
        assert [r.record_id for r in rows] == list(range(17)), path
        assert [r.title for r in rows] == titles, path
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain()
        plan = buf.getvalue()
        assert "Window" not in plan, path
        assert "hashpartitioning(_pid" not in plan, path
        assert "Sort" not in plan, path


def test_envelope_shapes(spark, tmp_path_factory):
    from yanwenxian_week3_data_pipeline_spark.sources.articles_json import load_articles

    d = tmp_path_factory.mktemp("envelopes")

    wrapped = d / "wrapped.json"
    wrapped.write_text(json.dumps({"articles": _fixture_records()[:3]}))
    assert load_articles(spark, str(wrapped)).count() == 3

    single = d / "single.json"
    single.write_text(json.dumps(_fixture_records()[0]))
    df = load_articles(spark, str(single))
    assert df.count() == 1

    for name, text in [("empty.json", "[]"), ("wrapped_empty.json", '{"articles": []}'),
                       ("wrapped_scalars.json", '{"articles": [1, 2]}')]:
        (d / name).write_text(text)
        assert load_articles(spark, str(d / name)).count() == 0, name


def test_cli_main(spark, fixture_path, tmp_path_factory, capsys):
    """python -m yanwenxian_week3_data_pipeline_spark — the Spark twin of the
    reference's `python cleaner.py` entry point (cleaner.py:396-397)."""
    from yanwenxian_week3_data_pipeline_spark.__main__ import main

    out_dir = tmp_path_factory.mktemp("cli")
    out_json = out_dir / "cleaned_output.json"
    out_report = out_dir / "quality_report.txt"

    rc = main(
        [str(fixture_path), "-o", str(out_json), "-r", str(out_report), "-q"],
        spark=spark,
    )
    assert rc == 0
    assert len(json.loads(out_json.read_text())) == len(EXPECTED_VALID_IDS)
    assert "End of report" in out_report.read_text()

    spark.catalog.clearCache()
    rc = main([str(fixture_path), "--validate-only"], spark=spark)
    assert rc == 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    out = capsys.readouterr().out
    assert "Validation Report" in out
    assert "Total records:  17" in out
    # count desc, ties in first-occurrence (record_id) order
    dist = out.split("-" * 50 + "\n", 1)[1].split("\n\n", 1)[0].splitlines()
    assert dist == [
        "     3  URL must start with http:// or https:// and have valid format.",
        "     2  Title is missing or empty.",
        "     1  Content is missing or empty.",
        "     1  URL is missing or empty.",
        "     1  Content is too short (minimum 120 characters).",
        "     1  Title exceeds maximum length (500 characters).",
        "     1  Published date is missing or empty.",
    ]


def test_observe_funnel_matches_aggregate(spark, fixture_path):
    """The observe()-metrics funnel (zero extra jobs — metrics piggyback on
    the consuming action) reports the same numbers as the aggregate pass:
    17 loaded -> 13 complete -> 11 deduped -> 4 valid."""
    from yanwenxian_week3_data_pipeline_spark.pipeline import (
        attach_funnel_observation,
        clean_articles,
        flag_stages,
    )
    from yanwenxian_week3_data_pipeline_spark.sources.articles_json import load_articles

    flagged = flag_stages(clean_articles(load_articles(spark, fixture_path)))
    observed, obs = attach_funnel_observation(flagged, "funnel_test")
    n_sink_rows = observed.where(F.col("_kept") & F.col("passed")).count()
    got = obs.get
    assert got == {"n_load": 17, "n_complete": 13, "n_dedup": 11, "n_valid": 4}
    assert n_sink_rows == got["n_valid"]
