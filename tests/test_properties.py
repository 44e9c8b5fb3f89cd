"""Property-based tests (SURVEY.md §5.2 item 4): a randomized dirt
generator for article records — injected nulls, blank/whitespace fields,
HTML entities, duplicate keys, bad dates — driven through the cleaning
stages, asserting the invariants the reference's goldens encode:

- every valid-output row satisfies every validation rule;
- the funnel only shrinks (loaded >= complete >= deduped >= valid);
- dedup is idempotent and keeps the first record_id per normalized key;
- clean_text is idempotent;
- parse_iso_date emits ISO-8601Z or null, never anything else.

Each hypothesis example builds a small in-memory DataFrame (no file I/O)
so the whole suite stays in seconds; the scale path is exercised by the
oracle-parity tests over the driver parquet tables.
"""

from __future__ import annotations

import re
from datetime import datetime

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from yanwenxian_week3_data_pipeline_spark.constants import HTML_ENTITIES, WHITESPACE_CHARS

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

ISO_RE = re.compile(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z$")

# -- dirt strategies --------------------------------------------------------

_blankish = st.sampled_from([None, "", "   ", "\t\n  "])
_entity_text = st.sampled_from(
    [
        "Tom &amp; Jerry",
        "a&nbsp;&nbsp;b",
        "&lt;tag&gt; &quot;q&quot;",
        "  spaced   out\ttext  ",
        "plain title",
    ]
)
_title = st.one_of(_blankish, _entity_text, st.text(max_size=30), st.just("x" * 501))
_content = st.one_of(
    _blankish,
    st.just("short"),
    st.just("c" * 119),
    st.just("d" * 120),
    st.text(min_size=0, max_size=200),
)
_url = st.one_of(
    _blankish,
    st.sampled_from(
        [
            "https://ok.example/a",
            "http://ok.example/b",
            "HTTP://upper.example/c",  # case-sensitivity quirk (validator.py:76-84)
            "ftp://bad.example/d",
            "invalid-url",
        ]
    ),
)
_date = st.one_of(
    _blankish,
    st.sampled_from(
        [
            "2025-01-15T10:30:00Z",
            "Jan 15, 2025",
            "July 1st, 2025",
            "15/03/2025",
            "2025-13-99",  # impossible
            "none",
            "not a date",
        ]
    ),
)

_record = st.fixed_dictionaries(
    {
        "title": _title,
        "content": _content,
        "url": _url,
        "published_date": _date,
        "category": st.one_of(st.none(), st.just("tech")),
        "author": st.one_of(_blankish, st.just("Ann  Author")),
    }
)

# lists with deliberate duplication: sometimes repeat a prefix of records
_records = st.lists(_record, min_size=0, max_size=8).flatmap(
    lambda rs: st.integers(min_value=0, max_value=len(rs)).map(lambda k: rs + rs[:k])
)


def _load(spark, rows):
    from pyspark.sql.types import LongType, StructField, StructType

    from yanwenxian_week3_data_pipeline_spark.schema import ARTICLE_SCHEMA, RECORD_ID, conform

    # NB StructType.add mutates in place — build a fresh copy instead
    schema = StructType(list(ARTICLE_SCHEMA.fields) + [StructField(RECORD_ID, LongType())])
    base = spark.createDataFrame(
        [
            {**r, "published": None, "source": None, RECORD_ID: i}
            for i, r in enumerate(rows)
        ],
        schema=schema,
    )
    return conform(base)


@given(rows=_records)
@settings(**SETTINGS)
def test_funnel_invariants_and_valid_rows_satisfy_rules(spark, rows):
    from yanwenxian_week3_data_pipeline_spark.domains.articles import article_rules
    from yanwenxian_week3_data_pipeline_spark.operators.dedup import dedup_keep_first
    from yanwenxian_week3_data_pipeline_spark.operators.incomplete import drop_incomplete
    from yanwenxian_week3_data_pipeline_spark.operators.validate import with_validation
    from yanwenxian_week3_data_pipeline_spark.pipeline import clean_articles
    from yanwenxian_week3_data_pipeline_spark.schema import RECORD_ID

    raw = _load(spark, rows)
    cleaned = clean_articles(raw)
    complete = drop_incomplete(cleaned)
    deduped = dedup_keep_first(complete, key_cols=("title", "url"), order_col=RECORD_ID)
    validated = with_validation(deduped, article_rules())
    valid = [r.asDict() for r in validated.where(F.col("passed")).collect()]

    n_load, n_complete, n_dedup = raw.count(), complete.count(), deduped.count()
    assert n_load >= n_complete >= n_dedup >= len(valid)

    for r in valid:
        assert r["title"] and r["title"].strip() and len(r["title"]) <= 500
        assert r["content"] and 120 <= len(r["content"]) <= 1_000_000
        assert r["url"] and (r["url"].startswith("http://") or r["url"].startswith("https://"))
        assert r["published_date"] and r["published_date"].strip()

    # failed rows always carry a reason code + message
    for r in validated.where(~F.col("passed")).collect():
        assert r["reason"] and r["message"]


@given(rows=_records)
@settings(**SETTINGS)
def test_dedup_idempotent_and_keeps_first(spark, rows):
    from yanwenxian_week3_data_pipeline_spark.operators.dedup import dedup_keep_first
    from yanwenxian_week3_data_pipeline_spark.pipeline import clean_articles
    from yanwenxian_week3_data_pipeline_spark.schema import RECORD_ID

    cleaned = clean_articles(_load(spark, rows))
    once = dedup_keep_first(cleaned, key_cols=("title", "url"), order_col=RECORD_ID)
    twice = dedup_keep_first(once, key_cols=("title", "url"), order_col=RECORD_ID)
    ids_once = sorted(r[RECORD_ID] for r in once.select(RECORD_ID).collect())
    ids_twice = sorted(r[RECORD_ID] for r in twice.select(RECORD_ID).collect())
    assert ids_once == ids_twice

    # keep-first: each survivor has the minimal record_id of its key group
    kept = {
        (r["title"], r["url"]): r[RECORD_ID]
        for r in once.select("title", "url", RECORD_ID).collect()
    }
    for r in cleaned.select("title", "url", RECORD_ID).collect():
        key = (r["title"], r["url"])
        if key in kept:
            assert kept[key] <= r[RECORD_ID]


@given(texts=st.lists(st.one_of(_blankish, _entity_text, st.text(max_size=50)), max_size=10))
@settings(**SETTINGS)
def test_clean_text_idempotent(spark, texts):
    from yanwenxian_week3_data_pipeline_spark.functions.text import clean_text_expr

    df = spark.createDataFrame([(t,) for t in texts], "t string")
    rows = df.select(
        clean_text_expr(F.col("t")).alias("once"),
        clean_text_expr(clean_text_expr(F.col("t"))).alias("twice"),
    ).collect()
    for r in rows:
        assert r["once"] == r["twice"]
        # collapsed whitespace, no leading/trailing SPACE. (Deliberately not
        # Python str.strip(): Python counts \x1c-\x1f as strippable
        # whitespace, Java/SQL trim does not — the engine follows Java/SQL
        # semantics; the reference fixture has no control characters.)
        assert "  " not in r["once"]
        assert not r["once"].startswith(" ") and not r["once"].endswith(" ")


@given(dates=st.lists(_date, max_size=12))
@settings(**SETTINGS)
def test_parse_iso_date_shape(spark, dates):
    from yanwenxian_week3_data_pipeline_spark.functions.dates import parse_iso_date_expr

    df = spark.createDataFrame([(d,) for d in dates], "d string")
    for r in df.select(parse_iso_date_expr(F.col("d")).alias("iso")).collect():
        assert r["iso"] is None or ISO_RE.match(r["iso"])


# -- the article pass's two lemmas and its cached expressions ---------------

_LITERALS = "Tt:-,/"


def _renderings(d) -> list[str]:
    """``d`` rendered in every DATE_FORMATS shape, plus the ordinal and
    "Sept" spellings the normalize pass rewrites."""
    mon, month = d.strftime("%b"), d.strftime("%B")
    return [
        d.strftime("%Y-%m-%dT%H:%M:%SZ"),
        d.strftime("%Y-%m-%dT%H:%M:%S+00:00"),
        d.strftime("%Y-%m-%dT%H:%M:%S"),
        d.strftime("%Y-%m-%d %H:%M:%S"),
        d.strftime("%Y-%m-%d"),
        f"{mon} {d.day}, {d.year}",
        f"{month} {d.day}, {d.year}",
        f"{month} {d.day}th, {d.year}",
        f"Sept {d.day}, {d.year}",
        f"{d.day}/{d.month}/{d.year}",
        f"{d.month}/{d.day}/{d.year}",
    ]


def _drop_one_literal(s: str, k: int) -> str:
    at = [i for i, ch in enumerate(s) if ch in _LITERALS]
    if not at:
        return s
    i = at[k % len(at)]
    return s[:i] + s[i + 1 :]


_rendered = st.tuples(
    st.datetimes(min_value=datetime(1900, 1, 1)),
    st.integers(min_value=0, max_value=10),
    st.sampled_from(["as_is", "lower", "upper", "drop"]),
    st.integers(min_value=0, max_value=40),
).map(
    lambda t: {
        "as_is": lambda s: s,
        "lower": str.lower,
        "upper": str.upper,
        "drop": lambda s: _drop_one_literal(s, t[3]),
    }[t[2]](_renderings(t[0])[t[1]])
)
_date_like = st.one_of(
    _rendered,
    _date,
    st.text(alphabet="0123456789 " + _LITERALS + "JanuySepZ+", max_size=25),
    st.text(max_size=25),
)


def _unguarded_parse(col):
    # the parse before each attempt got its literal guard
    from yanwenxian_week3_data_pipeline_spark.functions.dates import DATE_FORMATS, _normalize_expr

    def attempts(s):
        return F.coalesce(*[F.try_to_timestamp(s, F.lit(fmt)) for fmt, _ in DATE_FORMATS])

    return F.transform(F.array(_normalize_expr(col)), lambda s: attempts(s))[0]


@given(dates=st.lists(_date_like, min_size=1, max_size=30))
@settings(**SETTINGS)
def test_guarded_date_parse_equals_unguarded(spark, dates):
    """Lemma of parse_timestamp_expr: guarding each attempt with a literal
    its pattern needs changes no result."""
    from yanwenxian_week3_data_pipeline_spark.functions.dates import parse_timestamp_expr

    df = spark.createDataFrame([(d,) for d in dates], "d string")
    rows = df.select(
        "d",
        parse_timestamp_expr(F.col("d")).alias("guarded"),
        _unguarded_parse(F.col("d")).alias("bare"),
    ).collect()
    for r in rows:
        assert r["guarded"] == r["bare"], r["d"]


def test_date_pattern_literals_match_only_themselves(spark):
    """The guards' premise, over every BMP char: put the char in the slot
    of the literal each pattern is guarded by; the pattern parses exactly
    when the char is that literal (``T`` also as ``t``: Spark parses
    case-insensitively)."""
    from yanwenxian_week3_data_pipeline_spark.functions.dates import DATE_FORMATS

    samples = {
        "yyyy-MM-dd'T'HH:mm:ssXXX": ("2025-02-20", "14:30:00+00:00", "Tt"),
        "yyyy-MM-dd'T'HH:mm:ss": ("2025-02-20", "14:30:00", "Tt"),
        "yyyy-MM-dd HH:mm:ss": ("2025-02-20 14", "30:00", ":"),
        "yyyy-MM-dd": ("2025-02", "20", "-"),
        "MMM d, yyyy": ("Jan 15", " 2025", ","),
        "MMMM d, yyyy": ("March 1", " 2025", ","),
        "d/M/yyyy": ("15", "03/2025", "/"),
        "M/d/yyyy": ("3", "15/2025", "/"),
    }
    assert set(samples) == {fmt for fmt, _ in DATE_FORMATS}
    chars = spark.createDataFrame(
        [(chr(i),) for i in range(0x10000) if not 0xD800 <= i <= 0xDFFF], "c string"
    )
    for fmt, (head, tail, lits) in samples.items():
        s = F.concat(F.lit(head), F.col("c"), F.lit(tail))
        hits = chars.where(F.try_to_timestamp(s, F.lit(fmt)).isNotNull()).collect()
        assert sorted(r.c for r in hits) == sorted(lits), fmt


_ws_entity_text = st.lists(
    st.sampled_from(
        [*WHITESPACE_CHARS, *(e for e, _ in HTML_ENTITIES), "a", "&", ";", "\x1c", "&amp;nbsp;"]
    ),
    max_size=12,
).map("".join)


@given(texts=st.lists(st.one_of(st.none(), _ws_entity_text), min_size=1, max_size=20))
@settings(**SETTINGS)
def test_cleaned_blank_test_equals_missingness(spark, texts):
    """Lemma of pipeline._complete: on clean_text_expr output, != "" is
    exactly not_missing_expr."""
    from yanwenxian_week3_data_pipeline_spark.functions.text import clean_text_expr, not_missing_expr

    df = spark.createDataFrame([(t,) for t in texts], "t string")
    cleaned = clean_text_expr(F.col("t"))
    for r in df.select(
        "t", (cleaned != "").alias("cmp"), not_missing_expr(cleaned).alias("full")
    ).collect():
        assert r["cmp"] == r["full"], repr(r["t"])


def test_pipeline_reuses_stage_exprs_across_sessions(spark, tmp_path):
    """The cached stage Columns serve a second session unchanged: a run on
    spark.newSession() writes byte-identical files, and builds no new
    stage expressions."""
    import json

    from tests.test_pipeline_golden import _fixture_records
    from yanwenxian_week3_data_pipeline_spark import pipeline

    src = tmp_path / "articles.json"
    src.write_text(json.dumps(_fixture_records(), indent=2), encoding="utf-8")
    builders = (pipeline._cleaned_exprs, pipeline.complete_expr, pipeline._flag_exprs, pipeline._report_exprs)
    outputs, built = [], []
    for i, session in enumerate((spark, spark.newSession())):
        out = tmp_path / f"run{i}"
        out.mkdir()
        pipeline.run_cleaning_pipeline(
            session, src, out / "cleaned_output.json", out / "quality_report.txt", verbose=False
        )
        outputs.append([(out / f).read_bytes() for f in ("cleaned_output.json", "quality_report.txt")])
        built.append([b.cache_info().misses for b in builders])
    assert outputs[0] == outputs[1]
    assert built[0] == built[1]


if __name__ == "__main__":
    pytest.main([__file__, "-q"])


# -- nearest as-of join vs brute force --------------------------------------

_asof_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),   # by key
        st.integers(min_value=0, max_value=1000),  # ord value
    ),
    min_size=0,
    max_size=25,
)


@given(left=_asof_rows, right=_asof_rows)
@settings(**SETTINGS)
def test_asof_nearest_matches_brute_force(spark, left, right):
    """asof_join_nearest == argmin over |l.ord - r.ord| within the key,
    backward (r.ord <= l.ord) winning ties — checked against a driver-side
    brute force on random inputs, including empty sides and duplicate
    ord values."""
    from yanwenxian_week3_data_pipeline_spark.operators.asof import asof_join_nearest

    ldf = spark.createDataFrame(
        [(k, float(v), i) for i, (k, v) in enumerate(left)], "k int, ord double, lid int"
    )
    rdf = spark.createDataFrame(
        [(k, float(v), 100 + i) for i, (k, v) in enumerate(right)], "k int, ord double, rid int"
    )
    got = {
        r.lid: r.r_rid
        for r in asof_join_nearest(ldf, rdf, on="ord", by="k").collect()
    }
    # brute force: nearest |diff|; backward (r <= l) wins ties; among equal
    # (diff, direction) candidates the operator's carry picks a single
    # deterministic winner only when ords are unique — so compare on the
    # (diff, is_backward) pair, not the specific rid
    def best(lk, lv):
        cands = [(rk, rv, rid) for (rk, rv), rid in zip(right, range(100, 100 + len(right))) if rk == lk]
        if not cands:
            return None
        def keyf(c):
            _, rv, _ = c
            return (abs(lv - rv), 0 if rv <= lv else 1)
        return min(keyf(c) for c in cands)

    for i, (lk, lv) in enumerate(left):
        want = best(lk, lv)
        if want is None:
            assert got.get(i) is None
        else:
            assert got.get(i) is not None
            matched = next(
                (abs(lv - rv), 0 if rv <= lv else 1)
                for (rk, rv), rid in zip(right, range(100, 100 + len(right)))
                if rid == got[i]
            )
            assert matched == want, (i, lk, lv, got[i], matched, want)


# -- salted aggregation == naive aggregation --------------------------------

_salt_rows = st.lists(
    st.tuples(st.integers(min_value=0, max_value=3), st.integers(min_value=-100, max_value=100)),
    min_size=0,
    max_size=40,
)


@given(rows=_salt_rows)
@settings(**SETTINGS)
def test_salted_agg_equals_naive(spark, rows):
    """salted_agg must be exactly the plain groupBy for decomposable
    aggregates, on any input including empty frames and hot keys."""
    from yanwenxian_week3_data_pipeline_spark.operators.salt import salted_agg

    df = spark.createDataFrame(
        [(k, float(v), i) for i, (k, v) in enumerate(rows)], "k int, v double, rid int"
    )
    got = {
        r.k: (r.n_rows, r.sv)
        for r in salted_agg(df, ["k"], {"sv": F.col("v").cast("decimal(18,3)")}, salt_buckets=4).collect()
    }
    want = {
        r.k: (r.n_rows, r.sv)
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum(F.col("v").cast("decimal(18,3)")).alias("sv"))
        .collect()
    }
    assert got == want


# -- as-of join vs brute-force reference ------------------------------------

_asof_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),              # by-key
        st.one_of(st.none(), st.integers(min_value=-50, max_value=50)),  # ordinal
    ),
    min_size=0,
    max_size=14,
)


def _brute_asof(left_rows, right_rows, nearest: bool):
    """Reference semantics, spelled out row-by-row: backward = greatest
    right ordinal <= left's; nearest = smallest |delta|, backward wins
    ties. Null left ordinals never match; null right ordinals can't be
    matched. Right-side ties (same key+ordinal) are broken by tag order
    to mirror the operator's deterministic last-in-sort carry."""
    out = {}
    for li, (lk, lo) in enumerate(left_rows):
        best = None
        if lo is not None:
            for ri, (rk, ro) in enumerate(right_rows):
                if rk != lk or ro is None:
                    continue
                if nearest:
                    key = (abs(ro - lo), 0 if ro <= lo else 1, -ro, -ri)
                else:
                    if ro > lo:
                        continue
                    key = (-ro, -ri)
                if best is None or key < best[0]:
                    best = (key, ri)
        out[li] = best[1] if best else None
    return out


@pytest.mark.parametrize("nearest", [False, True])
@given(left=_asof_rows, right=_asof_rows)
@settings(**SETTINGS)
def test_asof_join_matches_bruteforce(spark, nearest, left, right):
    from yanwenxian_week3_data_pipeline_spark.operators.asof import (
        asof_join,
        asof_join_nearest,
    )

    ldf = spark.createDataFrame(
        [(i, k, o) for i, (k, o) in enumerate(left)], "lid long, k long, ts long"
    )
    rdf = spark.createDataFrame(
        [(i, k, o) for i, (k, o) in enumerate(right)], "rid long, k long, ts long"
    )
    fn = asof_join_nearest if nearest else asof_join
    got_rows = fn(ldf, rdf, on="ts", by="k").collect()
    assert len(got_rows) == len(left)  # left-join: every left row survives
    got = {r.lid: r.r_rid for r in got_rows}
    want = _brute_asof(left, right, nearest)
    # compare by matched ordinal value, not row id: equal (key, ordinal)
    # right rows are interchangeable for the join result's visible columns
    def ord_of(rows, i):
        return None if i is None else rows[i][1]

    for li in want:
        assert ord_of(right, got.get(li)) == ord_of(right, want[li]), (
            nearest,
            left,
            right,
            li,
        )


# -- per-user OLS trend vs exact-rational brute force ------------------------

_trend_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),          # user_id
        st.integers(min_value=0, max_value=200_000),    # seconds offset
        st.integers(min_value=-99999, max_value=99999), # value in cents
    ),
    min_size=0,
    max_size=30,
)


@settings(**SETTINGS)
@given(rows=_trend_events)
def test_user_trend_matches_rational_brute_force(spark, rows):
    """events_user_trend's statistics pipeline vs an exact Fraction OLS:
    slopes/intercepts must agree to float precision, single-timestamp and
    empty users must be absent (den > 0), and the applyInPandas twin must
    return the SAME rows bit-for-bit (shared determinism contract)."""
    import datetime
    from fractions import Fraction

    from yanwenxian_week3_data_pipeline_spark.plans.analytic_ext import (
        TREND_EPOCH,
        _q_user_trend,
        _q_user_trend_pandas,
    )

    base = datetime.datetime(2024, 1, 1)
    data = [
        (
            int(u),
            int(1000 + 10 * u + i),
            base + datetime.timedelta(seconds=off),
            "view",
            cents / 100.0,
            "{}",
        )
        for i, (u, off, cents) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "user_id long, event_id long, ts timestamp_ntz, event_type string, value double, props string"
    )
    import tempfile

    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")

    got = {
        r.user_id: (r.n_events, r.slope_per_hour, r.intercept)
        for r in _q_user_trend(spark, d).collect()
    }
    got_pd = {
        r.user_id: (r.n_events, r.slope_per_hour, r.intercept)
        for r in _q_user_trend_pandas(spark, d).collect()
    }
    assert got == got_pd  # bit-identical twins

    # exact rational reference
    by_user: dict[int, list] = {}
    for u, off, cents in rows:
        by_user.setdefault(u, []).append((off, Fraction(round(cents), 100)))
    for u, pts in by_user.items():
        n = len(pts)
        sx = sum(Fraction(x) for x, _ in pts)
        sxx = sum(Fraction(x) * x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxy = sum(Fraction(x) * y for x, y in pts)
        den = n * sxx - sx * sx
        if den == 0:
            assert u not in got
            continue
        slope = (n * sxy - sx * sy) / den
        icpt = (sy - slope * sx) / n
        assert u in got
        gn, gs, gi = got[u]
        assert gn == n
        assert abs(gs - float(slope * 3600)) <= 1e-6 * max(1.0, abs(float(slope * 3600)))
        assert abs(gi - float(icpt)) <= 1e-6 * max(1.0, abs(float(icpt)))


def test_repeated_spans_merged_matches_bruteforce(spark):
    """dedup_repeated_spans_merged vs an independent pure-Python reference:
    mark every 8-token span whose text occurs in >=2 distinct docs, merge
    positions whose gap <= N into maximal intervals, roll up per doc. The
    corpus plants shared blocks (longer than N, overlapping, exactly-N,
    adjacent-but-mergeable and isolated) across random filler."""
    import random

    from yanwenxian_week3_data_pipeline_spark.constants import (
        REPEATED_SPAN_N as N,
        REPEATED_SPAN_TOPK as TOPK,
    )
    from yanwenxian_week3_data_pipeline_spark.plans.llm_ops import (
        _q_repeated_spans_merged,
    )

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(60)]
    blocks = [
        [f"b{j}x{i}" for i in range(ln)]
        for j, ln in enumerate([N, N + 1, 2 * N, 3 * N + 2, N + 5])
    ]
    docs = []
    for d in range(24):
        toks = [vocab[rng.randrange(60)] for _ in range(rng.randint(12, 80))]
        for _ in range(rng.randint(0, 3)):
            b = blocks[rng.randrange(len(blocks))]
            at = rng.randrange(len(toks) + 1)
            toks = toks[:at] + b + toks[at:]
        docs.append(" ".join(toks))

    # pure-Python reference
    from collections import defaultdict

    span_docs: dict[tuple, set] = defaultdict(set)
    doc_spans = []
    for did, text in enumerate(docs):
        toks = text.split(" ")
        spans = [tuple(toks[p : p + N]) for p in range(len(toks) - N + 1)]
        doc_spans.append(spans)
        for s in spans:
            span_docs[s].add(did)
    expected = {}
    for did, spans in enumerate(doc_spans):
        pos = [p for p, s in enumerate(spans) if len(span_docs[s]) >= 2]
        if not pos:
            continue
        ivs, start, prev = [], pos[0], pos[0]
        for p in pos[1:]:
            if p - prev > N:
                ivs.append((start, prev + N))
                start = p
            prev = p
        ivs.append((start, prev + N))
        lens = [e - s for s, e in ivs]
        expected[did] = (len(ivs), sum(lens), max(lens))
    top = sorted(expected.items(), key=lambda kv: (-kv[1][1], kv[0]))[:TOPK]

    import tempfile

    tmp = tempfile.mkdtemp()
    spark.createDataFrame(
        [(i, t, "en", "syn", len(t)) for i, t in enumerate(docs)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    got = [
        (r.doc_id, (r.n_intervals, r.covered_toks, r.longest_span))
        for r in _q_repeated_spans_merged(spark, tmp).collect()
    ]
    assert got == top

    # the removal ACTION over the same corpus: cut every covered token,
    # rejoin the survivors in order
    from yanwenxian_week3_data_pipeline_spark.plans.llm_ops import (
        _q_remove_repeated_spans,
    )

    exp_trim = {}
    for did, spans in enumerate(doc_spans):
        cov = set()
        for p, s in enumerate(spans):
            if len(span_docs[s]) >= 2:
                cov.update(range(p, p + N))
        if not cov:
            continue
        toks = docs[did].split(" ")
        kept_toks = [t for i, t in enumerate(toks) if i not in cov]
        exp_trim[did] = (len(toks), len(kept_toks), " ".join(kept_toks))
    exp_top = sorted(
        exp_trim.items(), key=lambda kv: (-(kv[1][0] - kv[1][1]), kv[0])
    )[:TOPK]
    got_trim = [
        (r.doc_id, (r.n_toks_before, r.n_toks_after, r.trimmed_text))
        for r in _q_remove_repeated_spans(spark, tmp).collect()
    ]
    assert got_trim == exp_top
