"""Loader contracts: side-effect-free table loads and conf-independent
event timestamps (VERDICT r1 item 4)."""

from __future__ import annotations

import datetime


def test_load_events_does_not_mutate_session_conf(spark, sf_dir):
    from yanwenxian_week3_data_pipeline_spark.sources.tables import load_events

    probes = [
        "spark.sql.session.timeZone",
        "spark.sql.parquet.inferTimestampNTZ.enabled",
        "spark.sql.legacy.parquet.nanosAsLong",
    ]

    def snapshot():
        out = {}
        for k in probes:
            try:
                out[k] = spark.conf.get(k)
            except Exception:
                out[k] = "<unset>"
        return out

    before = snapshot()
    df = load_events(spark, sf_dir)
    assert df.count() > 0
    assert snapshot() == before


def test_load_events_ntz_regardless_of_infer_conf(spark, sf_dir):
    """The explicit read schema must force TIMESTAMP_NTZ even in a session
    where parquet NTZ inference is disabled (a driver-like default session
    could have it off); values must be identical either way."""
    from yanwenxian_week3_data_pipeline_spark.sources.tables import load_events

    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    original = spark.conf.get(key)
    base = load_events(spark, sf_dir).orderBy("event_id").limit(5).collect()
    try:
        spark.conf.set(key, "false")
        df = load_events(spark, sf_dir)
        assert df.schema["ts"].dataType.typeName() == "timestamp_ntz"
        got = df.orderBy("event_id").limit(5).collect()
    finally:
        spark.conf.set(key, original)
    assert [r.ts for r in got] == [r.ts for r in base]
    assert all(isinstance(r.ts, datetime.datetime) for r in got)


def test_two_loaders_interleaved_share_session_safely(spark, sf_dir):
    """Interleaving an events load between two reads of another table must
    not change the second read (loaders hold no session-level state)."""
    from yanwenxian_week3_data_pipeline_spark.sources.tables import load_events, load_table

    first = load_table(spark, sf_dir, "orders").orderBy("o_orderkey").limit(3).collect()
    load_events(spark, sf_dir).count()
    second = load_table(spark, sf_dir, "orders").orderBy("o_orderkey").limit(3).collect()
    assert first == second


def test_jsonl_audited_separates_corrupt_lines(spark, tmp_path):
    """The audited JSONL reader must route malformed lines to the reject
    frame (raw text preserved) and keep exactly the parseable records in
    the clean frame — no silent nulling."""
    import json

    from yanwenxian_week3_data_pipeline_spark.sources.articles_json import (
        load_articles_jsonl,
        load_articles_jsonl_audited,
    )

    p = tmp_path / "feed.jsonl"
    good = [
        {"title": "A", "content": "c1", "url": "https://x/1"},
        {"title": "B", "content": "c2", "url": "https://x/2"},
    ]
    lines = [json.dumps(good[0]), "{broken json", json.dumps(good[1]), "also not json"]
    p.write_text("\n".join(lines), encoding="utf-8")

    clean, corrupt = load_articles_jsonl_audited(spark, str(p))
    assert {r.title for r in clean.collect()} == {"A", "B"}
    rejects = sorted(r.raw_line for r in corrupt.collect())
    assert rejects == ["also not json", "{broken json"]

    # the unaudited reader silently nulls the bad lines (the failure mode
    # the audit channel exists to expose)
    plain = load_articles_jsonl(spark, str(p))
    assert plain.count() == 4
    assert plain.where("title IS NULL AND content IS NULL AND url IS NULL").count() == 2


def test_load_articles_nonlist_wrapper_falls_through(spark, tmp_path):
    """{"articles": <non-list>} must follow the reference's dispatch
    (cleaner.py:137-142): NOT an empty frame — the whole dict becomes one
    record, same as the bare-object shape. Pinned on the multiLine batch
    path; the DataSource path pins the same rule in its pure-helper test."""
    import json as _json

    from yanwenxian_week3_data_pipeline_spark.sources.articles_json import (
        load_articles,
    )

    p = tmp_path / "weird.json"
    p.write_text(
        _json.dumps({"articles": 42, "title": "T", "content": "c", "url": "https://x"}),
        encoding="utf-8",
    )
    rows = load_articles(spark, str(p)).collect()
    assert len(rows) == 1
    assert rows[0].title == "T"


def test_read_parquet_fanout_rule(spark, tmp_path, monkeypatch):
    """One fan-out rule: an under-split input (estimated splits <
    defaultParallelism), small or large, is repartitioned to
    defaultParallelism; a multi-split input (the real-scale case, emulated
    by shrinking maxPartitionBytes) and a non-local path get no Repartition
    node; and the values never change, only the partitioning."""
    from yanwenxian_week3_data_pipeline_spark.sources import tables
    from yanwenxian_week3_data_pipeline_spark.sources.tables import (
        read_parquet_fanout,
    )

    def has_repartition(df):
        return "Repartition" in df._jdf.queryExecution().logical().toString()

    par = spark.sparkContext.defaultParallelism
    small = str(tmp_path / "small.parquet")
    spark.range(10).coalesce(1).write.parquet(small)
    big = str(tmp_path / "big.parquet")
    spark.range(100_000).selectExpr(
        "id", "repeat(uuid(), 4) AS pad"
    ).coalesce(1).write.parquet(big)

    for path in (small, big):
        plain = spark.read.parquet(path)
        fanned = read_parquet_fanout(spark, path)
        assert has_repartition(fanned)
        assert fanned.rdd.getNumPartitions() == par
        assert fanned.count() == plain.count()
        assert sorted(fanned.collect()) == sorted(plain.collect())

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(16 << 10))
        # estimated splits = size/16KB >> cores -> no extra repartition node
        df = read_parquet_fanout(spark, big)
        assert df.rdd.getNumPartitions() > 1  # the scan itself is split
        assert not has_repartition(df)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)

    # a non-local path (object store) has no known size: plain scan
    monkeypatch.setattr(tables, "_local_parquet_bytes", lambda _p: None)
    assert not has_repartition(read_parquet_fanout(spark, small))
