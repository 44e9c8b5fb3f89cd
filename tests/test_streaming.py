"""Structured Streaming twins vs their batch counterparts: drain the events
table (as a JSONL stream) with availableNow and diff against the batch
operators."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def stream_src(spark, sf_dir, tmp_path_factory):
    """Dump events to a JSONL dir (the shape a streaming feed has) with ts
    as epoch-micros-derived timestamps serialized by Spark's JSON writer."""
    from yanwenxian_week3_data_pipeline_spark.sources.tables import load_events

    d = str(tmp_path_factory.mktemp("events_stream"))
    ev = load_events(spark, sf_dir).select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id", "event_type", "value"
    )
    from yanwenxian_week3_data_pipeline_spark.streaming.jobs import JSON_TS_FORMAT

    ev.coalesce(2).write.mode("overwrite").option("timestampFormat", JSON_TS_FORMAT).json(d)
    return d


def test_tumbling_stream_matches_batch(spark, sf_dir, stream_src):
    from yanwenxian_week3_data_pipeline_spark.operators.sessionize import tumbling_window_agg
    from yanwenxian_week3_data_pipeline_spark.sources.tables import load_events
    from yanwenxian_week3_data_pipeline_spark.streaming.jobs import (
        run_available_now,
        tumbling_stream,
    )

    got = run_available_now(tumbling_stream(spark, stream_src), "tumbling_test", "complete")
    rows = {
        r.window_start.replace(tzinfo=None): (r.n_events, round(r.sum_value, 6))
        for r in got.collect()
    }

    batch = tumbling_window_agg(load_events(spark, sf_dir), "1 hour")
    expected = {
        r.window_start: (r.n_events, round(float(r.sum_value), 6))
        for r in batch.collect()
    }
    assert rows == expected


def test_session_window_stream_runs(spark, stream_src):
    from yanwenxian_week3_data_pipeline_spark.streaming.jobs import (
        run_available_now,
        session_window_stream,
    )

    got = run_available_now(session_window_stream(spark, stream_src), "sessionwin_test")
    assert got.count() > 0
    assert {"user_id", "session_start", "n_events"} <= set(got.columns)


def test_stateful_sessionize_matches_batch(spark, sf_dir, stream_src):
    """availableNow processes everything in one batch, so the CLOSED sessions
    emitted by the stateful operator must equal the batch sessionization
    minus each user's final (still-open) session."""
    from yanwenxian_week3_data_pipeline_spark.operators.sessionize import sessionize
    from yanwenxian_week3_data_pipeline_spark.sources.tables import load_events
    from yanwenxian_week3_data_pipeline_spark.streaming.jobs import (
        run_available_now,
        sessionize_stateful,
    )

    got = run_available_now(sessionize_stateful(spark, stream_src), "stateful_sessions")
    closed = {
        (r.user_id, r.session_start.replace(tzinfo=None), r.n_events)
        for r in got.collect()
        if r.closed
    }

    batch = sessionize(load_events(spark, sf_dir), gap_minutes=30)
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id")
    batch_no_last = (
        batch.withColumn("_max_seq", F.max("session_seq").over(w))
        .where(F.col("session_seq") < F.col("_max_seq"))
    )
    expected = {
        (r.user_id, r.session_start, r.n_events) for r in batch_no_last.collect()
    }
    assert closed == expected
    assert len(closed) > 0


def test_dedup_stream_drops_redelivered_events(spark, sf_dir, tmp_path):
    """Feed every event twice (at-least-once redelivery); the streaming
    dedup must emit each event_id exactly once."""
    from yanwenxian_week3_data_pipeline_spark.sources.tables import load_events
    from yanwenxian_week3_data_pipeline_spark.streaming.jobs import (
        JSON_TS_FORMAT,
        dedup_stream,
        run_available_now,
    )

    d = str(tmp_path / "dup_events")
    ev = load_events(spark, sf_dir).select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id", "event_type", "value"
    )
    ev.unionAll(ev).coalesce(2).write.mode("overwrite").option(
        "timestampFormat", JSON_TS_FORMAT
    ).json(d)

    got = run_available_now(dedup_stream(spark, d), "dedup_stream_test")
    n_distinct = ev.select("event_id").distinct().count()
    assert got.count() == n_distinct
    assert got.select("event_id").distinct().count() == n_distinct


def test_minhash_candidates_stream_matches_batch(spark, sf_dir, tmp_path):
    """Slice the corpus into micro-batches arbitrarily; the accumulated
    streaming candidate pairs must equal the batch band-self-join pairs
    (per-band state makes the result slicing-invariant). The per-row
    signature the stream runs is checked against the batch kernel in
    tests/test_operators.py::test_minhash_sig_arrow_matches_expression."""
    from yanwenxian_week3_data_pipeline_spark.operators.dedup import (
        _minhash_sig_table,
        doc_shingles,
        minhash_band_keys,
    )
    from yanwenxian_week3_data_pipeline_spark.streaming.jobs import run_available_now
    from yanwenxian_week3_data_pipeline_spark.streaming.neardup import (
        minhash_candidates_stream,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")

    # stream the corpus in 3 slices
    d = str(tmp_path / "docs_stream")
    docs.repartition(3).write.mode("overwrite").json(d)
    got = run_available_now(minhash_candidates_stream(spark, d), "minhash_cand_stream")
    stream_pairs = {
        (min(r.id_new, r.id_seen), max(r.id_new, r.id_seen))
        for r in got.select("id_new", "id_seen").collect()
    }

    banded = minhash_band_keys(_minhash_sig_table(doc_shingles(docs, "text", "doc_id")))
    a, b = banded.alias("a"), banded.alias("b")
    batch_pairs = {
        (r.x, r.y)
        for r in a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("x"), F.col("b.id").alias("y"))
        .distinct()
        .collect()
    }
    assert stream_pairs == batch_pairs
    assert len(batch_pairs) > 0


def test_clean_valid_stream_matches_batch_pipeline(spark, tmp_path):
    """The full cleaning pipeline as an incremental stream: feed the golden
    fixture in three arrival-ordered micro-batches (the duplicate-key rows
    0/5/12 land in different slices so first-arrival == first-record_id)
    and require the appended valid set to equal the batch pipeline's."""
    import json as _json

    from tests.test_pipeline_golden import _fixture_records
    from yanwenxian_week3_data_pipeline_spark.pipeline import clean_articles, flag_stages
    from yanwenxian_week3_data_pipeline_spark.schema import RECORD_ID
    from yanwenxian_week3_data_pipeline_spark.sources.articles_json import load_articles
    from yanwenxian_week3_data_pipeline_spark.streaming.articles import clean_valid_stream
    from yanwenxian_week3_data_pipeline_spark.streaming.jobs import run_available_now

    records = _fixture_records()
    fixture = tmp_path / "articles.json"
    fixture.write_text(_json.dumps(records), encoding="utf-8")
    batch = load_articles(spark, str(fixture)).cache()

    feed = tmp_path / "feed"
    feed.mkdir()
    for i, (lo, hi) in enumerate([(0, 5), (5, 12), (12, 17)]):
        rows = batch.where((F.col(RECORD_ID) >= lo) & (F.col(RECORD_ID) < hi)).toPandas()
        path = feed / f"slice_{i:03d}.json"
        path.write_text(
            "\n".join(rows.to_json(orient="records", lines=True).splitlines()),
            encoding="utf-8",
        )
        # FileStreamSource orders by modification time: stamp slices so
        # arrival order is the record order
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))

    got = run_available_now(clean_valid_stream(spark, str(feed)), "clean_stream_test")

    flagged = flag_stages(clean_articles(batch))
    expected = flagged.where(F.col("_kept") & F.col("passed"))

    cols = ["title", "content", "url", "published_date"]
    got_rows = {tuple(r[c] for c in cols) for r in got.select(*cols).collect()}
    exp_rows = {tuple(r[c] for c in cols) for r in expected.select(*cols).collect()}
    assert got_rows == exp_rows
    assert len(got_rows) == 4


def test_enrich_stream_matches_batch(spark, sf_dir, stream_src):
    """Stream-static broadcast enrichment: drained stream result equals the
    batch join+window aggregate over the same feed."""
    from yanwenxian_week3_data_pipeline_spark.streaming.jobs import (
        enrich_stream,
        run_available_now,
    )

    got = run_available_now(
        enrich_stream(spark, stream_src, sf_dir), "enrich_stream_t", output_mode="append"
    )
    feed = spark.read.json(
        stream_src,
        schema="event_id long, ts timestamp, user_id long, value double",
        timestampFormat="yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    )
    dim = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select((F.col("c_custkey") - 1).alias("user_id"), "c_nationkey")
    )
    want = (
        feed.join(F.broadcast(dim), "user_id")
        .groupBy(F.window("ts", "1 hour").alias("w"), "c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("w_start"), "c_nationkey", "n_events", "total_value")
    )
    got_rows = sorted(map(tuple, got.collect()))
    want_rows = sorted(map(tuple, want.collect()))
    # append mode only emits windows the watermark has closed; every emitted
    # window must match its batch twin exactly, and nearly all windows close
    # under availableNow drain of a finite feed
    assert len(got_rows) > 0
    want_by_key = {(r[0], r[1]): r for r in want_rows}
    for r in got_rows:
        assert want_by_key[(r[0], r[1])] == r


def test_idempotent_sink_replay_safe(spark, sf_dir, stream_src, tmp_path):
    """Replaying the same feed through the foreachBatch dynamic-overwrite
    sink must not duplicate rows: the second run rewrites the same window
    partitions."""
    from yanwenxian_week3_data_pipeline_spark.streaming.jobs import (
        enrich_stream,
        write_stream_idempotent,
    )

    out = str(tmp_path / "out")
    for attempt, ckpt in enumerate(["ck1", "ck2"]):
        # fresh checkpoint per run simulates a reprocess-from-scratch replay
        q = write_stream_idempotent(
            enrich_stream(spark, stream_src, sf_dir),
            out,
            str(tmp_path / ckpt),
        )
        q.awaitTermination()
        got = spark.read.parquet(out)
        counts = got.groupBy("w_start", "c_nationkey").count()
        assert counts.where(F.col("count") > 1).count() == 0, f"dupes on attempt {attempt}"
    n_after_replay = spark.read.parquet(out).count()
    assert n_after_replay > 0


def test_compact_parquet_preserves_rows(spark, sf_dir, tmp_path):
    from yanwenxian_week3_data_pipeline_spark.sinks.columnar import compact_parquet

    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    scattered = str(tmp_path / "scattered")
    # simulate small-files accretion: 64 tiny files
    src.repartition(64).write.parquet(scattered)
    import glob
    assert len(glob.glob(f"{scattered}/*.parquet")) >= 32
    before = spark.read.parquet(scattered)
    before_rows = sorted(map(tuple, before.select("o_orderkey").collect()))
    n_total = len(before_rows)
    n_files = compact_parquet(spark, scattered, target_rows_per_file=n_total // 4 + 1, sort_by=["o_orderdate"])
    assert n_files <= 8
    after = spark.read.parquet(scattered)
    assert sorted(map(tuple, after.select("o_orderkey").collect())) == before_rows


def test_stateful_funnel_matches_batch(spark, sf_dir, stream_src):
    """Single-batch drain of the stateful streaming funnel reproduces the
    batch events_funnel_conversion totals exactly (in-batch fold is
    event-time ordered)."""
    from yanwenxian_week3_data_pipeline_spark.plans import all_queries
    from yanwenxian_week3_data_pipeline_spark.streaming.jobs import (
        funnel_stateful,
        run_available_now,
    )

    got = run_available_now(
        funnel_stateful(spark, stream_src), "funnel_state_t", output_mode="update"
    )
    # update mode may emit a user several times across batches; keep the last
    per_user = {}
    for r in got.collect():
        per_user[r.user_id] = r
    n_users = len(per_user)
    n_signup = sum(1 for r in per_user.values() if r.did_signup)
    n_view = sum(1 for r in per_user.values() if r.did_view_after_signup)
    n_purchase = sum(1 for r in per_user.values() if r.did_purchase_after_view)
    batch = all_queries()["events_funnel_conversion"].build(spark, sf_dir).collect()[0]
    assert (n_users, n_signup, n_view, n_purchase) == (
        batch.n_users,
        batch.n_signup,
        batch.n_view_after_signup,
        batch.n_purchase_after_view,
    )


def test_sliding_stream_matches_batch(spark, sf_dir, stream_src):
    """Complete-mode drain of the sliding stream equals the batch sliding
    window aggregate over the same feed (count per window; sums compared
    rounded — double accumulation order differs between the two runs)."""
    from yanwenxian_week3_data_pipeline_spark.streaming.jobs import (
        run_available_now,
        sliding_stream,
    )

    got = run_available_now(
        sliding_stream(spark, stream_src), "sliding_stream_t", output_mode="complete"
    )
    feed = spark.read.json(
        stream_src,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double",
        timestampFormat="yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    )
    want = (
        feed.groupBy(F.window("ts", "15 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )
    g = {(r.window_start, r.n_events): round(r.sum_value, 6) for r in got.collect()}
    w = {(r.window_start, r.n_events): round(r.sum_value, 6) for r in want.collect()}
    assert g == w


def test_watermark_drops_late_events_across_restarts(spark, tmp_path):
    """Two availableNow drains sharing a checkpoint: a row older than the
    checkpointed watermark is DROPPED from its (already finalized) window,
    while a row inside the watermark still lands in its open window."""
    import json as _json

    feed = tmp_path / "feed"
    feed.mkdir()
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def write_file(name, rows):
        with open(feed / name, "w") as f:
            for eid, ts, uid, val in rows:
                f.write(_json.dumps({
                    "event_id": eid, "ts": ts, "user_id": uid,
                    "event_type": "view", "value": val}) + "\n")

    def drain():
        from yanwenxian_week3_data_pipeline_spark.streaming.jobs import (
            read_event_stream,
        )
        ev = read_event_stream(spark, str(feed))
        agg = (
            ev.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").cast("string").alias("w_start"), "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.read.parquet(out).collect()
        starts = [r.w_start for r in rows]
        # a finalized window must never be re-emitted — duplicates would
        # silently collapse in the dict below and hide the regression
        assert len(starts) == len(set(starts)), sorted(starts)
        return {r.w_start: r.n for r in rows}

    iso = "2024-01-01T{}:00.000000Z"
    # run 1: 3 events in hour 10, 2 in hour 11; max ts 12:00 -> watermark 11:30
    write_file("a.json", [
        (1, iso.format("10:00"), 1, 1.0),
        (2, iso.format("10:10"), 1, 1.0),
        (3, iso.format("10:20"), 1, 1.0),
        (4, iso.format("11:05"), 1, 1.0),
        (5, iso.format("12:00"), 1, 1.0),
    ])
    first = drain()
    assert first.get("2024-01-01 10:00:00") == 3  # hour-10 window finalized

    # run 2: one LATE row (10:05 < watermark 11:30 -> dropped) and one
    # in-watermark row (11:45) plus a watermark-advancer (12:31)
    write_file("b.json", [
        (6, iso.format("10:05"), 1, 1.0),
        (7, iso.format("11:45"), 1, 1.0),
        (8, iso.format("12:31"), 1, 1.0),
    ])
    second = drain()
    assert second.get("2024-01-01 10:00:00") == 3  # late row NOT re-counted
    # hour-11 window closed with the in-watermark 11:45 row included:
    # {11:05 from run 1, 11:45 from run 2} — the 12:00 row is hour-12
    assert second.get("2024-01-01 11:00:00") == 2


def test_embedding_candidates_stream_matches_batch(spark, sf_dir, tmp_path):
    """Accumulated streaming hyperplane-band candidates equal the batch
    band self-join pairs over the same vectors (slicing-invariant)."""
    from yanwenxian_week3_data_pipeline_spark.streaming.jobs import run_available_now
    from yanwenxian_week3_data_pipeline_spark.streaming.neardup import (
        embedding_candidates_stream,
    )
    from yanwenxian_week3_data_pipeline_spark.constants import (
        EMB_COPY_OFFSET,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    copies = e.select((F.col("vec_id") + F.lit(EMB_COPY_OFFSET)).alias("vec_id"), "embedding")
    corpus = e.unionByName(copies)

    d = str(tmp_path / "emb_stream")
    corpus.repartition(3).write.mode("overwrite").json(d)
    got = run_available_now(embedding_candidates_stream(spark, d), "emb_cand_stream")
    stream_pairs = {
        (min(r.id_new, r.id_seen), max(r.id_new, r.id_seen))
        for r in got.select("id_new", "id_seen").collect()
    }
    # every original must meet its exact copy in at least one band
    copy_pairs = {(r.vec_id, r.vec_id + EMB_COPY_OFFSET) for r in e.collect()}
    assert copy_pairs <= stream_pairs
    assert len(stream_pairs) >= len(copy_pairs)


def test_stream_stream_join_matches_batch(spark, stream_src):
    """Stream-stream interval join: the drained attribution pairs equal the
    batch interval join over the same feed (inner-join matches emit as both
    sides arrive; the watermark only bounds buffered state)."""
    from yanwenxian_week3_data_pipeline_spark.streaming.jobs import (
        run_available_now,
        stream_stream_purchase_attribution,
    )

    got = run_available_now(
        stream_stream_purchase_attribution(spark, stream_src), "ssjoin_t"
    )
    feed = spark.read.json(
        stream_src,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double",
        timestampFormat="yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    )
    v = feed.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    p = feed.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    want = (
        v.join(
            p,
            (F.col("v_user") == F.col("p_user"))
            & (F.col("p_ts") > F.col("v_ts"))
            & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 minutes")),
        )
        .select(
            "view_id",
            "purchase_id",
            F.col("v_user").alias("user_id"),
            # same zone-proof NTZ arithmetic as the streaming job — NOT
            # unix_timestamp subtraction, which floors each operand to the
            # second (off by one on sub-second timestamps) and reads the
            # session zone
            F.timestamp_diff("SECOND", F.col("v_ts"), F.col("p_ts")).alias("delay_s"),
        )
    )
    got_rows = sorted(map(tuple, got.collect()))
    want_rows = sorted(map(tuple, want.collect()))
    assert len(want_rows) > 0
    assert got_rows == want_rows


def test_tws_running_totals_matches_batch(spark, sf_dir, stream_src):
    """transformWithStateInPandas lifetime totals: after draining the feed,
    each user's LAST emitted update must equal the batch per-user aggregate
    (count, value sum, max ts). The RocksDB state store provider is required
    by the TWS operator; set for this query only and restored."""
    from pyspark.sql.window import Window
    from yanwenxian_week3_data_pipeline_spark.sources.tables import load_events
    from yanwenxian_week3_data_pipeline_spark.streaming.jobs import (
        run_available_now,
        running_totals_tws,
        tws_available,
    )

    if not tws_available():
        pytest.skip("google.protobuf not installed — TWS state protocol unavailable")

    key = "spark.sql.streaming.stateStore.providerClass"
    try:
        original = spark.conf.get(key)
    except Exception:
        original = None
    spark.conf.set(
        key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    try:
        got = run_available_now(
            running_totals_tws(spark, stream_src), "tws_totals", "update"
        )
        w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
        last = got.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
        rows = {
            r.user_id: (r.n_events, round(r.total_value, 6), r.last_seen.replace(tzinfo=None))
            for r in last.collect()
        }
    finally:
        if original is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, original)

    batch = (
        load_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total"),
            F.max(F.col("ts").cast("timestamp")).alias("last_ts"),
        )
    )
    expected = {
        r.user_id: (r.n, round(float(r.total or 0.0), 6), r.last_ts)
        for r in batch.collect()
    }
    assert rows == expected
    assert len(rows) > 0


def test_tws_plan_builds_without_protobuf(spark, stream_src):
    """The TWS logical plan (groupBy → transformWithStateInPandas) must
    analyze to the declared output schema even where the protobuf state
    protocol is unavailable — only query START needs the extra runner."""
    from yanwenxian_week3_data_pipeline_spark.streaming.jobs import running_totals_tws

    df = running_totals_tws(spark, stream_src)
    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == [
        "user_id",
        "n_events",
        "total_value",
        "last_seen",
    ]


def test_chained_stateful_dedup_then_window_matches_batch(spark, sf_dir, tmp_path):
    """Two stateful operators chained in ONE streaming query: feed every
    event twice, drain; the append-mode finalized windows must equal the
    batch tumbling aggregate over DISTINCT events. Append mode only emits
    windows the watermark has closed, so compare on the windows the stream
    finalized (all but the tail window at the max timestamp)."""
    from yanwenxian_week3_data_pipeline_spark.operators.sessionize import tumbling_window_agg
    from yanwenxian_week3_data_pipeline_spark.sources.tables import load_events
    from yanwenxian_week3_data_pipeline_spark.streaming.jobs import (
        JSON_TS_FORMAT,
        dedup_then_tumbling_stream,
        run_available_now,
    )

    d = str(tmp_path / "dup_feed")
    ev = load_events(spark, sf_dir).select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id", "event_type", "value"
    )
    ev.unionAll(ev).coalesce(2).write.mode("overwrite").option(
        "timestampFormat", JSON_TS_FORMAT
    ).json(d)

    got = run_available_now(
        dedup_then_tumbling_stream(spark, d), "chained_stateful_test", "append"
    )
    rows = {
        r.window_start.replace(tzinfo=None): (r.n_events, round(r.sum_value, 6))
        for r in got.collect()
    }

    batch = tumbling_window_agg(load_events(spark, sf_dir), "1 hour")
    expected = {
        r.window_start: (r.n_events, round(float(r.sum_value), 6))
        for r in batch.collect()
    }
    assert len(rows) > 0
    for w, v in rows.items():
        assert expected[w] == v, w
    # every batch window except those past the final watermark is emitted
    assert len(rows) >= len(expected) - 3


def test_watermarked_neardup_stream_drops_late_docs(spark, tmp_path):
    """Late-data contract of the watermarked near-dup stream: a document
    older than the checkpointed watermark is dropped BEFORE the band
    matcher — it emits no candidate pairs, touches no band state, and the
    drop is visible in the progress metrics (numRowsDroppedByWatermark) —
    while an in-watermark document still pairs against the standing bands."""
    import json as _json

    from yanwenxian_week3_data_pipeline_spark.streaming.neardup import (
        minhash_candidates_stream_watermarked,
    )

    feed = tmp_path / "docs"
    feed.mkdir()
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")
    text = "the quick brown fox jumps over the lazy dog while cold rain falls on the quiet hill"

    def write_file(name, rows):
        with open(feed / name, "w") as f:
            for did, ts, tx in rows:
                f.write(_json.dumps({"doc_id": did, "text": tx, "ts": ts}) + "\n")

    def drain():
        cands = minhash_candidates_stream_watermarked(
            spark, str(feed), delay="30 minutes"
        )
        q = (
            cands.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        dropped = sum(
            so["numRowsDroppedByWatermark"]
            for p in q.recentProgress
            for so in p["stateOperators"]
        )
        pairs = {
            (r.id_new, r.id_seen)
            for r in spark.read.parquet(out).collect()
        }
        return pairs, dropped

    iso = "2024-01-01T{}:00.000Z"
    # run 1: two copies of the text (docs 1, 2) and a unique watermark
    # advancer at 12:00 -> watermark checkpointed at 11:30
    write_file("a.jsonl", [
        (1, iso.format("10:00"), text),
        (2, iso.format("10:10"), text),
        (9, iso.format("12:00"), "completely different words about spark shuffles and arrow batches"),
    ])
    pairs1, dropped1 = drain()
    assert pairs1 == {(2, 1)}
    assert dropped1 == 0

    # run 2: doc 3 is LATE (10:05 < watermark 11:30) — same text, would
    # pair with 1 and 2, must instead be dropped; doc 4 (11:45) is inside
    # the watermark and pairs with both standing copies
    write_file("b.jsonl", [
        (3, iso.format("10:05"), text),
        (4, iso.format("11:45"), text),
    ])
    pairs2, dropped2 = drain()
    assert pairs2 == {(2, 1), (4, 1), (4, 2)}, pairs2
    assert not any(3 in p for p in pairs2)
    assert dropped2 > 0, "late doc rows must be counted as watermark drops"


def test_watermarked_embedding_stream_drops_late_vectors(spark, tmp_path):
    """Same late-data contract as the minhash twin, on the hyperplane-LSH
    vector stream: a late vector pairs with nothing and is counted in
    numRowsDroppedByWatermark; an in-watermark duplicate still pairs."""
    import json as _json

    from yanwenxian_week3_data_pipeline_spark.streaming.neardup import (
        embedding_candidates_stream_watermarked,
    )

    feed = tmp_path / "vecs"
    feed.mkdir()
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")
    vec = [round(0.1 * ((i % 7) - 3), 4) for i in range(64)]
    other = [round(0.2 * ((i % 5) - 2), 4) for i in range(64)]

    def write_file(name, rows):
        with open(feed / name, "w") as f:
            for vid, ts, v in rows:
                f.write(_json.dumps({"vec_id": vid, "embedding": v, "ts": ts}) + "\n")

    def drain():
        q = (
            embedding_candidates_stream_watermarked(spark, str(feed), delay="30 minutes")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        dropped = sum(
            so["numRowsDroppedByWatermark"]
            for p in q.recentProgress
            for so in p["stateOperators"]
        )
        pairs = {(r.id_new, r.id_seen) for r in spark.read.parquet(out).collect()}
        return pairs, dropped

    iso = "2024-01-01T{}:00.000Z"
    write_file("a.jsonl", [
        (1, iso.format("10:00"), vec),
        (2, iso.format("10:10"), vec),
        (9, iso.format("12:00"), other),
    ])
    pairs1, dropped1 = drain()
    assert (2, 1) in pairs1 and not any(3 in p or 4 in p for p in pairs1)
    assert dropped1 == 0

    write_file("b.jsonl", [
        (3, iso.format("10:05"), vec),   # late -> dropped
        (4, iso.format("11:45"), vec),   # in-watermark -> pairs
    ])
    pairs2, dropped2 = drain()
    assert (4, 1) in pairs2 and (4, 2) in pairs2, pairs2
    assert not any(3 in p for p in pairs2)
    assert dropped2 > 0


def test_neardup_stream_restart_backpressure_watermark_composite(spark, tmp_path):
    """The three round-3 hardening proofs composed into ONE lifecycle:
    source backpressure (maxFilesPerTrigger=1 -> one file per micro-batch,
    asserted on every drain), a kill with data still arriving while the
    stream is DOWN (the realistic crash window: a watermark-late document
    and a fresh duplicate land in the backlog), and a checkpoint restart
    that drains that backlog in capped batches. Exactly-once gate: the
    parquet sink must hold NO duplicate pair rows across the three runs,
    the late doc must pair with nothing (counted in
    numRowsDroppedByWatermark), and the final distinct pairs must equal
    the all-pairs oracle over the non-late duplicate docs.

    (A trigger-once mid-backlog stop was tried first and rejected:
    Trigger.Once IGNORES maxFilesPerTrigger and swallows the whole backlog
    in one batch - the documented reason availableNow replaced it.)"""
    import json as _json
    import os

    from yanwenxian_week3_data_pipeline_spark.streaming.neardup import (
        minhash_candidates_stream_watermarked,
    )

    feed = tmp_path / "docs"
    feed.mkdir()
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")
    text = (
        "the quick brown fox jumps over the lazy dog while cold rain "
        "falls on the quiet hill"
    )
    iso = "2024-01-01T{}:00.000Z"

    def write_file(name, rows, mtime):
        p = feed / name
        with open(p, "w") as f:
            for did, ts, tx in rows:
                f.write(_json.dumps({"doc_id": did, "text": tx, "ts": ts}) + "\n")
        os.utime(p, (mtime, mtime))  # pin source file order deterministically

    def run(trigger_kwargs):
        cands = minhash_candidates_stream_watermarked(
            spark, str(feed), delay="30 minutes",
            reader_options={"maxFilesPerTrigger": 1},
        )
        q = (
            cands.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(**trigger_kwargs)
            .start()
        )
        q.awaitTermination()
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        dropped = sum(
            so["numRowsDroppedByWatermark"]
            for p in q.recentProgress
            for so in p["stateOperators"]
        )
        return batches, dropped

    # run 1 (capped availableNow): two files, two micro-batches — dup pair
    # (2,1) and the watermark advancer; checkpointed watermark = 11:30
    write_file("a.jsonl", [
        (1, iso.format("10:00"), text),
        (2, iso.format("10:10"), text),
    ], mtime=1_000_000)
    write_file("b.jsonl", [
        (9, iso.format("12:00"),
         "completely different words about spark shuffles and arrow batches"),
    ], mtime=1_000_010)
    batches1, dropped1 = run({"availableNow": True})
    assert len(batches1) == 2, [p["numInputRows"] for p in batches1]
    assert dropped1 == 0
    pairs1 = {(r.id_new, r.id_seen) for r in spark.read.parquet(out).collect()}
    assert pairs1 == {(2, 1)}

    # run 2: one new file; the drain finishes and the stream is DOWN
    write_file("c.jsonl", [(4, iso.format("11:45"), text)], mtime=1_000_020)
    batches2, dropped2 = run({"availableNow": True})
    assert len(batches2) == 1, [p["numInputRows"] for p in batches2]
    pairs2 = {(r.id_new, r.id_seen) for r in spark.read.parquet(out).collect()}
    assert pairs2 == {(2, 1), (4, 1), (4, 2)}, pairs2

    # while down, two more files arrive: a watermark-LATE duplicate (doc 3
    # at 10:05 < checkpointed 11:30) and a fresh duplicate (doc 5)
    write_file("d.jsonl", [(3, iso.format("10:05"), text)], mtime=1_000_030)
    write_file("e.jsonl", [(5, iso.format("11:50"), text)], mtime=1_000_040)

    # restart from checkpoint: the 2-file backlog drains in 2 capped
    # batches; doc 3 is dropped by the RECOVERED watermark (no pairs,
    # counted in the metric), doc 5 pairs against every standing copy
    # exactly once
    batches3, dropped3 = run({"availableNow": True})
    assert len(batches3) == 2, [p["numInputRows"] for p in batches3]
    assert dropped3 > 0, "late doc rows must be counted as watermark drops"
    rows = spark.read.parquet(out).collect()
    # exactly-once is at the emission grain: one row per (band, pair) —
    # identical docs legitimately collide in every band, so the pair
    # (5, 1) appears once per band, but NEVER twice for the same band
    emissions = [(r.band_idx, r.band_key, r.id_new, r.id_seen) for r in rows]
    assert len(emissions) == len(set(emissions)), "re-emitted band rows across restarts"
    all_pairs = {(r.id_new, r.id_seen) for r in rows}
    assert all_pairs == {
        (2, 1), (4, 1), (4, 2), (5, 1), (5, 2), (5, 4),
    }, sorted(all_pairs)
    assert not any(3 in p for p in all_pairs)


def test_nb_score_stream_matches_batch_and_registered_query(
    spark, sf_dir, tmp_path
):
    """Streaming model serving: the batch-trained NB model scores a
    document feed STATELESSLY (literal-map lookups inside each row — no
    shuffle, no streaming state). The drained stream must equal (a) the
    identical expression applied batch-wise to the same feed, and (b) the
    registered docs_nb_langid_confusion query's confusion matrix when
    restricted to the same held-out docs."""
    from collections import Counter

    from yanwenxian_week3_data_pipeline_spark.constants import NB_SPLIT_SEED
    from yanwenxian_week3_data_pipeline_spark.functions.hashing import (
        hash60_expr,
    )
    from yanwenxian_week3_data_pipeline_spark.plans.lm_ext import (
        _q_nb_langid_confusion,
    )
    from yanwenxian_week3_data_pipeline_spark.streaming.jobs import (
        run_available_now,
    )
    from yanwenxian_week3_data_pipeline_spark.streaming.nbscore import (
        nb_predict_expr,
        nb_score_stream,
        nb_train_model,
    )

    model = nb_train_model(spark, sf_dir)

    # feed = the held-out half (what arrives after training), as JSONL
    feed_dir = str(tmp_path / "docs_feed")
    held = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("lang").isNotNull())
        .where(
            F.pmod(
                hash60_expr(F.col("doc_id").cast("string"), seed=NB_SPLIT_SEED),
                F.lit(2),
            )
            == 1
        )
        .select("doc_id", "lang", "text")
    )
    held.coalesce(2).write.mode("overwrite").json(feed_dir)

    got = run_available_now(
        nb_score_stream(spark, feed_dir, model), "nb_score_t"
    )
    got_rows = {r["doc_id"]: (r["actual"], r["predicted"]) for r in got.collect()}

    batch = spark.read.schema("doc_id long, lang string, text string").json(
        feed_dir
    ).select(
        "doc_id",
        F.col("lang").alias("actual"),
        nb_predict_expr(F.col("text"), model).alias("predicted"),
    )
    want_rows = {
        r["doc_id"]: (r["actual"], r["predicted"]) for r in batch.collect()
    }
    assert got_rows == want_rows
    assert len(got_rows) > 0

    # confusion-matrix equality with the registered query: it scores
    # exactly the held-out docs with >= 1 token after the REAL cleaning
    # expression (tokenless docs have no feature rows there), so restrict
    # the stream rows to the same domain and demand exact equality
    from yanwenxian_week3_data_pipeline_spark.functions.text import (
        clean_text_expr,
    )
    from yanwenxian_week3_data_pipeline_spark.functions.textstats import (
        tokens_expr,
    )

    with_tokens = {
        r["doc_id"]
        for r in held.select(
            "doc_id",
            F.size(tokens_expr(clean_text_expr(F.col("text")))).alias("n"),
        ).collect()
        if r["n"] >= 1
    }
    reg = {
        (r["actual"], r["predicted"]): r["n_docs"]
        for r in _q_nb_langid_confusion(spark, sf_dir).collect()
    }
    stream_conf = Counter(v for k, v in got_rows.items() if k in with_tokens)
    assert dict(stream_conf) == reg


def test_stateful_transitions_match_batch(spark, sf_dir, stream_src):
    """availableNow drains everything in one batch, so the streaming
    transition stream must equal the batch lead() window exactly —
    including the (ts, event_id) tie-break inside the sort."""
    from yanwenxian_week3_data_pipeline_spark.plans.analytic_ext import (
        _transition_stream,
    )
    from yanwenxian_week3_data_pipeline_spark.streaming.jobs import (
        run_available_now,
        transitions_stateful,
    )

    got = run_available_now(transitions_stateful(spark, stream_src), "transitions_test")
    stream_counts = {}
    for r in got.collect():
        k = (r.user_id, r.prev_type, r.next_type)
        stream_counts[k] = stream_counts.get(k, 0) + 1

    batch_counts = {}
    for r in _transition_stream(spark, sf_dir).collect():
        k = (r.user_id, r.event_type, r.next_type)
        batch_counts[k] = batch_counts.get(k, 0) + 1
    assert stream_counts == batch_counts
    assert len(stream_counts) > 0
