"""Python DataSource connector (sources/articles_pyds.py): the custom
``articles_envelope`` format must agree with the multiLine reader on a
single envelope file, handle all four envelope shapes, parallelize a
directory one-partition-per-file with disjoint ordered record_ids, and
swallow corrupt documents."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

REF_SAMPLE = Path("/root/reference/week3assigment/week3-assignment/sample_data.json")


@pytest.fixture(scope="module")
def feed_dir(tmp_path_factory) -> Path:
    d = tmp_path_factory.mktemp("envelope_feed")
    (d / "a_array.json").write_text(
        json.dumps(
            [
                {"title": "A1", "content": "c1", "url": "https://x/1", "published": "2025-01-01"},
                {"title": "A2", "content": "c2", "url": "https://x/2", "published": None},
            ]
        ),
        encoding="utf-8",
    )
    (d / "b_wrapper.json").write_text(
        json.dumps({"articles": [{"title": "B1", "content": "c3", "url": "https://x/3"}]}),
        encoding="utf-8",
    )
    (d / "c_bare.json").write_text(
        json.dumps({"title": "C1", "content": "c4", "url": "https://x/4"}), encoding="utf-8"
    )
    (d / "d_null.json").write_text("null", encoding="utf-8")
    (d / "e_corrupt.json").write_text("{not json", encoding="utf-8")
    (d / "zz_ignored.txt").write_text("not a feed file", encoding="utf-8")
    return d


def _repo_fixture(tmp_path_factory) -> Path:
    from tests.test_pipeline_golden import _fixture_records

    p = tmp_path_factory.mktemp("pyds_parity") / "dirty_articles.json"
    p.write_text(json.dumps(_fixture_records(), indent=2), encoding="utf-8")
    return p


def _reference_sample(tmp_path_factory) -> Path:
    if not REF_SAMPLE.exists():
        pytest.skip("reference fixture not present")
    return REF_SAMPLE


@pytest.mark.parametrize(
    "make_input", [_repo_fixture, _reference_sample], ids=["repo_fixture", "reference_sample"]
)
def test_pyds_matches_multiline_reader(spark, tmp_path_factory, make_input):
    from yanwenxian_week3_data_pipeline_spark.schema import ARTICLE_COLUMNS, RECORD_ID, conform
    from yanwenxian_week3_data_pipeline_spark.sources.articles_json import load_articles
    from yanwenxian_week3_data_pipeline_spark.sources.articles_pyds import load_articles_pyds

    path = str(make_input(tmp_path_factory))
    cols = [RECORD_ID, *ARTICLE_COLUMNS]
    via_json = load_articles(spark, path).select(*cols).collect()
    via_pyds = conform(load_articles_pyds(spark, path)).select(*cols).collect()
    assert len(via_json) > 0
    assert sorted(via_pyds) == sorted(via_json)
    # single file → file_seq 0 → record_id reduces to 0..n-1 ingest order
    assert sorted(r[RECORD_ID] for r in via_pyds) == list(range(len(via_pyds)))


def test_pyds_reads_where_workers_cannot_import_the_package(tmp_path):
    """A driver started in another directory with no PYTHONPATH has the
    package only on its own sys.path; its Python workers cannot import it,
    so the source's reader code must travel with the pickled class."""
    import os
    import subprocess
    import sys

    from tests.test_pipeline_golden import _fixture_records

    src = tmp_path / "articles.json"
    src.write_text(json.dumps(_fixture_records(), indent=2), encoding="utf-8")
    repo = Path(__file__).resolve().parent.parent
    script = f"""
import sys
sys.path.insert(0, {str(repo)!r})
from yanwenxian_week3_data_pipeline_spark.session import get_spark
from yanwenxian_week3_data_pipeline_spark.sources.articles_pyds import (
    ArticlesEnvelopeDataSource,
    load_articles_pyds,
)
spark = get_spark("pyds-outside-repo", shuffle_partitions=2)
spark.dataSource.register(ArticlesEnvelopeDataSource)
print("DIRECT", spark.read.format("articles_envelope").load({str(src)!r}).count())
print("LOADER", load_articles_pyds(spark, {str(src)!r}).count())
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert "DIRECT 17" in proc.stdout and "LOADER 17" in proc.stdout, proc.stderr[-3000:]


def test_pyds_directory_partitions_and_envelopes(spark, feed_dir):
    from yanwenxian_week3_data_pipeline_spark.sources.articles_pyds import load_articles_pyds

    df = load_articles_pyds(spark, str(feed_dir))
    rows = {r.title: r for r in df.collect()}
    # 2 (array) + 1 (wrapper) + 1 (bare) + 0 (null) + 0 (corrupt)
    assert set(rows) == {"A1", "A2", "B1", "C1"}
    # one scan partition per listed .json file (parallel file decode)
    assert df.rdd.getNumPartitions() == 5
    # record_id = (file_seq << 32) | pos over the SORTED file list
    assert rows["A1"].record_id == 0 and rows["A2"].record_id == 1
    assert rows["B1"].record_id == (1 << 32)
    assert rows["C1"].record_id == (2 << 32)
    # published→published_date alias applies at file grain
    assert rows["A1"].published_date == "2025-01-01"
    assert rows["A2"].published_date is None


def test_pyds_downstream_pipeline_compatible(spark, feed_dir):
    """The connector's frame feeds the standard cleaning stages (conform →
    clean → flag) like any other article source."""
    from yanwenxian_week3_data_pipeline_spark.pipeline import clean_articles, flag_stages
    from yanwenxian_week3_data_pipeline_spark.schema import conform
    from yanwenxian_week3_data_pipeline_spark.sources.articles_pyds import load_articles_pyds

    flagged = flag_stages(clean_articles(conform(load_articles_pyds(spark, str(feed_dir)))))
    got = {r.title: r for r in flagged.collect()}
    assert len(got) == 4 and all("_kept" in r.asDict() for r in got.values())


def test_pyds_stream_tails_feed_directory(spark, tmp_path):
    """Streaming side of the custom source: drain an initial drop, then a
    second drop, with availableNow micro-batches — the accumulated sink
    must equal a batch read of the full directory (exactly-once over
    file-count offsets), using one checkpoint across both runs."""
    import json as _json

    from yanwenxian_week3_data_pipeline_spark.sources.articles_pyds import (
        ArticlesEnvelopeDataSource,
        load_articles_pyds,
    )

    feed = tmp_path / "feed"
    feed.mkdir()
    ck = str(tmp_path / "ck")

    def drop(name, payload):
        (feed / name).write_text(_json.dumps(payload), encoding="utf-8")

    out = str(tmp_path / "sink")

    def drain():
        # parquet sink: supports checkpoint RECOVERY (memory sink does not),
        # so the second drain resumes from the committed offset
        spark.dataSource.register(ArticlesEnvelopeDataSource)
        stream = spark.readStream.format("articles_envelope").load(str(feed))
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r.record_id, r.title) for r in spark.read.parquet(out).collect()
        }

    drop("b0_first.json", [{"title": "S1", "content": "c", "url": "https://x/1"}])
    drop("b1_second.json", {"articles": [{"title": "S2", "content": "c", "url": "https://x/2"}]})
    first = drain()
    assert {t for _, t in first} == {"S1", "S2"}

    drop("b2_third.json", {"title": "S3", "content": "c", "url": "https://x/3"})
    both = drain()
    assert {t for _, t in both} == {"S1", "S2", "S3"}
    # replayed batches must not duplicate the first drop
    assert len(both) == 3

    batch_ids = {
        (r.record_id, r.title)
        for r in load_articles_pyds(spark, str(feed)).collect()
    }
    assert both == batch_ids


def test_envelope_decode_helpers_pure():
    """Pure-python contracts of the DataSource decode layer: envelope
    dispatch for every shape (incl. non-dict entries and a non-list
    wrapper payload) and canonical stringification of non-string JSON."""
    from yanwenxian_week3_data_pipeline_spark.sources.articles_pyds import (
        _cell,
        _envelope_records,
        _file_rows,
    )

    assert _envelope_records(None) == []
    assert _envelope_records([{"a": 1}, "junk", 3]) == [{"a": 1}]
    assert _envelope_records({"articles": [{"t": "x"}, 7]}) == [{"t": "x"}]
    # non-list "articles" payload: the reference FALLS THROUGH
    # (cleaner.py:137-142) and wraps the whole dict as one record
    assert _envelope_records({"articles": "not-a-list"}) == [{"articles": "not-a-list"}]
    assert _envelope_records({"title": "bare"}) == [{"title": "bare"}]
    assert _envelope_records(42) == []

    assert _cell(None) is None
    assert _cell("s") == "s"
    assert _cell(5) == "5"
    assert _cell(True) == "true"
    assert _cell({"k": [1, 2]}) == '{"k":[1,2]}'

    import json as _json
    import tempfile

    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
        _json.dump([{"title": "A", "published": "2025-01-01"}], f)
    rows = _file_rows(3, f.name)
    assert rows[0][0] == (3 << 32)  # record_id = (file_seq<<32)|pos
    assert "2025-01-01" in rows[0]  # published→published_date alias applied


def test_pyds_stream_backpressure_caps_files_per_batch(spark, tmp_path):
    """maxFilesPerBatch is the source's backpressure contract: a 5-file
    backlog drained with a cap of 2 must take >= 3 micro-batches, no batch
    may admit more than 2 files' worth of rows, and the accumulated sink
    still equals the whole feed (each step individually committed)."""
    import json as _json

    from yanwenxian_week3_data_pipeline_spark.sources.articles_pyds import (
        ArticlesEnvelopeDataSource,
    )

    feed = tmp_path / "feed"
    feed.mkdir()
    for i in range(5):
        (feed / f"f{i}.json").write_text(
            _json.dumps(
                [
                    {"title": f"t{i}a", "content": "c", "url": "http://x"},
                    {"title": f"t{i}b", "content": "c", "url": "http://x"},
                ]
            ),
            encoding="utf-8",
        )
    spark.dataSource.register(ArticlesEnvelopeDataSource)
    stream = (
        spark.readStream.format("articles_envelope")
        .option("maxFilesPerBatch", 2)
        .load(str(feed))
    )
    out, ck = str(tmp_path / "sink"), str(tmp_path / "ck")
    # continuous micro-batches + processAllAvailable, NOT availableNow: the
    # simple-reader runner prefetches one capped slice at start, and
    # availableNow treats that slice as "all available" — one drain per cap.
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) >= 3, [p["numInputRows"] for p in q.recentProgress]
    assert all(p["numInputRows"] <= 4 for p in batches)
    rows = spark.read.parquet(out).collect()
    assert sorted(r.title for r in rows) == sorted(
        f"t{i}{s}" for i in range(5) for s in "ab"
    )
