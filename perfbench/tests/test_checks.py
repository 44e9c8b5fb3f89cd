"""The output checks: digests, generator determinism, and ground truth
against the pipeline itself."""

import hashlib
import random

import articles
import pytest
import workloads

ROOT = workloads.HERE.parent


def test_digest_is_stable_under_row_order():
    from pyspark.sql import Row

    va = workloads.load_verify_all(ROOT)
    rows = [Row(k=i, v=f"x{i}", d=i / 3) for i in range(50)]
    shuffled = rows[:]
    random.Random(1).shuffle(shuffled)
    digest = va.vhash(va.canon_rows_spark(rows, ["k", "v", "d"]))
    assert va.vhash(va.canon_rows_spark(shuffled, ["v", "d", "k"])) == digest
    assert va.vhash(va.canon_rows_spark(rows[:-1], ["k", "v", "d"])) != digest


def test_generator_is_deterministic():
    r1, t1 = articles.generate(5, n=3000)
    r2, t2 = articles.generate(5, n=3000)
    r3, t3 = articles.generate(6, n=3000)
    assert r1 == r2 and t1.summary() == t2.summary()
    assert r1 != r3 and t1.valid_titles_md5 != t3.valid_titles_md5


def test_generated_bytes_are_deterministic(tmp_path):
    for name in ("a.json", "b.json"):
        records, _ = articles.generate(9, n=500)
        articles.write_articles(records, tmp_path / name)
    digests = {hashlib.md5((tmp_path / n).read_bytes()).hexdigest() for n in ("a.json", "b.json")}
    assert len(digests) == 1


def test_generator_mix_follows_the_stated_shares():
    _, truth = articles.generate(3, n=20_000)
    counts = {f: truth.fates.count(f) for f in articles.FATE_SHARES}
    for fate, share in articles.FATE_SHARES.items():
        assert abs(counts[fate] / 20_000 - share) < 0.02, fate
    assert truth.n_complete == 20_000 - counts["incomplete"]
    assert truth.n_dedup == truth.n_complete - counts["duplicate"]
    assert truth.n_valid == counts["valid"]


def test_expected_digests_cover_every_table_query():
    import json

    expected = json.loads(workloads.EXPECTED_DIGESTS.read_text())
    for queries in workloads.QUERIES.values():
        assert set(queries) <= set(expected["sf0.1"])


@pytest.fixture(scope="module")
def pipeline_outputs(tmp_path_factory):
    """Run the real pipeline once on a small generated file."""
    import os

    from yanwenxian_week3_data_pipeline_spark.pipeline import run_cleaning_pipeline
    from yanwenxian_week3_data_pipeline_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    d = tmp_path_factory.mktemp("articles")
    records, truth = articles.generate(11, n=3000)
    articles.write_articles(records, d / "in.json")
    spark = get_spark("perfbench-tests", shuffle_partitions=8)
    run_cleaning_pipeline(spark, d / "in.json", d / "out.json", d / "report.txt", verbose=False)
    import json

    return json.loads((d / "out.json").read_text()), (d / "report.txt").read_text(), truth


def test_ground_truth_matches_the_pipeline(pipeline_outputs):
    saved, report, truth = pipeline_outputs
    assert workloads.check_cleaned(saved, truth) == []
    assert workloads.check_report(report, truth) == []


@pytest.mark.parametrize("field", ["n_valid", "n_dedup", "n_complete", "n_dated"])
def test_a_corrupted_truth_count_fails_the_check(pipeline_outputs, field):
    saved, report, truth = pipeline_outputs
    bad = articles.GroundTruth(**{**truth.summary(), field: getattr(truth, field) + 1})
    assert workloads.check_cleaned(saved, bad) + workloads.check_report(report, bad)


def test_a_corrupted_title_digest_fails_the_check(pipeline_outputs):
    saved, _, truth = pipeline_outputs
    bad = articles.GroundTruth(**{**truth.summary(), "valid_titles_md5": "0" * 32})
    assert workloads.check_cleaned(saved, bad)
