"""Operator-level unit tests: recall/precision of the approximate operators
on constructed inputs, scalar-function edge cases, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _docs_with_near_dups(spark):
    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
        "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
        "xray yankee zulu one two three four five six seven eight nine ten"
    )
    toks = base.split()
    near = toks.copy()
    near[5], near[20] = "changed", "words"  # 2/36 tokens differ -> high jaccard
    other = " ".join(reversed(toks))  # same tokens, different order -> low shingle overlap
    unrelated = "completely different content about spark catalyst optimizer and parquet files etc"
    rows = [
        (0, base),
        (1, " ".join(near)),
        (2, other),
        (3, unrelated),
        (4, base),  # exact dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_lsh_finds_near_dups(spark):
    from yanwenxian_week3_data_pipeline_spark.operators.dedup import dedup_minhash_lsh

    docs = _docs_with_near_dups(spark)
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup_minhash_lsh(docs, "text", "doc_id", threshold=0.5).collect()
    }
    assert (0, 4) in pairs and pairs[(0, 4)] == 1.0  # exact dup
    assert (0, 1) in pairs and pairs[(0, 1)] >= 0.7  # near dup (2/36 tokens -> 28/40 shingles)
    assert (1, 4) in pairs
    assert all(3 not in p for p in pairs)            # unrelated never pairs
    assert (0, 2) not in pairs                       # reordered text: shingles differ


def test_minhash_sig_arrow_matches_expression(spark, sf_dir):
    """The Arrow signature kernel must be bit-identical to the per-row
    expression reference (the recipe the streams run and the DuckDB oracle
    replays): same md5-split (h1, h2), same exact-int64 KM arithmetic,
    same mins — on the constructed near-dups and on the documents table."""
    from yanwenxian_week3_data_pipeline_spark.operators.dedup import (
        _minhash_sig_table,
        doc_shingles,
        minhash_sig_row_expr,
    )

    def both(docs):
        sh = doc_shingles(docs, "text", "doc_id").where(F.size("shingles") > 0)
        arrow = {r["id"]: list(r["sig"]) for r in _minhash_sig_table(sh).collect()}
        expr = {
            r["id"]: list(r["sig"])
            for r in sh.select("id", minhash_sig_row_expr(F.col("shingles")).alias("sig")).collect()
        }
        return arrow, expr

    arrow, expr = both(_docs_with_near_dups(spark))
    assert arrow == expr and len(arrow) == 5
    arrow, expr = both(spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text"))
    assert arrow == expr and len(arrow) > 0


def test_simhash_near_dups(spark):
    from yanwenxian_week3_data_pipeline_spark.operators.dedup import dedup_simhash

    docs = _docs_with_near_dups(spark)
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup_simhash(docs, "text", "doc_id", max_hamming=3).collect()
    }
    assert pairs[(0, 4)] == 0            # exact dup -> identical simhash
    assert pairs[(0, 2)] == 0            # simhash is order-insensitive (token set)
    assert (0, 1) in pairs               # near dup within hamming 3
    assert all(3 not in p for p in pairs)


def test_dedup_exact(spark):
    from yanwenxian_week3_data_pipeline_spark.operators.dedup import dedup_exact

    docs = _docs_with_near_dups(spark)
    reps = {r.keep_id: r.n_copies for r in dedup_exact(docs, "text", "doc_id").collect()}
    assert reps[0] == 2  # doc 4 collapses into doc 0
    assert 4 not in reps
    assert reps[1] == reps[2] == reps[3] == 1


def test_ivf_recall_against_brute_force(spark, sf_dir):
    from yanwenxian_week3_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_ivf,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qids = [0, 1, 2, 3, 4]
    exact = cosine_topk(emb, qids, k=10)
    approx = cosine_topk_ivf(emb, qids, k=10, n_cells=16, nprobe=4)
    e = {(r.query_id, r.cand_id) for r in exact.collect()}
    a = {(r.query_id, r.cand_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.3, f"IVF recall@10 too low: {recall}"
    # rank-1 sanity: every query returns a full result set
    assert len(a) == len(qids) * 10


def test_clean_text_edge_cases(spark):
    from yanwenxian_week3_data_pipeline_spark.functions.text import clean_text_expr

    df = spark.createDataFrame(
        [
            ("  a  \t b  ",),
            ("&amp;lt; stays encoded once",),
            ("x&nbsp;y",),
            ("", ),
            (None,),
            ("&lt;tag&gt; &quot;q&quot; &#39;s&#39;",),
        ],
        "s string",
    )
    got = [r.c for r in df.select(clean_text_expr(F.col("s")).alias("c")).collect()]
    assert got[0] == "a b"
    assert got[1] == "&lt; stays encoded once"  # &amp;lt; -> &lt; (single pass)
    assert got[2] == "x y"                       # &nbsp; collapses to a space
    assert got[3] == ""
    assert got[4] == ""
    assert got[5] == '<tag> "q" \'s\''


def test_parse_iso_date_udf_fallback(spark):
    """The dateutil pandas_udf fallback handles formats outside the frozen
    list (full reference generality)."""
    from yanwenxian_week3_data_pipeline_spark.functions.dates import parse_iso_date_udf

    udf = parse_iso_date_udf()
    df = spark.createDataFrame(
        [("3rd of July 2025",), ("2025-13-99",), ("none",), (None,)], "s string"
    )
    got = [r.d for r in df.select(udf("s").alias("d")).collect()]
    assert got[0] == "2025-07-03T00:00:00Z"
    assert got[1] is None and got[2] is None and got[3] is None


def test_multimodal_feature_extraction(spark, sf_dir):
    from yanwenxian_week3_data_pipeline_spark.operators.multimodal import (
        DecodeNotAvailable,
        documents_as_media,
        extract_features,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = documents_as_media(docs)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == docs.count()
    r0 = {r.media_id: r for r in rows}[0]
    assert r0.width >= 16 and r0.height >= 16 and r0.n_frames >= 1
    # deterministic: same payload -> same crc on re-run
    rows2 = {r.media_id: r.feature_crc for r in extract_features(media).collect()}
    assert rows2 == {r.media_id: r.feature_crc for r in rows}
    # media_type distribution is the doc_id % 3 mapping
    assert {r.media_type for r in rows} == {"image", "audio", "video"}

    with pytest.raises(Exception):
        extract_features(media, real_decode=True).collect()


def test_approx_count_distinct_error(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    row = li.agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx"),
        F.countDistinct("l_partkey").alias("exact"),
    ).collect()[0]
    assert abs(row.approx - row.exact) / row.exact < 0.1


def _vecs_with_near_dups(spark):
    import numpy as np

    rs = np.random.RandomState(7)
    base = [rs.randn(64).tolist() for _ in range(20)]
    near = list(base[0])
    near[0] += 0.01 * (1 if near[0] >= 0 else -1)  # cosine(base[0], near) ~ 0.99999
    rows = (
        [(i, [float(x) for x in v]) for i, v in enumerate(base)]
        + [(100, [float(x) for x in base[0]])]   # exact dup of 0
        + [(101, [float(x) for x in near])]      # near dup of 0
    )
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_cosine_pairs_exact(spark):
    from yanwenxian_week3_data_pipeline_spark.operators.similarity import embedding_cosine_pairs

    vecs = _vecs_with_near_dups(spark)
    pairs = {
        (r.id_a, r.id_b): r.cosine for r in embedding_cosine_pairs(vecs, 0.99).collect()
    }
    assert pairs[(0, 100)] == 1.0
    assert pairs[(0, 101)] >= 0.999
    assert (100, 101) in pairs
    assert len(pairs) == 3  # random 64-dim vectors never reach 0.99


def test_dedup_embedding_lsh_recall(spark):
    from yanwenxian_week3_data_pipeline_spark.operators.similarity import (
        dedup_embedding_lsh,
        embedding_cosine_pairs,
    )

    vecs = _vecs_with_near_dups(spark)
    exact = {(r.id_a, r.id_b) for r in embedding_cosine_pairs(vecs, 0.99).collect()}
    approx = {(r.id_a, r.id_b) for r in dedup_embedding_lsh(vecs, 0.99).collect()}
    # identical vectors collide on every band -> guaranteed; the perturbed
    # near-dup flips at most a couple of sign bits out of 32
    assert (0, 100) in approx
    assert approx <= exact          # verify stage guarantees precision = 1
    assert len(exact & approx) / len(exact) >= 2 / 3


def test_asof_join_edges(spark):
    from datetime import datetime

    from yanwenxian_week3_data_pipeline_spark.operators.asof import asof_join

    t = lambda s: datetime.fromisoformat(s)
    left = spark.createDataFrame(
        [
            (1, t("2024-01-01T10:00:00"), "L1"),   # before any right row -> null
            (1, t("2024-01-01T12:00:00"), "L2"),   # exactly equal ts -> matches R1
            (1, t("2024-01-01T15:00:00"), "L3"),   # between R1 and R2 -> R1
            (2, t("2024-01-01T12:30:00"), "L4"),   # other key -> R3 only
        ],
        "user_id long, ts timestamp, l_tag string",
    )
    right = spark.createDataFrame(
        [
            (1, t("2024-01-01T12:00:00"), "R1"),
            (1, t("2024-01-01T16:00:00"), "R2"),
            (2, t("2024-01-01T12:00:00"), "R3"),
            (3, t("2024-01-01T00:00:00"), "R4"),   # key with no left rows
        ],
        "user_id long, ts timestamp, r_tag string",
    )
    out = {r.l_tag: r.r_r_tag for r in asof_join(left, right, on="ts", by="user_id").collect()}
    assert out == {"L1": None, "L2": "R1", "L3": "R1", "L4": "R3"}


def test_point_in_interval_join_edges(spark):
    from datetime import datetime

    from yanwenxian_week3_data_pipeline_spark.operators.rangejoin import (
        point_in_interval_join,
    )

    t = lambda s: datetime.fromisoformat(s)
    # intervals of 1h; bucket width deliberately NOT aligned to the data
    left = spark.createDataFrame(
        [
            (1, 10, t("2024-01-01T11:00:00"), t("2024-01-01T12:00:00")),
            (1, 11, t("2024-01-01T13:30:00"), t("2024-01-01T14:30:00")),  # straddles a bucket edge
            (2, 12, t("2024-01-01T11:00:00"), t("2024-01-01T12:00:00")),  # other key, no points
        ],
        "user_id long, iid long, win_start timestamp, win_end timestamp",
    )
    right = spark.createDataFrame(
        [
            (1, t("2024-01-01T11:00:00")),  # == win_start -> inclusive
            (1, t("2024-01-01T12:00:00")),  # == win_end -> inclusive
            (1, t("2024-01-01T12:00:01")),  # just outside interval 10
            (1, t("2024-01-01T13:59:59")),  # inside interval 11, bucket B
            (1, t("2024-01-01T14:00:01")),  # inside interval 11, bucket B+1
            (2, t("2024-01-01T15:00:00")),  # key 2 but outside its interval
        ],
        "user_id long, pt timestamp",
    )
    out = point_in_interval_join(
        left, right, by="user_id", left_start="win_start", left_end="win_end",
        right_point="pt", bucket_seconds=3600, how="left", left_id="iid",
    )
    counts = {r.iid: r.n for r in out.groupBy("iid").agg(F.count("pt").alias("n")).collect()}
    assert counts == {10: 2, 11: 2, 12: 0}
    # inner drops the empty interval and yields exactly one row per pair
    inner = point_in_interval_join(
        left, right, by="user_id", left_start="win_start", left_end="win_end",
        right_point="pt", bucket_seconds=3600,
    )
    assert inner.count() == 4
    assert inner.select("iid").distinct().count() == 2


def test_connected_components_chain_and_isolates(spark):
    from yanwenxian_week3_data_pipeline_spark.operators.components import (
        connected_components,
    )

    # 0-1-2-3-4 chain (needs >1 propagation round), 10-11 pair, 20-21-22
    # triangle; edges only ever name one direction
    edges = spark.createDataFrame(
        [(1, 0), (1, 2), (3, 2), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "src long, dst long",
    )
    got = {r.node: r.comp for r in connected_components(edges, "src", "dst").collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_adversarial_long_chain(spark):
    """Star contraction must label a path graph whose DIAMETER far exceeds
    the round cap — the case where min-label propagation (rounds = hop
    distance to the minimum) silently returns wrong clusters. A 257-node
    chain with the minimum at one end, ids shuffled so the walk order never
    matches the id order, plus a second 64-node chain and a self-loop-only
    node; fixpoint must land in O(log n) rounds."""
    import random

    from yanwenxian_week3_data_pipeline_spark.operators.components import (
        star_contraction,
    )

    rng = random.Random(7)
    ids = list(range(1000, 1257))
    rng.shuffle(ids)
    chain = [min(ids)] + [i for i in ids if i != min(ids)]
    edges = [(chain[i], chain[i + 1]) for i in range(len(chain) - 1)]
    ids2 = list(range(5000, 5064))
    rng.shuffle(ids2)
    edges += [(ids2[i], ids2[i + 1]) for i in range(len(ids2) - 1)]
    edges += [(42, 42)]  # self-loop-only node still gets labeled
    labels, rounds = star_contraction(
        spark.createDataFrame(edges, "src long, dst long"), "src", "dst"
    )
    got = {r.node: r.comp for r in labels.collect()}
    assert len(got) == 257 + 64 + 1
    assert all(got[i] == 1000 for i in ids)
    assert all(got[i] == 5000 for i in ids2)
    assert got[42] == 42
    assert rounds <= 12, rounds  # O(log n), nowhere near diameter 256


def test_connected_components_hub_skew_path_same_labels(spark):
    """A celebrity hub (one node with thousands of neighbors — the
    boilerplate-page shape of real near-dup graphs) must be routed down the
    skew path (broadcast-agg minima; the hub's edge list never shuffles on
    u) and produce labels IDENTICAL to the window path. hub_min_rows is
    lowered so detection triggers at test scale; the same graph also runs
    with detection disabled as the ground-truth twin."""
    from yanwenxian_week3_data_pipeline_spark.operators.components import (
        star_contraction,
    )

    hub = 999_999
    edges = [(hub, i) for i in range(1, 2001)]  # hub degree 2000
    edges += [(10_000 + i, 10_001 + i) for i in range(50)]  # background chain
    df = spark.createDataFrame(edges, "src long, dst long")
    skewed, r1 = star_contraction(df, "src", "dst", hub_min_rows=64)
    plain, r2 = star_contraction(df, "src", "dst", hub_min_rows=10**12)
    got_s = {r.node: r.comp for r in skewed.collect()}
    got_p = {r.node: r.comp for r in plain.collect()}
    assert got_s == got_p
    assert got_s[hub] == 1 and got_s[2000] == 1
    assert got_s[10_050] == 10_000


def test_star_contraction_strict_raises_on_round_cap(spark):
    """Unconverged labels must never be silently consumed by dedup: the
    default strict mode raises when max_iter is exhausted; strict=False
    restores the log-and-return escape hatch."""
    import random

    from yanwenxian_week3_data_pipeline_spark.operators.components import (
        star_contraction,
    )

    rng = random.Random(3)
    ids = list(range(400))
    rng.shuffle(ids)
    chain = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="no fixpoint"):
        star_contraction(chain, "src", "dst", max_iter=1)
    labels, rounds = star_contraction(chain, "src", "dst", max_iter=1, strict=False)
    assert rounds == 1 and labels.count() == 400


def _brute_lrs(token_lists):
    """Reference longest repeated token-substring: max L with some L-span at
    >=2 distinct (doc, pos); returns (L, lexicographically smallest text)."""
    from collections import Counter

    best = (0, "")
    max_len = max((len(t) for t in token_lists), default=0)
    for L in range(1, max_len + 1):
        spans = Counter(
            " ".join(t[i : i + L])
            for t in token_lists
            for i in range(len(t) - L + 1)
        )
        rep = sorted(s for s, c in spans.items() if c >= 2)
        if not rep:
            break
        best = (L, rep[0])
    return best


def test_lrs_planted_repeat(spark):
    """A planted 6-token span shared by two docs (all other tokens unique)
    must be found exactly by BOTH formulations, with matching tie-break."""
    from yanwenxian_week3_data_pipeline_spark.operators.substrings import (
        longest_repeated_substring,
        lrs_capped_sorted,
    )

    planted = "zeta yank whisk vict unif tango"
    rows = [
        (0, f"a0 b0 c0 {planted} d0 e0"),
        (1, f"a1 b1 {planted} c1 d1 e1 f1"),
        (2, "g0 g1 g2 g3 g4 g5 g6 g7"),
    ]
    t = spark.createDataFrame(rows, "doc_id long, text string").select(
        F.split("text", " ").alias("toks")
    )
    got_u = longest_repeated_substring(t).collect()[0]
    assert (got_u["lrs_len"], got_u["lrs_text"], got_u["n_occurrences"]) == (
        6, planted, 2,
    )
    got_c = lrs_capped_sorted(t).collect()[0]
    assert (got_c["lrs_len"], got_c["lrs_text"]) == (6, planted)


def test_lrs_matches_brute_force_random(spark):
    """Seeded random corpora (tiny vocab -> dense accidental repeats):
    uncapped == brute force, capped == min(uncapped, cap) with the same
    winner text whenever the answer is under the cap."""
    import random

    from yanwenxian_week3_data_pipeline_spark.operators.substrings import (
        LRS_CAP,
        longest_repeated_substring,
        lrs_capped_sorted,
    )

    rng = random.Random(11)
    vocab = ["a", "b", "c", "d"]
    for trial in range(3):
        token_lists = [
            [vocab[rng.randrange(len(vocab))] for _ in range(rng.randint(5, 40))]
            for _ in range(6)
        ]
        want_len, want_text = _brute_lrs(token_lists)
        t = spark.createDataFrame(
            [(" ".join(toks),) for toks in token_lists], "text string"
        ).select(F.split("text", " ").alias("toks"))
        got = longest_repeated_substring(t).collect()[0]
        assert (got["lrs_len"], got["lrs_text"]) == (want_len, want_text), trial
        got_c = lrs_capped_sorted(t).collect()[0]
        if want_len <= LRS_CAP:
            assert (got_c["lrs_len"], got_c["lrs_text"]) == (want_len, want_text)
        else:
            assert got_c["lrs_len"] == LRS_CAP


def test_lrs_cap_and_empty_semantics(spark):
    """True repeat longer than the cap: capped reports exactly LRS_CAP,
    uncapped the true length. Corpus with no repeated token at all: empty
    result from the uncapped form."""
    from yanwenxian_week3_data_pipeline_spark.operators.substrings import (
        LRS_CAP,
        longest_repeated_substring,
        lrs_capped_sorted,
    )

    long_doc = " ".join(f"w{i}" for i in range(50))
    t = spark.createDataFrame([(long_doc,), (long_doc,)], "text string").select(
        F.split("text", " ").alias("toks")
    )
    assert lrs_capped_sorted(t).collect()[0]["lrs_len"] == LRS_CAP
    u = longest_repeated_substring(t).collect()[0]
    assert (u["lrs_len"], u["n_occurrences"]) == (50, 2)

    uniq = spark.createDataFrame([("q0 q1 q2",), ("q3 q4 q5",)], "text string").select(
        F.split("text", " ").alias("toks")
    )
    assert longest_repeated_substring(uniq).collect() == []


def test_lrs_boundary_pair_across_prefix_blocks(spark):
    """The r7 two-level shape's LEVEL-2 path, targeted: the max-LCP pair
    here shares only the 2-char token 'ab', so the two witnessing suffixes
    ('ab xx…' / 'ab yy…') land in DIFFERENT 8-char-prefix blocks and the
    repeat is invisible to within-block adjacency — it must be recovered
    by the block-boundary (max of block i, min of block i+1) window. All
    other tokens are unique, so a wrong or missing boundary pass returns
    an empty result, not a smaller answer."""
    from yanwenxian_week3_data_pipeline_spark.operators.substrings import (
        lrs_capped_sorted,
    )

    rows = [
        ("ab xx1 u1 u2 u3",),
        ("ab yy1 v1 v2 v3",),
        ("w1 w2 w3 w4 w5",),
    ]
    t = spark.createDataFrame(rows, "text string").select(
        F.split("text", " ").alias("toks")
    )
    got = lrs_capped_sorted(t).collect()
    assert [(r["lrs_len"], r["lrs_text"]) for r in got] == [(1, "ab")]


def test_partitioned_parquet_roundtrip_prunes(spark, sf_dir, tmp_path):
    from yanwenxian_week3_data_pipeline_spark.sinks.columnar import (
        read_partitioned_parquet,
        write_partitioned_parquet,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "docs_by_lang")
    write_partitioned_parquet(
        docs, out, partition_by=["lang"], sort_within_partitions=["doc_id"]
    )
    back = read_partitioned_parquet(spark, out)
    assert back.count() == docs.count()
    langs = [r.lang for r in docs.select("lang").distinct().collect()]
    one = back.where(F.col("lang") == langs[0])
    assert one.count() == docs.where(F.col("lang") == langs[0]).count()
    # partition pruning: the filter must land in the scan's
    # PartitionFilters (directory-level skip), not a post-scan Filter
    import contextlib
    import io
    import re

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        one.explain(mode="formatted")
    plan = buf.getvalue()
    assert re.search(rf"PartitionFilters:.*= {langs[0]}\)", plan), plan


def test_csv_roundtrip_schema_on_read(spark, sf_dir, tmp_path):
    from yanwenxian_week3_data_pipeline_spark.sinks.columnar import read_csv, write_csv

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    out = str(tmp_path / "nation_csv")
    write_csv(nation, out)
    back = read_csv(spark, out, "n_nationkey int, n_name string, n_regionkey int")
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in nation.collect()
    )


def test_dedup_incremental_batch_vs_corpus(spark):
    """Batch docs (id % 10 == 0) are matched only against corpus docs:
    id 0 (exact dup of corpus id 4) resolves to dup_of=4; id 30 (unrelated)
    is unique; batch-internal duplicates do NOT pair with each other."""
    from yanwenxian_week3_data_pipeline_spark.operators.dedup import dedup_incremental

    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
        "mike november oscar papa quebec romeo sierra tango uniform victor whiskey"
    )
    unrelated = (
        "completely different content about spark catalyst optimizer and parquet "
        "columnar files with adaptive execution and shuffle partition coalescing"
    )
    rows = [
        (0, base),        # batch: dup of corpus 4
        (4, base),        # corpus
        (10, unrelated),  # batch: dup of batch 20 ONLY -> must stay unique
        (20, unrelated),  # batch
        (30, "short no shingles"),  # batch: too short for 5-shingles -> unique
        (7, "some corpus only text that matches nothing else in this tiny fixture here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in dedup_incremental(
            df, "text", "doc_id", batch_pred=lambda i: i % 10 == 0, threshold=0.5
        ).collect()
    }
    assert set(out) == {0, 10, 20, 30}          # one row per batch doc
    assert out[0].dup_of == 4 and out[0].jaccard == 1.0 and not out[0].is_unique
    assert out[10].is_unique and out[10].dup_of is None   # batch-batch ignored
    assert out[20].is_unique
    assert out[30].is_unique                     # shingle-less doc is unique


def test_pii_scrub_patterns(spark):
    from yanwenxian_week3_data_pipeline_spark.functions.textstats import (
        pii_counts_expr,
        pii_scrub_expr,
    )

    rows = [
        (1, "reach me at jane.doe+spam@sub.example.co.uk or call +1 555-010-9999"),
        (2, "server at 192.168.000.1 and 10.0.42.1 serve mail for bob@x.io"),
        (3, "no pii here at all"),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    res = {
        r.id: r
        for r in df.select(
            "id",
            *[v.alias(k) for k, v in pii_counts_expr(F.col("t")).items()],
            pii_scrub_expr(F.col("t")).alias("scrubbed"),
        ).collect()
    }
    assert res[1].n_email == 1 and res[1].n_phone == 1
    assert "<EMAIL>" in res[1].scrubbed and "<PHONE>" in res[1].scrubbed
    assert "jane" not in res[1].scrubbed
    assert res[2].n_ipv4 == 2 and res[2].n_email == 1
    assert res[3].scrubbed == "no pii here at all"


def test_multimodal_frame_sample_exact_expansion(spark, sf_dir):
    """frame_sample must emit exactly ceil(n_frames/stride) rows per media
    item, with the deterministic per-frame crc recomputable locally."""
    from yanwenxian_week3_data_pipeline_spark.operators.multimodal import (
        _fake_decode,
        documents_as_media,
        frame_sample,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = documents_as_media(docs)
    stride = 7
    got = frame_sample(media, stride=stride).collect()
    by_media = {}
    for r in got:
        by_media.setdefault(r.media_id, []).append(r)
    local = {
        r["media_id"]: _fake_decode(r["media_type"], r["payload"])
        for r in (m.asDict() for m in media.collect())
    }
    assert set(by_media) == set(local)
    for mid, (_w, _h, n_frames, crc) in local.items():
        frames = sorted(by_media[mid], key=lambda r: r.frame_idx)
        assert len(frames) == -(-n_frames // stride)
        assert [f.frame_idx for f in frames] == list(range(0, n_frames, stride))
        for f in frames:
            assert f.frame_crc == (crc + f.frame_idx * 2654435761) % (1 << 31)
    # images always contribute exactly one frame
    assert all(len(by_media[r.media_id]) == 1 for r in got if r.media_type == "image")


def test_multimodal_resize_plumbing(spark, sf_dir):
    """resize_media: binary-in/binary-out through Arrow batches; resized
    payload length matches the deterministic pixel-fraction recipe."""
    from yanwenxian_week3_data_pipeline_spark.operators.multimodal import (
        _fake_decode,
        documents_as_media,
        resize_media,
    )

    media = documents_as_media(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    got = {r.media_id: r for r in resize_media(media, 224, 224).collect()}
    src = {r["media_id"]: r for r in (m.asDict() for m in media.collect())}
    assert set(got) == set(src)
    for mid, r in got.items():
        payload = src[mid]["payload"]
        w, h, _f, _c = _fake_decode(src[mid]["media_type"], payload)
        assert (r.width, r.height) == (w, h)
        frac = min(1.0, (224 * 224) / max(w * h, 1))
        assert r.byte_len == max(1, int(len(payload) * frac))
        assert bytes(r.payload) == bytes(payload)[: r.byte_len]


def test_write_training_shards_sized_and_deterministic(spark, sf_dir, tmp_path):
    from yanwenxian_week3_data_pipeline_spark.sinks.columnar import write_training_shards

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    out1 = str(tmp_path / "s1")
    n_files = write_training_shards(docs, out1, records_per_shard=100, shuffle_seed=7)
    assert n_files >= n // 100
    back = spark.read.parquet(out1)
    assert back.count() == n
    # per-shard sizes respect the cap
    import glob
    import pyarrow.parquet as pq
    sizes = sorted(pq.ParquetFile(f).metadata.num_rows for f in glob.glob(f"{out1}/*.parquet"))
    assert max(sizes) <= 100
    # seeded shuffle is reproducible: same seed -> the SAME rows land in the
    # same shard position (compare per-file id sequences in part order —
    # a set-level compare would pass for any ordering)
    out2 = str(tmp_path / "s2")
    write_training_shards(docs, out2, records_per_shard=100, shuffle_seed=7)

    def shards(d):
        import pyarrow.parquet as pq
        files = sorted(glob.glob(f"{d}/part-*.parquet"))
        return [pq.read_table(f, columns=["doc_id"]).column(0).to_pylist() for f in files]

    assert shards(out1) == shards(out2)


def test_sql_surface_over_temp_views(spark, sf_dir):
    """register_views exposes every driver table as a temp view; a Spark-SQL
    query over the views matches the DataFrame-API result."""
    from yanwenxian_week3_data_pipeline_spark.sources.tables import TABLES, register_views

    register_views(spark, sf_dir)
    for t in TABLES:
        assert spark.catalog.tableExists(t)
    sql_rows = spark.sql(
        "SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY 1 ORDER BY 1"
    ).collect()
    df_rows = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy("o_orderpriority").count().withColumnRenamed("count", "n")
        .orderBy("o_orderpriority").collect()
    )
    assert [tuple(r) for r in sql_rows] == [tuple(r) for r in df_rows]


def test_asof_join_carries_whole_rows_not_stitched_fields(spark):
    """A right row with a NULL payload field must not inherit that field
    from an older right row, and null-ordinal rows must not match."""
    from yanwenxian_week3_data_pipeline_spark.operators.asof import (
        asof_join,
        asof_join_nearest,
    )

    left = spark.createDataFrame(
        [(1, 10.0, "p1"), (1, None, "p_null")], "k int, ts double, pid string"
    )
    right = spark.createDataFrame(
        [(1, 5.0, "v7"), (1, 9.0, None), (1, None, "v_null_ts")],
        "k int, ts double, vid string",
    )
    back = {r.pid: (r.r_ts, r.r_vid) for r in asof_join(left, right, on="ts", by="k").collect()}
    # nearest backward right row is ts=9.0 whose vid IS null — must stay null
    assert back["p1"] == (9.0, None)
    # null-ordinal left row: no match
    assert back["p_null"] == (None, None)

    near = {r.pid: (r.r_ts, r.r_vid) for r in asof_join_nearest(left, right, on="ts", by="k").collect()}
    assert near["p1"] == (9.0, None)
    assert near["p_null"] == (None, None)


def test_cli_query_modes(spark, sf_dir, capsys):
    from yanwenxian_week3_data_pipeline_spark.__main__ import main

    assert main(["--list-queries"]) == 0
    listed = capsys.readouterr().out
    assert "q1_pricing_summary\toracle" in listed
    assert "mm_resize\trows-only" in listed

    assert main(["--query", "q6_forecast_revenue", "--sf-dir", sf_dir], spark=spark) == 0
    out = capsys.readouterr().out
    assert "revenue" in out and "n_rows" in out

    assert main(["--query", "nope_not_real"], spark=spark) == 2


def test_operator_error_paths(spark, sf_dir):
    import pytest as _pt

    from yanwenxian_week3_data_pipeline_spark.operators.multimodal import (
        documents_as_media,
        frame_sample,
    )
    from yanwenxian_week3_data_pipeline_spark.sources.tables import load_table

    with _pt.raises(KeyError):
        load_table(spark, sf_dir, "not_a_table")
    media = documents_as_media(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    with _pt.raises(ValueError):
        frame_sample(media, stride=0)


def test_zorder_layout_bounds_both_columns(spark, sf_dir, tmp_path):
    """Z-ordered files must carry tighter per-file min/max spans on the
    SECOND column than a single-column sort (where the second column's
    span per file is ~the full domain), while preserving every row —
    the property parquet row-group pruning actually exploits."""
    import glob

    import pyarrow.parquet as pq

    from yanwenxian_week3_data_pipeline_spark.sinks.columnar import write_zordered_parquet

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    zdir, sdir = str(tmp_path / "z"), str(tmp_path / "s")
    write_zordered_parquet(li, zdir, "l_partkey", "l_suppkey", n_files=8)
    # baseline: classic single-column sort layout
    (
        li.repartitionByRange(8, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite").parquet(sdir)
    )

    def spans(d, col):
        total = 0.0
        files = glob.glob(f"{d}/part-*.parquet")
        for f in files:
            md = pq.ParquetFile(f).metadata
            lo = min(md.row_group(i).column(
                [c.name for c in pq.read_schema(f)].index(col)).statistics.min
                for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(
                [c.name for c in pq.read_schema(f)].index(col)).statistics.max
                for i in range(md.num_row_groups))
            total += hi - lo
        return total / max(len(files), 1)

    # fidelity
    assert sorted(r.l_orderkey for r in spark.read.parquet(zdir).collect()) == sorted(
        r.l_orderkey for r in li.collect()
    )
    # suppkey spans: z-order must beat the partkey-sorted baseline clearly
    assert spans(zdir, "l_suppkey") < 0.8 * spans(sdir, "l_suppkey")
    # and partkey spans must stay far below the full domain (locality kept)
    full_span = li.agg(F.max("l_partkey") - F.min("l_partkey")).collect()[0][0]
    assert spans(zdir, "l_partkey") < 0.8 * full_span


def test_vector_helpers_edge_cases(spark):
    """dot/norm/cosine on hand-computable vectors, including the
    zero-vector guard (cosine must be null/0-safe, never NaN/error)."""
    import math

    from yanwenxian_week3_data_pipeline_spark.functions.vectors import (
        cosine_expr,
        dot_expr,
        hyperplane_matrix,
        norm_expr,
    )

    df = spark.createDataFrame(
        [
            (1, [3.0, 4.0], [3.0, 4.0]),
            (2, [1.0, 0.0], [0.0, 1.0]),
            (3, [1.0, 2.0], [2.0, 4.0]),
        ],
        "id int, a array<float>, b array<float>",
    )
    rows = {
        r.id: r
        for r in df.select(
            "id",
            dot_expr(F.col("a"), F.col("b")).alias("d"),
            norm_expr(F.col("a")).alias("n"),
            cosine_expr(F.col("a"), F.col("b")).alias("c"),
        ).collect()
    }
    assert rows[1].d == 25.0 and abs(rows[1].n - 5.0) < 1e-9 and abs(rows[1].c - 1.0) < 1e-9
    assert rows[2].d == 0.0 and abs(rows[2].c) < 1e-9
    assert abs(rows[3].c - 1.0) < 1e-9  # parallel vectors
    assert not math.isnan(rows[2].c)

    # hyperplane matrix: deterministic for a seed, ±1 entries, right shape
    m1 = hyperplane_matrix(8, 16, 7)
    m2 = hyperplane_matrix(8, 16, 7)
    m3 = hyperplane_matrix(8, 16, 8)
    assert m1 == m2 and m1 != m3
    assert len(m1) == 8 and all(len(p) == 16 for p in m1)
    assert all(v in (-1, 1) for p in m1 for v in p)


def test_date_parse_edge_cases(spark):
    """parse_iso_date_expr: every fixture format parses, impossible dates
    and none/null/nan literals are null, and 15/03/2025 resolves day-first
    (month 15 is impossible) — SURVEY.md §2.3 fn_parse_iso_date."""
    from yanwenxian_week3_data_pipeline_spark.functions.dates import parse_iso_date_expr

    cases = [
        ("2025-01-15T10:30:00Z", "2025-01-15T10:30:00Z"),
        ("Jan 15, 2025", "2025-01-15T00:00:00Z"),
        ("July 1st, 2025", "2025-07-01T00:00:00Z"),
        ("15/03/2025", "2025-03-15T00:00:00Z"),
        ("2025-13-99", None),
        ("none", None),
        ("NULL", None),
        ("nan", None),
        (None, None),
        ("", None),
    ]
    df = spark.createDataFrame([(i, s) for i, (s, _) in enumerate(cases)], "i int, s string")
    got = {r.i: r.d for r in df.select("i", parse_iso_date_expr(F.col("s")).alias("d")).collect()}
    for i, (s, want) in enumerate(cases):
        assert got[i] == want, (s, got[i], want)


def test_asof_nearest_integral_ordinals_above_2p53(spark):
    """Epoch-nano-scale bigint ordinals: |delta| must be computed in exact
    long math. Under double math both candidates collapse to the same
    rounded value and the farther (backward) row can win (ADVICE r1)."""
    from yanwenxian_week3_data_pipeline_spark.operators.asof import asof_join_nearest

    base = 1 << 60
    left = spark.createDataFrame([(1, base, "L")], "k long, ts long, l_tag string")
    right = spark.createDataFrame(
        [(1, base - 3, "far_back"), (1, base + 1, "near_fwd")],
        "k long, ts long, r_tag string",
    )
    (row,) = asof_join_nearest(left, right, on="ts", by="k").collect()
    assert row.r_r_tag == "near_fwd"
    # and exact backward ties still prefer backward
    right2 = spark.createDataFrame(
        [(1, base - 2, "back"), (1, base + 2, "fwd")],
        "k long, ts long, r_tag string",
    )
    (row2,) = asof_join_nearest(left, right2, on="ts", by="k").collect()
    assert row2.r_r_tag == "back"


def test_auto_skew_join_decision_and_equality(spark):
    """Guarded skew path: hot-key frames take the salted branch, uniform
    frames the plain branch; both produce the plain join's exact result."""
    from pyspark.sql import functions as F

    from yanwenxian_week3_data_pipeline_spark.operators.salt import (
        auto_skew_join,
        estimate_top_key_share,
    )

    n = 20_000
    base = spark.range(n)
    skewed = base.select(
        F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(F.col("id")).alias("k"),
        (F.col("id") % 100).alias("v"),
    )
    uniform = base.select(F.col("id").alias("k"), (F.col("id") % 100).alias("v"))
    dim = spark.range(n).select(F.col("id").alias("k"), (F.col("id") % 7).alias("grp"))

    # sampled share: ~0.5 for the folded frame, ~1/sample-size for uniform
    assert estimate_top_key_share(skewed, "k", sample_fraction=0.05) > 0.3
    assert estimate_top_key_share(uniform, "k", sample_fraction=0.05) < 0.01

    for fact in (skewed, uniform):
        expect = sorted(
            fact.join(dim, "k").groupBy("grp").agg(F.count("*").alias("n")).collect()
        )
        got = sorted(
            auto_skew_join(fact, dim, on="k", salt_buckets=4)
            .groupBy("grp")
            .agg(F.count("*").alias("n"))
            .collect()
        )
        assert got == expect

    # branch choice is visible in the physical plan: only the salted branch
    # replicates the dim side (explode of the salt-bucket array)
    salted_plan = auto_skew_join(skewed, dim, on="k")._jdf.queryExecution().toString()
    plain_plan = auto_skew_join(uniform, dim, on="k")._jdf.queryExecution().toString()
    assert "explode" in salted_plan.lower()
    assert "explode" not in plain_plan.lower()


def test_repeated_spans_hand_corpus(spark):
    """Substring-level dedup signal: only the docs sharing an 8-token span
    are marked, and the marked fraction counts span occurrences."""
    from pyspark.sql import functions as F

    from yanwenxian_week3_data_pipeline_spark.functions.textstats import tokens_expr
    from yanwenxian_week3_data_pipeline_spark.plans.llm_ops import _word_grams

    shared = "one two three four five six seven eight"  # exactly 8 tokens
    rows = [
        (1, f"{shared} tail a"),       # 3 spans, first is the shared one
        (2, f"head {shared}"),         # 2 spans, last is the shared one
        (3, "totally different words with no overlap at all here now"),  # 10 tokens
    ]
    d = spark.createDataFrame(rows, "doc_id long, c string")
    spans = d.select(
        "doc_id", F.explode(_word_grams(tokens_expr(F.col("c")), 8, as_hash=True)).alias("gh")
    )
    cross = (
        spans.groupBy("gh").agg(F.countDistinct("doc_id").alias("nd")).where("nd >= 2")
    )
    per_doc = (
        spans.join(cross, "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("nd").isNotNull(), 1).otherwise(0)).alias("n_rep"),
        )
    )
    got = {r.doc_id: (r.n_spans, r.n_rep) for r in per_doc.collect()}
    assert got == {1: (3, 1), 2: (2, 1), 3: (3, 0)}


def test_orc_roundtrip_full_fidelity(spark, sf_dir, tmp_path):
    """ORC round-trips the documents table with schema and values intact
    (the columnar interchange path next to parquet)."""
    from yanwenxian_week3_data_pipeline_spark.sinks.columnar import read_orc, write_orc

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = str(tmp_path / "docs_orc")
    write_orc(docs, p)
    back = read_orc(spark, p)
    assert back.schema == docs.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, docs.collect()))


def test_csv_roundtrip_schema_on_read(spark, sf_dir, tmp_path):
    """CSV round-trips the documents table under an explicit read schema
    (no inference pass); quoting protects embedded delimiters."""
    from yanwenxian_week3_data_pipeline_spark.sinks.columnar import read_csv, write_csv

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = str(tmp_path / "docs_csv")
    write_csv(docs, p)
    back = read_csv(
        spark, p, "doc_id bigint, text string, lang string, source string, n_chars int"
    ).select(*docs.columns)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, docs.collect()))


def test_schema_evolution_merge_and_union_by_name(spark, tmp_path):
    """Additive schema evolution: a v2 batch gains a column. mergeSchema
    must widen the read schema with nulls for v1 files, and
    unionByName(allowMissingColumns) must do the same in memory — while a
    positional union of the two schemas is rejected outright."""
    import pytest as _pytest

    from yanwenxian_week3_data_pipeline_spark.sinks.columnar import (
        read_evolved_parquet,
        union_by_name,
    )

    v1 = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, payload string"
    )
    v2 = spark.createDataFrame(
        [(3, "c", "en"), (4, "d", "de")], "id long, payload string, lang string"
    )
    p = str(tmp_path / "evolved")
    v1.write.parquet(f"{p}/batch=1")
    v2.write.parquet(f"{p}/batch=2")

    merged = read_evolved_parquet(spark, p)
    assert set(merged.columns) == {"id", "payload", "lang", "batch"}
    rows = {r.id: (r.payload, r.lang) for r in merged.collect()}
    assert rows[1] == ("a", None) and rows[3] == ("c", "en")

    # plain (non-merged) read keeps only the first-footer schema
    plain = spark.read.parquet(p)
    assert "lang" not in plain.columns or set(plain.columns) >= {"id", "payload"}

    unioned = union_by_name([v1, v2])
    assert set(unioned.columns) == {"id", "payload", "lang"}
    urows = {r.id: r.lang for r in unioned.collect()}
    assert urows == {1: None, 2: None, 3: "en", 4: "de"}

    with _pytest.raises(Exception):
        v1.union(v2).collect()  # positional union across versions must fail


def test_rebalance_write_splits_hot_partition(spark, tmp_path):
    """REBALANCE-hinted partitioned write: under a small advisory size the
    hot partition value (98% of rows) must split into multiple
    advisory-sized files while the rare value stays at one — and the
    round-trip must be lossless. The plain repartition write of the same
    data gives exactly one (monster) file for the hot value: the
    skew-exposed baseline the hint fixes. Multi-partition input matters:
    skew split works at map-output-block granularity, so a single upstream
    task would leave nothing to split."""
    import glob

    from yanwenxian_week3_data_pipeline_spark.sinks.columnar import (
        read_partitioned_parquet,
        write_partitioned_parquet,
    )

    ev = spark.range(0, 20000, 1, 8).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") % 50 < 49, "hot").otherwise("rare").alias("event_type"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    original = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "64kb")
        p_reb = str(tmp_path / "rebalanced")
        write_partitioned_parquet(ev, p_reb, ["event_type"], rebalance=True)
    finally:
        if original is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, original)

    hot_files = glob.glob(f"{p_reb}/event_type=hot/*.parquet")
    rare_files = glob.glob(f"{p_reb}/event_type=rare/*.parquet")
    assert len(hot_files) > 1, hot_files
    assert len(rare_files) == 1, rare_files

    p_plain = str(tmp_path / "plain")
    write_partitioned_parquet(ev, p_plain, ["event_type"])
    assert len(glob.glob(f"{p_plain}/event_type=hot/*.parquet")) == 1

    back = read_partitioned_parquet(spark, p_reb)
    assert back.count() == 20000
    assert back.select(F.sum("event_id")).first()[0] == sum(range(20000))


# ---------------------------------------------------------------------------
# semantic_dedup (SemDeDup)
# ---------------------------------------------------------------------------

def _semdedup_brute(ids, X, cells, eps):
    """Numpy reference for the SemDeDup triangular rule: within each cell,
    order by (round(cos-to-centroid, 6), id); drop i iff any EARLIER j
    (dropped or not) has round(cos(i, j), 6) >= eps. Centroid cosine is
    supplied by the caller via the ordering key in `cells`."""
    import numpy as np

    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    survivors = set()
    for cell in sorted(set(c for c, _ in cells.values())):
        members = sorted(
            [i for i in range(len(ids)) if cells[ids[i]][0] == cell],
            key=lambda i: (cells[ids[i]][1], ids[i]),
        )
        for pos, i in enumerate(members):
            shadowed = any(
                round(float(Xn[i] @ Xn[j]), 6) >= eps for j in members[:pos]
            )
            if not shadowed:
                survivors.add(ids[i])
    return survivors


def test_semantic_dedup_matches_brute_force(spark):
    """Property test on a seeded random mixture-of-Gaussians: the operator's
    survivor set equals the numpy reference applying the same assignment,
    ordering, and triangular drop rule."""
    import numpy as np

    from yanwenxian_week3_data_pipeline_spark.operators.similarity import semantic_dedup

    rng = np.random.RandomState(7)
    dim, n_cells, per = 16, 4, 40
    centers = rng.normal(size=(n_cells, dim)) * 3
    X = np.vstack([centers[c] + rng.normal(size=(per, dim)) * 0.45 for c in range(n_cells)])
    ids = list(range(len(X)))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in ids],
        "vec_id long, embedding array<float>",
    )
    cents = spark.createDataFrame(
        [(c, [float(x) for x in centers[c]]) for c in range(n_cells)],
        "cell int, cell_vec array<float>",
    )
    eps = 0.92
    got = semantic_dedup(emb, eps, centroids=cents).collect()

    # replicate assignment + ordering keys with float32-cast inputs (the
    # DataFrame stores array<float>), then run the reference rule
    Xf = X.astype(np.float32).astype(np.float64)
    Cf = centers.astype(np.float32).astype(np.float64)
    Cn = Cf / np.linalg.norm(Cf, axis=1, keepdims=True)
    Xn = Xf / np.linalg.norm(Xf, axis=1, keepdims=True)
    sims = Xn @ Cn.T
    cells = {}
    for i in ids:
        c = int(np.argmax(sims[i]))  # unique max on this fixture
        cells[i] = (c, round(float(sims[i][c]), 6))
    want = _semdedup_brute(ids, Xf, cells, eps)

    assert {r["vec_id"] for r in got} == want
    # every cell keeps at least one member and drops at least one (eps was
    # chosen so the duplicate graph is nontrivial on this fixture)
    kept_per_cell = {c: 0 for c in range(n_cells)}
    for r in got:
        kept_per_cell[r["cell"]] += 1
    assert all(v >= 1 for v in kept_per_cell.values())
    assert sum(kept_per_cell.values()) < len(ids)


def test_semantic_dedup_max_cell_rows_guard(spark):
    """Cells above the cap skip the quadratic pair stage: all members
    survive (the DEDUP_MAX_BUCKET recall-trade semantics), smaller cells
    still dedup."""
    import numpy as np

    from yanwenxian_week3_data_pipeline_spark.operators.similarity import semantic_dedup

    rng = np.random.RandomState(11)
    dim = 8
    c0, c1 = rng.normal(size=dim) * 4, -rng.normal(size=dim) * 4
    rows, cid = [], 0
    for _ in range(10):  # big cell: 10 near-identical members
        rows.append((cid, [float(x) for x in c0 + rng.normal(size=dim) * 0.01])); cid += 1
    for _ in range(3):  # small cell: 3 near-identical members
        rows.append((cid, [float(x) for x in c1 + rng.normal(size=dim) * 0.01])); cid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = spark.createDataFrame(
        [(0, [float(x) for x in c0]), (1, [float(x) for x in c1])],
        "cell int, cell_vec array<float>",
    )
    out = semantic_dedup(emb, 0.99, centroids=cents, max_cell_rows=5).collect()
    by_cell = {0: 0, 1: 0}
    for r in out:
        by_cell[r["cell"]] += 1
    assert by_cell[0] == 10  # capped cell: untouched
    assert by_cell[1] == 1  # small cell: deduped to one survivor


def test_semantic_dedup_trained_recovers_planted_assignment(spark, sf_dir):
    """On the planted-cluster fixture the seeded k-means path must recover
    the planted partition exactly (up to cell relabeling) — the premise of
    registering dedup_semantic (trained, rows-only) next to
    dedup_semantic_checked (planted centroids, oracled)."""
    from yanwenxian_week3_data_pipeline_spark.plans.llm_ops import (
        _CLUSTER_CELLS,
        _planted_centroids,
        _semdedup_input,
        _SEMDEDUP_EPS,
    )
    from yanwenxian_week3_data_pipeline_spark.operators.similarity import semantic_dedup

    inp = _semdedup_input(spark, sf_dir).localCheckpoint(eager=True)
    # eps > 1 disables the drop stage, so survivors = ALL vectors with
    # their cell labels — i.e. the raw assignment under each centroid set
    planted = {
        r["vec_id"]: r["cell"]
        for r in semantic_dedup(inp, 1.01, centroids=_planted_centroids(spark)).collect()
    }
    trained = {
        r["vec_id"]: r["cell"]
        for r in semantic_dedup(inp, 1.01, n_cells=_CLUSTER_CELLS, seed=42).collect()
    }
    assert set(planted) == set(trained)
    mapping = {}
    for vid in planted:
        mapping.setdefault(trained[vid], set()).add(planted[vid])
    # exact partition recovery: the relabeling is a bijection
    assert len(mapping) == _CLUSTER_CELLS
    assert all(len(v) == 1 for v in mapping.values())

    # with the real eps both paths produce a nontrivial, same-order-of-
    # magnitude dedup (survivor SETS may differ: ordering is cosine-to-
    # centroid and the trained centroids are not the planted literals)
    n_checked = semantic_dedup(
        inp, _SEMDEDUP_EPS, centroids=_planted_centroids(spark)
    ).count()
    n_trained = semantic_dedup(
        inp, _SEMDEDUP_EPS, n_cells=_CLUSTER_CELLS, seed=42
    ).count()
    assert 0 < n_checked < len(planted)
    assert 0 < n_trained < len(planted)
    assert abs(n_checked - n_trained) <= 0.5 * max(n_checked, n_trained)
