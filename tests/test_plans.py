"""Physical-plan shape assertions — the scale properties the engine claims
(broadcast dimension joins, filter pushdown, column pruning, no
nested-loop/cartesian fallbacks, single-Expand grouping sets, join-free
as-of) are verified here against ``explain`` output, so a regression that
silently degrades the 100 TB plan fails CI even though results stay
correct."""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from yanwenxian_week3_data_pipeline_spark.plans import all_queries

SPECS = all_queries()


def plan_of(spark, name: str, sf_dir: str, mode: str = "formatted") -> str:
    df = SPECS[name].build(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def node_count(plan: str, node: str) -> int:
    """Count physical nodes via their detail headers ('(3) Scan parquet') —
    formatted mode prints every node twice (tree + details)."""
    return len(re.findall(rf"^\(\d+\) {node}", plan, flags=re.M))


def plan_at_scale(spark, name: str, sf_dir: str) -> str:
    """``plan_of`` with every test-table scan already multi-split, the
    layout of real-scale storage. maxPartitionBytes is shrunk so the
    smallest table estimates defaultParallelism splits, so the scan
    fan-out (sources/tables.py read_parquet_fanout) does not fire and
    the exchanges left are the plan's own. For plans that build without
    running a job: a real scan at this split size would be thousands of
    tasks."""
    import glob
    import os

    smallest = min(os.path.getsize(p) for p in glob.glob(f"{sf_dir}/*.parquet"))
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    par = spark.sparkContext.defaultParallelism
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(max(1, smallest // par)))
        return plan_of(spark, name, sf_dir)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    plan = plan_of(spark, "join_region_revenue", sf_dir)
    # dims broadcast (r9 A/B: broadcast-dim beats shuffled-dim at sf0.1 AND
    # sf1); the fact-fact (lineitem-orders) side is PINNED to a shuffle
    # merge join — the r8 A/B showed the r7 broadcast pin was the SLOW
    # mode at both sf0.1 and sf1 (see _q_region_revenue's comment)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_star_join_dim_broadcast_degrades_past_size_gate(spark, sf_dir, monkeypatch):
    # at 100 TB the customer table is fact-sized: the dim-side broadcast
    # must degrade to a shuffled merge join by construction (VERDICT r8 #1)
    from yanwenxian_week3_data_pipeline_spark.plans import relational

    baseline = plan_of(spark, "join_region_revenue", sf_dir)
    monkeypatch.setattr(relational, "_local_parquet_bytes", lambda _p: 10**12)
    gated = plan_of(spark, "join_region_revenue", sf_dir)
    # one broadcast (dim-fact) becomes a second merge join; nation/region
    # stay broadcast inside the dim build
    assert node_count(gated, "SortMergeJoin") == node_count(baseline, "SortMergeJoin") + 1
    assert node_count(gated, "BroadcastHashJoin") == node_count(baseline, "BroadcastHashJoin") - 1
    # unknown size (object store) must also degrade to shuffle
    monkeypatch.setattr(relational, "_local_parquet_bytes", lambda _p: None)
    unknown = plan_of(spark, "join_region_revenue", sf_dir)
    assert node_count(unknown, "SortMergeJoin") == node_count(gated, "SortMergeJoin")


# Every query with size-gated SF-scaling broadcast sides (customer /
# supplier / part tables or aggregates cardinality-bounded by one of them) —
# the r10 propagation of the r9 _gated_dim pattern (VERDICT r9 #1). Exact
# node deltas are not pinned here because several plans reference the gated
# subtree twice (q2 shipped, q17 li, q20 li); the invariant that matters for
# the 100 TB shape is directional and total: past the gate EVERY such
# broadcast leaves the plan and the join runs as a shuffled merge join.
GATED_BROADCAST_QUERIES = [
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q10_returned_items",
    "q14_promo_effect",
    "q15_top_supplier",
    "q18_large_volume_orders",
    "q2_min_acctbal_supplier",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q16_supplier_variety",
    "q17_small_quantity_revenue",
    "q19_disjunctive_revenue",
    "q20_heavy_shippers",
    "q21_waiting_suppliers",
    "join_cross_grid_coverage",
    "dq_expectations_orders",
]


@pytest.mark.parametrize("name", GATED_BROADCAST_QUERIES)
def test_sf_scaling_broadcast_degrades_past_size_gate(spark, sf_dir, name, monkeypatch):
    # at 100 TB customer/supplier/part are fact-sized: every broadcast of an
    # SF-scaling side must degrade to a shuffled merge join by construction
    from yanwenxian_week3_data_pipeline_spark.plans import relational

    baseline = plan_of(spark, name, sf_dir)
    monkeypatch.setattr(relational, "_local_parquet_bytes", lambda _p: 10**12)
    gated = plan_of(spark, name, sf_dir)
    # gated sides leave the broadcast set and reappear as merge joins
    assert node_count(gated, "BroadcastHashJoin") < node_count(baseline, "BroadcastHashJoin")
    assert node_count(gated, "SortMergeJoin") > node_count(baseline, "SortMergeJoin")
    # degrading must never fall into a nested-loop/cartesian plan (the
    # deliberate tiny-grid cross join in join_cross_grid_coverage excepted)
    if name != "join_cross_grid_coverage":
        assert "CartesianProduct" not in gated
        assert "BroadcastNestedLoopJoin" not in gated
    # unknown size (object store) must degrade identically
    monkeypatch.setattr(relational, "_local_parquet_bytes", lambda _p: None)
    unknown = plan_of(spark, name, sf_dir)
    assert node_count(unknown, "SortMergeJoin") == node_count(gated, "SortMergeJoin")
    assert node_count(unknown, "BroadcastHashJoin") == node_count(gated, "BroadcastHashJoin")


def test_containment_counting_small_sides_degrade_past_size_gate(
    spark, sf_dir, monkeypatch
):
    # r11 counting-identity verify: the per-doc size table and the common-
    # shingle slice are broadcast through _gated_dim (proxy: documents) —
    # past the gate they must degrade to shuffled joins; the 1-row c_tot
    # scalar stays broadcast (sanctioned scalar class, plan-audit ALLOW)
    from yanwenxian_week3_data_pipeline_spark.plans import relational

    baseline = plan_of(spark, "dedup_containment_pairs", sf_dir)
    assert node_count(baseline, "BroadcastHashJoin") >= 3  # na, nb, common semi
    monkeypatch.setattr(relational, "_local_parquet_bytes", lambda _p: 10**12)
    gated = plan_of(spark, "dedup_containment_pairs", sf_dir)
    assert node_count(gated, "BroadcastHashJoin") < node_count(baseline, "BroadcastHashJoin")
    assert node_count(gated, "SortMergeJoin") > node_count(baseline, "SortMergeJoin")
    assert "CartesianProduct" not in gated
    # unknown size (object store) must degrade identically
    monkeypatch.setattr(relational, "_local_parquet_bytes", lambda _p: None)
    unknown = plan_of(spark, "dedup_containment_pairs", sf_dir)
    assert node_count(unknown, "SortMergeJoin") == node_count(gated, "SortMergeJoin")
    assert node_count(unknown, "BroadcastHashJoin") == node_count(gated, "BroadcastHashJoin")


def test_containment_direct_caller_default_is_size_gated(spark, sf_dir):
    # a direct library caller gets no unconditional broadcast of the two
    # SF-scaling small sides: with no hint Spark's own threshold decides,
    # so past it (threshold -1 emulates sides larger than the budget)
    # every such join is shuffled; only the 1-row c_tot scalar broadcasts
    from pyspark.sql import functions as F

    from yanwenxian_week3_data_pipeline_spark.operators.dedup import (
        dedup_containment,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.lower("text").alias("c")
    )

    def plan(**kw):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            dedup_containment(docs, "c", "doc_id", 0.8, 64, **kw).explain(
                mode="formatted"
            )
        return buf.getvalue()

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        gated = plan()
        forced = plan(small_hint=F.broadcast)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert node_count(gated, "BroadcastHashJoin") == 0
    assert node_count(forced, "BroadcastHashJoin") >= 3  # na, nb, common semi
    assert node_count(gated, "SortMergeJoin") > node_count(forced, "SortMergeJoin")
    assert "CartesianProduct" not in gated


def test_q1_pushdown_and_pruning(spark, sf_dir):
    plan = plan_of(spark, "q1_pricing_summary", sf_dir)
    # the shipdate filter must reach the parquet scan…
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # …and unused columns must not be read at all
    assert "l_orderkey" not in plan
    assert "l_partkey" not in plan
    # partial aggregation before the exchange (map-side combine)
    assert node_count(plan, "HashAggregate") >= 2


def test_exists_subquery_decorrelates_to_semi_join(spark, sf_dir):
    plan = plan_of(spark, "subq_exists_big_open_order", sf_dir)
    assert "SemiJoin" in plan or "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_join_stays_equi(spark, sf_dir):
    plan = plan_of(spark, "join_range_views_before_purchase", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_grouping_sets_single_expand_single_scan(spark, sf_dir):
    plan = plan_of(spark, "groupby_grouping_sets", sf_dir)
    assert node_count(plan, "Expand") == 1
    assert node_count(plan, "Scan parquet") == 1


def test_asof_join_is_join_free(spark, sf_dir):
    # union-tag-window formulation: one shuffle + one sort, no join operator
    plan = plan_of(spark, "join_asof_purchase_view", sf_dir)
    assert "Join" not in plan
    assert "Window" in plan


def test_funnel_single_scan(spark, sf_dir):
    # single-pass funnel: one scan of documents feeds all four stage counts
    plan = plan_of(spark, "agg_counts_funnel", sf_dir)
    assert node_count(plan, "Scan parquet") == 1


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Co-located join via bucketing: orders and lineitem written bucketed
    by the join key join WITHOUT an Exchange on either side — the plan shape
    that makes repeated fact-fact joins affordable at 100 TB (shuffle paid
    once at write time, reused by every downstream join)."""
    wh = str(tmp_path / "warehouse")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS buckdb LOCATION '{wh}'")
    # force the shuffle-free merge path (at test scale the dimension side
    # would broadcast, which also avoids the shuffle but hides the bucket
    # co-location this test is about)
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        (orders.write.mode("overwrite").bucketBy(8, "o_orderkey")
         .sortBy("o_orderkey").saveAsTable("buckdb.orders_b"))
        (li.write.mode("overwrite").bucketBy(8, "l_orderkey")
         .sortBy("l_orderkey").saveAsTable("buckdb.lineitem_b"))
        ob = spark.table("buckdb.orders_b")
        lb = spark.table("buckdb.lineitem_b")
        joined = ob.join(lb, ob.o_orderkey == lb.l_orderkey).groupBy("o_orderpriority").count()

        import contextlib, io
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain(mode="formatted")
        plan = buf.getvalue()
        n_exchange = node_count(plan, "Exchange")
        # the only allowed Exchange is the final groupBy — the join itself
        # must consume bucket-local partitioning on both sides
        assert n_exchange <= 1, f"bucketed join reintroduced shuffles:\n{plan}"
        assert node_count(plan, "SortMergeJoin") + node_count(plan, "ShuffledHashJoin") >= 1

        # and the result matches the plain (shuffled) join
        plain = (
            orders.join(li, orders.o_orderkey == li.l_orderkey)
            .groupBy("o_orderpriority").count()
        )
        assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, plain.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS buckdb.orders_b")
        spark.sql("DROP TABLE IF EXISTS buckdb.lineitem_b")
        spark.sql("DROP DATABASE IF EXISTS buckdb")


def test_incremental_dedup_never_joins_corpus_with_itself(spark, sf_dir):
    """The incremental-dedup band join must be batch×corpus, not
    corpus×corpus: both join inputs carry a Filter on the batch/corpus
    predicate below the join."""
    plan = plan_of(spark, "dedup_incremental", sf_dir)
    # both band-join inputs are filtered on the batch/corpus predicate
    # BEFORE the join (pushdown below the explode output), and no cartesian
    # fallback appears anywhere
    assert len(re.findall(r"% 10\)", plan)) >= 2, plan
    assert node_count(plan, "CartesianProduct") == 0
    assert node_count(plan, "BroadcastNestedLoopJoin") == 0


def test_bucketed_join_is_exchange_free(spark, sf_dir, tmp_path):
    """Both sides bucketed by the join key into the same bucket count →
    sort-merge join with ZERO Exchange nodes (bucket-local merge). The
    100 TB fact-to-fact join strategy."""
    import contextlib
    import io

    from yanwenxian_week3_data_pipeline_spark.operators.bucketed import (
        colocated_join,
        write_bucketed,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    write_bucketed(orders, "t_orders_b", ("o_custkey",), 4, path=str(tmp_path / "ob"))
    write_bucketed(customer, "t_customer_b", ("c_custkey",), 4, path=str(tmp_path / "cb"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the exchange-free claim is about bucketing
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = colocated_join(
            spark,
            "t_orders_b",
            "t_customer_b",
            on=[spark.table("t_orders_b").o_custkey == spark.table("t_customer_b").c_custkey],
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain(mode="formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        # cross-check the result is still correct
        expected = orders.join(customer, orders.o_custkey == customer.c_custkey).count()
        assert j.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_customer_b")


def test_decontaminate_broadcasts_benchmark_grams(spark, sf_dir):
    """The benchmark split is ~10% of docs — its gram set must broadcast so
    the (huge) train gram stream is filtered map-side, never shuffled for
    the join; sort-merge here would shuffle the whole exploded corpus."""
    plan = plan_of(spark, "docs_decontaminate", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ngram_topk_is_partial_agg_plus_take_ordered(spark, sf_dir):
    """Top-K over the gram table must be a TakeOrderedAndProject (heap of K
    per partition), not a global Sort of the full gram vocabulary."""
    plan = plan_of(spark, "text_ngram_topk", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert node_count(plan, "Sort") == 0


def test_sample_mixture_is_single_shuffle_scan_filter(spark, sf_dir):
    """Mixture sampling must be a map-side hash filter + partial agg: the
    only exchange is the tiny per-source rollup, and the scan reads just
    the three referenced columns."""
    plan = plan_of(spark, "docs_sample_mixture", sf_dir)
    assert node_count(plan, "Exchange") == 1
    assert "ReadSchema: struct<doc_id:bigint,source:string,n_chars:bigint>" in plan


def test_pack_sequences_groupby_reuses_window_partitioning(spark, sf_dir):
    """The per-bin rollup groups by (source, bin_id); rows are already
    hash-partitioned by source for the running-sum window, which satisfies
    the grouping's clustered distribution — a second exchange would mean
    EnsureRequirements stopped recognizing the subset partitioning."""
    plan = plan_at_scale(spark, "docs_pack_sequences", sf_dir)
    assert node_count(plan, "Exchange") == 1


def test_profile_is_single_scan(spark, sf_dir):
    """The whole 11-column profile must come from ONE scan of the table
    (the oracle's UNION ALL form re-reads it 11 times; the engine must
    not). Exact multi-column countDistinct plans via a single Expand."""
    plan = plan_of(spark, "profile_lineitem", sf_dir)
    assert node_count(plan, "Scan parquet") == 1


def test_q19_disjuncts_push_to_both_scans(spark, sf_dir):
    """The OR-of-ANDs predicate spans both join sides; Catalyst must derive
    per-table disjunct filters and push them into BOTH parquet scans, and
    prune every unused lineitem column — at 100 TB this is the difference
    between scanning 4 columns of a filtered fact and the whole table."""
    plan = plan_at_scale(spark, "q19_disjunctive_revenue", sf_dir)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l and "Or(" in l]
    assert len(pushed) == 2, plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "l_shipdate" not in plan  # column pruning on the fact scan
    assert node_count(plan, "Exchange") == 1  # only the final scalar agg


def test_q21_aggregate_formulation_avoids_self_joins(spark, sf_dir):
    """q21 is formulated as per-order aggregates instead of the textbook
    EXISTS + NOT EXISTS double self-join of lineitem: no join ever pairs
    lineitem with itself, and (r10) the manual (o_orderkey, l_suppkey)
    two-level aggregate replaces the multi-distinct Expand entirely — both
    levels reuse the join's o_orderkey hash partitioning, so dropping the
    Expand costs no extra Exchange (interleaved A/B: sf1 3.215 vs 6.108 s)."""
    plan = plan_at_scale(spark, "q21_waiting_suppliers", sf_dir)
    assert node_count(plan, "Scan parquet") == 3  # lineitem, orders, supplier — once each
    assert node_count(plan, "Expand") == 0
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert node_count(plan, "Exchange") <= 3


def test_q17_threshold_joins_all_broadcast(spark, sf_dir):
    """The per-part quantity-stats aggregate joins back to the probe side as
    a broadcast (it is one row per part after aggregation), so the filtered
    fact never shuffles."""
    plan = plan_of(spark, "q17_small_quantity_revenue", sf_dir)
    assert node_count(plan, "BroadcastHashJoin") == 3
    assert node_count(plan, "SortMergeJoin") == 0
    assert "l_returnflag" not in plan  # pruned


def test_q13_histogram_aggregates_before_second_shuffle(spark, sf_dir):
    """q13: the per-customer count collapses the join output BEFORE the
    histogram groupBy, so the second shuffle moves one row per customer,
    never one per order; the dimension join broadcasts."""
    plan = plan_of(spark, "q13_customer_distribution", sf_dir)
    assert node_count(plan, "BroadcastHashJoin") == 1
    assert node_count(plan, "SortMergeJoin") == 0
    # two aggregates (per-customer, histogram), each with a partial phase
    assert node_count(plan, "HashAggregate") == 4
    assert "CartesianProduct" not in plan


def test_q2_correlated_min_all_broadcast(spark, sf_dir):
    """q2 shape: the per-part min-balance aggregate joins back as a
    broadcast; no join in the chain degrades to sort-merge or cartesian."""
    plan = plan_of(spark, "q2_min_acctbal_supplier", sf_dir)
    assert node_count(plan, "BroadcastHashJoin") == 5
    assert node_count(plan, "SortMergeJoin") == 0
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_decontaminate_broadcasts_bitset_and_bench(spark, sf_dir):
    """The Bloom bitset (one row) reaches the train side as a broadcast —
    the probe is a map-side filter, never a shuffled join — and the exact
    bench-gram join also broadcasts (the bench split is the small side)."""
    plan = plan_of(spark, "docs_bloom_decontaminate", sf_dir)
    # 1-row bitset arrives via BroadcastNestedLoopJoin (cross of one row);
    # exact-hit join broadcasts the bench gram set
    assert node_count(plan, "BroadcastNestedLoopJoin") == 1
    assert node_count(plan, "BroadcastHashJoin") >= 1
    assert node_count(plan, "SortMergeJoin") == 0
    assert "CartesianProduct" not in plan


def test_winnowing_single_fp_shuffle(spark, sf_dir):
    """The winnowing pair join shuffles only on the fingerprint key: no
    cartesian product, no name×name comparison anywhere in the plan."""
    plan = plan_of(spark, "text_winnowing_overlap", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dq_expectations_single_scan(spark, sf_dir):
    """The whole expectations suite costs one orders scan: the referential
    check folds into the same pass via a broadcast parent-key join, and all
    six metrics come from one wide aggregate."""
    plan = plan_of(spark, "dq_expectations_orders", sf_dir)
    assert node_count(plan, "Scan parquet") == 2  # orders once, customer once
    assert node_count(plan, "BroadcastHashJoin") == 1
    assert node_count(plan, "SortMergeJoin") == 0


def test_heavy_hitters_no_keyspace_shuffle_before_sketch(spark, sf_dir):
    """Phase 1 (Misra-Gries) runs inside partitions: the only exchanges in
    the plan move the tiny candidate set and the final recount — the raw
    key stream is never shuffled ungrouped."""
    plan = plan_of(spark, "agg_heavy_hitters_mg", sf_dir)
    assert "CartesianProduct" not in plan
    # candidate distinct + recount aggregate; no sort-merge join anywhere
    assert node_count(plan, "SortMergeJoin") == 0


def test_hinted_join_uses_shuffle_hash(spark, sf_dir):
    """The SHUFFLE_HASH hint must land as a ShuffledHashJoin even with
    broadcast disabled (the at-scale condition where the default would be
    sort-merge); the unhinted twin under the same conf goes sort-merge,
    proving the hint — not the data size — picked the strategy."""
    from pyspark.sql import functions as F

    key = "spark.sql.autoBroadcastJoinThreshold"
    original = spark.conf.get(key)
    try:
        spark.conf.set(key, "-1")
        plan = plan_of(spark, "join_hint_shuffle_hash", sf_dir)
        assert node_count(plan, "ShuffledHashJoin") == 1
        assert "SortMergeJoin" not in plan

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_orderpriority"
        )
        unhinted = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).agg(F.count(F.lit(1)).alias("n"))
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            unhinted.explain(mode="formatted")
        assert node_count(buf.getvalue(), "SortMergeJoin") == 1
    finally:
        spark.conf.set(key, original)


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """Runtime row-level filtering: with a selective filter on the dimension
    side of a shuffle join, the optimizer must inject a bloom filter that
    pre-filters the FACT side before its shuffle (might_contain on the fact
    scan, bloom_filter_agg building from the filtered dimension). At 100 TB
    this is the difference between shuffling the whole fact table and
    shuffling only rows whose key can possibly match — the runtime
    complement to static predicate pushdown. Thresholds are relaxed because
    the heuristics are sized for production scans, not test fixtures."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_extendedprice"
        )
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey")
        j = li.join(o, li.l_orderkey == o.o_orderkey).agg(F.count("*").alias("n"))

        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain(mode="formatted")
        plan = buf.getvalue().lower()
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan

        # and the filtered plan must still be correct
        expected = li.join(o.hint("broadcast"), li.l_orderkey == o.o_orderkey).count()
        assert j.first()["n"] == expected
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_window_topk_uses_group_limit_pruning(spark, sf_dir):
    """row_number()<=k must trigger WindowGroupLimit on BOTH sides of the
    shuffle: the map-side instance keeps only each partition's local top-k
    before any data moves, so the shuffle carries O(groups·k) rows instead
    of the whole table — the difference between a top-k and a full sort at
    100 TB."""
    plan = plan_of(spark, "window_topk_per_customer", sf_dir)
    assert node_count(plan, "WindowGroupLimit") == 2


def test_timestamp_queries_are_session_timezone_proof(spark, sf_dir):
    """The driver owns its session conf, not us: every timestamp-deriving
    query must return identical results whatever spark.sql.session.timeZone
    says. NTZ columns make most queries immune by construction; this pins
    the ones that do epoch arithmetic (a cast through TIMESTAMP would shift
    with the zone — the events_user_trend bug this test was written for)."""
    names = [
        "events_user_trend",
        "events_user_trend_pandas",
        "join_range_views_before_purchase",
        "join_asof_purchase_view",
        "join_asof_nearest_view",
        "window_rolling_7d_spend",
        "events_sessionize",
        "events_tumbling_hourly",
        "events_gapfill_hourly",
        "events_hourly_anomaly",
        "tbl_incremental_hourly_agg",
        "join_scd2_point_in_time",
    ]
    key = "spark.sql.session.timeZone"
    original = spark.conf.get(key)
    base = {n: sorted(map(str, SPECS[n].build(spark, sf_dir).collect())) for n in names}
    try:
        spark.conf.set(key, "America/New_York")
        for n in names:
            got = sorted(map(str, SPECS[n].build(spark, sf_dir).collect()))
            assert got == base[n], f"{n} shifts with session timezone"
    finally:
        spark.conf.set(key, original)


def test_training_funnel_plan_shape(spark, sf_dir):
    """The funnel must stay a composition, not a per-stage rescan: the
    documents table is scanned a bounded number of times (flags pass +
    gram pass, never once per stage), the dedup window is the only wide
    window, and the bench gram side arrives broadcast."""
    plan = plan_of(spark, "docs_training_funnel", sf_dir)
    assert node_count(plan, "Scan parquet") <= 3, plan.count("Scan parquet")
    assert node_count(plan, "Window") == 1
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_vocab_coverage_no_full_vocab_sort(spark, sf_dir):
    """A 100 TB corpus has billions of distinct tokens, so the ranking must
    never globally sort the vocabulary: top-K flows through
    TakeOrderedAndProject (per-task local top-K, K·partitions rows move),
    and the rank/cumsum window runs only over the K survivors — which means
    NO post-window Filter on rank exists (the old shape computed rank over
    every distinct token and filtered after)."""
    plan = plan_of(spark, "docs_vocab_coverage", sf_dir)
    assert node_count(plan, "TakeOrderedAndProject") == 1
    # the window's input is the K-row limit, so rank is never filtered
    assert not re.search(r"^\(\d+\) Filter.*\n.*rank", plan, flags=re.M), plan


def test_equidepth_no_single_partition_sort(spark, sf_dir):
    """Exact decile cuts must come from the distributed length-histogram +
    partition-offset path: no window function at all (the old shape ranked
    every document through one partition) and no single-partition Exchange
    anywhere in the plan — the only driver-side data is one subtotal row
    per partition."""
    plan = plan_of(spark, "docs_equidepth_histogram", sf_dir)
    assert node_count(plan, "Window") == 0
    assert "Exchange SinglePartition" not in plan, plan
    assert "MapInPandas" in plan


def test_temperature_mixture_broadcasts_thresholds(spark, sf_dir):
    """The keep decision must be a map-side filter: per-source thresholds
    arrive broadcast (one row per source), never a shuffle join of the
    corpus against the stratum table, and nothing falls back to a
    cartesian product (the 1-row normalizer crossJoin must plan as a
    broadcast nested loop, which is O(n) for a single-row build side)."""
    plan = plan_of(spark, "docs_temperature_mixture", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_survivors_window_is_cluster_partitioned(spark, sf_dir):
    """Survivor ranking must partition by cluster_id — a global window here
    would serialize every clustered doc through one task. formatted plans
    print the window spec with its partition expression."""
    plan = plan_of(spark, "dedup_survivors_by_priority", sf_dir)
    m = re.search(r"windowspecdefinition\(([^,]+),", plan)
    assert m is not None and "cluster_id" in m.group(1), m


def test_plan_audit_classifier_detects_global_window(spark, sf_dir):
    """The registry-wide audit's single-partition classifier must actually
    catch the failure mode it claims to: a global (unpartitioned) window's
    Exchange SinglePartition over a scan is flagged, a scalar aggregate's
    legitimate single-partition collapse is not."""
    import contextlib
    import io
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from tools.plan_audit import _unbounded_single_partition_children

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    def simple_plan(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain()
        return buf.getvalue()

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    bad = orders.withColumn(
        "rn", F.row_number().over(Window.orderBy("o_orderkey"))
    )
    assert _unbounded_single_partition_children(simple_plan(bad))
    ok = orders.agg(F.sum("o_totalprice"))
    assert not _unbounded_single_partition_children(simple_plan(ok))


def test_semantic_dedup_pair_stage_is_equi_join_on_cell(spark, sf_dir):
    """The SemDeDup intra-cluster pair stage must reach the join as an
    EQUI join keyed on the cell (SortMergeJoin/ShuffledHashJoin/
    BroadcastHashJoin with the ordering+threshold as post-join condition),
    never a cartesian/nested-loop over the corpus: only the two
    n_cells-row centroid-assignment BNLJs (broadcast build, O(n) probe)
    may appear. At 100 TB n_cells scales with N, so the cell key is what
    keeps the shuffle fine-grained."""
    plan = plan_of(spark, "dedup_semantic_checked", sf_dir)
    assert node_count(plan, "CartesianProduct") == 0, plan
    # exactly the two centroid-assignment broadcasts (survivor projection +
    # pair stage reuse assignment subtrees; exchange reuse may dedupe)
    assert 0 < node_count(plan, "BroadcastNestedLoopJoin") <= 3, plan
    equi = sum(
        node_count(plan, j)
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    assert equi >= 2, plan  # cell-keyed pair join + the left_anti survivors


def test_weighted_sample_no_shuffle_no_python(spark, sf_dir):
    """The global A-ES sample must be a scan into TakeOrderedAndProject:
    per-partition k-heaps + a k-row merge — no Exchange of the corpus, no
    Python worker in the path."""
    plan = plan_at_scale(spark, "docs_weighted_sample", sf_dir)
    assert node_count(plan, "TakeOrderedAndProject") == 1, plan
    assert node_count(plan, "Exchange") == 0, plan
    assert node_count(plan, "BatchEvalPython") == 0, plan


def test_weighted_sample_by_source_rank_limit_pushdown(spark, sf_dir):
    """The stratified sampler's scale guarantee is Catalyst's rank-limit
    pushdown: the row_number() <= k filter must materialize as a PARTIAL
    WindowGroupLimit before the source exchange (each map task forwards at
    most k rows per source) plus the final one after it — so the hot-source
    task sorts nparts*k survivors, never the source's whole corpus slice.
    If a refactor breaks the pushdown (e.g. filtering on a derived column
    instead of the rank itself), this test fails before the plan does at
    scale."""
    plan = plan_at_scale(spark, "docs_weighted_sample_by_source", sf_dir)
    assert node_count(plan, "WindowGroupLimit") == 2, plan
    # exactly one true Window node (node_count("Window") prefix-matches the
    # WindowGroupLimit nodes too)
    assert node_count(plan, "Window") - node_count(plan, "WindowGroupLimit") == 1, plan
    # the partial limit must sit BELOW the shuffle: formatted mode numbers
    # nodes leaf-first, so the first WindowGroupLimit id < the Exchange id
    import re

    ids = {
        m.group(2): int(m.group(1))
        for m in re.finditer(r"^\((\d+)\) (WindowGroupLimit|Exchange)", plan, flags=re.M)
        if m.group(2) not in {}
    }
    first_wgl = min(
        int(m.group(1))
        for m in re.finditer(r"^\((\d+)\) WindowGroupLimit", plan, flags=re.M)
    )
    first_ex = min(
        int(m.group(1))
        for m in re.finditer(r"^\((\d+)\) Exchange", plan, flags=re.M)
    )
    assert first_wgl < first_ex, plan


def test_dsir_scoring_is_broadcast_and_topk_bounded(spark, sf_dir):
    """DSIR's per-doc scoring must join the B-bounded log-ratio table as a
    BROADCAST (a shuffle join on bucket would move the corpus for a
    512-row table), and the final selection must be TakeOrderedAndProject
    (per-partition k-heaps), with no Python worker anywhere."""
    plan = plan_of(spark, "docs_dsir_select", sf_dir)
    assert node_count(plan, "TakeOrderedAndProject") == 1, plan
    assert node_count(plan, "BroadcastHashJoin") >= 1, plan
    assert node_count(plan, "BatchEvalPython") == 0, plan
    # the only BNLJ occurrences are the two 1-row normalizer cross joins
    assert node_count(plan, "BroadcastNestedLoopJoin") == 2, plan


def test_pq_adc_windows_ride_rank_limit_pushdown(spark, sf_dir):
    """PQ-ADC's three rank windows (code argmin, approx top-k, exact
    top-k) must all materialize the Partial/Final WindowGroupLimit pair —
    each map task forwards <= k rows per (id, subspace) / query before
    the exchange — and the codebook/table joins must be broadcast EQUI
    joins, never nested loops (the one sanctioned BNLJ is the NQ-row
    exact-baseline query side)."""
    plan = plan_of(spark, "sim_pq_adc_recall", sf_dir)
    assert node_count(plan, "WindowGroupLimit") == 6, plan
    assert node_count(plan, "CartesianProduct") == 0, plan
    assert node_count(plan, "BroadcastNestedLoopJoin") == 1, plan
    assert node_count(plan, "BroadcastHashJoin") >= 3, plan


def test_triangle_census_all_equi_joins(spark, sf_dir):
    """The wedge enumeration and closure must reach the plan as EQUI
    joins on node keys (SortMergeJoin at fixture stats) — a cartesian
    here would be the naive all-pairs triangle join. The 3 BNLJs are the
    1-row census scalars."""
    plan = plan_of(spark, "graph_triangles_copurchase", sf_dir)
    assert node_count(plan, "CartesianProduct") == 0, plan
    assert node_count(plan, "BroadcastNestedLoopJoin") == 3, plan
    equi = sum(
        node_count(plan, j)
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    assert equi >= 4, plan  # orient (2 deg joins) + wedge + closure
