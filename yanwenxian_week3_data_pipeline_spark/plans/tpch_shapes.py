"""TPC-H-shaped relational depth (EXT; SURVEY.md §2.10 joins/aggs rows).

The reference has no joins or grouped aggregation at all (SURVEY.md §2.10 —
closest is the index anti-filter at cleaner.py:361-363), so this module is
the EXT breadth that exercises the classic OLAP join/agg shapes on the
driver's star schema. Every query has a DuckDB oracle twin.

Scale notes (100 TB):
- q6 is the pushdown showcase: all three predicates reach the parquet scan
  (``PushedFilters``) and only 3 columns are read (``ReadSchema``);
- q3/q5/q10 broadcast every dimension (customer/nation/region/supplier) so
  the only fact shuffle is the final groupBy key; SF-scaling sides
  (customer/supplier/part) sit behind the shared size gate
  (relational._gated_dim, r10 — at 100 TB those tables are fact-sized and
  the plan degrades to a shuffled merge join by construction);
- q15/q18 are two-phase agg-then-join: the aggregate side is tiny after the
  groupBy, so AQE converts the join-back to broadcast at runtime;
- q14 is a broadcast join + conditional aggregation — one pass, no shuffle
  of lineitem beyond the final scalar reduce;
- analytic windows sort once per partition key; the deterministic tie-break
  column (the primary key) makes results reproducible under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from . import QuerySpec
from .relational import _gated_dim, _t, _t_shuffle_input

DEC = "decimal(18,2)"
TS = "timestamp_ntz"


def _revenue() -> F.Column:
    return F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))


_REV_SQL = f"CAST(l_extendedprice AS {DEC}) * (CAST(1 AS {DEC}) - CAST(l_discount AS {DEC}))"


# ---------------------------------------------------------------------------
# q3_shipping_priority — TPC-H Q3: filter both sides of a 3-way join, group
# on the order key, deterministic top-10
# ---------------------------------------------------------------------------

def _q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-06-01").cast(TS)
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    # fact loaders: first consumer is the fact-fact key shuffle after pushed
    # filters only — plain scan, no fan-out (r10 interleaved A/B, plain vs
    # fanout warm medians: sf0.1 1.103 vs 1.527 s, sf1 2.418 vs 4.643 s;
    # plain won every round at both scales)
    orders = _t_shuffle_input(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    li = _t_shuffle_input(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(_gated_dim(cust.select("c_custkey"), sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_revenue()).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_SQL_Q3 = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority, sum({_REV_SQL}) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01'
  AND l_shipdate > TIMESTAMP '1998-06-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# q5_local_supplier_volume — TPC-H Q5: 6-way join with the extra
# customer-nation = supplier-nation equality
# ---------------------------------------------------------------------------

def _q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shuffle-bound facts (r10 interleaved A/B: plain 1.136 vs fanout
    # 1.699 s at sf0.1; 2.131 vs 8.820 s at sf1 — the fan-out's extra full
    # exchange of unfiltered lineitem was a 4.1x loss)
    li = _t_shuffle_input(spark, sf_dir, "lineitem")
    orders = _t_shuffle_input(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast(TS))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast(TS))
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    asia_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    return (
        li.join(orders.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .join(_gated_dim(cust.select("c_custkey", "c_nationkey"), sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(_gated_dim(supp.select("s_suppkey", "s_nationkey"), sf_dir, "supplier"), li.l_suppkey == F.col("s_suppkey"))
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(_revenue()).alias("revenue"))
    )


_SQL_Q5 = f"""
SELECT n_name, sum({_REV_SQL}) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# q6_forecast_revenue — TPC-H Q6: the predicate-pushdown showcase (3 pushed
# filters, 3-column ReadSchema, no shuffle at all — scalar partial agg)
# ---------------------------------------------------------------------------

def _q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast(TS))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast(TS))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.05)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast(DEC) * F.col("l_discount").cast("decimal(18,4)")).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


_SQL_Q6 = f"""
SELECT sum(CAST(l_extendedprice AS {DEC}) * CAST(l_discount AS DECIMAL(18,4))) AS revenue,
  count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.05 AND l_quantity < 24
"""


# ---------------------------------------------------------------------------
# q10_returned_items — TPC-H Q10: returned-lineitem revenue per customer,
# deterministic top-20
# ---------------------------------------------------------------------------

def _q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same shuffle-bound fact-fact shape as q3 — plain loaders by the
    # _t_shuffle_input decision rule (pushed filters, then the key shuffle)
    li = _t_shuffle_input(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = _t_shuffle_input(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast(TS))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast(TS))
    )
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .join(_gated_dim(cust, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name", "c_mktsegment")
        .agg(F.sum(_revenue()).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


_SQL_Q10 = f"""
SELECT c_custkey, c_name, c_acctbal, n_name, c_mktsegment, sum({_REV_SQL}) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-07-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# q14_promo_effect — TPC-H Q14: broadcast part join + conditional aggregate;
# ratio emitted as a rounded double so both engines agree bit-for-bit
# ---------------------------------------------------------------------------

def _q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    # lineitem KEEPS the fan-out — the measured exception that proves the
    # rule: the pushed shipdate filter shrinks the scan output ~24x BEFORE
    # the fan-out exchange, and what follows is probe + global agg with no
    # key shuffle (true q1-class map work). r10 A/B: fanout 0.986 vs plain
    # 1.148 s at sf1 (-14%) — do not retry without new evidence.
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast(TS))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast(TS))
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = _revenue()
    promo = F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast(DEC)))
    total = F.sum(rev)
    return (
        li.join(_gated_dim(part, sf_dir, "part"), li.l_partkey == part.p_partkey)
        .agg(
            promo.alias("promo_revenue"),
            total.alias("total_revenue"),
            F.round(promo.cast("double") / total.cast("double") * 100.0, 6).alias("promo_pct"),
        )
    )


_SQL_Q14 = f"""
SELECT
  sum(CASE WHEN p_type = 'PROMO' THEN {_REV_SQL} ELSE CAST(0 AS {DEC}) END) AS promo_revenue,
  sum({_REV_SQL}) AS total_revenue,
  round(CAST(sum(CASE WHEN p_type = 'PROMO' THEN {_REV_SQL} ELSE CAST(0 AS {DEC}) END) AS DOUBLE)
        / CAST(sum({_REV_SQL}) AS DOUBLE) * 100.0, 6) AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
"""


# ---------------------------------------------------------------------------
# q15_top_supplier — TPC-H Q15: agg → scalar-max subquery → join back
# ---------------------------------------------------------------------------

def _q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    # plain lineitem: the first consumer is the l_suppkey groupBy — a key
    # shuffle, so the fan-out's extra exchange buys nothing (r10 A/B:
    # plain 1.066 vs fanout 1.634 s at sf1, -35%). q14 filters the same
    # date range but aggregates globally (no key shuffle) and KEEPS the
    # fan-out on its measured win.
    li = _t_shuffle_input(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast(TS))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast(TS))
    )
    supp = _t(spark, sf_dir, "supplier")
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.sum(_revenue()).alias("total_revenue"))
    )
    max_rev = rev.agg(F.max("total_revenue").alias("m"))
    return (
        rev.join(F.broadcast(max_rev), rev.total_revenue == F.col("m"))
        .join(_gated_dim(supp, sf_dir, "supplier"), rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


_SQL_Q15 = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no, sum({_REV_SQL}) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


# ---------------------------------------------------------------------------
# q18_large_volume_orders — TPC-H Q18: agg-then-semijoin (HAVING filter on
# the grouped fact, join back to orders + customer)
# ---------------------------------------------------------------------------

def _q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    # lineitem's first consumer is a groupBy on l_orderkey whose partial
    # aggregation barely reduces (~1 group per 4 rows, huge hash table), so
    # it behaves like a raw key shuffle — r10 interleaved A/B at sf1: plain
    # 7.629 vs fanout 10.995 s (-31%, plain won all 6 rounds). orders feeds
    # the o_orderkey join directly.
    li = _t_shuffle_input(spark, sf_dir, "lineitem")
    orders = _t_shuffle_input(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    # r11 shuffle-byte narrowing (guide §2.3 "narrower types"): the partial
    # aggregate sums the EXACT scaled integer cast(qty_dec * 10 as long)
    # instead of the decimal — qty_dec is the same cast(l_quantity as
    # decimal(18,1)) quantization the query already applies, so *10 is
    # exact at scale 1 and the long sum is exact (per-order sums are
    # bounded: ≤7 lineitems × 50.0) — then rescales once per group with an
    # exact decimal product (27,0)×(2,1). The shuffle row drops from a
    # 16-byte non-compact decimal(28,1) buffer to an 8-byte long, and the
    # agg codegen works in long arithmetic. Results asserted identical
    # (OPTIMIZATION_r11.md; the top-level decimal is canonicalized
    # to double either way). Interleaved A/B, fully separated samples both
    # scales: sf1 4.158 → 3.159 s (−24 %), sf0.1 0.667 → 0.517 s (−22 %).
    scaled = (F.col("l_quantity").cast("decimal(18,1)") * 10).cast("long")
    total = (
        F.col("_sq").cast("decimal(27,0)") * F.lit("0.1").cast("decimal(2,1)")
    ).cast("decimal(28,1)")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(scaled).alias("_sq"))
        .select("l_orderkey", total.alias("total_qty"))
        .where(F.col("total_qty") > 150)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(_gated_dim(cust.select("c_custkey", "c_name"), sf_dir, "customer"), orders.o_custkey == F.col("c_custkey"))
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
    )


_SQL_Q18 = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM orders
JOIN (SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,1))) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING total_qty > 150) big
  ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


# ---------------------------------------------------------------------------
# window_first_last_nth — analytic frame functions over each customer's
# order history (full-partition frame; PK tie-break for determinism)
# ---------------------------------------------------------------------------

def _q_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.first_value("o_orderkey").over(w).alias("first_order"),
        F.last_value("o_orderkey").over(w).alias("last_order"),
        # NULLABLE-INT canon rule: nth_value(2) is null for single-order
        # customers, and one null makes pandas render the oracle column
        # float64 ('11415.0'); emit double on BOTH engines.
        F.nth_value("o_orderkey", 2).over(w).cast("double").alias("second_order"),
    )


_SQL_FIRST_LAST = """
SELECT o_custkey, o_orderkey,
  first_value(o_orderkey) OVER w AS first_order,
  last_value(o_orderkey) OVER w AS last_order,
  CAST(nth_value(o_orderkey, 2) OVER w AS DOUBLE) AS second_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


# ---------------------------------------------------------------------------
# window_percent_rank_suppliers — percent_rank + cume_dist per nation
# (unique tie-break ⇒ no peer groups ⇒ engine-identical doubles)
# ---------------------------------------------------------------------------

def _q_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = _t(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.asc("s_acctbal"), F.asc("s_suppkey"))
    return supp.select(
        "s_nationkey",
        "s_suppkey",
        "s_acctbal",
        F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 9).alias("cume"),
    )


_SQL_PERCENT_RANK = """
SELECT s_nationkey, s_suppkey, s_acctbal,
  round(percent_rank() OVER w, 9) AS pct_rank,
  round(cume_dist() OVER w, 9) AS cume
FROM supplier
WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal ASC, s_suppkey ASC)
"""


QUERIES = [
    QuerySpec("q3_shipping_priority", _q3, _SQL_Q3),
    QuerySpec("q5_local_supplier_volume", _q5, _SQL_Q5),
    QuerySpec("q6_forecast_revenue", _q6, _SQL_Q6, headline=True),
    QuerySpec("q10_returned_items", _q10, _SQL_Q10),
    QuerySpec("q14_promo_effect", _q14, _SQL_Q14),
    QuerySpec("q15_top_supplier", _q15, _SQL_Q15),
    QuerySpec("q18_large_volume_orders", _q18, _SQL_Q18),
    QuerySpec("window_first_last_nth", _q_first_last, _SQL_FIRST_LAST),
    QuerySpec("window_percent_rank_suppliers", _q_percent_rank, _SQL_PERCENT_RANK),
]
