"""Remaining TPC-H query shapes, adapted to the driver's star schema (EXT;
SURVEY.md §2.10 joins/subqueries rows — the reference has none of these).

The driver's tables omit ``partsupp``, ship modes, comments, and phone
columns, so Q2/Q11/Q16/Q20-class queries are re-expressed over ``lineitem``
with the same *plan shape* (correlated min, global-fraction HAVING, distinct
counting, nested semi-joins) on the columns that exist. Every query has a
DuckDB oracle twin.

Cross-engine determinism rules used throughout:
- money math in decimals (exact in both engines); doubles only for final
  ratios, rounded;
- threshold comparisons of the form ``x < avg(y)*k`` are rewritten
  multiplicatively (``x * n * 1/k < sum(y)``) so both engines compare exact
  decimals instead of a divided double;
- every top-k has a full deterministic tie-break.

Scale notes (100 TB):
- dimension sides (part, supplier, customer, nation, the per-part aggregate
  in q17) are broadcast so lineitem never shuffles except for its own
  groupBy key;
- q21 replaces the textbook double EXISTS self-join with one per-order
  aggregate (count-distinct suppliers / late suppliers) — one shuffle of the
  filtered fact instead of three;
- q13 keeps the left join on the orders side pre-aggregated per customer
  before the histogram groupBy, so the second shuffle moves one row per
  customer, not per order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import QuerySpec
from .relational import _gated_dim, _t, _t_shuffle_input

DEC = "decimal(18,2)"
QTY = "decimal(18,1)"
TS = "timestamp_ntz"


def _revenue() -> F.Column:
    return F.col("l_extendedprice").cast(DEC) * (
        F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)
    )


_REV_SQL = f"CAST(l_extendedprice AS {DEC}) * (CAST(1 AS {DEC}) - CAST(l_discount AS {DEC}))"


# ---------------------------------------------------------------------------
# q2_min_acctbal_supplier — TPC-H Q2 shape without partsupp: for each
# qualifying part, the supplier(s) with the minimum account balance among
# suppliers that actually shipped it (correlated-min subquery → join back)
# ---------------------------------------------------------------------------

def _q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 15)
    ).select("p_partkey", "p_brand", "p_size")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    shipped = (
        # plain lineitem: the near-unique distinct after the probe is a key
        # shuffle (q8/q9's probes-then-shuffle rule) — r10 A/B plain 1.415
        # vs fanout 6.643 s at sf1 (-79%), 0.833 vs 1.440 at sf0.1
        _t_shuffle_input(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(_gated_dim(part, sf_dir, "part"), F.col("l_partkey") == F.col("p_partkey"))
        .select("p_partkey", "p_brand", "p_size", "l_suppkey")
        .distinct()
        .join(_gated_dim(supp, sf_dir, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    min_bal = shipped.groupBy(F.col("p_partkey").alias("mb_partkey")).agg(
        F.min("s_acctbal").alias("min_bal")
    )
    return (
        shipped.join(
            # grouped-by-partkey aggregate: cardinality bounded by |part|,
            # so the part file is the gate proxy
            _gated_dim(min_bal, sf_dir, "part"),
            (F.col("p_partkey") == F.col("mb_partkey"))
            & (F.col("s_acctbal") == F.col("min_bal")),
        )
        .select("p_partkey", "p_brand", "p_size", "s_suppkey", "s_name", "s_acctbal")
        .orderBy(F.asc("p_partkey"), F.asc("s_suppkey"))
        .limit(100)
    )


_SQL_Q2 = """
WITH shipped AS (
  SELECT DISTINCT p_partkey, p_brand, p_size, l_suppkey
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'STANDARD' AND p_size <= 15),
balances AS (
  SELECT shipped.*, s_suppkey, s_name, s_acctbal
  FROM shipped JOIN supplier ON l_suppkey = s_suppkey)
SELECT p_partkey, p_brand, p_size, s_suppkey, s_name, s_acctbal
FROM balances b
WHERE s_acctbal = (SELECT min(s_acctbal) FROM balances b2 WHERE b2.p_partkey = b.p_partkey)
ORDER BY p_partkey ASC, s_suppkey ASC
LIMIT 100
"""


# ---------------------------------------------------------------------------
# q4_order_priority — TPC-H Q4: EXISTS semi-join with a correlated
# inequality (late shipment stands in for commit<receipt)
# ---------------------------------------------------------------------------

def _q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    # both facts feed the o_orderkey semi join after pushed filters /
    # projections only — plain loaders by the _t_shuffle_input rule
    # (r10 A/B evidence on the q3/q5 siblings)
    orders = _t_shuffle_input(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast(TS))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast(TS))
    )
    li = _t_shuffle_input(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


_SQL_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# q7_volume_shipping — TPC-H Q7: nation-pair trade volume by year
# ---------------------------------------------------------------------------

def _q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    # shuffle-bound facts (q3/q5 class): plain loaders
    li = _t_shuffle_input(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast(TS))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast(TS))
    )
    orders = _t_shuffle_input(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(_gated_dim(cust, sf_dir, "customer"), F.col("o_custkey") == cust.c_custkey)
        .join(_gated_dim(supp, sf_dir, "supplier"), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(_revenue()).alias("volume"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


_SQL_Q7 = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  year(l_shipdate) AS l_year, sum({_REV_SQL}) AS volume
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


# ---------------------------------------------------------------------------
# q8_market_share — TPC-H Q8: one supplier nation's share of a region's
# PROMO-part revenue by year (conditional-sum ratio)
# ---------------------------------------------------------------------------

def _q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    asia_keys = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select(F.col("n_nationkey").alias("cn_key"))
    supp_nation = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    # lineitem is plain too: broadcast probes are a hash lookup per row,
    # not q1-class map work, and the o_orderkey shuffle follows — r10
    # interleaved A/B (OPTIMIZATION_r10.md): plain 2.255 vs fanout 8.474 s
    # at sf1 (-73%; the fan-out exchanged the unfiltered full-width
    # table), 1.479 vs 2.025 at sf0.1
    li = _t_shuffle_input(spark, sf_dir, "lineitem")
    orders = _t_shuffle_input(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast(TS))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast(TS))
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    part = _t(spark, sf_dir, "part").where(F.col("p_type") == "PROMO").select("p_partkey")
    rev = _revenue()
    nation_rev = F.sum(F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(F.lit(0).cast(DEC)))
    total_rev = F.sum(rev)
    return (
        li.join(_gated_dim(part, sf_dir, "part"), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(_gated_dim(cust, sf_dir, "customer"), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(asia_keys), F.col("c_nationkey") == F.col("cn_key"), "left_semi")
        .join(_gated_dim(supp, sf_dir, "supplier"), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            nation_rev.alias("nation_volume"),
            total_rev.alias("total_volume"),
            F.round(nation_rev.cast("double") / total_rev.cast("double"), 6).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


_SQL_Q8 = f"""
SELECT year(o_orderdate) AS o_year,
  sum(CASE WHEN n1.n_name = 'NATION_3' THEN {_REV_SQL} ELSE CAST(0 AS {DEC}) END) AS nation_volume,
  sum({_REV_SQL}) AS total_volume,
  round(CAST(sum(CASE WHEN n1.n_name = 'NATION_3' THEN {_REV_SQL} ELSE CAST(0 AS {DEC}) END) AS DOUBLE)
        / CAST(sum({_REV_SQL}) AS DOUBLE), 6) AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
JOIN region ON n2.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
WHERE r_name = 'ASIA' AND p_type = 'PROMO'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY o_year
ORDER BY o_year
"""


# ---------------------------------------------------------------------------
# q9_product_profit — TPC-H Q9 shape without ps_supplycost: cost proxied as
# 80% of p_retailprice; profit per supplier nation per year (exact decimals)
# ---------------------------------------------------------------------------

def _q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    # plain lineitem (q8's rule: probes-then-key-shuffle): r10 A/B plain
    # 4.349 vs fanout 8.740 s at sf1 (-50%, won all 6 rounds), 3.355 vs
    # 5.297 at sf0.1 — the 5.05x sf1 pin decomposed to the fan-out
    li = _t_shuffle_input(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(F.col("p_name").contains("red")).select(
        "p_partkey", "p_retailprice"
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    # r11 shuffle-byte narrowing (guide §2.3 "project before the exchange"):
    # the per-row profit DECIMAL is evaluated right after the broadcast
    # probes, so the orderkey exchange feeding the lineitem⋈orders join
    # ships (l_orderkey, n_name, profit) instead of the four raw numeric
    # inputs; the orders side ships year(o_orderdate) (int) instead of the
    # timestamp. Decimal arithmetic is per-row and exact, so evaluating it
    # before or after the join is the same function — results asserted
    # identical. Interleaved A/B (OPTIMIZATION_r11.md): sf1 3.677 →
    # 3.237 s (−12 %, won 6/6 pairwise), sf0.1 0.674 → 0.619 s (−8 %).
    orders = _t_shuffle_input(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    cost = F.col("p_retailprice").cast(DEC) * F.lit("0.8").cast("decimal(2,1)")
    profit = _revenue() - F.col("l_quantity").cast(QTY) * cost
    return (
        li.join(_gated_dim(part, sf_dir, "part"), li.l_partkey == part.p_partkey)
        .join(_gated_dim(supp, sf_dir, "supplier"), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .select(li.l_orderkey.alias("l_orderkey"), F.col("n_name"), profit.alias("_profit"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"), F.col("o_year").alias("o_year"))
        .agg(F.sum("_profit").alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


_SQL_Q9 = f"""
SELECT n_name AS nation, year(o_orderdate) AS o_year,
  sum({_REV_SQL} - CAST(l_quantity AS {QTY}) * (CAST(p_retailprice AS {DEC}) * CAST(0.8 AS DECIMAL(2,1)))) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, o_year
ORDER BY n_name, o_year DESC
"""


# ---------------------------------------------------------------------------
# q11_important_value — TPC-H Q11 shape without partsupp: parts whose
# lineitem revenue exceeds a fixed fraction of global revenue (HAVING
# against a global scalar)
# ---------------------------------------------------------------------------

def _q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    # KEEPS the fan-out — measured boundary case of the _t_shuffle_input
    # rule (r10 interleaved A/B at sf1: fanout 7.806 vs plain 7.646 s, a
    # wash inside IQR): the l_partkey groupBy reduces ~30x, so map-side
    # partial aggregation matters about as much as the extra exchange.
    # Do not re-litigate without a new decision criterion.
    li = _t(spark, sf_dir, "lineitem")
    val = li.groupBy("l_partkey").agg(F.sum(_revenue()).alias("part_value"))
    total = val.agg(F.sum("part_value").alias("total_value"))
    return (
        val.join(F.broadcast(total))
        .where(F.col("part_value").cast("double") * 1500.0 > F.col("total_value").cast("double"))
        .select("l_partkey", "part_value")
        .orderBy(F.desc("part_value"), F.asc("l_partkey"))
    )


_SQL_Q11 = f"""
WITH val AS (
  SELECT l_partkey, sum({_REV_SQL}) AS part_value FROM lineitem GROUP BY l_partkey)
SELECT l_partkey, part_value
FROM val
WHERE CAST(part_value AS DOUBLE) * 1500.0 > (SELECT CAST(sum(part_value) AS DOUBLE) FROM val)
ORDER BY part_value DESC, l_partkey ASC
"""


# ---------------------------------------------------------------------------
# q12_priority_lines — TPC-H Q12 shape without ship modes: per line status,
# count lines on high- vs low-priority orders (join + CASE counters)
# ---------------------------------------------------------------------------

def _q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shuffle-bound facts (q3/q5 class): plain loaders
    li = _t_shuffle_input(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast(TS))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast(TS))
    )
    orders = _t_shuffle_input(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


_SQL_Q12 = """
SELECT l_linestatus,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


# ---------------------------------------------------------------------------
# q13_customer_distribution — TPC-H Q13: left join + per-customer count,
# then a histogram of the counts (two-level groupBy)
# ---------------------------------------------------------------------------

def _q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    # orders feeds the o_custkey shuffle of a left join whose preserved side
    # is customer (so the fact can't be broadcast away) — plain loader
    orders = _t_shuffle_input(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "5-LOW"
    ).select("o_orderkey", "o_custkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


_SQL_Q13 = """
SELECT c_count, count(*) AS custdist
FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# ---------------------------------------------------------------------------
# q16_supplier_variety — TPC-H Q16 shape without partsupp: distinct shipping
# suppliers per (brand, type, size) bucket from lineitem
# ---------------------------------------------------------------------------

def _q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    # plain lineitem: the countDistinct's internal keys are (group cols,
    # l_suppkey) — near-pair-unique, so the partial agg barely reduces and
    # the scan is shuffle-bound (q18's evidence class). r10 A/B: plain
    # 2.177 vs fanout 7.133 s at sf1 (-69%, plain's worst beat fanout's
    # best sample)
    li = _t_shuffle_input(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(_gated_dim(part, sf_dir, "part"), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


_SQL_Q16 = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_size IN (1, 4, 9, 16, 25, 36, 49)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# ---------------------------------------------------------------------------
# q17_small_quantity_revenue — TPC-H Q17: correlated per-part average
# quantity threshold, rewritten multiplicatively so both engines compare
# exact decimals (qty*5*n < sum_qty ⟺ qty < 0.2*avg)
# ---------------------------------------------------------------------------

def _q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#3").select("p_partkey")
    # lineitem KEEPS the fan-out: the selective Brand#3 semi probe + the
    # l_partkey-grain aggregate reduce strongly before any wide shuffle
    # (the measured q11 wash class). r10 A/B confirmed the wash: plain
    # 1.724 vs fanout 1.732 s at sf1 — do not retry without new evidence.
    li = _t(spark, sf_dir, "lineitem").join(
        _gated_dim(part, sf_dir, "part"), F.col("l_partkey") == F.col("p_partkey"), "left_semi"
    )
    qty_stats = li.groupBy(F.col("l_partkey").alias("qs_partkey")).agg(
        F.sum(F.col("l_quantity").cast(QTY)).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    # per-partkey aggregate → |part|-bounded cardinality, part is the proxy
    small = li.join(_gated_dim(qty_stats, sf_dir, "part"), F.col("l_partkey") == F.col("qs_partkey")).where(
        F.col("l_quantity").cast(QTY) * F.col("n_lines") * 5 < F.col("sum_qty")
    )
    return small.agg(
        F.sum(F.col("l_extendedprice").cast(DEC)).alias("total_price"),
        F.round(F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / 7.0, 2).alias("avg_yearly"),
    )


_SQL_Q17 = f"""
WITH li AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#3'),
qs AS (
  SELECT l_partkey AS qs_partkey, sum(CAST(l_quantity AS {QTY})) AS sum_qty,
    count(*) AS n_lines
  FROM li GROUP BY l_partkey)
SELECT sum(CAST(l_extendedprice AS {DEC})) AS total_price,
  round(CAST(sum(CAST(l_extendedprice AS {DEC})) AS DOUBLE) / 7.0, 2) AS avg_yearly
FROM li JOIN qs ON l_partkey = qs_partkey
WHERE CAST(l_quantity AS {QTY}) * n_lines * 5 < sum_qty
"""


# ---------------------------------------------------------------------------
# q19_disjunctive_revenue — TPC-H Q19: OR-of-ANDs predicate across the
# join (tests disjunct pushdown / join predicate splitting)
# ---------------------------------------------------------------------------

def _q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    # plain lineitem: no pushed filter shrinks this scan, so the fan-out
    # would exchange the ENTIRE table full-width (the disjunct predicates
    # need qty + price + discount) for one cheap probe per row — r10 A/B:
    # plain 1.065 vs fanout 5.376 s at sf1 (-80%). Contrast q14, where the
    # pushed shipdate filter shrinks the scan ~24x BEFORE the fan-out
    # exchange and the fan-out measurably wins (0.986 vs 1.148).
    li = _t_shuffle_input(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    qty = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 5)) & qty.between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size").between(1, 10)) & qty.between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size").between(1, 15)) & qty.between(20, 30))
    )
    return (
        li.join(_gated_dim(part, sf_dir, "part"), li.l_partkey == part.p_partkey)
        .where(cond)
        .agg(F.sum(_revenue()).alias("revenue"), F.count(F.lit(1)).alias("n_rows"))
    )


_SQL_Q19 = f"""
SELECT sum({_REV_SQL}) AS revenue, count(*) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""


# ---------------------------------------------------------------------------
# q21_waiting_suppliers — TPC-H Q21 shape: suppliers who were the sole late
# shipper on a multi-supplier finalized order. The textbook EXISTS / NOT
# EXISTS self-join pair collapses into one per-order aggregate.
# ---------------------------------------------------------------------------

def _q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shuffle-bound facts (q3/q5 class): plain loaders
    orders = _t_shuffle_input(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    li = _t_shuffle_input(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    tagged = li.join(orders, li.l_orderkey == orders.o_orderkey).withColumn(
        "late", F.col("l_shipdate") > F.col("o_orderdate")
    )
    # Manual two-level aggregate instead of two countDistinct()s: Spark
    # plans multi-distinct as an Expand that triplicates the join output
    # before aggregating. Grouping by (o_orderkey, l_suppkey) first needs
    # no Expand AND no extra shuffle — the join output is already hash-
    # partitioned on o_orderkey, a subset of both grouping keys, so both
    # levels reuse that exchange. r10 interleaved A/B (sf1: 3.215 vs
    # 6.108 s, -47%; sf0.1: 1.028 vs 1.293, -20%; identical results) —
    # this was most of q21's 4.72x sf1 scaling pin.
    per_pair = tagged.groupBy("o_orderkey", "l_suppkey").agg(
        F.max(F.col("late")).alias("any_late")
    )
    per_order = per_pair.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("n_supps"),
        F.sum(F.col("any_late").cast("long")).alias("n_late_supps"),
        F.min(F.when(F.col("any_late"), F.col("l_suppkey"))).alias("late_supp"),
    )
    waiting = per_order.where((F.col("n_supps") > 1) & (F.col("n_late_supps") == 1))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        waiting.join(_gated_dim(supp, sf_dir, "supplier"), F.col("late_supp") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


_SQL_Q21 = """
WITH per_order AS (
  SELECT o_orderkey,
    count(DISTINCT l_suppkey) AS n_supps,
    count(DISTINCT CASE WHEN l_shipdate > o_orderdate THEN l_suppkey END) AS n_late_supps,
    min(CASE WHEN l_shipdate > o_orderdate THEN l_suppkey END) AS late_supp
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY o_orderkey)
SELECT s_name, count(*) AS numwait
FROM per_order JOIN supplier ON late_supp = s_suppkey
WHERE n_supps > 1 AND n_late_supps = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# q22_idle_customers — TPC-H Q22 shape without phone codes: customers above
# the average positive balance with no orders since 2000 (anti-join + scalar
# threshold, compared multiplicatively so decimals stay exact)
# ---------------------------------------------------------------------------

def _q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    # orders feeds the o_custkey anti-join shuffle — plain loader
    orders = _t_shuffle_input(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast(TS)
    ).select("o_custkey")
    pos = cust.where(F.col("c_acctbal") > 0)
    thr = pos.agg(
        F.sum(F.col("c_acctbal").cast(DEC)).alias("sum_bal"),
        F.count(F.lit(1)).alias("n_pos"),
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .join(F.broadcast(thr))
        .where(F.col("c_acctbal").cast(DEC) * F.col("n_pos") > F.col("sum_bal"))
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast(DEC)).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


_SQL_Q22 = f"""
WITH thr AS (
  SELECT sum(CAST(c_acctbal AS {DEC})) AS sum_bal, count(*) AS n_pos
  FROM customer WHERE c_acctbal > 0)
SELECT c_nationkey, count(*) AS numcust, sum(CAST(c_acctbal AS {DEC})) AS totacctbal
FROM customer, thr
WHERE CAST(c_acctbal AS {DEC}) * n_pos > sum_bal
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


# ---------------------------------------------------------------------------
# q20_heavy_shippers — TPC-H Q20 shape without partsupp: suppliers that
# shipped more than 0.5% of any STANDARD part's total shipped quantity
# (nested aggregate → semi-join chain)
# ---------------------------------------------------------------------------

def _q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").where(F.col("p_type") == "STANDARD").select("p_partkey")
    # plain lineitem: the (l_partkey, l_suppkey) groupBy after the semi
    # probe reduces only a few-fold, so the scan is shuffle-bound — r10
    # A/B: plain 2.461 vs fanout 2.802 s at sf1 (-12%, fully separated
    # samples: plain max 2.698 < fanout min 2.712)
    li = _t_shuffle_input(spark, sf_dir, "lineitem").join(
        _gated_dim(part, sf_dir, "part"), F.col("l_partkey") == F.col("p_partkey"), "left_semi"
    ).select("l_partkey", "l_suppkey", F.col("l_quantity").cast(QTY).alias("qty"))
    per_ps = li.groupBy("l_partkey", "l_suppkey").agg(F.sum("qty").alias("supp_qty"))
    per_part = li.groupBy(F.col("l_partkey").alias("pp_partkey")).agg(
        F.sum("qty").alias("part_qty")
    )
    heavy = (
        # per-partkey aggregate → |part|-bounded cardinality, part is the proxy
        per_ps.join(_gated_dim(per_part, sf_dir, "part"), F.col("l_partkey") == F.col("pp_partkey"))
        .where(F.col("supp_qty") * 200 > F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    supp = _t(spark, sf_dir, "supplier")
    return (
        supp.join(heavy, supp.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


_SQL_Q20 = f"""
WITH li AS (
  SELECT l_partkey, l_suppkey, CAST(l_quantity AS {QTY}) AS qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'STANDARD'),
per_ps AS (
  SELECT l_partkey, l_suppkey, sum(qty) AS supp_qty FROM li GROUP BY l_partkey, l_suppkey),
per_part AS (
  SELECT l_partkey AS pp_partkey, sum(qty) AS part_qty FROM li GROUP BY l_partkey)
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT DISTINCT l_suppkey FROM per_ps JOIN per_part ON l_partkey = pp_partkey
  WHERE supp_qty * 200 > part_qty)
ORDER BY s_suppkey
"""


QUERIES = [
    QuerySpec("q2_min_acctbal_supplier", _q2, _SQL_Q2),
    QuerySpec("q4_order_priority", _q4, _SQL_Q4),
    QuerySpec("q7_volume_shipping", _q7, _SQL_Q7),
    QuerySpec("q8_market_share", _q8, _SQL_Q8),
    QuerySpec("q9_product_profit", _q9, _SQL_Q9),
    QuerySpec("q11_important_value", _q11, _SQL_Q11),
    QuerySpec("q12_priority_lines", _q12, _SQL_Q12),
    QuerySpec("q13_customer_distribution", _q13, _SQL_Q13),
    QuerySpec("q16_supplier_variety", _q16, _SQL_Q16),
    QuerySpec("q17_small_quantity_revenue", _q17, _SQL_Q17),
    QuerySpec("q19_disjunctive_revenue", _q19, _SQL_Q19),
    QuerySpec("q20_heavy_shippers", _q20, _SQL_Q20),
    QuerySpec("q21_waiting_suppliers", _q21, _SQL_Q21),
    QuerySpec("q22_idle_customers", _q22, _SQL_Q22),
]
