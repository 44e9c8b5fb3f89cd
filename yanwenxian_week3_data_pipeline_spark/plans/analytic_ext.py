"""EXT analytic breadth, batch 2 (SURVEY.md §2.10): grouping sets,
percentiles/median, exact cross-engine moment statistics, pivot/unpivot,
deterministic hash sampling, correlated/scalar subqueries, ntile quartiles,
rolling range-frame windows, full outer joins, and a bucketized
point-in-interval range join.

Cross-engine determinism rules used throughout (the reason every query here
carries a DuckDB oracle):

- money/measure sums go through DECIMAL — exact, order-independent under
  parallel reduction;
- moment statistics (variance/stddev/corr) are computed from DECIMAL power
  sums, combined in double with the *identical* expression tree on both
  engines — IEEE 754 ops are exactly specified, so identical inputs +
  identical association order = bit-identical results;
- interpolated percentiles are rounded to 4 decimals (the one place the two
  engines' internal float association may differ in the last bit);
- sampling is hash-based (shared md5 recipe, functions/hashing.py), never
  ``TABLESAMPLE``/``rand()`` — reproducible across engines, runs, and
  cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..functions.hashing import hash60_expr, hash60_sql
from . import QuerySpec
from .relational import _t, _t_shuffle_input

DEC = "decimal(18,2)"
# Moment sums: inputs cast to (25,6). Width >19 forces DuckDB's product
# onto int128 at (38,12) — at (18,6) it binds the product to int64 DECIMAL
# (18,12) and overflows at runtime. Spark's product lands on (38,6)
# (precision-loss scale adjustment). Both are exact for these inputs (true
# product scale ≤ 4), so the double casts downstream are bit-identical.
DEC6 = "decimal(25,6)"


# ---------------------------------------------------------------------------
# groupby_grouping_sets — explicit GROUPING SETS (finer than rollup/cube):
# (status, priority) detail, (status) subtotal, () grand total, with
# GROUPING() flags to disambiguate subtotal rows from real NULL groups.
# ---------------------------------------------------------------------------

_GROUPING_SETS_SQL = f"""
SELECT o_orderstatus, o_orderpriority,
  GROUPING(o_orderstatus) AS g_status, GROUPING(o_orderpriority) AS g_priority,
  count(*) AS n_orders,
  sum(CAST(o_totalprice AS {DEC})) AS total_price
FROM {{orders}}
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


def _q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SQL-direct over the parquet scan: grouping sets are a SQL-surface
    # feature; Catalyst expands them into a single Expand + one aggregate
    # (one scan, one shuffle — not one scan per set).
    return spark.sql(
        _GROUPING_SETS_SQL.format(orders=f"parquet.`{sf_dir}/orders.parquet`")
    )


_SQL_GROUPING_SETS = _GROUPING_SETS_SQL.format(orders="orders")


# ---------------------------------------------------------------------------
# agg_percentiles — exact interpolated percentiles + median per return flag.
# ---------------------------------------------------------------------------

def _q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.percentile(q, F.lit(0.25)), 4).alias("p25_qty"),
            F.round(F.median(q), 4).alias("median_qty"),
            F.round(F.percentile(q, F.lit(0.75)), 4).alias("p75_qty"),
            F.round(F.percentile(F.col("l_extendedprice"), F.lit(0.95)), 4).alias("p95_price"),
        )
    )


_SQL_PERCENTILES = """
SELECT l_returnflag,
  round(quantile_cont(l_quantity, 0.25), 4) AS p25_qty,
  round(median(l_quantity), 4) AS median_qty,
  round(quantile_cont(l_quantity, 0.75), 4) AS p75_qty,
  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price
FROM lineitem GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# agg_stats_moments — stddev / variance / correlation per order status,
# from exact DECIMAL power sums (see module docstring). The built-in
# stddev/corr aggregates are NOT used: their partial-merge order differs
# between engines (and between runs under AQE), so their double output is
# not reproducible. Power sums in DECIMAL are.
# ---------------------------------------------------------------------------

def _q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast(DEC6)
    y = F.col("l_extendedprice").cast(DEC6)
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    var_x = (sxx - (sx * sx) / n) / (n - F.lit(1.0))
    var_y = (syy - (sy * sy) / n) / (n - F.lit(1.0))
    cov = (sxy - (sx * sy) / n) / (n - F.lit(1.0))
    # Outputs are rounded because the two engines' DECIMAL→DOUBLE casts
    # differ in the last ulp (DuckDB divides the int128 by 10^scale in
    # float — not correctly rounded; Java BigDecimal is). The decimal sums
    # themselves are bit-identical — verified; rounding absorbs only the
    # cast noise (~1e-10 relative).
    return sums.select(
        "l_returnflag",
        n.cast("long").alias("n_rows"),
        F.round(var_x, 6).alias("var_qty"),
        F.round(F.sqrt(var_x), 6).alias("stddev_qty"),
        F.round(cov, 4).alias("covar_qty_price"),
        F.round(cov / (F.sqrt(var_x) * F.sqrt(var_y)), 8).alias("corr_qty_price"),
    )


_SQL_STATS_MOMENTS = f"""
WITH sums AS (
  SELECT l_returnflag,
    CAST(count(*) AS DOUBLE) AS n,
    CAST(sum(CAST(l_quantity AS {DEC6})) AS DOUBLE) AS sx,
    CAST(sum(CAST(l_extendedprice AS {DEC6})) AS DOUBLE) AS sy,
    CAST(sum(CAST(l_quantity AS {DEC6}) * CAST(l_quantity AS {DEC6})) AS DOUBLE) AS sxx,
    CAST(sum(CAST(l_extendedprice AS {DEC6}) * CAST(l_extendedprice AS {DEC6})) AS DOUBLE) AS syy,
    CAST(sum(CAST(l_quantity AS {DEC6}) * CAST(l_extendedprice AS {DEC6})) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
  CAST(n AS BIGINT) AS n_rows,
  round((sxx - (sx * sx) / n) / (n - 1.0), 6) AS var_qty,
  round(sqrt((sxx - (sx * sx) / n) / (n - 1.0)), 6) AS stddev_qty,
  round((sxy - (sx * sy) / n) / (n - 1.0), 4) AS covar_qty_price,
  round(((sxy - (sx * sy) / n) / (n - 1.0))
    / (sqrt((sxx - (sx * sx) / n) / (n - 1.0)) * sqrt((syy - (sy * sy) / n) / (n - 1.0))), 8) AS corr_qty_price
FROM sums
"""


# ---------------------------------------------------------------------------
# pivot_status_revenue — groupBy().pivot() with the value list pinned
# (pinning skips the extra distinct-scan job AND makes the schema stable —
# a requirement for production tables; never let pivot infer at scale).
# ---------------------------------------------------------------------------

_STATUSES = ["F", "O", "P"]


def _q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    piv = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", _STATUSES)
        .agg(F.sum(F.col("o_totalprice").cast(DEC)))
    )
    return piv.select(
        "o_orderpriority",
        *[F.col(s).alias(f"total_{s}") for s in _STATUSES],
    )


_SQL_PIVOT = f"""
SELECT o_orderpriority,
  sum(CAST(o_totalprice AS {DEC})) FILTER (o_orderstatus = 'F') AS total_F,
  sum(CAST(o_totalprice AS {DEC})) FILTER (o_orderstatus = 'O') AS total_O,
  sum(CAST(o_totalprice AS {DEC})) FILTER (o_orderstatus = 'P') AS total_P
FROM orders GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# unpivot_charge_components — melt the three charge columns into
# (measure, value) rows; wide→long is the lakehouse normalization step.
# ---------------------------------------------------------------------------

def _q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=["l_returnflag"],
        values=["l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="value",
    )
    return long.groupBy("l_returnflag", "measure").agg(
        F.sum(F.col("value").cast(DEC6)).alias("total"),
        F.count(F.lit(1)).alias("n"),
    )


_SQL_UNPIVOT = f"""
WITH long AS (
  SELECT l_returnflag, 'l_extendedprice' AS measure, l_extendedprice AS value FROM lineitem
  UNION ALL SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
  UNION ALL SELECT l_returnflag, 'l_tax', l_tax FROM lineitem
)
SELECT l_returnflag, measure, sum(CAST(value AS {DEC6})) AS total, count(*) AS n
FROM long GROUP BY l_returnflag, measure
"""


# ---------------------------------------------------------------------------
# sample_hash_orders — deterministic 5 % sample: hash-mod on the key, not
# TABLESAMPLE/rand(). Reproducible across engines, runs, retries, and
# cluster sizes — the property a training-data pipeline needs for
# train/held-out splits and debugging at 100 TB.
# ---------------------------------------------------------------------------

def _q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    keep = (hash60_expr(F.col("o_orderkey").cast("string")) % 100) < 5
    return (
        orders.where(keep)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum(F.col("o_totalprice").cast(DEC)).alias("sampled_price"),
        )
    )


_SQL_SAMPLE_HASH = f"""
SELECT o_orderstatus, count(*) AS n_sampled,
  sum(CAST(o_totalprice AS {DEC})) AS sampled_price
FROM orders
WHERE ({hash60_sql("CAST(o_orderkey AS VARCHAR)")} % 100) < 5
GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# subq_exists_big_open_order — correlated EXISTS (decorrelated by Catalyst
# into a semi join — verify with .explain; it must NOT be a per-row
# subquery execution).
# ---------------------------------------------------------------------------

_EXISTS_SQL = """
SELECT c_mktsegment, count(*) AS n_customers
FROM {customer} c
WHERE EXISTS (
  SELECT 1 FROM {orders} o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O' AND o.o_totalprice > 300000
)
GROUP BY c_mktsegment
"""


def _q_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _EXISTS_SQL.format(
            customer=f"parquet.`{sf_dir}/customer.parquet`",
            orders=f"parquet.`{sf_dir}/orders.parquet`",
        )
    )


_SQL_EXISTS = _EXISTS_SQL.format(customer="customer", orders="orders")


# ---------------------------------------------------------------------------
# subq_scalar_above_avg — scalar subquery (the average is one broadcast
# scalar, not a rescan per row).
# ---------------------------------------------------------------------------

_SCALAR_SQL = f"""
SELECT o_orderpriority, count(*) AS n_above_avg,
  sum(CAST(o_totalprice AS {{dec}})) AS total_above_avg
FROM {{orders}}
WHERE CAST(o_totalprice AS {{dec}}) > (SELECT avg(CAST(o_totalprice AS {{dec}})) FROM {{orders}})
GROUP BY o_orderpriority
"""


def _q_scalar_subq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _SCALAR_SQL.format(orders=f"parquet.`{sf_dir}/orders.parquet`", dec=DEC)
    )


_SQL_SCALAR_SUBQ = _SCALAR_SQL.format(orders="orders", dec=DEC)


# ---------------------------------------------------------------------------
# window_ntile_quartiles — ntile(4) wealth quartiles per market segment.
# Order is made total (acctbal, custkey) so quartile assignment is
# deterministic — ntile over a partial order is not reproducible.
# ---------------------------------------------------------------------------

def _q_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        cust.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("c_mktsegment", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min(F.col("c_acctbal").cast(DEC)).alias("min_bal"),
            F.max(F.col("c_acctbal").cast(DEC)).alias("max_bal"),
            # Exact 4-dp average, no float anywhere: balances are summed as
            # integer cents, the half-up division happens in integer
            # arithmetic, and the rescale is an exact decimal multiply.
            # (avg(DECIMAL) is NOT portable: DuckDB routes it through
            # double, Spark stays decimal — a group here landed exactly on
            # the x.xxxx5 boundary and the two paths rounded apart.)
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).alias("_s_cents"),
        )
        .withColumn(
            "avg_bal",
            F.expr(
                "CAST((CASE WHEN _s_cents >= 0 THEN 1 ELSE -1 END)"
                " * ((2 * abs(_s_cents) * 100 + n_customers) DIV (2 * n_customers))"
                " AS DECIMAL(18,0)) * CAST(0.0001 AS DECIMAL(5,4))"
            ),
        )
        .drop("_s_cents")
    )


_SQL_NTILE = f"""
WITH q AS (
  SELECT c_mktsegment, c_acctbal,
    ntile(4) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS quartile
  FROM customer
)
SELECT c_mktsegment, quartile, n_customers, min_bal, max_bal,
  CAST((CASE WHEN s_cents >= 0 THEN 1 ELSE -1 END)
    * ((2 * abs(s_cents) * 100 + n_customers) // (2 * n_customers))
    AS DECIMAL(18,0)) * CAST(0.0001 AS DECIMAL(5,4)) AS avg_bal
FROM (
  SELECT c_mktsegment, quartile, count(*) AS n_customers,
    min(CAST(c_acctbal AS {DEC})) AS min_bal,
    max(CAST(c_acctbal AS {DEC})) AS max_bal,
    sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS s_cents
  FROM q GROUP BY c_mktsegment, quartile
)
"""


# ---------------------------------------------------------------------------
# window_rolling_7d_spend — RANGE frame over event time: each order's
# trailing-7-day spend for its customer. RANGE (not ROWS) so same-timestamp
# peers aggregate identically on both engines; frame bounds are epoch
# seconds (Spark range frames need a numeric ordering column).
# ---------------------------------------------------------------------------

def _q_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    # first consumer is the o_custkey window shuffle — plain loader
    # (r9 window_topk A/B evidence: same shape, plain won at sf1)
    orders = _t_shuffle_input(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        # epoch seconds via pure NTZ arithmetic (timestampdiff from the NTZ
        # epoch), NEVER a cast through TIMESTAMP: that cast interprets the
        # naive value in the SESSION zone, and a DST transition inside a
        # 7-day window then stretches the shifted epochs by an hour —
        # boundary orders flip in or out depending on the zone (caught by
        # the America/New_York sweep at 1997-10-26, the US DST end).
        .orderBy(
            F.expr(
                "timestampdiff(SECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', o_orderdate)"
            )
        )
        .rangeBetween(-7 * 86400, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast(DEC)).over(w).alias("spend_7d"),
        F.count(F.lit(1)).over(w).alias("n_orders_7d"),
    )


_SQL_ROLLING_7D = f"""
SELECT o_custkey, o_orderkey, o_orderdate,
  sum(CAST(o_totalprice AS {DEC})) OVER w AS spend_7d,
  count(*) OVER w AS n_orders_7d
FROM orders
WINDOW w AS (
  PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
  RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW
)
"""


# ---------------------------------------------------------------------------
# join_full_outer_nation_activity — customers vs suppliers per nation;
# both sides pre-aggregated so the outer join is tiny (aggregate-then-join
# beats join-then-aggregate by the fact-table row count).
# ---------------------------------------------------------------------------

def _q_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    supp = _t(spark, sf_dir, "supplier").groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers")
    )
    joined = cust.join(supp, cust.c_nationkey == supp.s_nationkey, "full_outer")
    return joined.select(
        F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )


_SQL_FULL_OUTER = """
WITH c AS (SELECT c_nationkey, count(*) AS n_customers FROM customer GROUP BY c_nationkey),
     s AS (SELECT s_nationkey, count(*) AS n_suppliers FROM supplier GROUP BY s_nationkey)
SELECT coalesce(c_nationkey, s_nationkey) AS nationkey,
  coalesce(n_customers, 0) AS n_customers,
  coalesce(n_suppliers, 0) AS n_suppliers
FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey
"""


# ---------------------------------------------------------------------------
# join_range_views_before_purchase — bucketized point-in-interval join:
# views in the hour before each purchase (operators/rangejoin.py).
# ---------------------------------------------------------------------------

def _q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rangejoin import point_in_interval_join
    from ..sources.tables import load_events

    ev = load_events(spark, sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("win_start"),
        F.col("ts").alias("win_end"),
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts")
    )
    pairs = point_in_interval_join(
        purchases,
        views,
        by="user_id",
        left_start="win_start",
        left_end="win_end",
        right_point="view_ts",
        bucket_seconds=3600,
        how="left",
        left_id="purchase_id",
    )
    return pairs.groupBy("user_id", "purchase_id").agg(
        F.count("view_ts").alias("n_views_1h")
    )


_SQL_RANGE_JOIN = """
SELECT p.user_id, p.event_id AS purchase_id, count(v.ts) AS n_views_1h
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND v.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
GROUP BY p.user_id, p.event_id
"""


# ---------------------------------------------------------------------------
# agg_salted_event_type — skew-mitigation demo: events has only 5 event
# types, the worst-case aggregation-key skew (5 hot keys vs 32 reducers).
# Salted two-stage aggregation (operators/salt.py) spreads each key over
# hash-of-row salt buckets; results are identical to the plain groupBy —
# which is exactly what the oracle checks. Sums go through DECIMAL so the
# extra combine stage cannot change the value (double sums are
# order-dependent; decimal sums are exact).
# ---------------------------------------------------------------------------

def _q_salted_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.salt import salted_agg
    from ..sources.tables import load_events

    ev = load_events(spark, sf_dir)
    return salted_agg(
        ev.select("event_type", F.col("value").cast(DEC6).alias("value")),
        keys=["event_type"],
        sum_cols={"total_value": F.col("value")},
        count_alias="n_events",
    )


_SQL_SALTED_EVENTS = f"""
SELECT event_type, count(*) AS n_events,
  sum(CAST(value AS {DEC6})) AS total_value
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# join_salted_user_nations — skewed-JOIN salting (operators/salt.py
# salted_join): the fact side joins customer enrichment on (user_id, salt)
# after replicating the dimension across salt buckets, so a hot user's
# events spread over salt_buckets reducers instead of one. Here customer
# would normally broadcast — the query deliberately exercises the salted
# path for the regime where the enrichment side exceeds broadcast but a
# single key dominates the fact side (AQE's skew split handles oversized
# partitions, not one oversized key). Equality with the plain join is the
# oracle check.
# ---------------------------------------------------------------------------

def _q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.salt import salted_join
    from ..sources.tables import load_events

    ev = load_events(spark, sf_dir).select("user_id", F.col("value").cast(DEC6).alias("value"))
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    return (
        salted_join(ev, dim, on="user_id", salt_buckets=8)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
    )


_SQL_SALTED_JOIN = f"""
SELECT c_nationkey, count(*) AS n_events,
  sum(CAST(value AS {DEC6})) AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_nationkey
"""


# ---------------------------------------------------------------------------
# join_auto_skew_hot_orders — the GUARDED skew path (operators/salt.py
# auto_skew_join): a seeded key-histogram sample decides between the plain
# join and salted_join. The fact side folds every even orderkey onto key 0
# (≈50% hot — well past the 20% threshold, so the salted branch is chosen
# automatically); the dim side is the distinct folded keys. Equality with
# the plain-join SQL is the oracle check, which holds on either branch.
# ---------------------------------------------------------------------------

def _q_auto_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.salt import auto_skew_join

    hot = F.when(F.col("l_orderkey") % 2 == 0, F.lit(0)).otherwise(F.col("l_orderkey"))
    # both facts feed key shuffles after trivial projections — plain loaders
    fact = _t_shuffle_input(spark, sf_dir, "lineitem").select(
        hot.alias("jk"), F.col("l_extendedprice").cast(DEC6).alias("price")
    )
    dim_key = F.when(F.col("o_orderkey") % 2 == 0, F.lit(0)).otherwise(F.col("o_orderkey"))
    dim = (
        _t_shuffle_input(spark, sf_dir, "orders")
        .select(dim_key.alias("jk"))
        .distinct()
        .withColumn("bucket", F.pmod(F.col("jk"), F.lit(10)))
    )
    return (
        auto_skew_join(fact, dim, on="jk", salt_buckets=8)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("price").alias("total_price"))
    )


_SQL_AUTO_SKEW_JOIN = f"""
WITH fact AS (
  SELECT CASE WHEN l_orderkey % 2 = 0 THEN 0 ELSE l_orderkey END AS jk,
         CAST(l_extendedprice AS {DEC6}) AS price
  FROM lineitem
), dim AS (
  SELECT DISTINCT CASE WHEN o_orderkey % 2 = 0 THEN 0 ELSE o_orderkey END AS jk
  FROM orders
)
SELECT jk % 10 AS bucket, count(*) AS n_rows, sum(price) AS total_price
FROM fact JOIN dim USING (jk)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# profile_lineitem — one-pass table profiler (operators/profile.py): per
# column null count, distinct count, min/max, from a SINGLE scan of the
# table (the reference's completeness report, cleaner.py:193-202,
# generalized). Floating min/max go through DECIMAL(18,6) so both engines
# render identically.
# ---------------------------------------------------------------------------

_PROFILE_FLOATS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
_PROFILE_COLS = (
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate",
)


def _q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import profile_table

    return profile_table(_t(spark, sf_dir, "lineitem"), list(_PROFILE_COLS))


def _profile_branch_sql(c: str) -> str:
    s = f"CAST({c} AS DECIMAL(18,6))" if c in _PROFILE_FLOATS else c
    return (
        f"SELECT count(*) AS n_rows, '{c}' AS column_name, count({c}) AS n_nonnull, "
        f"count(DISTINCT {c}) AS n_distinct, CAST(min({s}) AS VARCHAR) AS min_str, "
        f"CAST(max({s}) AS VARCHAR) AS max_str FROM lineitem"
    )


_SQL_PROFILE = " UNION ALL ".join(_profile_branch_sql(c) for c in _PROFILE_COLS)


# ---------------------------------------------------------------------------
# agg_hll_partial_union — sketch REUSE: per-nation HLL sketches of the
# customer set, merged upward to nations-total without rescanning the
# table. The production pattern at 100 TB: persist the binary sketch per
# partition/day, answer rollups by unioning sketches. The estimate itself
# is engine-specific (Apache DataSketches here), so the checked output is
# the exact distinct count plus a boolean asserting the merged estimate
# landed within bound — the oracle returns the exact count and literal true.
# ---------------------------------------------------------------------------

def _q_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    per_nation = cust.groupBy("c_nationkey").agg(
        F.hll_sketch_agg("c_custkey").alias("sk"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    merged = per_nation.agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.sum("n_rows").alias("n_customers"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
    )
    exact = cust.agg(F.countDistinct("c_custkey").alias("exact_distinct_custkeys"))
    err = F.abs(F.col("est") - F.col("exact_distinct_custkeys")) / F.col(
        "exact_distinct_custkeys"
    )
    return merged.crossJoin(exact).select(
        "n_nations",
        "n_customers",
        "exact_distinct_custkeys",
        # lgK=12 → rsd ≈ 1.6%; ±5% is ~3 sigma, a deterministic pass for a
        # correct union of sketches — which makes the merge oracle-checkable
        (err <= F.lit(0.05)).alias("hll_within_bound"),
    )


# ---------------------------------------------------------------------------
# events_retention_cohorts — cohort analysis: users grouped by first-seen
# week, activity counted per weeks-since-cohort. Two shuffles: the per-user
# first-seen aggregate (150 rows -> broadcast back) and the final cohort
# groupBy. The fact table never shuffles on a wide key.
# ---------------------------------------------------------------------------

def _q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_events

    ev = load_events(spark, sf_dir).select("user_id", F.to_date("ts").alias("d"))
    first_seen = ev.groupBy("user_id").agg(F.min("d").alias("first_d"))
    return (
        ev.join(F.broadcast(first_seen), "user_id")
        .select(
            # timestamp_ntz, not DATE: a DATE column leaves Spark's toPandas
            # as datetime.date ('2024-01-01') but DuckDB's .df() as
            # datetime64 ('2024-01-01 00:00:00') — the pandas-normalized
            # hash can only agree on timestamps
            F.date_trunc("week", F.col("first_d")).cast("timestamp_ntz").alias("cohort_week"),
            # floor, not a bare int cast: Spark casts double->int by truncation
            # while DuckDB rounds; floor() agrees everywhere
            F.floor(F.datediff(F.col("d"), F.col("first_d")) / 7).cast("int").alias("weeks_since"),
            "user_id",
        )
        .groupBy("cohort_week", "weeks_since")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .orderBy("cohort_week", "weeks_since")
    )


_SQL_RETENTION = """
WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
first_seen AS (SELECT user_id, min(d) AS first_d FROM ev GROUP BY user_id)
SELECT CAST(date_trunc('week', first_d) AS TIMESTAMP) AS cohort_week,
  CAST(floor(date_diff('day', first_d, d) / 7) AS INT) AS weeks_since,
  count(DISTINCT ev.user_id) AS n_active
FROM ev JOIN first_seen ON ev.user_id = first_seen.user_id
GROUP BY cohort_week, weeks_since
ORDER BY cohort_week, weeks_since
"""


# ---------------------------------------------------------------------------
# events_funnel_conversion — ordered conversion funnel (signup -> view
# strictly after -> purchase strictly after) computed with ONE shuffle of
# the fact: running per-user window minima instead of three self-joins.
# ---------------------------------------------------------------------------

def _q_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_events

    ev = load_events(spark, sf_dir).select("user_id", "event_type", "ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    first_signup = F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w)
    staged = ev.withColumn("signup_ts", first_signup).withColumn(
        "conv_view",
        (F.col("event_type") == "view") & (F.col("signup_ts") < F.col("ts")),
    )
    staged = staged.withColumn(
        "conv_view_ts", F.min(F.when(F.col("conv_view"), F.col("ts"))).over(w)
    ).withColumn(
        "conv_purchase",
        (F.col("event_type") == "purchase") & (F.col("conv_view_ts") < F.col("ts")),
    )
    per_user = staged.groupBy("user_id").agg(
        F.max(F.col("event_type") == "signup").alias("s1"),
        F.max("conv_view").alias("s2"),
        F.max("conv_purchase").alias("s3"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.col("s1").cast("long")).alias("n_signup"),
        F.sum(F.col("s2").cast("long")).alias("n_view_after_signup"),
        F.sum(F.col("s3").cast("long")).alias("n_purchase_after_view"),
    )


_SQL_CONVERSION = """
WITH staged1 AS (
  SELECT user_id, event_type, ts,
    min(CASE WHEN event_type = 'signup' THEN ts END)
      OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS signup_ts
  FROM events),
staged2 AS (
  SELECT *, (event_type = 'view' AND signup_ts < ts) AS conv_view FROM staged1),
staged3 AS (
  SELECT *,
    min(CASE WHEN conv_view THEN ts END)
      OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conv_view_ts
  FROM staged2),
staged4 AS (
  SELECT *, (event_type = 'purchase' AND conv_view_ts < ts) AS conv_purchase FROM staged3),
per_user AS (
  SELECT user_id,
    max(event_type = 'signup') AS s1,
    max(conv_view) AS s2,
    max(conv_purchase) AS s3
  FROM staged4 GROUP BY user_id)
SELECT count(*) AS n_users,
  CAST(sum(CAST(s1 AS BIGINT)) AS BIGINT) AS n_signup,
  CAST(sum(CAST(s2 AS BIGINT)) AS BIGINT) AS n_view_after_signup,
  CAST(sum(CAST(s3 AS BIGINT)) AS BIGINT) AS n_purchase_after_view
FROM per_user
"""


# ---------------------------------------------------------------------------
# agg_kll_quantile_merge — two-phase approximate quantiles: a KLL sketch per
# order-priority group, merged into global p50/p90/p99. Same shape as the
# HLL partial union: at 100 TB the per-partition/day sketches persist and
# every rollup is a cheap sketch merge, never a re-scan. Sketch estimates
# are engine-specific, so the checked output is the exact percentiles plus
# per-quantile booleans asserting the sketch landed within a value
# tolerance — the oracle computes the exact quantiles and literal true.
# ---------------------------------------------------------------------------

def _q_kll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    per_group = orders.groupBy("o_orderpriority").agg(
        F.kll_sketch_agg_double("o_totalprice").alias("sk"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    merged = per_group.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("n_rows").alias("n_orders"),
        F.kll_merge_agg_double("sk").alias("sk"),
    )
    def q(p):
        return F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(p))

    exact = orders.agg(
        *[
            F.round(F.percentile("o_totalprice", F.lit(p)), 2).alias(f"exact_p{int(p*100)}")
            for p in (0.5, 0.9, 0.99)
        ]
    )

    def ok(p):
        # k=200 → ~1.65% rank error; on this smooth price distribution a
        # ±10% VALUE tolerance is many sigmas — deterministic pass for a
        # correct sketch merge, which is what makes the query checkable
        # (the sketch estimate itself is engine-specific)
        e = F.col(f"exact_p{int(p*100)}")
        return (F.abs(q(p) - e) / e <= F.lit(0.10)).alias(f"kll_p{int(p*100)}_ok")

    return merged.crossJoin(exact).select(
        "n_groups",
        "n_orders",
        "exact_p50",
        "exact_p90",
        "exact_p99",
        ok(0.5),
        ok(0.9),
        ok(0.99),
    )


_SQL_HLL_UNION = """
SELECT count(DISTINCT c_nationkey) AS n_nations,
  CAST(count(*) AS BIGINT) AS n_customers,
  count(DISTINCT c_custkey) AS exact_distinct_custkeys,
  true AS hll_within_bound
FROM customer
"""


_SQL_KLL_MERGE = """
SELECT count(DISTINCT o_orderpriority) AS n_groups,
  CAST(count(*) AS BIGINT) AS n_orders,
  round(quantile_cont(o_totalprice, 0.5), 2) AS exact_p50,
  round(quantile_cont(o_totalprice, 0.9), 2) AS exact_p90,
  round(quantile_cont(o_totalprice, 0.99), 2) AS exact_p99,
  true AS kll_p50_ok, true AS kll_p90_ok, true AS kll_p99_ok
FROM orders
"""


# ---------------------------------------------------------------------------
# events_gapfill_hourly — time-series resampling: the complete hourly spine
# from min(ts) to max(ts) left-joined with the observed hourly aggregates,
# zero-filling silent hours and flagging them. The resample step every
# monitoring/feature pipeline needs before windowed math (a rolling mean
# over only-observed hours is wrong when hours are missing). Scale shape:
# the spine is hours-sized (tiny regardless of event volume; 100 TB of
# events over a year is still ~8.8k spine rows), so the left join broadcasts
# the spine side against the already-aggregated hourly table.
# ---------------------------------------------------------------------------

_NTZ_EPOCH = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def _hour_ntz(c: F.Column) -> F.Column:
    """Hour truncation that PRESERVES timestamp_ntz: pure NTZ interval
    arithmetic (add back the whole hours since a fixed NTZ epoch).
    ``date_trunc`` would convert NTZ through the session zone (LTZ out) and
    shift with spark.sql.session.timeZone — caught by the VERIFY_TZ sweep;
    ``window(c,'1 hour').start`` is also NTZ-safe but only one window expr
    may appear per projection. timestampdiff truncates toward zero == floor
    for the post-1970 timestamps here."""
    epoch = F.expr(_NTZ_EPOCH)
    return F.timestamp_add("HOUR", F.timestamp_diff("HOUR", epoch, c), epoch)


def _q_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_events

    e = load_events(spark, sf_dir)
    hourly = e.groupBy(_hour_ntz(F.col("ts")).alias("h")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast(DEC)).alias("sum_value"),
    )
    bounds = e.agg(F.min("ts").alias("lo_ts"), F.max("ts").alias("hi_ts")).select(
        _hour_ntz(F.col("lo_ts")).alias("lo"), _hour_ntz(F.col("hi_ts")).alias("hi")
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
        ).alias("h")
    )
    return spine.join(hourly, "h", "left").select(
        F.col("h").alias("window_start"),
        F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
        F.coalesce(F.col("sum_value"), F.lit(0).cast(DEC)).alias("sum_value"),
        F.col("n_events").isNull().alias("was_gap"),
    )


_SQL_GAPFILL_HOURLY = """
WITH b AS (SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
           FROM events),
spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM b),
hourly AS (SELECT date_trunc('hour', ts) AS h, count(*) AS n_events,
                  sum(CAST(value AS DECIMAL(18,2))) AS sum_value
           FROM events GROUP BY 1)
SELECT s.h AS window_start,
       CAST(coalesce(n_events, 0) AS BIGINT) AS n_events,
       coalesce(sum_value, 0) AS sum_value,
       (hourly.h IS NULL) AS was_gap
FROM spine s LEFT JOIN hourly ON hourly.h = s.h
"""


# ---------------------------------------------------------------------------
# events_hourly_anomaly — trailing-window anomaly scores over the gap-filled
# hourly series: z-score of each hour's event count against the preceding
# 24 observed-spine hours. Mean/variance are derived from EXACT integer
# window sums (sum and sum-of-squares of counts), so the doubles on both
# engines come from identical integer inputs through the identical
# expression tree — bit-identical without rounding slack (the module-doc
# determinism rule for moments). The global orderBy window runs over the
# spine (hours), not the events, so one partition holds at most
# hours-per-epoch rows at any corpus size.
# ---------------------------------------------------------------------------

def _q_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    filled = _q_gapfill_hourly(spark, sf_dir).select(
        "window_start", "n_events"
    )
    w = Window.orderBy("window_start").rowsBetween(-24, -1)
    cnt = F.count(F.lit(1)).over(w)
    s1 = F.sum("n_events").over(w)
    s2 = F.sum(F.col("n_events") * F.col("n_events")).over(w)
    mean = s1.cast("double") / cnt
    var = (s2.cast("double") - s1.cast("double") * s1.cast("double") / cnt) / (
        cnt - 1
    )
    z = (F.col("n_events") - mean) / F.sqrt(var)
    out = (
        filled.select(
            "window_start",
            "n_events",
            cnt.alias("n_trailing"),
            mean.alias("_mean"),
            var.alias("_var"),
            z.alias("_z"),
        )
        .where(F.col("n_trailing") == 24)
        .select(
            "window_start",
            "n_events",
            F.round("_mean", 6).alias("trailing_mean"),
            F.when(F.col("_var") > 0, F.round("_z", 6)).alias("z_score"),
            F.when(F.col("_var") > 0, F.abs(F.col("_z")) > 3)
            .otherwise(F.lit(False))
            .alias("is_anomaly"),
        )
    )
    return out


_SQL_HOURLY_ANOMALY = f"""
WITH filled AS ({_SQL_GAPFILL_HOURLY}),
t AS (
  SELECT window_start, n_events,
         count(*) OVER w AS n_trailing,
         sum(n_events) OVER w AS s1,
         sum(n_events * n_events) OVER w AS s2
  FROM filled
  WINDOW w AS (ORDER BY window_start ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
z AS (
  SELECT window_start, n_events, n_trailing,
         CAST(s1 AS DOUBLE) / n_trailing AS m,
         (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_trailing)
           / (n_trailing - 1) AS v
  FROM t WHERE n_trailing = 24)
SELECT window_start, n_events,
       round(m, 6) AS trailing_mean,
       CASE WHEN v > 0 THEN round((n_events - m) / sqrt(v), 6) END AS z_score,
       CASE WHEN v > 0 THEN abs((n_events - m) / sqrt(v)) > 3 ELSE false END AS is_anomaly
FROM z
"""


# ---------------------------------------------------------------------------
# agg_heavy_hitters_mg — two-phase Misra-Gries heavy hitters: phase 1 runs
# the MG(k) summary INSIDE each partition via mapInPandas (no shuffle — the
# sketch is the whole point: a bounded k-entry dict per partition instead
# of a full groupBy of the key space); phase 2 exactly recounts only the
# tiny candidate set and keeps keys with frequency > n/k. Soundness: a key
# with global frequency > n/k must exceed n_p/k in at least one partition
# (pigeonhole), and MG(k) never evicts a key whose partition frequency
# exceeds n_p/k — so the candidate set provably contains every true heavy
# hitter and the exact recount makes the final answer sketch-independent
# (hence oracle-checkable even though phase 1 is approximate).
# ---------------------------------------------------------------------------

HH_K = 10


def _q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    ev = _t(spark, sf_dir, "events").select("event_type")

    def mg_partition(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for v in pdf["event_type"]:
                if v is None:
                    continue
                if v in counters:
                    counters[v] += 1
                elif len(counters) < HH_K - 1:
                    counters[v] = 1
                else:  # decrement-all step: evict zeros
                    counters = {k: c - 1 for k, c in counters.items() if c > 1}
        yield pd.DataFrame({"event_type": list(counters.keys())})

    cand = ev.mapInPandas(mg_partition, "event_type string").distinct()
    counted = (
        ev.join(F.broadcast(cand), "event_type")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    total = ev.agg(F.count(F.lit(1)).alias("_n"))
    return (
        counted.crossJoin(F.broadcast(total))
        .where(F.col("n_occurrences") * HH_K > F.col("_n"))
        .select(
            "event_type",
            "n_occurrences",
            F.round(F.col("n_occurrences") / F.col("_n"), 6).alias("frequency"),
        )
    )


_SQL_HEAVY_HITTERS = f"""
WITH c AS (SELECT event_type, count(*) AS n_occurrences FROM events
           WHERE event_type IS NOT NULL GROUP BY 1),
t AS (SELECT count(*) AS n FROM events)
SELECT event_type, n_occurrences,
       round(n_occurrences / n, 6) AS frequency
FROM c, t WHERE n_occurrences * {HH_K} > n
"""


# ---------------------------------------------------------------------------
# events_user_trend — per-user OLS trend (slope/intercept) of event value
# over time, from the five sufficient statistics (n, Σx, Σx², Σy, Σxy).
# Determinism (module-doc moments rule): x = whole epoch seconds since
# 2024-01-01 (exact long, floor of the event timestamp), y = value cast
# DECIMAL(18,2) (exact) — all five sums are exact integer/decimal
# aggregates, order-independent under parallel reduction; they are cast to
# double ONCE and slope/intercept evaluate the identical IEEE expression
# tree on both engines, so the doubles are bit-identical with no rounding
# slack. den = n·Σx² − (Σx)² ≥ 0 (Cauchy–Schwarz), and den > 0 filters the
# single-timestamp users whose slope is undefined.
#
# Scale: ONE map-side-partial groupBy on user_id — five narrow accumulators
# per user, never the raw rows. Σx² ≈ 7e12 per row at a 31-day epoch, so the
# DECIMAL(38,0) accumulator has ~1e25 rows of headroom per user.
#
# events_user_trend_pandas is the applyInPandas (grouped-map) twin: the SAME
# statistics computed with exact python int/Decimal arithmetic inside one
# pandas group — it pins the Arrow grouped-map API surface and shares the
# oracle. The expression form is the scale path: grouped-map must shuffle
# every raw row to its group and hold a whole user in memory at once; the
# aggregate form ships only partial sums.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# events_sliding_distinct_users — EXACT distinct users per sliding window
# (15 m span / 5 m slide): each event lands in 3 windows (explode of the
# window buckets), then count(DISTINCT) per window. Distinct-counting is
# the one aggregate partial aggregation can't compress (the Expand +
# two-phase distinct plan Spark generates is the right shape); the HLL
# variant for when exactness stops being worth the shuffle is
# agg_hll_partial_union. Window origin alignment with DuckDB time_bucket
# is the _SQL_SLIDING precedent (both origins are whole multiples of the
# slide).
# ---------------------------------------------------------------------------

def _q_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_events

    ev = load_events(spark, sf_dir).where(F.col("user_id").isNotNull())
    return (
        ev.select(F.window("ts", "15 minutes", "5 minutes").alias("w"), "user_id")
        .groupBy(F.col("w.start").alias("window_start"))
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


_SQL_SLIDING_DISTINCT = """
WITH expanded AS (
  SELECT time_bucket(INTERVAL '5 minutes', ts) - (k.k * INTERVAL '5 minutes') AS window_start,
         user_id
  FROM events, (SELECT unnest(range(0, 3)) AS k) k
  WHERE user_id IS NOT NULL)
SELECT window_start, count(DISTINCT user_id) AS n_users
FROM expanded GROUP BY 1
"""


# ---------------------------------------------------------------------------
# basket_part_pairs — market-basket co-occurrence: for every pair of parts
# appearing on the SAME order, support count and top-20 pairs. The
# self-join keys on l_orderkey, whose group size is bounded by lines-per-
# order (≤7 in TPC-H), so the pair blow-up is ≤ C(7,2) per order — a
# bounded quadratic, the only kind allowed at scale (same guard philosophy
# as the LSH bucket cap). Final top-k is TakeOrderedAndProject, total
# order (count desc, pair asc) for cross-engine determinism.
# Support semantics: TPC-H orders can carry the SAME part on multiple
# lines, so baskets are deduped to distinct (order, part) BEFORE the
# self-join — n_orders counts orders, not line combinations (the r4
# inflation bug; pinned by tests/test_analytic_new.py's pure-Python
# recount).
# ---------------------------------------------------------------------------

def _q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the distinct's partial dedup barely reduces (near-unique pairs), so the
    # first consumer is effectively a raw key shuffle — plain loader (r10
    # q18 A/B: the no-reduction partial-agg class loses 31% to the fan-out)
    li = _t_shuffle_input(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), F.asc("part_a"), F.asc("part_b"))
        .limit(20)
    )


_SQL_BASKET_PAIRS = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_orders
FROM li a JOIN li b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
ORDER BY n_orders DESC, part_a ASC, part_b ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# events_audience_overlap — pairwise Jaccard between event-type audiences
# (the segment-overlap matrix): distinct (type, user) pairs self-joined on
# user count |A∩B| per ordered type pair; |A∪B| = |A|+|B|−|A∩B| by
# inclusion-exclusion, so union never needs its own join. Scale shape: the
# self-join keys on user_id (audience membership lists are never
# collected), the per-type sizes broadcast back onto the tiny pair matrix,
# and the distinct() is the only corpus-sized shuffle. All-integer math +
# one rounded ratio.
# ---------------------------------------------------------------------------

def _q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_events

    ev = load_events(spark, sf_dir).where(
        F.col("event_type").isNotNull() & F.col("user_id").isNotNull()
    )
    m = ev.select("event_type", "user_id").distinct()
    sizes = m.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a, b = m.alias("a"), m.alias("b")
    inter = (
        a.join(b, F.col("a.user_id") == F.col("b.user_id"))
        .where(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("type_a"), F.col("b.event_type").alias("type_b")
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = F.broadcast(sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a")))
    sb = F.broadcast(sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b")))
    return (
        inter.join(sa, "type_a")
        .join(sb, "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            F.round(
                F.col("n_both") / (F.col("n_a") + F.col("n_b") - F.col("n_both")), 6
            ).alias("jaccard"),
        )
    )


_SQL_AUDIENCE_OVERLAP = """
WITH m AS (SELECT DISTINCT event_type, user_id FROM events
           WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
sizes AS (SELECT event_type, count(*) AS n FROM m GROUP BY event_type),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
  FROM m a JOIN m b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT type_a, type_b,
       CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
       CAST(n_both AS BIGINT) AS n_both,
       round(n_both / (sa.n + sb.n - n_both), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.event_type = type_a
JOIN sizes sb ON sb.event_type = type_b
"""


# ---------------------------------------------------------------------------
# join_null_safe_events — null-safe equality join (Spark ``eqNullSafe`` ↔
# SQL IS NOT DISTINCT FROM): two aggregates of the event stream keyed by a
# NULLABLE derived key ('error' events are key-nulled) are re-joined on the
# null-safe key, so the NULL group survives — a plain equi-join silently
# drops it (NULL = NULL is NULL), the classic bug when re-joining grouped
# frames on nullable keys. Planner note: a null-safe equality is still a
# HASH-JOINABLE key (Spark wraps it as Coalesce-keyed equality), not a
# nested-loop condition.
# ---------------------------------------------------------------------------

def _q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_events

    ev = load_events(spark, sf_dir).select(
        F.when(F.col("event_type") == "error", F.lit(None))
        .otherwise(F.col("event_type"))
        .alias("k"),
        "value",
    )
    left = ev.groupBy("k").agg(F.count(F.lit(1)).alias("n_events"))
    right = ev.groupBy("k").agg(F.sum(F.col("value").cast(DEC)).alias("total_value"))
    return (
        left.alias("l")
        .join(right.alias("r"), F.col("l.k").eqNullSafe(F.col("r.k")))
        .select(F.col("l.k").alias("event_type_key"), "n_events", "total_value")
    )


_SQL_NULL_SAFE_JOIN = f"""
WITH b AS (
  SELECT CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS k, value
  FROM events),
l AS (SELECT k, count(*) AS n_events FROM b GROUP BY k),
r AS (SELECT k, sum(CAST(value AS {DEC})) AS total_value FROM b GROUP BY k)
SELECT l.k AS event_type_key, n_events, total_value
FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
"""


# ---------------------------------------------------------------------------
# join_hint_shuffle_hash — explicit physical-strategy override: the same
# fact-fact join as the default plan, with a SHUFFLE_HASH hint on the
# smaller side. Why this matters at 100 TB: sort-merge (the default for
# non-broadcastable equi-joins) SORTS both shuffled sides; shuffle-hash
# builds an in-memory hash map from the smaller side per partition and
# streams the bigger side through it — cheaper whenever the build side fits
# per-partition memory, but Spark only auto-picks it under narrow
# conditions, so the hint is the production lever. Results are strategy-
# independent (pinned by the shared oracle); the plan shape is pinned by
# test_hinted_join_uses_shuffle_hash.
# ---------------------------------------------------------------------------

def _q_hint_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # both facts feed the hinted shuffle-hash join directly — plain loaders
    li = _t_shuffle_input(spark, sf_dir, "lineitem")
    orders = _t_shuffle_input(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    return (
        li.join(orders.hint("SHUFFLE_HASH"), li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_extendedprice").cast(DEC)).alias("gross_revenue"),
        )
    )


_SQL_HINT_SHUFFLE_HASH = f"""
SELECT o_orderpriority, count(*) AS n_lines,
  sum(CAST(l_extendedprice AS {DEC})) AS gross_revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


TREND_EPOCH = 1704067200  # 2024-01-01T00:00:00Z, the events fixture epoch

# Whole seconds since the fixture epoch as PURE NTZ arithmetic
# (timestampdiff on the NTZ column) — a cast through TIMESTAMP would shift
# with spark.sql.session.timeZone, and the driver's session conf is not
# ours to pin. Truncation (floor for the positive diffs here) matches
# DuckDB floor(epoch(ts)).
_TREND_X_EXPR = f"timestampdiff(SECOND, TIMESTAMP_NTZ '2024-01-01 00:00:00', ts)"


def _user_trend_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_events

    e = load_events(spark, sf_dir).where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    x = F.expr(_TREND_X_EXPR).cast("long").alias("x")
    return (
        e.select("user_id", x, F.col("value").cast(DEC).alias("y"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum(F.col("x").cast("decimal(20,0)") * F.col("x").cast("decimal(20,0)")).alias(
                "sxx"
            ),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )


def _trend_from_stats(st: DataFrame) -> DataFrame:
    nd = F.col("n").cast("double")
    sx, sxx = F.col("sx").cast("double"), F.col("sxx").cast("double")
    sy, sxy = F.col("sy").cast("double"), F.col("sxy").cast("double")
    den = nd * sxx - sx * sx
    slope = (nd * sxy - sx * sy) / den
    return (
        st.select(
            "user_id",
            F.col("n").alias("n_events"),
            den.alias("_den"),
            slope.alias("_slope"),
            ((sy - slope * sx) / nd).alias("intercept"),
        )
        .where(F.col("_den") > 0)
        .select(
            "user_id",
            "n_events",
            (F.col("_slope") * F.lit(3600.0)).alias("slope_per_hour"),
            "intercept",
        )
    )


def _q_user_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _trend_from_stats(_user_trend_stats(spark, sf_dir))


def _q_user_trend_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ..sources.tables import load_events

    e = load_events(spark, sf_dir).where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    grouped = e.select(
        "user_id",
        F.expr(_TREND_X_EXPR).cast("long").alias("x"),
        # keep the raw double; the group fn applies the same DECIMAL(18,2)
        # quantization exactly. Both Spark's cast(decimal) and DuckDB round
        # the SHORTEST DECIMAL REPR of the double (so 0.145 -> 0.15), not
        # its exact binary expansion (0.1449999...) — hence Decimal(repr(v)),
        # never Decimal(float(v)), or values like 2.675 diverge by a cent.
        F.col("value").alias("y"),
    )

    def trend(pdf: pd.DataFrame) -> pd.DataFrame:
        from decimal import ROUND_HALF_UP, Decimal

        cent = Decimal("0.01")
        xs = [int(v) for v in pdf["x"]]
        ys = [Decimal(repr(float(v))).quantize(cent, ROUND_HALF_UP) for v in pdf["y"]]
        n = len(xs)
        sx, sxx = sum(xs), sum(v * v for v in xs)
        sy = sum(ys, Decimal(0))
        sxy = sum((Decimal(x_) * y_ for x_, y_ in zip(xs, ys)), Decimal(0))
        nd, sxf, sxxf, syf, sxyf = float(n), float(sx), float(sxx), float(sy), float(sxy)
        den = nd * sxxf - sxf * sxf
        if not den > 0:
            return pd.DataFrame(
                {"user_id": [], "n_events": [], "slope_per_hour": [], "intercept": []}
            )
        slope = (nd * sxyf - sxf * syf) / den
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_events": [n],
                "slope_per_hour": [slope * 3600.0],
                "intercept": [(syf - slope * sxf) / nd],
            }
        )

    return grouped.groupBy("user_id").applyInPandas(
        trend, "user_id long, n_events long, slope_per_hour double, intercept double"
    )


_SQL_USER_TREND = f"""
WITH e AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) - {TREND_EPOCH} AS x,
         CAST(value AS DECIMAL(18,2)) AS y
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
s AS (
  SELECT user_id, count(*) AS n, CAST(count(*) AS DOUBLE) AS nd,
         CAST(sum(x) AS DOUBLE) AS sx,
         CAST(sum(CAST(x AS DECIMAL(20,0)) * CAST(x AS DECIMAL(20,0))) AS DOUBLE) AS sxx,
         CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x * y) AS DOUBLE) AS sxy
  FROM e GROUP BY user_id),
t AS (
  SELECT user_id, n, nd, sx, sxx, sy, sxy, nd * sxx - sx * sx AS den FROM s)
SELECT user_id, CAST(n AS BIGINT) AS n_events,
       ((nd * sxy - sx * sy) / den) * 3600.0 AS slope_per_hour,
       (sy - ((nd * sxy - sx * sy) / den) * sx) / nd AS intercept
FROM t WHERE den > 0
"""


# ---------------------------------------------------------------------------
# events_decayed_heavy_hitters — exponentially TIME-DECAYED frequency per
# event type (half-life 24 h, anchored at the corpus max timestamp): the
# streaming-analytics "what is hot NOW" counter, computed batch-exact.
# Age is a calendar-second difference of NTZ timestamps (timestampdiff /
# date_diff — no session-timezone epoch conversion anywhere, so the
# America/New_York sweep sees identical ages across DST boundaries, the
# r3 window_rolling_7d lesson). Each event contributes
# round(2^(-age/H)·1e6) as an INTEGER micro-weight, so the per-type mass
# is an integer sum — exact under any reduction order; libm enters only
# through pow, whose double output is rounded at 1e-6 grain (the house
# rule). Scale shape: one scan, a 1-row max-ts scalar crossJoin, one
# map-side-combinable groupBy.
# ---------------------------------------------------------------------------

_DECAY_HALFLIFE_S = 86400.0


def _q_decayed_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_events

    ev = load_events(spark, sf_dir).where(F.col("event_type").isNotNull())
    ref = ev.agg(F.max("ts").alias("ref"))
    # MICROsecond grain: second-grain timestampdiff TRUNCATES the
    # fractional part while DuckDB's date_diff counts boundary crossings
    # (measured: +0.3 micro-weight/event systematic drift); at micro
    # grain both engines count the exact integer difference
    w_micro = F.round(
        F.pow(
            F.lit(2.0),
            -F.expr("timestampdiff(MICROSECOND, ts, ref)")
            / F.lit(_DECAY_HALFLIFE_S * 1e6),
        )
        * 1e6,
        0,
    ).cast("long")
    return (
        ev.crossJoin(F.broadcast(ref))
        .select("event_type", w_micro.alias("w"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("w").alias("decayed_mass_micro"),
        )
        .select(
            "event_type",
            "n_events",
            "decayed_mass_micro",
            (F.col("decayed_mass_micro") / F.lit(1e6)).alias("decayed_mass"),
        )
    )


_SQL_DECAYED_HH = f"""
WITH ev AS (SELECT event_type, ts FROM events WHERE event_type IS NOT NULL),
ref AS (SELECT max(ts) AS ref FROM ev),
w AS (SELECT event_type,
             CAST(round(pow(2.0, -date_diff('microsecond', ts, ref)
                                 / ({_DECAY_HALFLIFE_S} * 1e6)) * 1e6, 0) AS BIGINT)
               AS w
      FROM ev, ref)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(w) AS BIGINT) AS decayed_mass_micro,
       CAST(sum(w) AS BIGINT) / 1e6 AS decayed_mass
FROM w GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# basket_frequent_triples — A-priori level-3 market-basket mining: 3-part
# itemsets co-occurring on >= 2 orders, with the classic A-priori prune —
# a triple is only COUNTED if all three of its sub-pairs are frequent, so
# the per-order triple enumeration (bounded: C(lines-per-order, 3) <= 35)
# is filtered against the BROADCAST frequent-pair set before any shuffle.
# At 100 TB the frequent-pair table is the (support-thresholded) bounded
# candidate state every production basket miner carries; the corpus-sized
# work stays one bounded-blowup self-join per level. Top-20 by (support
# DESC, triple ASC) via TakeOrderedAndProject.
# ---------------------------------------------------------------------------

_TRIPLE_MIN_SUP = 2


def _q_basket_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Dedupe to distinct (order, part) first: duplicate part lines within
    # one order would otherwise inflate every pair/triple count (r4 bug —
    # counts were line combinations, not order support). Pinned by the
    # independent pure-Python recount in tests/test_analytic_new.py.
    li = _t_shuffle_input(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b, c = li.alias("a"), li.alias("b"), li.alias("c")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("x"), F.col("b.l_partkey").alias("y")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= _TRIPLE_MIN_SUP)
        .select("x", "y")
        .localCheckpoint(eager=True)  # 3 prune consumers
    )
    triples = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .join(
            c,
            (F.col("a.l_orderkey") == F.col("c.l_orderkey"))
            & (F.col("b.l_partkey") < F.col("c.l_partkey")),
        )
        .select(
            F.col("a.l_orderkey").alias("okey"),
            F.col("a.l_partkey").alias("p1"),
            F.col("b.l_partkey").alias("p2"),
            F.col("c.l_partkey").alias("p3"),
        )
    )
    pr = F.broadcast(pairs)
    pruned = (
        triples.join(
            pr.select(F.col("x").alias("p1"), F.col("y").alias("p2")),
            ["p1", "p2"],
            "left_semi",
        )
        .join(
            pr.select(F.col("x").alias("p1"), F.col("y").alias("p3")),
            ["p1", "p3"],
            "left_semi",
        )
        .join(
            pr.select(F.col("x").alias("p2"), F.col("y").alias("p3")),
            ["p2", "p3"],
            "left_semi",
        )
    )
    return (
        pruned.groupBy("p1", "p2", "p3")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .where(F.col("n_orders") >= _TRIPLE_MIN_SUP)
        .orderBy(F.desc("n_orders"), F.asc("p1"), F.asc("p2"), F.asc("p3"))
        .limit(20)
    )


_SQL_BASKET_TRIPLES = f"""
WITH li AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
fp AS MATERIALIZED (
  SELECT a.l_partkey AS x, b.l_partkey AS y
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {_TRIPLE_MIN_SUP}),
t AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, c.l_partkey AS p3
  FROM li a
  JOIN li b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
  JOIN li c ON a.l_orderkey = c.l_orderkey
                 AND b.l_partkey < c.l_partkey
  WHERE EXISTS (SELECT 1 FROM fp
                WHERE x = a.l_partkey AND y = b.l_partkey)
    AND EXISTS (SELECT 1 FROM fp
                WHERE x = a.l_partkey AND y = c.l_partkey)
    AND EXISTS (SELECT 1 FROM fp
                WHERE x = b.l_partkey AND y = c.l_partkey))
SELECT p1, p2, p3, CAST(count(*) AS BIGINT) AS n_orders
FROM t GROUP BY 1, 2, 3 HAVING count(*) >= {_TRIPLE_MIN_SUP}
ORDER BY n_orders DESC, p1, p2, p3 LIMIT 20
"""


# ---------------------------------------------------------------------------
# recsys_item_item_topk — item-item collaborative filtering neighbors:
# cosine similarity over the implicit order-basket co-occurrence matrix,
# sim(i,j) = c_ij / sqrt(c_i * c_j) (the classic Sarwar et al. 2001
# item-kNN primitive). Anchors are the TOP-20 most co-purchased parts
# (deterministic TakeOrderedAndProject), each with its top-5 neighbors.
# Exactness: all counts integer; c_i*c_j < 2^53 so the sqrt and the one
# division are single correctly-rounded IEEE ops, bit-identical across
# engines (round-6 on output, the house rule). Scale shape: the pair
# aggregation is the bounded per-order quadratic (basket_part_pairs
# guard); anchor filter is a broadcast semi-join; the per-anchor top-5
# window rides the rank-limit pushdown.
# ---------------------------------------------------------------------------

_CF_ANCHORS = 20
_CF_NEIGHBORS = 5


def _q_item_item_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t_shuffle_input(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("i"), F.col("b.l_partkey").alias("j")
        )
        .agg(F.count(F.lit(1)).alias("c_ij"))
    )
    sym = pairs.unionAll(
        pairs.select(
            F.col("j").alias("i"), F.col("i").alias("j"), "c_ij"
        )
    )
    item_n = li.groupBy(F.col("l_partkey").alias("i")).agg(
        F.count(F.lit(1)).alias("c_i")
    )
    anchors = (
        sym.groupBy("i")
        .agg(F.sum("c_ij").alias("co_total"))
        .orderBy(F.desc("co_total"), F.asc("i"))
        .limit(_CF_ANCHORS)
        .select("i")
    )
    scored = (
        sym.join(F.broadcast(anchors), "i", "left_semi")
        .join(item_n, "i")
        .join(
            item_n.select(F.col("i").alias("j"), F.col("c_i").alias("c_j")),
            "j",
        )
        .select(
            "i",
            "j",
            "c_ij",
            F.round(
                F.col("c_ij")
                / F.sqrt((F.col("c_i") * F.col("c_j")).cast("double")),
                6,
            ).alias("sim"),
        )
    )
    from pyspark.sql.window import Window as _W

    w = _W.partitionBy("i").orderBy(F.desc("sim"), F.asc("j"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _CF_NEIGHBORS)
        .select("i", "j", "c_ij", "sim", F.col("rank").cast("int").alias("rank"))
    )


_SQL_ITEM_ITEM = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
p AS (SELECT a.l_partkey AS i, b.l_partkey AS j, CAST(count(*) AS BIGINT) AS c_ij
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2),
sym AS (SELECT i, j, c_ij FROM p UNION ALL SELECT j, i, c_ij FROM p),
n AS (SELECT l_partkey AS i, CAST(count(*) AS BIGINT) AS c_i FROM li GROUP BY 1),
anch AS (SELECT i FROM sym GROUP BY i
         ORDER BY sum(c_ij) DESC, i ASC LIMIT {_CF_ANCHORS}),
sc AS (
  SELECT sym.i, sym.j, sym.c_ij,
         round(sym.c_ij / sqrt(CAST(ni.c_i * nj.c_i AS DOUBLE)), 6) AS sim
  FROM sym SEMI JOIN anch ON sym.i = anch.i
  JOIN n ni ON ni.i = sym.i JOIN n nj ON nj.i = sym.j)
SELECT i, j, c_ij, sim, CAST(rank AS INT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY i ORDER BY sim DESC, j ASC) AS rank
      FROM sc)
WHERE rank <= {_CF_NEIGHBORS}
"""


# ---------------------------------------------------------------------------
# events_hll_rollup_daily — sketch-reuse HIERARCHY: per-day HLL sketches
# of the user set, merged upward to per-week estimates WITHOUT rescanning
# the fact table — the production pattern for distinct-count rollups at
# 100 TB (persist the day sketch, answer any coarser grain by union).
# Like agg_hll_partial_union, the sketch estimate is engine-specific, so
# the checked output per week is the exact distinct count plus a boolean
# asserting the merged estimate landed within ±5 % (≈3σ at lgK 12 — a
# deterministic pass for a correct union); the oracle emits the exact
# count and literal true.
# ---------------------------------------------------------------------------

def _q_hll_rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_events

    ev = load_events(spark, sf_dir).where(F.col("user_id").isNotNull())
    week = F.date_trunc("week", F.to_date("ts")).cast("timestamp_ntz")
    daily = ev.groupBy(
        week.alias("week"), F.to_date("ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    weekly = daily.groupBy("week").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
    )
    exact = ev.groupBy(week.alias("week")).agg(
        F.countDistinct("user_id").alias("exact_distinct_users")
    )
    err = F.abs(F.col("est") - F.col("exact_distinct_users")) / F.greatest(
        F.col("exact_distinct_users"), F.lit(1)
    )
    return (
        weekly.join(exact, "week")
        .select(
            "week",
            "n_days",
            "exact_distinct_users",
            (err <= F.lit(0.05)).alias("hll_within_bound"),
        )
        .orderBy("week")
    )


_SQL_HLL_ROLLUP = """
WITH e AS (SELECT CAST(date_trunc('week', CAST(ts AS DATE)) AS TIMESTAMP) AS week,
                  CAST(ts AS DATE) AS day, user_id
           FROM events WHERE user_id IS NOT NULL)
SELECT week, CAST(count(DISTINCT day) AS BIGINT) AS n_days,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct_users,
       true AS hll_within_bound
FROM e GROUP BY week ORDER BY week
"""


# ---------------------------------------------------------------------------
# events_funnel_timed — the conversion funnel with a DEADLINE on the last
# hop (view strictly after first signup; purchase strictly after the
# first qualifying view AND within 1 hour of it) — how product funnels
# are actually specified. Same one-shuffle running-window shape as
# events_funnel_conversion; the deadline is one extra predicate against
# the carried first-view timestamp. Semantics note: conversion is pinned
# to the FIRST qualifying view (the carried minimum), so a later view
# that would put a purchase inside the window does not count — the
# standard first-touch attribution rule.
# ---------------------------------------------------------------------------

FUNNEL_DEADLINE_MIN = 60


def _q_funnel_timed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_events

    ev = load_events(spark, sf_dir).select("user_id", "event_type", "ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    first_signup = F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w)
    staged = ev.withColumn("signup_ts", first_signup).withColumn(
        "conv_view",
        (F.col("event_type") == "view") & (F.col("signup_ts") < F.col("ts")),
    )
    deadline = F.col("conv_view_ts") + F.expr(
        f"INTERVAL {FUNNEL_DEADLINE_MIN} MINUTES"
    )
    staged = staged.withColumn(
        "conv_view_ts", F.min(F.when(F.col("conv_view"), F.col("ts"))).over(w)
    ).withColumn(
        "conv_purchase",
        (F.col("event_type") == "purchase")
        & (F.col("conv_view_ts") < F.col("ts"))
        & (F.col("ts") <= deadline),
    )
    per_user = staged.groupBy("user_id").agg(
        F.max(F.col("event_type") == "signup").alias("s1"),
        F.max("conv_view").alias("s2"),
        F.max("conv_purchase").alias("s3"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.col("s1").cast("long")).alias("n_signup"),
        F.sum(F.col("s2").cast("long")).alias("n_view_after_signup"),
        F.sum(F.col("s3").cast("long")).alias("n_purchase_within_1h"),
    )


_SQL_FUNNEL_TIMED = f"""
WITH staged1 AS (
  SELECT user_id, event_type, ts,
    min(CASE WHEN event_type = 'signup' THEN ts END)
      OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS signup_ts
  FROM events),
staged2 AS (
  SELECT *, (event_type = 'view' AND signup_ts < ts) AS conv_view FROM staged1),
staged3 AS (
  SELECT *,
    min(CASE WHEN conv_view THEN ts END)
      OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conv_view_ts
  FROM staged2),
staged4 AS (
  SELECT *, (event_type = 'purchase' AND conv_view_ts < ts
             AND ts <= conv_view_ts + INTERVAL {FUNNEL_DEADLINE_MIN} MINUTE)
          AS conv_purchase
  FROM staged3),
per_user AS (
  SELECT user_id,
    max(event_type = 'signup') AS s1,
    max(conv_view) AS s2,
    max(conv_purchase) AS s3
  FROM staged4 GROUP BY user_id)
SELECT count(*) AS n_users,
  CAST(sum(CAST(s1 AS BIGINT)) AS BIGINT) AS n_signup,
  CAST(sum(CAST(s2 AS BIGINT)) AS BIGINT) AS n_view_after_signup,
  CAST(sum(CAST(s3 AS BIGINT)) AS BIGINT) AS n_purchase_within_1h
FROM per_user
"""


# ---------------------------------------------------------------------------
# events_out_of_order_stats — per-user event-time disorder accounting, the
# batch twin of streaming watermark tuning: with event_id as the arrival
# sequence, an event is "late at gap g" iff its event time sits more than
# g behind the user's running event-time maximum at arrival. Emits per
# user the late count at the 10-minute gap and the maximum disorder in
# whole seconds — exactly the numbers that size withWatermark() for the
# keyed-state streaming jobs. One window shuffle keyed by user (the
# running max rides arrival order per key; never a global sort); disorder
# measured in exact integer microseconds.
# ---------------------------------------------------------------------------

OOO_GAP_MIN = 10


def _q_out_of_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_events

    ev = load_events(spark, sf_dir).where(F.col("user_id").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # epoch MICROSECONDS via pure NTZ arithmetic (timestamp_diff from the
    # NTZ epoch) — never a cast through TIMESTAMP, which would interpret
    # the NTZ value in the session zone (the rolling-7d lesson)
    us = F.timestamp_diff("MICROSECOND", F.expr(_NTZ_EPOCH), F.col("ts"))
    staged = ev.select(
        "user_id", "event_id", us.alias("t")
    ).withColumn("prev_max", F.max("t").over(w))
    disorder = F.greatest(F.col("prev_max") - F.col("t"), F.lit(0))
    return (
        staged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(disorder > OOO_GAP_MIN * 60 * 1_000_000, 1).otherwise(0)
            ).cast("long").alias("n_late_10m"),
            F.floor(
                F.coalesce(F.max(disorder), F.lit(0)) / F.lit(1_000_000)
            ).cast("long").alias("max_disorder_s"),
        )
        .orderBy("user_id")
    )


_SQL_OUT_OF_ORDER = f"""
WITH staged AS (
  SELECT user_id, event_id, epoch_us(ts) AS t,
    max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
  FROM events WHERE user_id IS NOT NULL),
d AS (SELECT user_id, greatest(prev_max - t, 0) AS disorder FROM staged)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
  CAST(sum(CASE WHEN disorder > {OOO_GAP_MIN * 60 * 1_000_000} THEN 1 ELSE 0 END)
    AS BIGINT) AS n_late_10m,
  CAST(floor(coalesce(max(disorder), 0) / 1000000) AS BIGINT) AS max_disorder_s
FROM d GROUP BY user_id ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# events_markov_transitions — first-order behavior model: the event-type
# transition matrix over per-user clickstreams (the Markov-chain input for
# next-action prediction, bot detection — improbable transition chains —
# and funnel design). Each user's events are ordered by (ts, event_id)
# (event_id breaks same-timestamp ties deterministically); lead() pairs
# each event with its successor; the matrix is the (prev, next) count table
# with a row-conditional probability.
#
# Scale shape (100 TB): ONE shuffle of the fact on user_id for the
# sequence window (the same partitioning sessionization uses — at 100 TB
# this is the natural layout for clickstream data, so the exchange is
# often free); the transition table is |types|² rows, so the per-row
# total is a window over a K²-row frame and the output is K²-bounded.
# Float determinism: p_next is ONE division of two exact int64 counts.
# ---------------------------------------------------------------------------

def _transition_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, event_type, next_type) — one row per consecutive event
    pair within a user's stream, ordered by (ts, event_id)."""
    from ..sources.tables import load_events

    ev = load_events(spark, sf_dir).select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
        .select("user_id", "event_type", "next_type")
    )


def _q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = _transition_stream(spark, sf_dir)
    cnt = tr.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    wp = Window.partitionBy("event_type")
    return cnt.withColumn("_tot", F.sum("n_transitions").over(wp)).select(
        F.col("event_type").alias("prev_type"),
        "next_type",
        F.col("n_transitions").cast("long").alias("n_transitions"),
        F.round(
            F.col("n_transitions").cast("double") / F.col("_tot").cast("double"), 6
        ).alias("p_next"),
    )


_SQL_TRANSITION_STREAM = """
  SELECT user_id, event_type, next_type
  FROM (SELECT user_id, event_type,
          lead(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS next_type
        FROM events)
  WHERE next_type IS NOT NULL"""

_SQL_MARKOV_TRANSITIONS = f"""
WITH seq AS ({_SQL_TRANSITION_STREAM}),
c AS (SELECT event_type AS prev_type, next_type, CAST(count(*) AS BIGINT) AS n_transitions
      FROM seq GROUP BY 1, 2)
SELECT prev_type, next_type, n_transitions,
  round(CAST(n_transitions AS DOUBLE)
        / CAST(sum(n_transitions) OVER (PARTITION BY prev_type) AS DOUBLE), 6) AS p_next
FROM c
"""


# ---------------------------------------------------------------------------
# events_markov_transitions_streamed — the SAME Markov matrix computed by
# actually running the Structured Streaming engine end-to-end (r7 VERDICT
# missing item 3: the streaming family had pytest-only visibility). The
# build dumps events in the JSONL feed shape, drains the stateful
# applyInPandasWithState transition operator (streaming/jobs.py:
# transitions_stateful — O(1) state per user: the last event) with an
# availableNow trigger into a memory sink, then aggregates the drained
# per-pair rows to the transition matrix. availableNow delivers every
# user's full history in one batch, so the stream equals the batch lead()
# window exactly (tie-break included) — pinned by
# tests/test_streaming.py::test_stateful_transitions_match_batch and now
# continuously by this query's oracle, which IS the batch twin's SQL.
#
# Scale shape: the stateful operator shuffles once on user_id with
# bounded per-group state — the same shape the live job runs at 100 TB/day
# event volumes; the memory sink + JSON round-trip are the HARNESS (the
# driver contract needs a batch DataFrame), not the operator. The sink
# table is dropped after the K²-bounded matrix is checkpointed.
# ---------------------------------------------------------------------------

_STREAM_SINK_SEQ = __import__("itertools").count()


def _q_markov_transitions_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..sources.tables import load_events
    from ..streaming.jobs import (
        JSON_TS_FORMAT,
        run_available_now,
        transitions_stateful,
    )

    src = tempfile.mkdtemp(prefix="ywx_markov_stream_")
    try:
        ev = load_events(spark, sf_dir).select(
            "event_id",
            F.col("ts").cast("timestamp").alias("ts"),
            "user_id",
            "event_type",
            "value",
        )
        ev.coalesce(2).write.mode("overwrite").option(
            "timestampFormat", JSON_TS_FORMAT
        ).json(src)
        sink = None
        try:
            sink = f"ywx_markov_stream_sink_{next(_STREAM_SINK_SEQ)}"
            drained = run_available_now(transitions_stateful(spark, src), sink)
            wp = Window.partitionBy("prev_type")
            return (
                drained.groupBy("prev_type", "next_type")
                .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
                .withColumn("_tot", F.sum("n_transitions").over(wp))
                .select(
                    "prev_type",
                    "next_type",
                    "n_transitions",
                    F.round(
                        F.col("n_transitions").cast("double")
                        / F.col("_tot").cast("double"),
                        6,
                    ).alias("p_next"),
                )
                .localCheckpoint(eager=True)
            )
        finally:
            # drop the memory-sink view even when the drain or the
            # downstream aggregation throws — otherwise the full drained
            # transition stream leaks in the catalog once per retry
            # (ADVICE r8). Safe: the eager localCheckpoint materialized
            # the bounded result before the success-path return.
            if sink is not None:
                try:
                    spark.catalog.dropTempView(sink)
                except Exception:  # noqa: BLE001 - cleanup must not mask the real error
                    pass
    finally:
        shutil.rmtree(src, ignore_errors=True)


# ---------------------------------------------------------------------------
# events_user_transition_surprisal — the bot/anomaly gate the Markov matrix
# exists for: per user, the mean surprisal −(1/B)·Σ ln p(next|prev) of
# their own transitions under the corpus matrix. Scripted traffic follows
# improbable chains (error→error loops, signup spam), so the most
# surprising users are the review queue. A min-transition floor drops
# users whose mean is one-sample noise.
#
# Exactness: per-transition surprisal is L(row_total) − L(n_pair) in
# exact milli-nats (the ZIPF_LN_SCALE discipline), the per-user sum is an
# exact int64, and the mean is ONE division of two exact ints — ranking
# is bit-identical. Scale: the matrix is K²-bounded and broadcast back
# onto the transition stream; per-user aggregation is map-side
# combinable; TakeOrdered bounds the output.
# ---------------------------------------------------------------------------

SURPRISAL_MIN_TRANSITIONS = 5
SURPRISAL_TOPK = 15


def _q_transition_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = _transition_stream(spark, sf_dir)
    lmilli = lambda c: F.round(F.log(c.cast("double")) * 1000, 0).cast("long")  # noqa: E731
    cnt = tr.groupBy("event_type", "next_type").agg(F.count(F.lit(1)).alias("n"))
    wp = Window.partitionBy("event_type")
    m = cnt.withColumn("_tot", F.sum("n").over(wp)).select(
        "event_type",
        "next_type",
        (lmilli(F.col("_tot")) - lmilli(F.col("n"))).alias("sur_milli"),
    )
    per_user = (
        tr.join(F.broadcast(m), ["event_type", "next_type"])
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_transitions"),
            F.sum("sur_milli").alias("_s"),
        )
        .where(F.col("n_transitions") >= SURPRISAL_MIN_TRANSITIONS)
    )
    return (
        per_user.withColumn(
            "avg_surprisal_nats",
            F.round(
                F.col("_s").cast("double")
                / (F.col("n_transitions").cast("double") * F.lit(1000.0)),
                6,
            ),
        )
        .orderBy(F.col("avg_surprisal_nats").desc(), F.col("user_id").asc())
        .limit(SURPRISAL_TOPK)
        .select("user_id", "n_transitions", "avg_surprisal_nats")
    )


_SQL_TRANSITION_SURPRISAL = f"""
WITH seq AS ({_SQL_TRANSITION_STREAM}),
c AS (SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
      FROM seq GROUP BY 1, 2),
m AS (SELECT event_type, next_type,
        CAST(round(ln(CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE)) * 1000, 0) AS BIGINT)
        - CAST(round(ln(CAST(n AS DOUBLE)) * 1000, 0) AS BIGINT) AS sur_milli
      FROM c),
u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_transitions,
             CAST(sum(sur_milli) AS BIGINT) AS s
      FROM seq JOIN m USING (event_type, next_type)
      GROUP BY user_id
      HAVING count(*) >= {SURPRISAL_MIN_TRANSITIONS})
SELECT user_id, n_transitions,
       round(CAST(s AS DOUBLE) / (CAST(n_transitions AS DOUBLE) * 1000.0), 6)
         AS avg_surprisal_nats
FROM u
ORDER BY avg_surprisal_nats DESC, user_id ASC
LIMIT {SURPRISAL_TOPK}
"""


# ---------------------------------------------------------------------------
# events_rfm_segments — RFM (recency / frequency / monetary) user
# segmentation, the classic CRM cut: per user, days since last event,
# event count, and DECIMAL-exact spend; each metric bucketed into
# quintiles and the segment grid reported with user counts and total
# value. Bucket semantics are VALUE-based (ties share a bucket): the four
# cut points per metric are exact order statistics at ceil(n·k/5) from
# operators/quantiles.exact_rank_cuts — histogram-cumsum, NO global sort,
# no single-partition exchange (ntile() would need one) — and the score
# is 1 + #cuts strictly below the value, ascending for every metric (so
# r_score 1 = most recent, f_score/m_score 1 = lowest; direction is a
# labeling convention, the grid is the answer). Cross-engine exactness:
# counts and day-diffs are ints, spend is DECIMAL(25,6) (the DEC6 rule),
# cut comparison is exact; output is ≤ 125 segment rows.
# Scale: one user_id aggregation of the fact; everything after is
# |users|-sized; the three cut tables are 4-row broadcasts.
# ---------------------------------------------------------------------------

RFM_FRACTIONS = [(1, 5), (2, 5), (3, 5), (4, 5)]


def _q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quantiles import exact_rank_cuts
    from ..sources.tables import load_events

    ev = load_events(spark, sf_dir).select(
        "user_id", "ts", F.col("value").cast(DEC6).alias("v")
    )
    pu = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("v").alias("monetary"),
    )
    anchor = pu.agg(F.max("last_ts").alias("anchor_ts"))
    m = pu.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        F.datediff(F.to_date("anchor_ts"), F.to_date("last_ts"))
        .cast("long")
        .alias("recency_days"),
        "n_events",
        "monetary",
    )
    m = m.localCheckpoint(eager=True)  # three cut scans + the score pass

    def score(metric: str) -> F.Column:
        cuts = exact_rank_cuts(m, metric, RFM_FRACTIONS)
        row = cuts.agg(
            *[
                F.max(F.when(F.col("cut_id") == j + 1, F.col("cut"))).alias(f"_c{j}")
                for j in range(len(RFM_FRACTIONS))
            ]
        )
        expr = F.lit(1)
        for j in range(len(RFM_FRACTIONS)):
            expr = expr + F.when(F.col(metric) > F.col(f"_c{j}"), 1).otherwise(0)
        return F.broadcast(row), expr

    rrow, rexpr = score("recency_days")
    frow, fexpr = score("n_events")
    mrow, mexpr = score("monetary")
    scored = (
        m.crossJoin(rrow)
        .withColumn("r_score", rexpr.cast("int"))
        .drop(*[f"_c{j}" for j in range(len(RFM_FRACTIONS))])
        .crossJoin(frow)
        .withColumn("f_score", fexpr.cast("int"))
        .drop(*[f"_c{j}" for j in range(len(RFM_FRACTIONS))])
        .crossJoin(mrow)
        .withColumn("m_score", mexpr.cast("int"))
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("monetary").alias("total_value"),
    )


def _sql_rfm_segments() -> str:
    def cuts(metric: str, tag: str) -> str:
        subs = []
        for j, (num, den) in enumerate(RFM_FRACTIONS):
            subs.append(
                f"(SELECT v FROM (SELECT {metric} AS v,"
                f" row_number() OVER (ORDER BY {metric} ASC) AS rn FROM m)"
                f" WHERE rn = (SELECT ({num} * n + {den} - 1) // {den} FROM nn))"
                f" AS {tag}{j}"
            )
        return ", ".join(subs)

    def score(metric: str, tag: str) -> str:
        terms = " + ".join(
            f"(CASE WHEN {metric} > c.{tag}{j} THEN 1 ELSE 0 END)"
            for j in range(len(RFM_FRACTIONS))
        )
        return f"CAST(1 + {terms} AS INT)"

    return f"""
WITH pu AS (
  SELECT user_id, max(ts) AS last_ts, CAST(count(*) AS BIGINT) AS n_events,
         sum(CAST(value AS DECIMAL(25,6))) AS monetary
  FROM events GROUP BY user_id),
a AS (SELECT max(last_ts) AS anchor_ts FROM pu),
m AS (SELECT user_id,
        CAST(date_diff('day', CAST(last_ts AS DATE), CAST(anchor_ts AS DATE)) AS BIGINT)
          AS recency_days,
        n_events, monetary
      FROM pu, a),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM m),
c AS (SELECT {cuts('recency_days', 'r')}, {cuts('n_events', 'f')}, {cuts('monetary', 'mo')}),
scored AS (
  SELECT {score('recency_days', 'r')} AS r_score,
         {score('n_events', 'f')} AS f_score,
         {score('monetary', 'mo')} AS m_score,
         monetary
  FROM m, c)
SELECT r_score, f_score, m_score, CAST(count(*) AS BIGINT) AS n_users,
       sum(monetary) AS total_value
FROM scored GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# events_attribution_last_touch — marketing attribution: each purchase's
# value is credited to the user's most recent PRECEDING non-purchase
# event ("touch") within ATTR_WINDOW_DAYS; purchases with no touch in the
# window are 'direct'. One user_id shuffle (the sequence window), then a
# K-bounded channel aggregate. The two last_value(... IGNORE NULLS)
# expressions share one frame and one condition, so they pick the SAME
# row — ts and type stay consistent. Exactness: counts are ints, value
# rides DEC6, the day bound is an integer datediff.
# ---------------------------------------------------------------------------

ATTR_WINDOW_DAYS = 7


def _q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_events

    ev = load_events(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type", F.col("value").cast(DEC6).alias("v")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    nonp = F.when(F.col("event_type") != "purchase", F.col("ts"))
    nonp_t = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    tagged = ev.select(
        "*",
        F.last(nonp, ignorenulls=True).over(w).alias("touch_ts"),
        F.last(nonp_t, ignorenulls=True).over(w).alias("touch_type"),
    ).where(F.col("event_type") == "purchase")
    channel = F.when(
        F.col("touch_ts").isNotNull()
        & (
            F.datediff(F.to_date("ts"), F.to_date("touch_ts"))
            <= ATTR_WINDOW_DAYS
        ),
        F.col("touch_type"),
    ).otherwise(F.lit("direct"))
    return (
        tagged.select(channel.alias("channel"), "v")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum("v").alias("total_value"),
        )
    )


_SQL_ATTRIBUTION_LAST_TOUCH = f"""
WITH ev AS (SELECT user_id, ts, event_id, event_type,
                   CAST(value AS DECIMAL(25,6)) AS v FROM events),
tagged AS (
  SELECT *,
    last_value(CASE WHEN event_type <> 'purchase' THEN ts END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_ts,
    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_type
  FROM ev),
p AS (SELECT CASE WHEN touch_ts IS NOT NULL
                   AND date_diff('day', CAST(touch_ts AS DATE), CAST(ts AS DATE))
                       <= {ATTR_WINDOW_DAYS}
             THEN touch_type ELSE 'direct' END AS channel, v
      FROM tagged WHERE event_type = 'purchase')
SELECT channel, CAST(count(*) AS BIGINT) AS n_purchases,
       sum(v) AS total_value
FROM p GROUP BY channel
"""


# ---------------------------------------------------------------------------
# events_top_paths — funnel discovery: the most common session openings.
# Events are sessionized per user on a 30-minute gap (the sessionize
# operator's rule, inlined as a window running-sum of gap flags), each
# session is reduced to its first PATH_PREFIX_LEN event types joined by
# '>', and the top PATH_TOPK paths are reported. Exactness: the per-
# session sequence is a sort_array over (ts, event_id, type) structs —
# the same total order both engines sort — and counts are ints. Scale:
# one user_id shuffle shared by both windows, one (user, session)
# aggregate whose collect_list is bounded by the session length, one
# path count; TakeOrdered output.
# ---------------------------------------------------------------------------

PATH_GAP_MINUTES = 30
PATH_PREFIX_LEN = 5
PATH_TOPK = 15


def _q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_events

    ev = load_events(spark, sf_dir).select("user_id", "ts", "event_id", "event_type")
    wseq = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    # INTERVAL comparison on the NTZ column (the sessionize operator's
    # recipe — TIMESTAMP_NTZ has no long cast); a NULL lag (first event)
    # falls to the otherwise(0), so sessions number from 0 on both engines
    new_sess = F.when(
        F.col("ts") - F.lag("ts").over(wseq)
        > F.expr(f"INTERVAL {PATH_GAP_MINUTES} MINUTES"),
        F.lit(1),
    ).otherwise(F.lit(0))
    sess = ev.withColumn(
        "session_seq",
        F.sum(new_sess).over(
            wseq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per_sess = sess.groupBy("user_id", "session_seq").agg(
        F.sort_array(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ).alias("seq")
    )
    path = F.array_join(
        F.transform(
            F.slice(F.col("seq"), 1, PATH_PREFIX_LEN), lambda s: s["event_type"]
        ),
        ">",
    )
    return (
        per_sess.select(path.alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(PATH_TOPK)
    )


_SQL_TOP_PATHS = f"""
WITH ev AS (SELECT user_id, ts, event_id, event_type FROM events),
s AS (
  SELECT user_id, ts, event_id, event_type,
    sum(CASE WHEN prev_ts IS NULL THEN 0
             WHEN (epoch(ts) - epoch(prev_ts)) > {PATH_GAP_MINUTES * 60}
        THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM (SELECT *, lag(ts) OVER (PARTITION BY user_id
          ORDER BY ts ASC, event_id ASC) AS prev_ts FROM ev)),
ps AS (
  SELECT user_id, session_seq,
    array_to_string(
      list_transform(
        list_slice(list_sort(list({{'ts': ts, 'eid': event_id, 't': event_type}})),
                   1, {PATH_PREFIX_LEN}),
        x -> x.t), '>') AS path
  FROM s GROUP BY user_id, session_seq)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
FROM ps GROUP BY path
ORDER BY n_sessions DESC, path ASC
LIMIT {PATH_TOPK}
"""


QUERIES = [
    QuerySpec(
        "events_out_of_order_stats", _q_out_of_order_stats, _SQL_OUT_OF_ORDER
    ),
    QuerySpec(
        "events_attribution_last_touch",
        _q_attribution_last_touch,
        _SQL_ATTRIBUTION_LAST_TOUCH,
        doc="Last-touch purchase attribution within a 7-day window: one "
        "user_id sequence window, K-bounded channel aggregate, "
        "DECIMAL-exact value credit; untouched purchases land in "
        "'direct'.",
    ),
    QuerySpec(
        "events_top_paths",
        _q_top_paths,
        _SQL_TOP_PATHS,
        doc="Top-15 session-opening paths (first 5 event types per "
        "30-min-gap session): one user_id shuffle shared by both "
        "windows, struct-sorted per-session sequences, TakeOrdered "
        "output.",
    ),
    QuerySpec(
        "events_rfm_segments",
        _q_rfm_segments,
        _sql_rfm_segments(),
        doc="RFM quintile segmentation: exact order-statistic cuts "
        "(histogram-cumsum, no global sort), value-tied users share a "
        "bucket, DECIMAL-exact spend; ≤125 segment rows.",
    ),
    QuerySpec(
        "events_markov_transitions_streamed",
        _q_markov_transitions_streamed,
        _SQL_MARKOV_TRANSITIONS,
        doc="The Markov transition matrix computed by RUNNING the "
        "Structured Streaming engine (JSONL feed -> stateful "
        "applyInPandasWithState transitions -> availableNow drain -> "
        "aggregate); oracled by the batch twin's SQL — the streaming "
        "family's driver-visible CORRECTNESS row.",
    ),
    QuerySpec(
        "events_markov_transitions",
        _q_markov_transitions,
        _SQL_MARKOV_TRANSITIONS,
        doc="Event-type transition matrix (first-order Markov) over "
        "per-user streams ordered by (ts, event_id); one user_id shuffle, "
        "K²-bounded output, conditional probability as one exact-int "
        "division.",
    ),
    QuerySpec(
        "events_user_transition_surprisal",
        _q_transition_surprisal,
        _SQL_TRANSITION_SURPRISAL,
        doc="Bot/anomaly gate over the Markov matrix: top-15 users by "
        "mean transition surprisal in exact milli-nats (K²-bounded "
        "matrix broadcast back onto the stream, map-side-combinable "
        "per-user sums, one exact-int division).",
    ),
    QuerySpec("events_funnel_timed", _q_funnel_timed, _SQL_FUNNEL_TIMED),
    QuerySpec("events_hll_rollup_daily", _q_hll_rollup_daily, _SQL_HLL_ROLLUP),
    QuerySpec("groupby_grouping_sets", _q_grouping_sets, _SQL_GROUPING_SETS),
    QuerySpec("agg_percentiles", _q_percentiles, _SQL_PERCENTILES),
    QuerySpec("agg_stats_moments", _q_stats_moments, _SQL_STATS_MOMENTS),
    QuerySpec("pivot_status_revenue", _q_pivot, _SQL_PIVOT),
    QuerySpec("unpivot_charge_components", _q_unpivot, _SQL_UNPIVOT),
    QuerySpec("sample_hash_orders", _q_sample_hash, _SQL_SAMPLE_HASH),
    QuerySpec("subq_exists_big_open_order", _q_exists, _SQL_EXISTS),
    QuerySpec("subq_scalar_above_avg", _q_scalar_subq, _SQL_SCALAR_SUBQ),
    QuerySpec("window_ntile_quartiles", _q_ntile, _SQL_NTILE),
    QuerySpec("window_rolling_7d_spend", _q_rolling_7d, _SQL_ROLLING_7D),
    QuerySpec("join_full_outer_nation_activity", _q_full_outer, _SQL_FULL_OUTER),
    QuerySpec("join_range_views_before_purchase", _q_range_join, _SQL_RANGE_JOIN),
    QuerySpec("agg_salted_event_type", _q_salted_events, _SQL_SALTED_EVENTS),
    QuerySpec("join_salted_user_nations", _q_salted_join, _SQL_SALTED_JOIN),
    QuerySpec("join_auto_skew_hot_orders", _q_auto_skew_join, _SQL_AUTO_SKEW_JOIN),
    QuerySpec("profile_lineitem", _q_profile, _SQL_PROFILE),
    QuerySpec("agg_hll_partial_union", _q_hll_union, _SQL_HLL_UNION),
    QuerySpec("agg_kll_quantile_merge", _q_kll_merge, _SQL_KLL_MERGE),
    QuerySpec("events_retention_cohorts", _q_retention, _SQL_RETENTION),
    QuerySpec("events_funnel_conversion", _q_conversion, _SQL_CONVERSION),
    QuerySpec("events_gapfill_hourly", _q_gapfill_hourly, _SQL_GAPFILL_HOURLY),
    QuerySpec("agg_heavy_hitters_mg", _q_heavy_hitters, _SQL_HEAVY_HITTERS),
    QuerySpec("events_hourly_anomaly", _q_hourly_anomaly, _SQL_HOURLY_ANOMALY),
    QuerySpec("events_user_trend", _q_user_trend, _SQL_USER_TREND),
    QuerySpec("events_user_trend_pandas", _q_user_trend_pandas, _SQL_USER_TREND),
    QuerySpec("join_hint_shuffle_hash", _q_hint_shuffle_hash, _SQL_HINT_SHUFFLE_HASH),
    QuerySpec("join_null_safe_events", _q_null_safe_join, _SQL_NULL_SAFE_JOIN),
    QuerySpec("events_audience_overlap", _q_audience_overlap, _SQL_AUDIENCE_OVERLAP),
    QuerySpec("events_sliding_distinct_users", _q_sliding_distinct, _SQL_SLIDING_DISTINCT),
    QuerySpec("basket_part_pairs", _q_basket_pairs, _SQL_BASKET_PAIRS),
    QuerySpec("events_decayed_heavy_hitters", _q_decayed_heavy_hitters, _SQL_DECAYED_HH),
    QuerySpec("basket_frequent_triples", _q_basket_triples, _SQL_BASKET_TRIPLES),
    QuerySpec("recsys_item_item_topk", _q_item_item_topk, _SQL_ITEM_ITEM),
]
