"""EXT relational surface (SURVEY.md §2.10, §7.2 step 6): grouped
aggregation, star-schema joins (broadcast + shuffle, semi/anti), rollup/cube,
window functions (rank / lag / running frames), set operations, sorts/top-k,
event-time windows (tumbling + sessionization) and JSON extraction over the
``events`` table.

Scale notes (100 TB):
- dimension joins (region/nation/customer/supplier/part) use explicit
  ``F.broadcast`` — no shuffle of the fact table for enrichment;
- fact aggregations shuffle once on their grouping key with map-side partial
  aggregation (HashAggregate → Exchange → HashAggregate, verified via
  ``.explain``); AQE coalesces post-shuffle partitions;
- running/window queries shuffle once per partitioning key; consecutive
  windows over the same key reuse the exchange;
- money arithmetic is cast to DECIMAL before aggregation so results are
  bit-identical across engines AND deterministic under parallel reduction
  (double sums are order-dependent; decimal sums are exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from . import QuerySpec
from ..sources.tables import _local_parquet_bytes, read_parquet_fanout

DEC = "decimal(18,2)"

# Size gate for broadcasting SF-scaling dimension sides (customer / supplier
# / part and aggregates whose cardinality is bounded by one of them). Built
# in r9 for join_region_revenue (VERDICT r8 #1), propagated repo-wide in r10
# (VERDICT r9 #1: seventeen sibling queries carried the same unconditional
# hint). The r8 lesson ("A/B any broadcast pin of a >100k-row side") was
# interleave-tested on the customer dim side: at both bench scales the
# broadcast wins (warm medians, interleaved, identical load window — sf0.1:
# bcast 1.176 s vs merge 1.475 / shufhash 1.404; sf1: bcast 3.060 vs merge
# 3.570 / shufhash 3.385). A 150k-row ~5 MB projected dim is nothing like
# the 1.5M-entry hashed orders relation that lost in r8 — the probe side is
# identical work, and the broadcast saves one full shuffle of the fact. The
# gate exists for the 100 TB shape, where customer/supplier/part ARE
# fact-sized (all three scale linearly with SF in TPC-H): past 64 MB of the
# side's base-table parquet (≈ TPC-H SF3; in-memory dim projection ~10x
# smaller than the file, comfortably broadcastable up to the gate) — or
# when the size is unknowable (object store) — the side degrades to a
# shuffled merge join by construction instead of attempting an executor-OOM
# broadcast. Constant-cardinality sides (nation=25, region=5, 1-row scalars,
# LIMIT-K tops) stay unconditionally broadcast — they cannot outgrow memory.
DIM_BROADCAST_MAX_BYTES = 64 * 1024 * 1024


def _gated_dim(dim: DataFrame, sf_dir: str, table: str = "customer") -> DataFrame:
    """Broadcast ``dim`` iff the base table bounding its cardinality
    (``table``) is under the size gate; else degrade to a shuffled merge
    join. For derived sides (filtered dims, group-by-partkey aggregates)
    ``table`` is the proxy whose file size upper-bounds the side — a
    conservative overestimate, which is the safe direction for a broadcast
    decision."""
    nbytes = _local_parquet_bytes(f"{sf_dir}/{table}.parquet")
    if nbytes is not None and nbytes < DIM_BROADCAST_MAX_BYTES:
        return F.broadcast(dim)
    return dim.hint("merge")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # scan fan-out: single-file tables are one input split (one row
    # group), so Q1-class scan+partial-agg work would serialize on one
    # core; a no-op at real multi-split scale (see sources/tables.py)
    return read_parquet_fanout(spark, f"{sf_dir}/{name}.parquet")


def _t_shuffle_input(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Loader for tables whose FIRST consumer is a key shuffle (join or
    window) with no heavy per-row expressions before it: plain scan, NO
    fan-out. The fan-out's round-robin repartition buys nothing here —
    the single-split scan must serialize the shuffle write either way,
    so it only adds a full extra exchange of the table. r9 interleaved
    A/B on the registered queries (fanout vs plain, warm medians):
    join_region_revenue sf0.1 1.841 → 1.029 s (−44 %), sf1 14.2 → 6.3 s
    under identical load (−56 %; the fan-out was the whole 4.0× sf1
    scaling anomaly); window_topk_per_customer sf1 2.895 → 2.627 s (raw
    won all 6 interleaved rounds), sf0.1 wash (orders sits below the
    fan-out gate there). Contrast q1/minhash-class scans, where per-row
    work dominates and the fan-out is the measured WIN (r4: q1 5.9 →
    2.9 s at sf1) — the decision is per-consumer, not per-table.

    r10 propagation A/Bs (OPTIMIZATION_r10.md, interleaved, warm medians,
    plain vs fanout): q3 sf0.1 1.103 vs 1.527, sf1 2.418 vs 4.643; q5
    sf0.1 1.136 vs 1.699, sf1 2.131 vs 8.820 (the fan-out's full exchange
    of unfiltered lineitem was a 4.1x loss); q18 sf1 7.629 vs 10.995 —
    so a HIGH-CARDINALITY groupBy/distinct whose partial agg barely
    reduces belongs to the shuffle class too. The measured boundary:
    q11's l_partkey groupBy (~30x reduction) was a wash (7.646 vs
    7.806); low-cardinality aggs with per-row expression work stay on
    the fan-out (q1 class).

    r10 pin-sweep refinement (all interleaved A/Bs at sf1): a BROADCAST
    PROBE is one hash lookup per row, not map-heavy work — if a key
    shuffle (join, near-unique distinct/groupBy) follows the probes, load
    plain (q8 2.255 vs 8.474; q9 4.349 vs 8.740; q2 1.415 vs 6.643; q16
    2.177 vs 7.133; q20 2.461 vs 2.802; q15 1.066 vs 1.634). And the
    fan-out's exchange carries the POST-pushdown scan output: with no
    pushed filter it re-ships the whole table full-width, losing even
    before a global agg (q19 1.065 vs 5.376, -80%). The fan-out's
    remaining measured wins: a pushed filter shrinks the scan AND what
    follows is probe/expression work with no key shuffle (q14 0.986 vs
    1.148; q1-class scans; q11/q17 partkey-grain washes keep it by
    default)."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# q1_pricing_summary — TPC-H Q1-shaped scan+aggregate over lineitem
# ---------------------------------------------------------------------------

def _q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import dec_as_double

    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast(DEC)
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.col("l_discount").cast(DEC)
    tax = F.col("l_tax").cast(DEC)
    # money/qty sums stay exact decimals through the aggregation; the FINAL
    # projection goes through dec_as_double (scaled-int two-step) because
    # sum_charge's scaled magnitude crosses 2^53 at sf1 — see
    # plans.dec_as_double for the engine-rounding divergence it prevents
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).alias("_sum_qty"),
            F.sum(price).alias("_sum_base_price"),
            F.sum(price * (F.lit(1).cast(DEC) - disc)).alias("_sum_disc_price"),
            F.sum(price * (F.lit(1).cast(DEC) - disc) * (F.lit(1).cast(DEC) + tax)).alias("_sum_charge"),
            F.avg(qty).cast("decimal(18,4)").alias("avg_qty"),
            F.avg(price).cast("decimal(18,4)").alias("avg_price"),
            F.avg(disc).cast("decimal(18,4)").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            dec_as_double(F.col("_sum_qty"), 2).alias("sum_qty"),
            dec_as_double(F.col("_sum_base_price"), 2).alias("sum_base_price"),
            dec_as_double(F.col("_sum_disc_price"), 4).alias("sum_disc_price"),
            dec_as_double(F.col("_sum_charge"), 6).alias("sum_charge"),
            "avg_qty",
            "avg_price",
            "avg_disc",
            "count_order",
        )
    )


def _sql_q1() -> str:
    from . import dec_as_double_sql

    sum_qty = f"sum(CAST(l_quantity AS {DEC}))"
    sum_base = f"sum(CAST(l_extendedprice AS {DEC}))"
    sum_disc = f"sum(CAST(l_extendedprice AS {DEC}) * (CAST(1 AS {DEC}) - CAST(l_discount AS {DEC})))"
    sum_charge = (
        f"sum(CAST(l_extendedprice AS {DEC}) * (CAST(1 AS {DEC}) - CAST(l_discount AS {DEC}))"
        f" * (CAST(1 AS {DEC}) + CAST(l_tax AS {DEC})))"
    )
    return f"""
SELECT l_returnflag, l_linestatus,
  {dec_as_double_sql(sum_qty, 2)} AS sum_qty,
  {dec_as_double_sql(sum_base, 2)} AS sum_base_price,
  {dec_as_double_sql(sum_disc, 4)} AS sum_disc_price,
  {dec_as_double_sql(sum_charge, 6)} AS sum_charge,
  CAST(avg(CAST(l_quantity AS {DEC})) AS DECIMAL(18,4)) AS avg_qty,
  CAST(avg(CAST(l_extendedprice AS {DEC})) AS DECIMAL(18,4)) AS avg_price,
  CAST(avg(CAST(l_discount AS {DEC})) AS DECIMAL(18,4)) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


_SQL_Q1 = _sql_q1()


# ---------------------------------------------------------------------------
# join_region_revenue — star join: fact shuffles only for the final groupBy;
# all dimensions broadcast
# ---------------------------------------------------------------------------

def _q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # both facts feed the merge join directly (no per-row expression work
    # before the key shuffle) — plain scans, no fan-out (see
    # _t_shuffle_input: the fan-out here WAS the 4.0x sf1 scaling anomaly)
    li = _t_shuffle_input(spark, sf_dir, "lineitem")
    orders = _t_shuffle_input(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    revenue = (F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)))
    dim = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "n_name", "r_name")
    )
    # The orders side of the fact-fact join sat exactly at AQE's runtime
    # broadcast threshold at sf0.1 — the plan flipped between SMJ and BHJ
    # run to run (bimodal driver samples in two rounds). r7 pinned it to
    # BHJ behind a size gate; the r8 quiet-machine re-pin (the only
    # superlinear-looking number on the r7 board: sf1 warm median 7.03 s,
    # 5.1x wall for 10x rows) root-caused THAT as the slow mode: probing a
    # fact-sized (1.5M-entry, 24 MB) hashed relation from 32 threads loses
    # to shuffling both facts on the order key at BOTH measured scales
    # (interleaved A/B, warm medians — sf0.1: BHJ 1.28 s vs SMJ 0.89/SHJ
    # 0.85; sf1: BHJ 8.67 s vs SMJ 2.97/SHJ 3.02). Pin the MERGE join:
    # tied with shuffle-hash everywhere, spill-safe at 100 TB where both
    # fact sides must shuffle anyway, and it restores fleet-normal scaling
    # (3.3x wall for 10x rows). Pre-aggregating lineitem by l_orderkey
    # before the join was also A/B'd and LOST (sf1 8.5 s vs 3.1 s — the
    # DECIMAL hash-agg over |orders| groups costs more than it saves).
    # The dim side (|customer| rows) is broadcast behind a size gate —
    # r9 interleaved A/B confirmed broadcast wins at sf0.1 AND sf1, and
    # the gate degrades to merge at fact-scale customer (see _gated_dim).
    okeys = orders.select("o_orderkey", "o_custkey").hint("merge")
    return (
        li.join(okeys, li.l_orderkey == F.col("o_orderkey"))
        .join(_gated_dim(dim, sf_dir), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("r_name")
        .agg(
            F.sum(revenue).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


_SQL_REGION_REVENUE = f"""
SELECT r_name,
  sum(CAST(l_extendedprice AS {DEC}) * (CAST(1 AS {DEC}) - CAST(l_discount AS {DEC}))) AS revenue,
  count(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


# ---------------------------------------------------------------------------
# join_semi / join_anti
# ---------------------------------------------------------------------------

def _q_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT")
    return cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


_SQL_SEMI = (
    "SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE EXISTS "
    "(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')"
)


def _q_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    return part.join(li, part.p_partkey == li.l_partkey, "left_anti").select(
        "p_partkey", "p_name", "p_brand"
    )


_SQL_ANTI = (
    "SELECT p_partkey, p_name, p_brand FROM part WHERE NOT EXISTS "
    "(SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)"
)


# ---------------------------------------------------------------------------
# groupby_rollup / groupby_cube
# ---------------------------------------------------------------------------

def _q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC)).alias("total_price"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        )
    )


_SQL_ROLLUP = f"""
SELECT o_orderstatus, o_orderpriority,
  count(*) AS n_orders,
  sum(CAST(o_totalprice AS {DEC})) AS total_price,
  CAST(grouping(o_orderstatus) AS INT) AS g_status,
  CAST(grouping(o_orderpriority) AS INT) AS g_priority
FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
"""


def _q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast(DEC)).alias("sum_qty"),
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
    )


_SQL_CUBE = f"""
SELECT l_returnflag, l_linestatus, count(*) AS n,
  sum(CAST(l_quantity AS {DEC})) AS sum_qty,
  CAST(grouping(l_returnflag) AS INT) AS g_flag,
  CAST(grouping(l_linestatus) AS INT) AS g_status
FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
"""


# ---------------------------------------------------------------------------
# window_topk_per_group / window_running_total / window_lag_delta
# ---------------------------------------------------------------------------

def _q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # orders feeds the window's custkey shuffle directly — plain scan,
    # no fan-out (r9 A/B: raw won all 6 interleaved sf1 rounds)
    orders = _t_shuffle_input(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )


_SQL_WINDOW_TOPK = """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rnk AS INT) AS rnk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
  FROM orders
) WHERE rnk <= 3
"""


def _q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast(DEC)).over(w).alias("running_spend"),
    )


_SQL_WINDOW_RUNNING = f"""
SELECT o_custkey, o_orderkey, o_orderdate,
  sum(CAST(o_totalprice AS {DEC})) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_spend
FROM orders
"""


def _q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
    prev = F.lag(F.col("o_totalprice").cast(DEC)).over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        prev.alias("prev_price"),
        (F.col("o_totalprice").cast(DEC) - prev).alias("price_delta"),
        # NULLABLE-INT canon rule: lead() is null on each partition's last
        # row, and one null makes pandas render the oracle column float64
        # ('11415.0'); emit double on BOTH engines so the values agree.
        F.lead("o_orderkey").over(w).cast("double").alias("next_orderkey"),
    )


_SQL_WINDOW_LAG = f"""
SELECT o_custkey, o_orderkey,
  lag(CAST(o_totalprice AS {DEC})) OVER w AS prev_price,
  CAST(o_totalprice AS {DEC}) - lag(CAST(o_totalprice AS {DEC})) OVER w AS price_delta,
  CAST(lead(o_orderkey) OVER w AS DOUBLE) AS next_orderkey
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
"""


# ---------------------------------------------------------------------------
# set operations
# ---------------------------------------------------------------------------

def _q_set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    a = orders.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = orders.where(F.col("o_orderpriority") == "2-HIGH").select("o_custkey")
    return a.union(b).distinct()


_SQL_SET_UNION = (
    "SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT' "
    "UNION SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'"
)


def _q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    a = orders.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = orders.where(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    return a.intersect(b)


_SQL_SET_INTERSECT = (
    "SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT' "
    "INTERSECT SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'"
)


def _q_set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    a = orders.select("o_custkey")
    b = orders.where(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.exceptAll(b)


_SQL_SET_EXCEPT_ALL = (
    "SELECT o_custkey FROM orders "
    "EXCEPT ALL SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'"
)


# ---------------------------------------------------------------------------
# sorts / top-k / distinct counting
# ---------------------------------------------------------------------------

def _q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    )


_SQL_TOPK_ORDERS = (
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
    "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"
)


def _q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


_SQL_COUNT_DISTINCT = (
    "SELECT count(DISTINCT l_partkey) AS n_parts, count(DISTINCT l_suppkey) AS n_supps, "
    "count(DISTINCT l_orderkey) AS n_orders FROM lineitem"
)


def _q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++), made oracle-checkable: the sketch
    estimate itself is engine-specific by construction, so the checked
    output is the exact count plus a boolean asserting the estimate landed
    within 5×rsd (rsd=0.02 → ±10%, ~5 sigma — deterministic pass for a
    correct HLL++). The oracle computes the exact count and literal true."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    err = F.abs(F.col("approx_parts") - F.col("exact_parts")) / F.col("exact_parts")
    return agg.select("exact_parts", (err <= F.lit(0.10)).alias("within_bound"))


_SQL_APPROX_DISTINCT = (
    "SELECT count(DISTINCT l_partkey) AS exact_parts, true AS within_bound FROM lineitem"
)


# ---------------------------------------------------------------------------
# events: tumbling window, sessionization, JSON extraction
# ---------------------------------------------------------------------------

def _q_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sessionize import tumbling_window_agg
    from ..sources.tables import load_events

    return tumbling_window_agg(load_events(spark, sf_dir), "1 hour")


_SQL_TUMBLING = """
SELECT date_trunc('hour', ts) AS window_start,
  date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
  count(*) AS n_events,
  sum(CAST(value AS DECIMAL(18,3))) AS sum_value
FROM events GROUP BY 1
"""


def _q_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sessionize import sliding_window_agg
    from ..sources.tables import load_events

    return sliding_window_agg(load_events(spark, sf_dir), "15 minutes", "5 minutes")


# every event belongs to exactly 3 windows (15m span / 5m slide); DuckDB's
# time_bucket origin (2000-01-01) is a whole multiple of 5 minutes from
# Spark's window origin (1970-01-01), so bucket edges coincide
_SQL_SLIDING = """
WITH expanded AS (
  SELECT time_bucket(INTERVAL '5 minutes', ts) - (k.k * INTERVAL '5 minutes') AS window_start,
         value
  FROM events, (SELECT unnest(range(0, 3)) AS k) k)
SELECT window_start,
  window_start + INTERVAL 15 MINUTE AS window_end,
  count(*) AS n_events,
  sum(CAST(value AS DECIMAL(18,3))) AS sum_value
FROM expanded GROUP BY 1
"""


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sessionize import sessionize
    from ..sources.tables import load_events

    return sessionize(load_events(spark, sf_dir), gap_minutes=30)


_SQL_SESSIONIZE = """
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
              > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT *, CAST(sum(new_session) OVER (
    PARTITION BY user_id ORDER BY ts ASC, event_id ASC
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq, count(*) AS n_events,
  min(ts) AS session_start, max(ts) AS session_end,
  sum(CAST(value AS DECIMAL(18,3))) AS sum_value
FROM numbered GROUP BY user_id, session_seq
"""


def _q_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native gap-based sessionization (``F.session_window`` — Spark's
    built-in dynamic-window operator, the batch twin of the streaming
    session windows) certified EQUAL to the manual lag/running-sum
    formulation: the oracle is the gap-split CTE, so the hash check proves
    the built-in and hand-rolled semantics coincide. Boundary caveat: an
    exact-gap event (Δ == 30:00.000000) opens a new session natively but
    extends the session in the strict `>` manual form — unobservable at
    microsecond-jittered timestamps, noted for exact-minute feeds."""
    from ..sources.tables import load_events

    e = load_events(spark, sf_dir)
    return (
        e.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("sw"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,3)")).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


_SQL_SESSION_WINDOW_NATIVE = """
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
              > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT *, sum(new_session) OVER (
    PARTITION BY user_id ORDER BY ts ASC, event_id ASC
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
  sum(CAST(value AS DECIMAL(18,3))) AS sum_value
FROM numbered GROUP BY user_id, session_seq
"""


def _q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase matched to the user's most recent prior-or-equal view
    (backward as-of join; unmatched purchases keep nulls)."""
    from ..operators.asof import asof_join
    from ..sources.tables import load_events

    ev = load_events(spark, sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id"), F.col("value").alias("purchase_value")
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    out = asof_join(purchases, views, on="ts", by="user_id")
    return out.select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "purchase_id",
        "purchase_value",
        F.col("r_ts").alias("view_ts"),
        # NULLABLE-INT canon rule: the backward as-of is a LEFT join, so
        # view_id is null for never-viewed purchasers and pandas renders the
        # oracle column float64; emit double on BOTH engines.
        F.col("r_view_id").cast("double").alias("view_id"),
    )


_SQL_ASOF = """
SELECT l.user_id, l.ts AS purchase_ts, l.event_id AS purchase_id,
  l.value AS purchase_value, r.ts AS view_ts, CAST(r.event_id AS DOUBLE) AS view_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def _q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase matched to the user's NEAREST view in either direction
    (ties prefer the earlier-or-equal view) — the nearest-direction variant
    of the as-of join, same one-shuffle union-tag-window shape with the
    carry run both ways."""
    from ..operators.asof import asof_join_nearest
    from ..sources.tables import load_events

    ev = load_events(spark, sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id"), F.col("value").alias("purchase_value")
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    out = asof_join_nearest(purchases, views, on="ts", by="user_id")
    return out.select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "purchase_id",
        "purchase_value",
        F.col("r_ts").alias("view_ts"),
        F.col("r_view_id").alias("view_id"),
    )


_SQL_ASOF_NEAREST = """
WITH u AS (
  SELECT user_id, ts AS ord, 1 AS side,
    event_id AS purchase_id, value AS purchase_value,
    CAST(NULL AS STRUCT(v_ts TIMESTAMP, view_id BIGINT)) AS r
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, ts, 0, NULL, NULL,
    struct_pack(v_ts := ts, view_id := event_id)
  FROM events WHERE event_type = 'view' AND ts IS NOT NULL),
c AS (
  SELECT *,
    last_value(r IGNORE NULLS) OVER wb AS b,
    first_value(r IGNORE NULLS) OVER wf AS f
  FROM u
  WINDOW
    wb AS (PARTITION BY user_id ORDER BY ord ASC, side ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    wf AS (PARTITION BY user_id ORDER BY ord ASC, side ASC
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
picked AS (
  SELECT *, CASE
      WHEN ord IS NULL THEN CAST(NULL AS STRUCT(v_ts TIMESTAMP, view_id BIGINT))
      WHEN b.v_ts IS NOT NULL AND (f.v_ts IS NULL
           OR epoch_us(ord) - epoch_us(b.v_ts) <= epoch_us(f.v_ts) - epoch_us(ord))
      THEN b ELSE f END AS ch
  FROM c WHERE side = 1)
SELECT user_id, ord AS purchase_ts, purchase_id, purchase_value,
  ch.v_ts AS view_ts, ch.view_id AS view_id
FROM picked
"""


# ---------------------------------------------------------------------------
# events_session_conversion — composite: gap-sessionize, then the ordered
# view→purchase funnel WITHIN each session. Plan: one shuffle on user_id
# for the session-id windows, one on (user_id, session_seq) for the
# in-session carry (Spark does not exploit that it sub-partitions the
# first — a hash partitioning on a prefix is not reused for a wider key),
# then the per-session aggregate reuses the second partitioning and a
# final scalar rollup. 4 exchanges total over the fact, each on a narrow
# projected row.
# ---------------------------------------------------------------------------

def _q_session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_events

    ev = load_events(spark, sf_dir)
    w_user = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gap = F.expr("INTERVAL 30 MINUTES")
    with_ids = ev.withColumn(
        "_new_session",
        F.when(F.col("ts") - F.lag("ts").over(w_user) > gap, 1).otherwise(0),
    ).withColumn("session_seq", F.sum("_new_session").over(w_user).cast("long"))
    w_sess = (
        Window.partitionBy("user_id", "session_seq")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    first_view = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w_sess)
    staged = with_ids.withColumn("view_ts", first_view).withColumn(
        "conv_purchase",
        (F.col("event_type") == "purchase") & (F.col("view_ts") < F.col("ts")),
    )
    per_session = staged.groupBy("user_id", "session_seq").agg(
        F.max(F.col("event_type") == "view").alias("has_view"),
        F.max("conv_purchase").alias("converted"),
    )
    return per_session.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.col("has_view").cast("long")).alias("n_with_view"),
        F.sum(F.col("converted").cast("long")).alias("n_converted"),
        F.round(
            F.sum(F.col("converted").cast("long"))
            / F.greatest(F.sum(F.col("has_view").cast("long")), F.lit(1)),
            6,
        ).alias("conversion_rate"),
    )


_SQL_SESSION_CONVERSION = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
              > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
  FROM events),
ids AS (
  SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM flagged),
staged AS (
  SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
      OVER (PARTITION BY user_id, session_seq ORDER BY ts ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS view_ts
  FROM ids),
per_session AS (
  SELECT user_id, session_seq,
    max(event_type = 'view') AS has_view,
    max(event_type = 'purchase' AND view_ts < ts) AS converted
  FROM staged GROUP BY user_id, session_seq)
SELECT count(*) AS n_sessions,
  CAST(sum(CAST(has_view AS BIGINT)) AS BIGINT) AS n_with_view,
  CAST(sum(CAST(converted AS BIGINT)) AS BIGINT) AS n_converted,
  round(sum(CAST(converted AS BIGINT)) / greatest(sum(CAST(has_view AS BIGINT)), 1), 6)
    AS conversion_rate
FROM per_session
"""


def _q_cross_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deliberate CROSS JOIN: the 5x5 region x order-priority grid with
    actual order counts left-joined on (zero-filled) — the dense-grid
    reporting shape. Both cross sides are tiny dimensions; the fact joins
    by broadcast. (The plan tests elsewhere assert no query falls into a
    cartesian ACCIDENTALLY — this one is the intentional counterpart.)"""
    region = _t(spark, sf_dir, "region").select("r_name")
    prio = _t(spark, sf_dir, "orders").select("o_orderpriority").distinct()
    grid = region.crossJoin(prio)
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    reg = _t(spark, sf_dir, "region").select("r_regionkey", F.col("r_name").alias("rr_name"))
    counts = (
        _t(spark, sf_dir, "orders")
        .join(_gated_dim(cust, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("rr_name"), F.col("o_orderpriority").alias("prio"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        grid.join(
            counts,
            (grid.r_name == counts.rr_name) & (grid.o_orderpriority == F.col("prio")),
            "left",
        )
        .select(
            "r_name",
            "o_orderpriority",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_orders"),
        )
        .orderBy("r_name", "o_orderpriority")
    )


_SQL_CROSS_GRID = """
WITH grid AS (
  SELECT r_name, o_orderpriority
  FROM region CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders)),
counts AS (
  SELECT r_name AS rr_name, o_orderpriority AS prio, count(*) AS n
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY rr_name, prio)
SELECT g.r_name, g.o_orderpriority, coalesce(c.n, 0) AS n_orders
FROM grid g LEFT JOIN counts c ON c.rr_name = g.r_name AND c.prio = g.o_orderpriority
ORDER BY g.r_name, g.o_orderpriority
"""


def _q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_events

    ev = load_events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


_SQL_JSON_PROPS = """
SELECT event_type, count(*) AS n,
  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type
"""


def _q_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT twin of events_json_props: ``parse_json`` decodes the
    props string ONCE into the binary semi-structured VariantType, and field
    access is ``variant_get`` with a target type — at scale this beats
    re-tokenizing the JSON text per extracted field (get_json_object parses
    the string on every call), and a variant column persisted to parquet
    keeps the decoded form across queries. ``try_parse_json`` (null instead
    of error on malformed rows) is used, NOT ``parse_json``: the query it
    twins (get_json_object) and their shared oracle both null-tolerate bad
    JSON, so the variant's failure semantics must match. Shares
    events_json_props' oracle — the surfaces must agree exactly."""
    from ..sources.tables import load_events

    ev = load_events(spark, sf_dir)
    k = F.variant_get(F.try_parse_json("props"), "$.k", "long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


QUERIES = [
    QuerySpec("q1_pricing_summary", _q1, _SQL_Q1, headline=True),
    QuerySpec("join_region_revenue", _q_region_revenue, _SQL_REGION_REVENUE, headline=True),
    QuerySpec("join_semi_urgent_customers", _q_semi, _SQL_SEMI),
    QuerySpec("join_cross_grid_coverage", _q_cross_grid, _SQL_CROSS_GRID),
    QuerySpec("join_anti_unordered_parts", _q_anti, _SQL_ANTI),
    QuerySpec("groupby_rollup_orders", _q_rollup, _SQL_ROLLUP),
    QuerySpec("groupby_cube_lineitem", _q_cube, _SQL_CUBE),
    QuerySpec("window_topk_per_customer", _q_window_topk, _SQL_WINDOW_TOPK, headline=True),
    QuerySpec("window_running_total", _q_window_running, _SQL_WINDOW_RUNNING),
    QuerySpec("window_lag_delta", _q_window_lag, _SQL_WINDOW_LAG),
    QuerySpec("set_union_priorities", _q_set_union, _SQL_SET_UNION),
    QuerySpec("set_intersect_priorities", _q_set_intersect, _SQL_SET_INTERSECT),
    QuerySpec("set_except_all_open_orders", _q_set_except_all, _SQL_SET_EXCEPT_ALL),
    QuerySpec("topk_orders", _q_topk_orders, _SQL_TOPK_ORDERS),
    QuerySpec("agg_count_distinct", _q_count_distinct, _SQL_COUNT_DISTINCT),
    QuerySpec("agg_approx_count_distinct", _q_approx_distinct, _SQL_APPROX_DISTINCT),
    QuerySpec("join_asof_purchase_view", _q_asof, _SQL_ASOF),
    QuerySpec("join_asof_nearest_view", _q_asof_nearest, _SQL_ASOF_NEAREST),
    QuerySpec("events_tumbling_hourly", _q_tumbling, _SQL_TUMBLING, headline=True),
    QuerySpec("events_sliding_15m", _q_sliding, _SQL_SLIDING),
    QuerySpec("events_sessionize", _q_sessionize, _SQL_SESSIONIZE, headline=True),
    QuerySpec("events_session_window_native", _q_session_window_native, _SQL_SESSION_WINDOW_NATIVE),
    QuerySpec("events_session_conversion", _q_session_conversion, _SQL_SESSION_CONVERSION),
    QuerySpec("events_json_props", _q_json_props, _SQL_JSON_PROPS),
    QuerySpec("events_props_variant", _q_props_variant, _SQL_JSON_PROPS),
]
