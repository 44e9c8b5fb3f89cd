"""EXT graph-analytics surface: PageRank centrality over the purchase
graph (customer → supplier via orders ⋈ lineitem).

Corpus-curation motivation: crawl-graph centrality is a standard quality
prior for training-data pipelines (rank-weighted sampling, hub/boilerplate
demotion); here the same operator runs on the star schema's natural graph,
whose edge count scales with the fact table. The reference has no graph
surface (SURVEY.md §2.10) — EXT scope, like the LSH family.

Node encoding: customers ↦ 2·custkey, suppliers ↦ 2·suppkey+1 (disjoint
integer namespaces, mirrored verbatim in the oracle). Suppliers have no
out-edges, so every iteration exercises the dangling-mass redistribution
path — the part naive PageRank ports get wrong.

Scale shape: edge derivation is one fact-table join + distinct; the
iteration inherits operators/pagerank.py's contract (degree-annotated edge
table built once and checkpointed partitioned-on-src; two map-side-combine
shuffles per round; per-round eager checkpoints; 1-row dangling scalar).
The top-40 output is TakeOrderedAndProject — per-partition heaps, K-row
final merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import QuerySpec
from .relational import _t, _t_shuffle_input
from ..constants import KCORE_K, KCORE_ROUNDS
from ..operators.pagerank import pagerank, pagerank_oracle_sql

_PR_ITERS = 10
_PR_TOPK = 40


def _purchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # KEEPS the fan-out: the _t_shuffle_input rule nominates these (first
    # consumer is the l_orderkey join) but the r10 interleaved A/B at sf1
    # was a wash (fanout 12.561 vs plain 12.652 s median) — pagerank's wall
    # is the 10-round recurrence, not the edge build. Unchanged to keep the
    # pin history comparable; do not re-litigate without new evidence.
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )


def _q_pagerank_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranks = pagerank(_purchase_edges(spark, sf_dir), iters=_PR_ITERS)
    return ranks.orderBy(
        F.col("rank_scaled").desc(), F.col("node").asc()
    ).limit(_PR_TOPK)


_EDGES_SQL = (
    "SELECT o_custkey * 2 AS s, l_suppkey * 2 + 1 AS d"
    " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
)

_SQL_PAGERANK_PURCHASES = (
    pagerank_oracle_sql(_EDGES_SQL, iters=_PR_ITERS)
    .replace(
        f"FROM r{_PR_ITERS}",
        f"FROM r{_PR_ITERS} ORDER BY rank_scaled DESC, node ASC LIMIT {_PR_TOPK}",
    )
)


# ---------------------------------------------------------------------------
# graph_ppr_segment — PERSONALIZED PageRank (random walk with restart)
# from the BUILDING market segment: teleport and dangling mass flow only
# to BUILDING-customer nodes, so the stationary mass at supplier nodes
# measures proximity to that cohort — the seed-set-expansion /
# segment-personalized-recommendation primitive. Same exact-integer
# recurrence as graph_pagerank_purchases (bit-identical across engines);
# the seed set is a broadcast-scale dimension filter. Output: top-20
# SUPPLIER nodes (odd ids in the 2k/2k+1 namespace) by personalized rank.
# ---------------------------------------------------------------------------

_PPR_SEGMENT = "BUILDING"
_PPR_TOPK = 20


def _q_ppr_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    seeds = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == _PPR_SEGMENT)
        .select((F.col("c_custkey") * 2).alias("node"))
    )
    ranks = pagerank(_purchase_edges(spark, sf_dir), iters=_PR_ITERS, seeds=seeds)
    return (
        ranks.where(F.col("node") % 2 == 1)
        .orderBy(F.col("rank_scaled").desc(), F.col("node").asc())
        .limit(_PPR_TOPK)
    )


_SEEDS_SQL = (
    f"SELECT c_custkey * 2 AS node FROM customer"
    f" WHERE c_mktsegment = '{_PPR_SEGMENT}'"
)

_SQL_PPR_SEGMENT = (
    pagerank_oracle_sql(_EDGES_SQL, iters=_PR_ITERS, seeds_sql=_SEEDS_SQL)
    .replace(
        f"FROM r{_PR_ITERS}",
        f"FROM r{_PR_ITERS} WHERE node % 2 = 1"
        f" ORDER BY rank_scaled DESC, node ASC LIMIT {_PPR_TOPK}",
    )
)


# ---------------------------------------------------------------------------
# graph_triangles_copurchase — triangle census of the part co-purchase
# graph (parts co-occurring on >= 2 orders). The standard distributed
# formulation (Suri & Vassilvitskii WWW'11 / Cohen's MapReduce triangle
# counting): orient every edge from the (degree, id)-smaller endpoint to
# the larger, enumerate wedges at each node's out-neighborhood, and close
# them with one equi-join back onto the oriented edge set. Orientation
# bounds every out-degree by O(sqrt(m)), so the wedge blow-up is
# m^(3/2)-bounded — never the naive sum of squared degrees; each triangle
# is counted exactly once (at its orientation-minimal apex).
#
# Scale shape (100 TB): the corpus-sized work is the per-order pair
# aggregation (group size bounded by lines-per-order — the
# basket_part_pairs guard); the support>=2 threshold (how co-occurrence
# graphs are always thinned at scale — association-rule min-support)
# bounds the edge set, which is then eagerly checkpointed once and reused
# by the degree, wedge, and closure stages (4 consumers, one
# materialization). All joins are equi-joins on node keys; the final
# census is a 1-row scalar combine. Transitivity = 3*triangles / wedges
# as a quotient of exact integers < 2^53 — a single correctly-rounded
# IEEE division, bit-identical on both engines.
# ---------------------------------------------------------------------------

_TRI_MIN_SUPPORT = 2


def _q_triangles_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graphstats import triangle_census

    # Distinct (order, part) baskets first: support must count ORDERS, so
    # duplicate part lines within one order can't push an edge over the
    # threshold (r4 bug — sup>=2 was satisfiable by a single order with a
    # repeated part line). Pinned by the adjacency-set recount test.
    # Near-unique distinct = raw-key-shuffle first consumer: plain loader
    # (r10 q18 A/B, no-reduction partial-agg class).
    li = _t_shuffle_input(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("sup"))
        .where(F.col("sup") >= _TRI_MIN_SUPPORT)
        .select("u", "v")
        .localCheckpoint(eager=True)  # 4 consumers, one materialization
    )
    return triangle_census(edges)


_SQL_TRIANGLES = f"""
WITH li AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {_TRI_MIN_SUPPORT}),
deg AS MATERIALIZED (
  SELECT n, count(*) AS d
  FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) t GROUP BY n),
o AS MATERIALIZED (
  SELECT CASE WHEN lt THEN u ELSE v END AS src,
         CASE WHEN lt THEN v ELSE u END AS dst,
         CASE WHEN lt THEN dv ELSE du END AS ddst
  FROM (SELECT e.u, e.v, a.d AS du, b.d AS dv,
               (a.d < b.d OR (a.d = b.d AND e.u < e.v)) AS lt
        FROM e JOIN deg a ON e.u = a.n JOIN deg b ON e.v = b.n)),
w AS (
  SELECT CASE WHEN lt THEN b1 ELSE b2 END AS src,
         CASE WHEN lt THEN b2 ELSE b1 END AS dst
  FROM (SELECT w1.dst AS b1, w2.dst AS b2,
               (w1.ddst < w2.ddst OR (w1.ddst = w2.ddst AND w1.dst < w2.dst)) AS lt
        FROM o w1 JOIN o w2 ON w1.src = w2.src AND w1.dst < w2.dst)),
tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
        FROM w JOIN o ON w.src = o.src AND w.dst = o.dst)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
       (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
       n_triangles,
       CASE WHEN (SELECT sum(d * (d - 1) // 2) FROM deg) > 0
            THEN CAST(n_triangles * 3 AS DOUBLE)
                 / CAST((SELECT sum(d * (d - 1) // 2) FROM deg) AS DOUBLE)
       END AS transitivity,
       false AS capped,
       CAST(0 AS BIGINT) AS n_wedges_dropped
FROM tri
"""


# ---------------------------------------------------------------------------
# graph_triangles_capped — the SCALE TIER of the triangle census: the same
# co-purchase graph through triangle_census(hub_cap=TRI_HUB_CAP), so the
# wedge stage is bounded by m·cap/2 rows on ANY degree distribution (the
# production setting for power-law graphs, stress-proven at hub/power-law
# skew in tools/stress_graph.py). n_triangles is then a LOWER BOUND and
# the exactly-accounted n_wedges_dropped (Σ C(d_out, 2) over hot apexes —
# an out-degree aggregate, never wedge rows) is reported in-band with
# capped=true. Registered so the capped plan is CORRECTNESS-gated like
# the LSH wide tier — the oracle replays the identical hot-apex filter
# and dropped-wedge arithmetic. The cap is deliberately LOW (4): the
# support-thresholded fixture graph thins as sf grows (max oriented
# out-degree 20 / 5 / 2 at sf0.001 / 0.01 / 0.1), and a cap of 4 BINDS at
# the driver's sf0.01 correctness gate (11 hot apexes), so the sweep
# hash-checks the dropped-wedge accounting itself, not just the
# uncapped-equivalent path. Production would size the cap to the wedge
# budget (e.g. 64 in tools/stress_graph.py).
# ---------------------------------------------------------------------------

TRI_HUB_CAP = 4


def _q_triangles_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graphstats import triangle_census

    li = _t_shuffle_input(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("sup"))
        .where(F.col("sup") >= _TRI_MIN_SUPPORT)
        .select("u", "v")
        .localCheckpoint(eager=True)
    )
    return triangle_census(edges, hub_cap=TRI_HUB_CAP)


_SQL_TRIANGLES_CAPPED = f"""
WITH li AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {_TRI_MIN_SUPPORT}),
deg AS MATERIALIZED (
  SELECT n, count(*) AS d
  FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) t GROUP BY n),
o AS MATERIALIZED (
  SELECT CASE WHEN lt THEN u ELSE v END AS src,
         CASE WHEN lt THEN v ELSE u END AS dst,
         CASE WHEN lt THEN dv ELSE du END AS ddst
  FROM (SELECT e.u, e.v, a.d AS du, b.d AS dv,
               (a.d < b.d OR (a.d = b.d AND e.u < e.v)) AS lt
        FROM e JOIN deg a ON e.u = a.n JOIN deg b ON e.v = b.n)),
od AS MATERIALIZED (SELECT src, count(*) AS dout FROM o GROUP BY src),
hot AS MATERIALIZED (SELECT src, dout FROM od WHERE dout > {TRI_HUB_CAP}),
dropped AS (
  SELECT CAST(coalesce(sum(dout * (dout - 1) // 2), 0) AS BIGINT)
    AS n_wedges_dropped FROM hot),
wb AS MATERIALIZED (
  SELECT o.* FROM o ANTI JOIN hot ON o.src = hot.src),
w AS (
  SELECT CASE WHEN lt THEN b1 ELSE b2 END AS src,
         CASE WHEN lt THEN b2 ELSE b1 END AS dst
  FROM (SELECT w1.dst AS b1, w2.dst AS b2,
               (w1.ddst < w2.ddst OR (w1.ddst = w2.ddst AND w1.dst < w2.dst)) AS lt
        FROM wb w1 JOIN wb w2 ON w1.src = w2.src AND w1.dst < w2.dst)),
tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
        FROM w JOIN o ON w.src = o.src AND w.dst = o.dst)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
       (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
       n_triangles,
       CASE WHEN (SELECT sum(d * (d - 1) // 2) FROM deg) > 0
            THEN CAST(n_triangles * 3 AS DOUBLE)
                 / CAST((SELECT sum(d * (d - 1) // 2) FROM deg) AS DOUBLE)
       END AS transitivity,
       true AS capped,
       (SELECT n_wedges_dropped FROM dropped) AS n_wedges_dropped
FROM tri
"""


# ---------------------------------------------------------------------------
# graph_kcore_copurchase — bounded-round k-core peel of the (unthresholded)
# part co-purchase graph: repeatedly remove nodes of degree < k, keeping
# only edges with both endpoints alive. Co-purchase degrees are
# SF-INVARIANT (lines-per-order and parts-per-order don't grow with the
# corpus), so a fixed k selects a comparable core at every scale. The
# peel is capped at KCORE_ROUNDS (at 100 TB you bound iterative rounds —
# the components.py discipline); the output carries `converged`, computed
# as round R-1 and round R having the same (count, xxhash-sum)
# fingerprint, so the cap is honest in-band rather than a silent
# approximation. Fixture graphs converge well inside the cap (pytest
# pins full-peel equality against a sequential Python reference).
#
# Scale shape: each round is one degree aggregation (map-side combine)
# plus two semi-joins of the edge list against the surviving-node set —
# all shuffles on node keys; per-round eager localCheckpoint keeps
# lineage flat. The oracle unrolls the identical rounds as MATERIALIZED
# CTEs.
# ---------------------------------------------------------------------------

def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # self-join on l_orderkey is the first consumer — plain loader
    li = _t_shuffle_input(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# graph_label_propagation — synchronous LPA community detection on the
# part co-purchase graph (see operators/graphstats.py:label_propagation
# for the determinism contract and scale shape): components.py answers
# connectivity, this answers DENSITY structure inside a component — the
# catalog-clustering / collaborative-filtering-neighborhood primitive.
# Output: the top-LPA_TOPK communities by size after LPA_ROUNDS rounds.
# ---------------------------------------------------------------------------

def _q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..constants import LPA_ROUNDS, LPA_TOPK
    from ..operators.graphstats import label_propagation

    lab = label_propagation(_copurchase_edges(spark, sf_dir), rounds=LPA_ROUNDS)
    return (
        lab.groupBy("community")
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
        .orderBy(F.col("n_members").desc(), F.col("community").asc())
        .limit(LPA_TOPK)
    )


def _sql_label_propagation() -> str:
    from ..constants import LPA_ROUNDS, LPA_TOPK
    from ..operators.graphstats import label_propagation_oracle_sql

    edges = (
        "SELECT a.l_partkey AS u, b.l_partkey AS v"
        " FROM lineitem a JOIN lineitem b"
        " ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"
        " GROUP BY 1, 2"
    )
    inner = label_propagation_oracle_sql(edges, LPA_ROUNDS)
    return (
        f"SELECT community, CAST(count(*) AS BIGINT) AS n_members FROM ({inner})"
        f" GROUP BY community ORDER BY n_members DESC, community ASC LIMIT {LPA_TOPK}"
    )


# ---------------------------------------------------------------------------
# graph_lpa_modularity — Newman modularity Q of the LPA communities (the
# quality number for the partition graph_label_propagation reports):
# Q = Σ_c [e_c/m − (d_c/2m)²] = (4m·intra − Σ_c d_c²) / (4m²), where m is
# the undirected edge count, intra the number of within-community edges,
# and d_c the community degree sum. Every term is an exact integer
# (Σd_c² accumulated in DECIMAL(38,0) — the kmeans accumulator rule, it
# crosses 2^63 near m ≈ 2^31 edges) and Q is ONE division of two
# correctly-rounded exact casts, so the number is bit-identical across
# engines at any test scale. Scale: two broadcast label joins over the
# checkpointed edge list + a 1-row aggregate on top of LPA's own cost.
# ---------------------------------------------------------------------------

def _q_lpa_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..constants import LPA_ROUNDS
    from ..operators.graphstats import label_propagation

    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
    lab = label_propagation(edges, rounds=LPA_ROUNDS)
    m = edges.count()
    la = lab.withColumnsRenamed({"node": "u", "community": "cu"})
    lb = lab.withColumnsRenamed({"node": "v", "community": "cv"})
    intra = (
        edges.join(F.broadcast(la), "u")
        .join(F.broadcast(lb), "v")
        .where(F.col("cu") == F.col("cv"))
        .agg(F.count(F.lit(1)).cast("long").alias("intra"))
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    dc = (
        deg.join(F.broadcast(lab), "node")
        .groupBy("community")
        .agg(F.sum("d").alias("dc"))
    )
    sd2 = dc.agg(
        F.sum(F.col("dc").cast("decimal(38,0)") * F.col("dc").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sd2"),
        F.count(F.lit(1)).cast("long").alias("n_communities"),
    )
    return intra.crossJoin(sd2).select(
        "n_communities",
        F.lit(m).cast("long").alias("n_edges"),
        F.round(
            (
                F.lit(4) * F.lit(m) * F.col("intra").cast("decimal(38,0)")
                - F.col("sd2")
            ).cast("double")
            / F.lit(float(4 * m * m)),
            6,
        ).alias("modularity"),
    )


def _sql_lpa_modularity() -> str:
    from ..constants import LPA_ROUNDS
    from ..operators.graphstats import label_propagation_oracle_sql

    edges = (
        "SELECT a.l_partkey AS u, b.l_partkey AS v"
        " FROM lineitem a JOIN lineitem b"
        " ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"
        " GROUP BY 1, 2"
    )
    inner = label_propagation_oracle_sql(edges, LPA_ROUNDS)
    return f"""
WITH lab AS MATERIALIZED ({inner}),
ed AS MATERIALIZED ({edges}),
mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ed),
intra AS (SELECT CAST(count(*) AS BIGINT) AS intra
          FROM ed JOIN lab la ON la.node = ed.u
                  JOIN lab lb ON lb.node = ed.v
          WHERE la.community = lb.community),
deg AS (SELECT node, count(*) AS d
        FROM (SELECT u AS node FROM ed UNION ALL SELECT v FROM ed) t
        GROUP BY node),
dc AS (SELECT lab.community, CAST(sum(deg.d) AS BIGINT) AS dcv
       FROM deg JOIN lab ON lab.node = deg.node GROUP BY 1),
s AS (SELECT CAST(count(*) AS BIGINT) AS n_communities,
             CAST(sum(dcv * dcv) AS HUGEINT) AS sd2 FROM dc)
SELECT n_communities, mm.m AS n_edges,
       round(CAST(CAST(4 AS HUGEINT) * mm.m * intra.intra - s.sd2 AS DOUBLE)
             / CAST(CAST(4 AS HUGEINT) * mm.m * mm.m AS DOUBLE), 6) AS modularity
FROM intra, s, mm
"""


# ---------------------------------------------------------------------------
# graph_link_prediction — neighbor-Jaccard link prediction on the part
# co-purchase graph (see operators/graphstats.py:link_prediction_jaccard):
# the "parts bought together but never yet in one order" recommender
# baseline. Hub-capped wedge enumeration, exact-int Jaccard, TakeOrdered.
# ---------------------------------------------------------------------------

def _q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..constants import LINKPRED_HUB_CAP, LINKPRED_TOPK
    from ..operators.graphstats import link_prediction_jaccard

    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
    return link_prediction_jaccard(edges, LINKPRED_HUB_CAP, LINKPRED_TOPK)


def _sql_link_prediction() -> str:
    from ..constants import LINKPRED_HUB_CAP, LINKPRED_TOPK
    from ..operators.graphstats import link_prediction_oracle_sql

    edges = (
        "SELECT a.l_partkey AS u, b.l_partkey AS v"
        " FROM lineitem a JOIN lineitem b"
        " ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"
        " GROUP BY 1, 2"
    )
    return link_prediction_oracle_sql(edges, LINKPRED_HUB_CAP, LINKPRED_TOPK)


# ---------------------------------------------------------------------------
# graph_bfs_distances — unweighted shortest-path distance histogram from a
# deterministic seed (the smallest part key) over the co-purchase graph,
# bounded-round frontier BFS (operators/graphstats.py:bfs_distances):
# the reachability / hop-count primitive the graph family lacked —
# "how many items are within k co-purchase hops of this one" is the
# substitution-radius question. Small-world co-purchase graphs saturate
# well inside the round budget; the output is (rounds+1)-bounded.
# ---------------------------------------------------------------------------

BFS_ROUNDS = 6


def _q_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graphstats import bfs_distances

    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
    seed = edges.agg(F.min("u")).collect()[0][0]
    return bfs_distances(edges, seed=int(seed), rounds=BFS_ROUNDS)


def _sql_bfs_distances() -> str:
    from ..operators.graphstats import bfs_oracle_sql

    edges = (
        "SELECT a.l_partkey AS u, b.l_partkey AS v"
        " FROM lineitem a JOIN lineitem b"
        " ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"
        " GROUP BY 1, 2"
    )
    seed = f"SELECT min(u) AS node FROM ({edges})"
    return bfs_oracle_sql(edges, seed, BFS_ROUNDS)


def _q_kcore_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graphstats import kcore_summary

    edges = _copurchase_edges(spark, sf_dir)
    return kcore_summary(edges, KCORE_K, KCORE_ROUNDS)


def _sql_kcore() -> str:
    parts = [
        "WITH e0 AS MATERIALIZED (",
        "  SELECT a.l_partkey AS u, b.l_partkey AS v",
        "  FROM lineitem a JOIN lineitem b",
        "    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey",
        "  GROUP BY 1, 2),",
    ]
    for i in range(1, KCORE_ROUNDS + 1):
        p = i - 1
        parts.append(
            f"""a{i} AS MATERIALIZED (
  SELECT n FROM (SELECT u AS n FROM e{p} UNION ALL SELECT v AS n FROM e{p}) t
  GROUP BY n HAVING count(*) >= {KCORE_K}),
e{i} AS MATERIALIZED (
  SELECT u, v FROM e{p}
  WHERE u IN (SELECT n FROM a{i}) AND v IN (SELECT n FROM a{i})),"""
        )
    r, q = KCORE_ROUNDS, KCORE_ROUNDS - 1
    # peeling only removes edges (e_i ⊆ e_{i-1}), so consecutive-round
    # set equality is exactly count equality — engine-independent, and it
    # agrees with the Spark side's stricter (count, hash-sum) fingerprint
    parts.append(
        f"""deg AS (
  SELECT n, count(*) AS d
  FROM (SELECT u AS n FROM e{r} UNION ALL SELECT v AS n FROM e{r}) t GROUP BY n)
SELECT {KCORE_K} AS k,
       CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_core_nodes,
       CAST((SELECT COALESCE(sum(d), 0) FROM deg) // 2 AS BIGINT)
         AS n_core_edges,
       (SELECT count(*) FROM e{q}) = (SELECT count(*) FROM e{r}) AS converged"""
    )
    return "\n".join(parts)


QUERIES = [
    QuerySpec(
        name="graph_pagerank_purchases",
        build=_q_pagerank_purchases,
        oracle=_SQL_PAGERANK_PURCHASES,
        doc="Top-40 PageRank centrality on the customer→supplier purchase "
        "graph — exact scaled-integer power iteration (10 rounds, "
        "damping 0.85, dangling redistribution), bit-identical across "
        "engines and partitionings.",
    ),
    QuerySpec(
        name="graph_ppr_segment",
        build=_q_ppr_segment,
        oracle=_SQL_PPR_SEGMENT,
        doc="Personalized PageRank from the BUILDING segment: teleport and "
        "dangling mass restricted to seed customers, exact integer "
        "recurrence; top-20 suppliers by proximity to the cohort.",
    ),
    QuerySpec(
        name="graph_label_propagation",
        build=_q_label_propagation,
        oracle=_sql_label_propagation(),
        doc=f"Synchronous label-propagation communities (fixed "
        f"round budget, total-order tie-break — bit-identical across "
        f"engines) on the part co-purchase graph; top communities by "
        f"size; oracle unrolls the identical rounds as materialized "
        f"CTEs.",
    ),
    QuerySpec(
        name="graph_bfs_distances",
        build=_q_bfs_distances,
        oracle=_sql_bfs_distances(),
        doc=f"Bounded-round BFS distance histogram (cap {BFS_ROUNDS}) "
        "from the smallest part key over the co-purchase graph — the "
        "reachability/hop-count primitive; per round one frontier "
        "equi-join on the checkpointed src partitioning + one anti-join "
        "against visited; oracle unrolls the identical rounds.",
    ),
    QuerySpec(
        name="graph_link_prediction",
        build=_q_link_prediction,
        oracle=_sql_link_prediction(),
        doc="Neighbor-Jaccard link prediction (top-20 non-adjacent "
        "2-hop pairs) with hub-capped wedge enumeration (<= m·cap rows "
        "on any degree distribution) and exact-int Jaccard; the oracle "
        "replays the identical cap.",
    ),
    QuerySpec(
        name="graph_lpa_modularity",
        build=_q_lpa_modularity,
        oracle=_sql_lpa_modularity(),
        doc="Newman modularity Q of the LPA partition — exact integer "
        "terms (DECIMAL(38,0) degree-square accumulator), one "
        "correctly-rounded division; two broadcast label joins + 1-row "
        "aggregates on top of LPA.",
    ),
    QuerySpec(
        name="graph_kcore_copurchase",
        build=_q_kcore_copurchase,
        oracle=_sql_kcore(),
        doc=f"Bounded-round k-core peel (k={KCORE_K}, cap "
        f"{KCORE_ROUNDS} rounds) of the part co-purchase graph with an "
        "in-band convergence flag; oracle unrolls the identical rounds "
        "as materialized CTEs.",
    ),
    QuerySpec(
        name="graph_triangles_copurchase",
        build=_q_triangles_copurchase,
        oracle=_SQL_TRIANGLES,
        doc="Triangle census of the support-thresholded part co-purchase "
        "graph: degree-ordered edge orientation, wedge enumeration + "
        "one closure equi-join (each triangle counted once at its "
        "orientation-minimal apex); nodes/edges/wedges/triangles + "
        "transitivity.",
    ),
    QuerySpec(
        name="graph_triangles_capped",
        build=_q_triangles_capped,
        oracle=_SQL_TRIANGLES_CAPPED,
        doc=f"Hub-capped triangle census (hub_cap={TRI_HUB_CAP}): wedges "
        "only at apexes under the cap (m*cap/2-bounded on any degree "
        "distribution), exact in-band dropped-wedge accounting, "
        "n_triangles as a flagged lower bound — the scale-tier plan, "
        "CORRECTNESS-gated like the LSH wide tier.",
    ),
]
