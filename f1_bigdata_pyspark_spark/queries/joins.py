"""Join / set-operation queries (capability extension — SURVEY.md §2.7:
the reference has zero joins; they enter through the star-schema testdata).

Scale notes: every dimension here (region/nation/customer/supplier/part) is
broadcast explicitly — at 100 TB the fact table never shuffles for these
joins; only the final small aggregate exchanges. Semi/anti joins use the
dedicated join types (no distinct-then-join detour).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from f1_bigdata_pyspark_spark.catalog import load_table
from f1_bigdata_pyspark_spark.queries.registry import query
from f1_bigdata_pyspark_spark.operators.join_policy import broadcast_if_small


# --------------------------------------------------------------------------
# Q: revenue_by_nation — the TPC-H Q5-shaped star join:
# lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region, aggregate revenue.
# --------------------------------------------------------------------------
@query(
    "revenue_by_nation",
    oracle="""
SELECT
  n_name,
  count(*) AS n_items,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name IN ('AMERICA', 'ASIA')
  AND o_orderdate >= TIMESTAMP '1996-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
    bench=True,
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name").isin("AMERICA", "ASIA")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
        .join(broadcast_if_small(customer), F.col("o_custkey") == customer.c_custkey, "inner")
        .join(broadcast_if_small(nation), F.col("c_nationkey") == nation.n_nationkey, "inner")
        .join(broadcast_if_small(region), F.col("n_regionkey") == region.r_regionkey, "inner")
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        # no trailing display orderBy (r11): order-insensitive hash gate;
        # measured ~0.3 s of range-exchange + sampling per run at sf0.1.
    )


# --------------------------------------------------------------------------
# Q: customers_without_orders — anti join (NOT EXISTS): customers with no
# premium (>400k) order. (Every customer has *some* order in the synthetic
# data, so the unfiltered anti join would be vacuous.)
# --------------------------------------------------------------------------
@query(
    "customers_without_orders",
    oracle="""
SELECT c_mktsegment, count(*) AS n_customers
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000
)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    premium = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 400000
    )
    return (
        customer.join(premium, customer.c_custkey == premium.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# Q: customers_with_big_orders — semi join (EXISTS).
# --------------------------------------------------------------------------
@query(
    "customers_with_big_orders",
    oracle="""
SELECT c_mktsegment, count(*) AS n_customers, round(avg(c_acctbal), 6) AS avg_acctbal
FROM customer
WHERE EXISTS (
  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000
)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def customers_with_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    big_orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 100000
    )
    return (
        customer.join(
            big_orders, customer.c_custkey == big_orders.o_custkey, "left_semi"
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 6).alias("avg_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# Q: union_active_customers — union + distinct set semantics (reference's
# multi-season append pattern, SURVEY.md §7 step 3).
# --------------------------------------------------------------------------
@query(
    "union_active_customers",
    oracle="""
WITH u AS (
  SELECT o_custkey FROM orders WHERE o_totalprice > 150000
  UNION
  SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01'
)
SELECT count(*) AS n_customers FROM u
""",
)
def union_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    high_value = orders.filter(F.col("o_totalprice") > 150000).select("o_custkey")
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        high_value.unionByName(recent)
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# --------------------------------------------------------------------------
# Q: part_supplier_join — mid-size broadcast join with projection pruning
# (only 2 of part's 6 columns should reach the scan).
# --------------------------------------------------------------------------
@query(
    "part_supplier_join",
    oracle="""
SELECT p_brand, s_name, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE p_size >= 25
GROUP BY p_brand, s_name
ORDER BY p_brand, s_name
""",
)
def part_supplier_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") >= 25)
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        li.join(broadcast_if_small(part), li.l_partkey == part.p_partkey, "inner")
        .join(broadcast_if_small(supplier), li.l_suppkey == supplier.s_suppkey, "inner")
        .groupBy("p_brand", "s_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy("p_brand", "s_name")
    )


# --------------------------------------------------------------------------
# The supplier graphs, written once. Each builder below has a DuckDB twin
# right next to it, and every graph face and its oracle read their graph
# through the pair, so both sides of a face see the same edges by
# construction. Two graphs are in use:
# - co-ORDER (undirected): suppliers shipping lines of the same order
#   inside a shipdate window, one (u, v) row per pair with u < v;
# - co-PART (directed, both orientations): suppliers shipping the same part.
# --------------------------------------------------------------------------
_YEAR_1997 = ("1997-01-01", "1998-01-01")
_H1_1997 = ("1997-01-01", "1997-07-01")


def _co_order_edges(spark: SparkSession, sf_dir: str, window) -> DataFrame:
    """Undirected co-order edges (u, v), u < v, over shipdates in the
    half-open ``window`` (lo, hi)."""
    lo, hi = window
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        li.filter(
            (F.col("l_shipdate") >= F.lit(lo).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(hi).cast("timestamp"))
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    a = pairs.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sa"))
    b = pairs.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sb"))
    return (
        a.join(b, "ok")
        .filter(F.col("sa") != F.col("sb"))
        .select(F.least("sa", "sb").alias("u"), F.greatest("sa", "sb").alias("v"))
        .distinct()
    )


def _co_order_edges_sql(window) -> str:
    """``_co_order_edges`` as the CTEs ``pairs`` and ``und``."""
    lo, hi = window
    return f"""pairs AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{lo}'
    AND l_shipdate < TIMESTAMP '{hi}'
),
und AS MATERIALIZED (
  SELECT DISTINCT least(a.l_suppkey, b.l_suppkey) AS u,
                  greatest(a.l_suppkey, b.l_suppkey) AS v
  FROM pairs a JOIN pairs b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
)"""


def _co_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(pk, src, dst) for every two distinct suppliers of part pk."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    a = pairs.select(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("src"))
    b = pairs.select(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("dst"))
    return a.join(b, "pk").filter(F.col("src") != F.col("dst"))


def _co_part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed co-part edges: distinct (src, dst)."""
    return _co_part_pairs(spark, sf_dir).select("src", "dst").distinct()


# ``_co_part_pairs`` as the CTEs ``pairs`` and ``co_part``; with
# ``_co_part_edges`` as ``edges`` on top.
_CO_PART_SQL = """pairs AS MATERIALIZED (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
),
co_part AS (
  SELECT a.l_partkey AS pk, a.l_suppkey AS src, b.l_suppkey AS dst
  FROM pairs a JOIN pairs b
    ON a.l_partkey = b.l_partkey AND a.l_suppkey <> b.l_suppkey
)"""
_CO_PART_EDGES_SQL = (
    _CO_PART_SQL
    + """,
edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM co_part)"""
)


def _orient_by_degree(und: DataFrame, deg: DataFrame) -> DataFrame:
    """Degree orientation of undirected edges (u, v) given node degrees
    (node, d): each edge points from its (lower-degree, then lower-id)
    endpoint to the other, as (src, dst)."""
    du = broadcast_if_small(deg.select(F.col("node").alias("u"), F.col("d").alias("du")))
    dv = broadcast_if_small(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")))
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )


# ``_orient_by_degree`` over CTEs ``und`` and ``deg`` as the CTE ``ori``.
_ORIENT_SQL = """ori AS (
  SELECT CASE WHEN (du.d, u) < (dv.d, v) THEN u ELSE v END AS src,
         CASE WHEN (du.d, u) < (dv.d, v) THEN v ELSE u END AS dst
  FROM und JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v
)"""


# --------------------------------------------------------------------------
# Q: pagerank_suppliers — iterative graph algorithm as unrolled dataflow:
# 3 PageRank iterations (damping 0.85) over the co-supplier graph (edge
# between suppliers shipping the same part; symmetric, so there are no
# dangling nodes and the plain update rule is exact). The Spark side
# builds the iteration by LOOP-UNROLLING into one declarative plan — the
# idiomatic Spark form for a FIXED iteration count (contrast
# operators/graph.connected_components, which iterates to convergence
# with checkpoints); the oracle unrolls the same three steps as chained
# CTEs. Rounding happens ONCE at the end so iteration arithmetic is
# bit-comparable.
# Scale: each iteration is one shuffle on dst (map-side combined sum);
# the rank and degree tables are O(#suppliers) — broadcastable; the edge
# table partitions by src and is reused across iterations (at 100 TB
# you'd checkpoint it once, as the docstring of graph.py discusses).
# --------------------------------------------------------------------------
@query(
    "pagerank_suppliers",
    oracle=f"""
WITH {_CO_PART_EDGES_SQL},
nodes AS (SELECT DISTINCT src AS node FROM edges),
n AS (SELECT count(*) AS n FROM nodes),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
r0 AS (SELECT node, 1.0 / (SELECT n FROM n) AS pr FROM nodes),
r1 AS (
  SELECT e.dst AS node,
         0.15 / (SELECT n FROM n)
         + 0.85 * sum(r0.pr / deg.outdeg) AS pr
  FROM edges e JOIN r0 ON r0.node = e.src JOIN deg ON deg.src = e.src
  GROUP BY e.dst
),
r2 AS (
  SELECT e.dst AS node,
         0.15 / (SELECT n FROM n)
         + 0.85 * sum(r1.pr / deg.outdeg) AS pr
  FROM edges e JOIN r1 ON r1.node = e.src JOIN deg ON deg.src = e.src
  GROUP BY e.dst
),
r3 AS (
  SELECT e.dst AS node,
         0.15 / (SELECT n FROM n)
         + 0.85 * sum(r2.pr / deg.outdeg) AS pr
  FROM edges e JOIN r2 ON r2.node = e.src JOIN deg ON deg.src = e.src
  GROUP BY e.dst
)
SELECT node AS s_suppkey, round(pr, 6) AS pagerank
FROM r3
ORDER BY pagerank DESC, s_suppkey ASC
LIMIT 20
""",
)
def pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_bigdata_pyspark_spark.utils import materialize

    # pre-partition the edge table by src ONCE: deg and every iteration's
    # rank join key on src, so the materialized partitioning is reused and
    # only the node-sized rank/degree frames move per round. Those frames
    # scale with the NODE count (10^9 on a web graph), so they go through
    # the size policy — broadcast while small, co-partitioned shuffle join
    # when not — never an unconditional replicate-to-every-executor hint.
    edges = materialize(_co_part_edges(spark, sf_dir).repartition("src"))
    nodes = edges.select(F.col("src").alias("node")).distinct()
    n = nodes.count()  # driver-side scalar: the PageRank base constant
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    contrib_edges = edges.join(broadcast_if_small(deg), "src")
    pr = nodes.select("node", F.lit(1.0 / n).alias("pr"))
    for _ in range(3):
        pr = (
            contrib_edges.join(
                broadcast_if_small(pr), pr.node == contrib_edges.src
            )
            .groupBy("dst")
            .agg(
                (
                    F.lit(0.15 / n)
                    + F.lit(0.85) * F.sum(F.col("pr") / F.col("outdeg"))
                ).alias("pr")
            )
            .select(F.col("dst").alias("node"), "pr")
        )
    return (
        pr.select(
            F.col("node").alias("s_suppkey"), F.round("pr", 6).alias("pagerank")
        )
        .orderBy(F.col("pagerank").desc(), F.col("s_suppkey").asc())
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q: supplier_graph_triangles — triangle counting with DEGREE ORIENTATION,
# the standard O(m^1.5) distributed-triangle algorithm: orient every
# undirected edge from its (lower-degree, then lower-id) endpoint to the
# other, so each triangle is counted exactly once and — the scale point —
# no vertex's adjacency list in the path join exceeds O(sqrt(m)): a
# celebrity node with 10M neighbors contributes wedges only through its
# (bounded) out-edges, not its in-edges. Output is one audit row: nodes,
# edges, triangles, and the global clustering coefficient
# (3·triangles / wedges). Graph = suppliers co-occurring in an order
# during 1997. Physically: wedge join (e1.src = e2.src) then one closing
# hash join on (e1.dst, e2.dst) — two shuffles over edge-sized tables.
# --------------------------------------------------------------------------
@query(
    "supplier_graph_triangles",
    oracle=f"""
WITH {_co_order_edges_sql(_YEAR_1997)},
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
  ) GROUP BY node
),
{_ORIENT_SQL},
tri AS (
  SELECT count(*) AS n_triangles
  FROM ori e1
  JOIN ori e2 ON e1.src = e2.src AND e1.dst <> e2.dst
  JOIN ori e3 ON e3.src = e1.dst AND e3.dst = e2.dst
)
SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST((SELECT count(*) FROM und) AS BIGINT) AS n_edges,
       CAST(n_triangles AS BIGINT) AS n_triangles,
       round(3.0 * n_triangles
             / (SELECT sum(d * (d - 1) / 2) FROM deg), 6)
         AS clustering_coeff
FROM tri
""",
)
def supplier_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_bigdata_pyspark_spark.utils import materialize

    # read by deg + orientation + three join sides
    und = materialize(_co_order_edges(spark, sf_dir, _YEAR_1997))
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ori = materialize(_orient_by_degree(und, deg))
    # wedge pairs are ORDERED (d1 <> d2, both orders kept): the closing
    # edge is degree-oriented and exists in exactly one direction, so each
    # triangle joins exactly once — an id-ordered filter (d1 < d2) would
    # MISS triangles whose closing edge's degree orientation opposes id
    # order (caught by tests/test_properties.py's crafted counterexample)
    e1 = ori.select(F.col("src").alias("s"), F.col("dst").alias("d1"))
    e2 = ori.select(F.col("src").alias("s"), F.col("dst").alias("d2"))
    wedges = e1.join(e2, "s").filter(F.col("d1") != F.col("d2"))
    closing = ori.select(F.col("src").alias("d1"), F.col("dst").alias("d2"))
    # one declarative plan: three 1-row aggregates cross-joined (each side
    # broadcast — a 1-row build is free at any scale)
    tri = wedges.join(closing, ["d1", "d2"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    node_stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("wedge_total"),
    )
    edge_stats = und.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        tri.join(F.broadcast(node_stats))
        .join(F.broadcast(edge_stats))
        .select(
            F.col("n_nodes").cast("long"),
            F.col("n_edges").cast("long"),
            F.col("n_triangles").cast("long"),
            F.round(
                3.0 * F.col("n_triangles") / F.col("wedge_total"), 6
            ).alias("clustering_coeff"),
        )
    )


# --------------------------------------------------------------------------
# Q: supplier_kcore — k-core decomposition (k=8) by iterative peeling:
# repeatedly drop nodes with degree < k until none remain; what survives
# is the 8-core of the H1-1997 co-supplier graph — the standard dense-
# subgraph primitive (community cores, spam-ring mining). The face
# UNROLLS 7 peel rounds into one declarative plan (the fixed-iteration
# idiom, like pagerank_suppliers) and emits a CONVERGED boolean (round 7
# edge count == round 6's) — honest about the fixed unroll: if a
# regenerated graph needed more rounds, both engines report false and
# stay hash-equal. Production form for unbounded peeling is the bounded-
# round loop with a convergence check (operators/graph.py, star CC).
# Scale: each round is one degree aggregate (map-side combined) + one
# semi-join of edges against surviving nodes — edge-sized exchanges,
# O(peel-depth) rounds.
# --------------------------------------------------------------------------
_KCORE_K = 8
_KCORE_ROUNDS = 7


def _kcore_oracle() -> str:
    blocks = [_co_order_edges_sql(_H1_1997)]
    for i in range(1, _KCORE_ROUNDS + 1):
        p = "und" if i == 1 else f"e{i - 1}"
        blocks.append(
            f"""deg{i} AS MATERIALIZED (
  SELECT node, count(*) AS d FROM (
    SELECT u AS node FROM {p} UNION ALL SELECT v AS node FROM {p}
  ) t GROUP BY node
),
e{i} AS MATERIALIZED (
  SELECT {p}.u, {p}.v FROM {p}
  JOIN deg{i} du ON du.node = {p}.u
  JOIN deg{i} dv ON dv.node = {p}.v
  WHERE du.d >= {_KCORE_K} AND dv.d >= {_KCORE_K}
)"""
        )
    last, prev = f"e{_KCORE_ROUNDS}", f"e{_KCORE_ROUNDS - 1}"
    return (
        "WITH "
        + ",\n".join(blocks)
        + f"""
SELECT {_KCORE_K} AS k,
       CAST((SELECT count(*) FROM (
         SELECT u AS n FROM {last} UNION SELECT v FROM {last}) t) AS BIGINT)
         AS n_core_nodes,
       CAST((SELECT count(*) FROM {last}) AS BIGINT) AS n_core_edges,
       (SELECT count(*) FROM {last}) = (SELECT count(*) FROM {prev})
         AS converged
"""
    )


@query("supplier_kcore", oracle=_kcore_oracle())
def supplier_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_bigdata_pyspark_spark.utils import materialize

    e = materialize(_co_order_edges(spark, sf_dir, _H1_1997))
    prev_edges = None
    for _ in range(_KCORE_ROUNDS):
        prev_edges = e
        deg = (
            e.select(F.col("u").alias("node"))
            .unionAll(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = broadcast_if_small(
            deg.filter(F.col("d") >= _KCORE_K).select("node")
        )
        e = materialize(
            e.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
        )
    n_core = e.select(F.col("u").alias("n")).union(
        e.select(F.col("v").alias("n"))
    ).distinct()
    final_cnt = e.agg(F.count(F.lit(1)).alias("n_core_edges"))
    prev_cnt = prev_edges.agg(F.count(F.lit(1)).alias("__prev"))
    node_cnt = n_core.agg(F.count(F.lit(1)).alias("n_core_nodes"))
    return (
        final_cnt.join(F.broadcast(node_cnt))
        .join(F.broadcast(prev_cnt))
        .select(
            F.lit(_KCORE_K).alias("k"),
            F.col("n_core_nodes").cast("long"),
            F.col("n_core_edges").cast("long"),
            (F.col("n_core_edges") == F.col("__prev")).alias("converged"),
        )
    )


# --------------------------------------------------------------------------
# Q: supplier_part_butterflies — bipartite motif counting: a BUTTERFLY is
# a 4-cycle (two suppliers sharing two parts), the bipartite analogue of
# the triangle and the standard cohesion measure for two-mode graphs
# (supplier×part, user×item, doc×shingle). Counted without materializing
# 4-cycles: per supplier pair, c = #co-shipped parts (wedge count via the
# part-keyed self-join), butterflies = Σ C(c, 2). Scale: the self-join is
# keyed by PART, so pair fan-out is Σ deg(part)² — bounded by the part
# degree cap, never #suppliers²; a hub part (shipped by everyone) is the
# skew risk, handled by degree capping or sampling in production (same
# discipline as the fuzzy-join hot block).
# --------------------------------------------------------------------------
@query(
    "supplier_part_butterflies",
    oracle="""
WITH sp AS (
  SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
),
wedge AS (
  SELECT a.s AS s1, b.s AS s2, count(*) AS c
  FROM sp a JOIN sp b ON a.p = b.p AND a.s < b.s
  GROUP BY a.s, b.s
)
SELECT CAST(sum(c * (c - 1) / 2) AS BIGINT) AS n_butterflies,
       CAST(count(*) AS BIGINT) AS n_supplier_pairs,
       CAST(max(c) AS BIGINT) AS max_coshipped_parts
FROM wedge
""",
)
def supplier_part_butterflies(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sp = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).distinct()
    a = sp.select(F.col("p"), F.col("s").alias("s1"))
    b = sp.select(F.col("p"), F.col("s").alias("s2"))
    wedge = (
        a.join(b, "p")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return wedge.agg(
        F.sum(F.col("c") * (F.col("c") - 1) / 2).cast("long").alias(
            "n_butterflies"
        ),
        F.count(F.lit(1)).cast("long").alias("n_supplier_pairs"),
        F.max("c").cast("long").alias("max_coshipped_parts"),
    )


# --------------------------------------------------------------------------
# Q: supplier_graph_assortativity — degree assortativity: the Pearson
# correlation of endpoint degrees over the SYMMETRIZED edge list (each
# undirected edge contributes both (d_u,d_v) and (d_v,d_u) — the standard
# Newman definition). Negative = hubs attach to low-degree nodes
# (disassortative, typical of transactional graphs); the single number
# that predicts whether hub-removal fragments the graph. One degree
# aggregate + two broadcast-policied joins + one corr aggregate over the
# edge list; corr's sufficient statistics are map-side combined.
# --------------------------------------------------------------------------
@query(
    "supplier_graph_assortativity",
    oracle=f"""
WITH {_co_order_edges_sql(_YEAR_1997)},
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
  ) t GROUP BY node
),
sym AS (
  SELECT du.d AS dx, dv.d AS dy
  FROM und JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v
  UNION ALL
  SELECT dv.d, du.d
  FROM und JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v
)
SELECT CAST(count(*) / 2 AS BIGINT) AS n_edges,
       round(corr(dx, dy), 6) AS assortativity
FROM sym
""",
)
def supplier_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_bigdata_pyspark_spark.utils import materialize

    und = materialize(_co_order_edges(spark, sf_dir, _YEAR_1997))
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = broadcast_if_small(deg.select(F.col("node").alias("u"), F.col("d").alias("du")))
    dv = broadcast_if_small(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")))
    withdeg = und.join(du, "u").join(dv, "v")
    sym = withdeg.select(
        F.col("du").alias("dx"), F.col("dv").alias("dy")
    ).unionAll(withdeg.select(F.col("dv").alias("dx"), F.col("du").alias("dy")))
    return sym.agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("n_edges"),
        F.round(F.corr("dx", "dy"), 6).alias("assortativity"),
    )


# --------------------------------------------------------------------------
# Q: nation_modularity — community-quality metric: Newman modularity
# Q = Σ_c (e_c/m − (d_c/2m)²) of a GIVEN partition (supplier nation) over
# the co-supplier graph — the objective Louvain optimizes, here evaluated
# declaratively as the quality readout for any clustering the pipeline
# produces (near-dup components, IVF cells, communities). Near zero ⇒ the
# partition explains no edge structure. Physically: edge count, per-node
# degrees, intra-community edge counts, per-community degree totals —
# four aggregates over edge-sized tables plus broadcast community joins;
# no iteration.
# --------------------------------------------------------------------------
@query(
    "nation_modularity",
    oracle=f"""
WITH {_co_order_edges_sql(_H1_1997)},
comm AS (SELECT s_suppkey AS node, s_nationkey AS c FROM supplier),
m AS (SELECT count(*) AS m FROM und),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
  ) t GROUP BY node
),
intra AS (
  SELECT cu.c, count(*) AS e_in
  FROM und JOIN comm cu ON cu.node = u JOIN comm cv ON cv.node = v
  WHERE cu.c = cv.c GROUP BY cu.c
),
ctot AS (
  SELECT comm.c, sum(deg.d) AS dtot
  FROM deg JOIN comm ON comm.node = deg.node GROUP BY comm.c
)
SELECT CAST((SELECT m FROM m) AS BIGINT) AS n_edges,
       CAST(count(*) AS BIGINT) AS n_communities,
       round(sum(COALESCE(e_in, 0) * 1.0 / m.m
                 - pow(dtot / (2.0 * m.m), 2)), 6) AS modularity
FROM ctot LEFT JOIN intra ON ctot.c = intra.c CROSS JOIN m
""",
)
def nation_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_bigdata_pyspark_spark.utils import materialize

    und = materialize(_co_order_edges(spark, sf_dir, _H1_1997))
    comm = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("node"), F.col("s_nationkey").alias("c")
    )
    cu = broadcast_if_small(comm.select(F.col("node").alias("u"), F.col("c").alias("cu")))
    cv = broadcast_if_small(comm.select(F.col("node").alias("v"), F.col("c").alias("cv")))
    m = und.agg(F.count(F.lit(1)).alias("m"))
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    intra = (
        und.join(cu, "u")
        .join(cv, "v")
        .filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("c"))
        .agg(F.count(F.lit(1)).alias("e_in"))
    )
    ctot = (
        deg.join(broadcast_if_small(comm), "node")
        .groupBy("c")
        .agg(F.sum("d").alias("dtot"))
    )
    joined = (
        ctot.join(intra, "c", "left")
        .join(F.broadcast(m))
        .select(
            "c",
            F.coalesce(F.col("e_in"), F.lit(0)).alias("e_in"),
            "dtot",
            "m",
        )
    )
    return joined.agg(
        F.first("m").cast("long").alias("n_edges"),
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        F.round(
            F.sum(
                F.col("e_in") / F.col("m")
                - F.pow(F.col("dtot") / (2.0 * F.col("m")), 2)
            ),
            6,
        ).alias("modularity"),
    )


# --------------------------------------------------------------------------
# Q: supplier_bfs_hops — k-hop BFS over the co-part supplier graph
# (reference graph shape: suppliers sharing a part, as in
# pagerank_suppliers), unrolled 4 frontier rounds from the minimum
# supplier id: the graph-traversal primitive the suite lacked (PageRank,
# triangles, k-core, butterflies are all degree/counting faces — this is
# reachability). Per round: frontier ⋈ edges → candidate dsts →
# anti-join the visited set → new frontier at d+1; the visited table is
# materialized per round so round r+1's plan never recomputes round r
# (the PageRank/k-core unrolling discipline). Emits the hop histogram
# plus the unreached count — the connectivity readout. Scale: each round
# is one co-partitioned join on src (edges pre-partitioned once) + one
# anti-join on node; rounds bounded by the constant k, frontier rows
# bounded by |V|.
# --------------------------------------------------------------------------
@query(
    "supplier_bfs_hops",
    oracle=f"""
WITH {_CO_PART_EDGES_SQL},
nodes AS (SELECT DISTINCT src AS node FROM edges),
src0 AS (SELECT min(node) AS s FROM nodes),
d0 AS (SELECT s AS node, CAST(0 AS BIGINT) AS d FROM src0),
f1 AS MATERIALIZED (
  SELECT DISTINCT e.dst AS node, CAST(1 AS BIGINT) AS d
  FROM edges e JOIN d0 ON e.src = d0.node
  WHERE e.dst NOT IN (SELECT node FROM d0)
),
v1 AS MATERIALIZED (SELECT * FROM d0 UNION ALL SELECT * FROM f1),
f2 AS MATERIALIZED (
  SELECT DISTINCT e.dst AS node, CAST(2 AS BIGINT) AS d
  FROM edges e JOIN f1 ON e.src = f1.node
  WHERE e.dst NOT IN (SELECT node FROM v1)
),
v2 AS MATERIALIZED (SELECT * FROM v1 UNION ALL SELECT * FROM f2),
f3 AS MATERIALIZED (
  SELECT DISTINCT e.dst AS node, CAST(3 AS BIGINT) AS d
  FROM edges e JOIN f2 ON e.src = f2.node
  WHERE e.dst NOT IN (SELECT node FROM v2)
),
v3 AS MATERIALIZED (SELECT * FROM v2 UNION ALL SELECT * FROM f3),
f4 AS MATERIALIZED (
  SELECT DISTINCT e.dst AS node, CAST(4 AS BIGINT) AS d
  FROM edges e JOIN f3 ON e.src = f3.node
  WHERE e.dst NOT IN (SELECT node FROM v3)
),
v4 AS MATERIALIZED (SELECT * FROM v3 UNION ALL SELECT * FROM f4)
SELECT d, count(*) AS n_nodes
FROM v4 GROUP BY d
UNION ALL
SELECT CAST(-1 AS BIGINT) AS d, count(*) AS n_nodes
FROM nodes WHERE node NOT IN (SELECT node FROM v4)
ORDER BY d
""",
)
def supplier_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_bigdata_pyspark_spark.utils import materialize

    edges = materialize(_co_part_edges(spark, sf_dir).repartition("src"))
    from f1_bigdata_pyspark_spark.operators.graph import bfs_hops

    nodes = edges.select(F.col("src").alias("node")).distinct()
    source = nodes.agg(F.min("node")).head()[0]
    visited = bfs_hops(edges, source, max_hops=4)
    hops = visited.groupBy("d").agg(F.count(F.lit(1)).alias("n_nodes"))
    unreached = (
        nodes.join(visited, "node", "left_anti")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .select(F.lit(-1).cast("long").alias("d"), "n_nodes")
    )
    return hops.unionByName(unreached).orderBy("d")


# --------------------------------------------------------------------------
# Q: supplier_hits_scores — HITS hubs/authorities on the supplier→part
# bipartite graph (2 unrolled power-iteration rounds): authority(part) =
# Σ hub(suppliers shipping it), hub(supplier) = Σ authority(its parts).
# The twist that makes it exactly oracle-checkable: normalization is a
# GLOBAL scalar at every step, so it cannot change the ranking — we run
# the iterations in exact BIGINT arithmetic (h0 = 1 ⇒ a1 = part indegree
# ⇒ every later score is a sum of bigints, overflow-free up to ~10^9
# edges) and normalize ONCE at the end for display. No float ever enters
# the loop, so both engines agree bit-for-bit without mid-loop rounding.
# Scale: each half-step is one co-partitioned join (edge table reused,
# pre-partitioned) + a map-side-combined sum; score frames are node-sized
# and go through the size-aware broadcast policy.
# --------------------------------------------------------------------------
@query(
    "supplier_hits_scores",
    oracle="""
WITH sp AS MATERIALIZED (
  SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
),
a1 AS (SELECT p, count(*) AS a FROM sp GROUP BY p),
h1 AS (
  SELECT sp.s, CAST(sum(a1.a) AS BIGINT) AS h
  FROM sp JOIN a1 USING (p) GROUP BY sp.s
),
a2 AS (
  SELECT sp.p, CAST(sum(h1.h) AS BIGINT) AS a
  FROM sp JOIN h1 USING (s) GROUP BY sp.p
),
h2 AS (
  SELECT sp.s, CAST(sum(a2.a) AS BIGINT) AS h
  FROM sp JOIN a2 USING (p) GROUP BY sp.s
),
tot AS (SELECT CAST(sum(h) AS BIGINT) AS t FROM h2)
SELECT s AS s_suppkey, h AS hub_raw,
       round(CAST(h AS DOUBLE) / t, 6) AS hub_score
FROM h2, tot
ORDER BY hub_raw DESC, s_suppkey ASC
LIMIT 20
""",
)
def supplier_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_bigdata_pyspark_spark.utils import materialize

    li = load_table(spark, sf_dir, "lineitem")
    sp = materialize(
        li.select(
            F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
        )
        .distinct()
        .repartition("p")
    )
    a1 = sp.groupBy("p").agg(F.count(F.lit(1)).alias("a"))
    h1 = (
        sp.join(broadcast_if_small(a1), "p")
        .groupBy("s")
        .agg(F.sum("a").alias("h"))
    )
    a2 = (
        sp.join(broadcast_if_small(h1), "s")
        .groupBy("p")
        .agg(F.sum("h").alias("a"))
    )
    h2 = (
        sp.join(broadcast_if_small(a2), "p")
        .groupBy("s")
        .agg(F.sum("a").alias("h"))
    )
    tot = h2.agg(F.sum("h").alias("t"))
    return (
        h2.crossJoin(F.broadcast(tot))  # 1-row scalar
        .select(
            F.col("s").alias("s_suppkey"),
            F.col("h").alias("hub_raw"),
            F.round(F.col("h").cast("double") / F.col("t"), 6).alias(
                "hub_score"
            ),
        )
        .orderBy(F.col("hub_raw").desc(), F.col("s_suppkey").asc())
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q: supplier_weighted_sssp — single-source shortest WEIGHTED paths over
# the co-part supplier graph (edge weight 1/#shared-parts: suppliers
# sharing more parts are "closer"), 4 unrolled Bellman-Ford relaxation
# rounds from the minimum supplier id (operators/graph.bellman_ford).
# Complements supplier_bfs_hops (unweighted reachability) with the
# weighted-distance primitive. Distances are exact for paths of <= 4
# edges; weights are IEEE-exact rationals (1/c), so the unrolled-CTE
# oracle reproduces every candidate sum bit-for-bit and min() needs no
# tie-break. Scale: per round one co-partitioned join on src + one
# min-combine on node, distance frame is node-sized.
# --------------------------------------------------------------------------
@query(
    "supplier_weighted_sssp",
    oracle=f"""
WITH {_CO_PART_SQL},
edges AS MATERIALIZED (
  SELECT src, dst, CAST(1 AS DOUBLE) / count(*) AS w
  FROM (SELECT DISTINCT pk, src, dst FROM co_part)
  GROUP BY src, dst
),
d0 AS (SELECT (SELECT min(src) FROM edges) AS node, 0.0 AS dist),
r1 AS MATERIALIZED (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM d0
    UNION ALL
    SELECT e.dst AS node, d.dist + e.w AS dist
    FROM d0 d JOIN edges e ON e.src = d.node
  ) GROUP BY node
),
r2 AS MATERIALIZED (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM r1
    UNION ALL
    SELECT e.dst AS node, d.dist + e.w AS dist
    FROM r1 d JOIN edges e ON e.src = d.node
  ) GROUP BY node
),
r3 AS MATERIALIZED (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM r2
    UNION ALL
    SELECT e.dst AS node, d.dist + e.w AS dist
    FROM r2 d JOIN edges e ON e.src = d.node
  ) GROUP BY node
),
r4 AS MATERIALIZED (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM r3
    UNION ALL
    SELECT e.dst AS node, d.dist + e.w AS dist
    FROM r3 d JOIN edges e ON e.src = d.node
  ) GROUP BY node
)
SELECT node AS s_suppkey, round(dist, 6) AS dist
FROM r4
ORDER BY round(dist, 6) ASC, s_suppkey ASC
""",
)
def supplier_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_bigdata_pyspark_spark.operators.graph import bellman_ford
    from f1_bigdata_pyspark_spark.utils import materialize

    edges = materialize(
        _co_part_pairs(spark, sf_dir)
        .distinct()
        .groupBy("src", "dst")
        .agg((F.lit(1.0) / F.count(F.lit(1))).alias("w"))
        .repartition("src")
    )
    source = edges.agg(F.min("src")).head()[0]
    dist = bellman_ford(edges, source, rounds=4)
    return dist.select(
        F.col("node").alias("s_suppkey"), F.round("dist", 6).alias("dist")
    ).orderBy(F.round("dist", 6).asc(), F.col("s_suppkey").asc())


# --------------------------------------------------------------------------
# Q: supplier_label_propagation — synchronous label propagation (2 unrolled
# rounds) over the 1997 co-order supplier graph (same graph as
# supplier_graph_triangles): every node starts labeled with its own id;
# each round it adopts the most frequent label among its neighbors, ties
# broken by the SMALLEST label — the tiebreak makes synchronous LPA fully
# deterministic, so the unrolled-CTE oracle reproduces it exactly (plain
# LPA's random tie-break would force a rows-only check). Emits community
# sizes after round 2. Scale: per round one co-partitioned join on the
# symmetric edge list + a (node, label) count + a per-node top-1 window —
# all keyed by node, label frames node-sized, rounds a fixed constant
# exactly like the PageRank unrolling.
# --------------------------------------------------------------------------
@query(
    "supplier_label_propagation",
    oracle=f"""
WITH {_co_order_edges_sql(_YEAR_1997)},
sym AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM und
  UNION ALL
  SELECT v AS src, u AS dst FROM und
),
l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM sym),
c1 AS (
  SELECT e.src AS node, l.lbl, count(*) AS n
  FROM sym e JOIN l0 l ON l.node = e.dst
  GROUP BY e.src, l.lbl
),
l1 AS MATERIALIZED (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           row_number() OVER (PARTITION BY node
                              ORDER BY n DESC, lbl ASC) AS rnk
    FROM c1
  ) WHERE rnk = 1
),
c2 AS (
  SELECT e.src AS node, l.lbl, count(*) AS n
  FROM sym e JOIN l1 l ON l.node = e.dst
  GROUP BY e.src, l.lbl
),
l2 AS MATERIALIZED (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           row_number() OVER (PARTITION BY node
                              ORDER BY n DESC, lbl ASC) AS rnk
    FROM c2
  ) WHERE rnk = 1
)
SELECT lbl AS community, count(*) AS n_members
FROM l2 GROUP BY lbl ORDER BY community
""",
)
def supplier_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from f1_bigdata_pyspark_spark.utils import materialize

    und = _co_order_edges(spark, sf_dir, _YEAR_1997)
    sym = materialize(
        und.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionAll(und.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .repartition("dst")
    )
    labels = sym.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    top1 = Window.partitionBy("node").orderBy(
        F.col("n").desc(), F.col("lbl").asc()
    )
    for _ in range(2):
        cnt = (
            sym.join(
                broadcast_if_small(
                    labels.select(F.col("node").alias("dst"), "lbl")
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        labels = materialize(
            cnt.withColumn("rnk", F.row_number().over(top1))
            .filter(F.col("rnk") == 1)
            .select("node", "lbl")
        )
    return (
        labels.groupBy(F.col("lbl").alias("community"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy("community")
    )


# --------------------------------------------------------------------------
# Q: supplier_temporal_reachability — TIME-RESPECTING reachability (the
# temporal-graph semantic): an edge (u→v at day t) is traversable only if
# t >= the time you ARRIVED at u, so information can only flow forward in
# time — static BFS over the same edges overstates reach (it happily
# chains a 1997 contact through a 1995 one). Earliest-arrival is a
# Bellman-Ford-style min-relaxation: 3 unrolled rounds of
# arr(v) = min(arr(v), min{t : (u,v,t) edge, t >= arr(u)}) from the
# minimum supplier id (seeded at day 0 = "knows it from the start").
# Edges = co-order supplier pairs stamped with the order date (1997
# orders), kept as (src, dst, day) TRIPLES — min-reducing per pair would
# be wrong (a later copy of an edge can be traversable when the earliest
# copy is not). Scale: per round one equi-join on src with the time gate
# as a post-join filter + a min-combine on dst; arrival frame node-sized.
# Integer day arithmetic end to end: nothing to round anywhere.
# --------------------------------------------------------------------------
@query(
    "supplier_temporal_reachability",
    oracle="""
WITH pairs AS MATERIALIZED (
  SELECT DISTINCT l.l_orderkey, l.l_suppkey,
         epoch_us(o.o_orderdate) // 86400000000 AS day
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
    AND o.o_orderdate < TIMESTAMP '1998-01-01'
),
edges AS MATERIALIZED (
  SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst, a.day AS t
  FROM pairs a JOIN pairs b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
),
src0 AS (SELECT min(src) AS s FROM edges),
a0 AS (SELECT s AS node, CAST(0 AS BIGINT) AS arr FROM src0),
a1 AS MATERIALIZED (
  SELECT node, min(arr) AS arr FROM (
    SELECT node, arr FROM a0
    UNION ALL
    SELECT e.dst AS node, e.t AS arr
    FROM a0 JOIN edges e ON e.src = a0.node AND e.t >= a0.arr
  ) GROUP BY node
),
a2 AS MATERIALIZED (
  SELECT node, min(arr) AS arr FROM (
    SELECT node, arr FROM a1
    UNION ALL
    SELECT e.dst AS node, e.t AS arr
    FROM a1 JOIN edges e ON e.src = a1.node AND e.t >= a1.arr
  ) GROUP BY node
),
a3 AS MATERIALIZED (
  SELECT node, min(arr) AS arr FROM (
    SELECT node, arr FROM a2
    UNION ALL
    SELECT e.dst AS node, e.t AS arr
    FROM a2 JOIN edges e ON e.src = a2.node AND e.t >= a2.arr
  ) GROUP BY node
)
SELECT node AS s_suppkey, arr AS arrival_day
FROM a3
ORDER BY arrival_day, s_suppkey
""",
)
def supplier_temporal_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_bigdata_pyspark_spark.utils import materialize

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    pairs = (
        li.join(
            broadcast_if_small(
                orders.select(
                    "o_orderkey",
                    F.floor(
                        F.unix_micros("o_orderdate") / F.lit(86400000000)
                    )
                    .cast("long")
                    .alias("day"),
                )
            ),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .select("l_orderkey", "l_suppkey", "day")
        .distinct()
    )
    a = pairs.select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_suppkey").alias("src"),
        F.col("day").alias("t"),
    )
    b = pairs.select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("dst")
    )
    edges = materialize(
        a.join(b, "ok")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst", "t")
        .distinct()
        .repartition("src")
    )
    source = edges.agg(F.min("src")).head()[0]
    arr = materialize(
        spark.createDataFrame([(int(source), 0)], "node long, arr long")
    )
    for _ in range(3):
        relax = (
            edges.join(
                arr.select(F.col("node").alias("src"), "arr"), "src"
            )
            .filter(F.col("t") >= F.col("arr"))
            .select(F.col("dst").alias("node"), F.col("t").alias("arr"))
        )
        arr = materialize(
            arr.unionByName(relax)
            .groupBy("node")
            .agg(F.min("arr").alias("arr"))
        )
    return arr.select(
        F.col("node").alias("s_suppkey"), F.col("arr").alias("arrival_day")
    ).orderBy("arrival_day", "s_suppkey")


# --------------------------------------------------------------------------
# Q: link_prediction_adamic_adar — link prediction on the 1997 co-order
# supplier graph: for supplier pairs NOT currently connected, the
# Adamic–Adar score Σ_{z ∈ N(u)∩N(v)} 1/ln(deg(z)) — the classic
# common-neighbor predictor that discounts promiscuous hubs. Relational
# build: wedge join through the common neighbor (same two-join shape as
# triangle counting), anti-join away existing edges, top-20 by rounded
# score. Scale: wedge fan-out is Σ deg(z)² bounded by the hub degree cap;
# the per-wedge weight 1/ln(deg) is computed once per center node and
# joins in via the size-aware policy.
# --------------------------------------------------------------------------
@query(
    "link_prediction_adamic_adar",
    oracle=f"""
WITH {_co_order_edges_sql(_YEAR_1997)},
sym AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM und
  UNION ALL SELECT v, u FROM und
),
deg AS (SELECT src AS node, count(*) AS d FROM sym GROUP BY src),
wedges AS (
  SELECT e1.dst AS u, e2.dst AS v, e1.src AS z
  FROM sym e1 JOIN sym e2
    ON e1.src = e2.src AND e1.dst < e2.dst
),
aa AS (
  SELECT w.u, w.v, round(sum(1.0 / ln(deg.d)), 6) AS aa_score,
         count(*) AS n_common
  FROM wedges w JOIN deg ON deg.node = w.z
  WHERE deg.d > 1
  GROUP BY w.u, w.v
),
nonedge AS (
  SELECT aa.* FROM aa
  LEFT JOIN und ON und.u = aa.u AND und.v = aa.v
  WHERE und.u IS NULL
)
SELECT u, v, aa_score, CAST(n_common AS BIGINT) AS n_common
FROM nonedge
ORDER BY aa_score DESC, u ASC, v ASC
LIMIT 20
""",
)
def link_prediction_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_bigdata_pyspark_spark.utils import materialize

    und = materialize(_co_order_edges(spark, sf_dir, _YEAR_1997))
    sym = materialize(
        und.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionAll(und.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .repartition("src")
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    e1 = sym.select(F.col("src").alias("z"), F.col("dst").alias("wu"))
    e2 = sym.select(F.col("src").alias("z"), F.col("dst").alias("wv"))
    wedges = e1.join(e2, "z").filter(F.col("wu") < F.col("wv"))
    aa = (
        wedges.join(
            broadcast_if_small(
                deg.filter(F.col("d") > 1).select(
                    F.col("src").alias("z"), F.col("d")
                )
            ),
            "z",
        )
        .groupBy(F.col("wu").alias("u"), F.col("wv").alias("v"))
        .agg(
            F.round(F.sum(1.0 / F.log(F.col("d"))), 6).alias("aa_score"),
            F.count(F.lit(1)).alias("n_common"),
        )
    )
    nonedge = aa.join(und, ["u", "v"], "left_anti")
    return (
        nonedge.select(
            "u", "v", "aa_score", F.col("n_common").cast("long")
        )
        .orderBy(
            F.col("aa_score").desc(), F.col("u").asc(), F.col("v").asc()
        )
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q: supplier_local_clustering — per-node local clustering coefficient
# LCC(v) = 2·tri(v) / (d(v)·(d(v)−1)) over the 1997 co-order supplier
# graph: the node-level companion to supplier_graph_triangles' global
# coefficient (which nodes sit inside dense cliques vs stars). Reuses the
# degree-oriented wedge join — each triangle is FOUND once (O(√m) fan-out
# bound), then credited to its three corners with a 3-row explode, so
# per-node attribution costs one extra #triangles-sized aggregate, never a
# second pair enumeration. Determinism: tri/deg are exact BIGINTs; LCC is
# a fixed-order readout; top-20 tiebreak on (lcc DESC, suppkey). Scale:
# same two edge-sized exchanges as the triangle face + one triangle-sized
# rollup.
# --------------------------------------------------------------------------
@query(
    "supplier_local_clustering",
    oracle=f"""
WITH {_co_order_edges_sql(_YEAR_1997)},
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
  ) GROUP BY node
),
{_ORIENT_SQL},
tri AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM ori e1
  JOIN ori e2 ON e1.src = e2.src AND e1.dst <> e2.dst
  JOIN ori e3 ON e3.src = e1.dst AND e3.dst = e2.dst
),
-- the closing edge (d1, d2) exists oriented in ONE direction, so of the
-- two wedge orders exactly one joins — each triangle appears once;
-- credit all three corners below.
pertri AS (
  SELECT node, count(*) AS tri_n FROM (
    SELECT a AS node FROM tri UNION ALL
    SELECT b FROM tri UNION ALL
    SELECT c FROM tri
  ) GROUP BY node
)
SELECT deg.node AS s_suppkey, d AS degree,
       CAST(COALESCE(tri_n, 0) AS BIGINT) AS n_triangles,
       round(2.0 * COALESCE(tri_n, 0) / (d * (d - 1)), 6) AS lcc
FROM deg LEFT JOIN pertri ON pertri.node = deg.node
WHERE d >= 2
ORDER BY lcc DESC, s_suppkey ASC
LIMIT 20
""",
)
def supplier_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_bigdata_pyspark_spark.utils import materialize

    und = materialize(_co_order_edges(spark, sf_dir, _YEAR_1997))
    # explode-array endpoint emission: ONE scan of the edge table instead
    # of a unionAll double-read (halves the exchange count of the rollup)
    deg = (
        und.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    ori = materialize(_orient_by_degree(und, deg))
    e1 = ori.select(F.col("src").alias("s"), F.col("dst").alias("d1"))
    e2 = ori.select(F.col("src").alias("s"), F.col("dst").alias("d2"))
    closing = ori.select(
        F.col("src").alias("d1"), F.col("dst").alias("d2")
    )
    tri = (
        e1.join(e2, "s")
        .filter(F.col("d1") != F.col("d2"))
        .join(closing, ["d1", "d2"])
        .select(
            F.col("s").alias("a"), F.col("d1").alias("b"), F.col("d2").alias("c")
        )
    )
    # corner credit via explode(array(a,b,c)): one pass over the triangle
    # stream, not a 3-way unionAll that replans the wedge join three times
    pertri = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("tri_n"))
    )
    return (
        deg.join(broadcast_if_small(pertri), "node", "left")
        .filter(F.col("d") >= 2)
        .select(
            F.col("node").alias("s_suppkey"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("tri_n"), F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
            F.round(
                2.0
                * F.coalesce(F.col("tri_n"), F.lit(0))
                / (F.col("d") * (F.col("d") - 1)),
                6,
            ).alias("lcc"),
        )
        .orderBy(F.col("lcc").desc(), F.col("s_suppkey").asc())
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q: degree_powerlaw_fit — is the co-order supplier graph scale-free? The
# degree-distribution power-law exponent via log-log OLS over the degree
# histogram: for each degree d, count nodes with that degree; fit ln(count)
# on ln(d). Complements the node/edge/triangle census with the structural
# one-number test (web/social graphs ≈ 2–3; random graphs curve away).
# Determinism: the same quantized-log integer-sufficient-sums ladder as
# zipf_fit_slope/heaps_law_fit, over the degree histogram (bounded by max
# degree). Scale: edge rollup → node-degree rollup → degree-histogram
# rollup, all map-side combinable; the fit runs on the histogram.
# --------------------------------------------------------------------------
@query(
    "degree_powerlaw_fit",
    oracle=f"""
WITH {_co_order_edges_sql(_YEAR_1997)},
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
  ) GROUP BY node
),
hist AS (
  SELECT d, CAST(count(*) AS BIGINT) AS n_nodes FROM deg GROUP BY d
),
quant AS (
  SELECT CAST(round(ln(d) * 100000) AS BIGINT) AS xq,
         CAST(round(ln(n_nodes) * 100000) AS BIGINT) AS yq
  FROM hist
),
sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(xq) AS BIGINT) AS sx, CAST(sum(yq) AS BIGINT) AS sy,
         CAST(sum(xq * yq) AS BIGINT) AS sxy,
         CAST(sum(xq * xq) AS BIGINT) AS sxx
  FROM quant
)
SELECT n AS n_degree_cells,
       (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
       (SELECT CAST(max(d) AS BIGINT) FROM deg) AS max_degree,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS powerlaw_slope
FROM sums
""",
)
def degree_powerlaw_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_bigdata_pyspark_spark.utils import materialize

    und = _co_order_edges(spark, sf_dir, _YEAR_1997)
    deg = materialize(
        und.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    hist = deg.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    quant = hist.select(
        F.round(F.log("d") * 100000).cast("long").alias("xq"),
        F.round(F.log("n_nodes") * 100000).cast("long").alias("yq"),
    )
    sums = quant.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xq").alias("sx"),
        F.sum("yq").alias("sy"),
        F.sum(F.col("xq") * F.col("yq")).alias("sxy"),
        F.sum(F.col("xq") * F.col("xq")).alias("sxx"),
    )
    census = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes_tot"),
        F.max("d").cast("long").alias("max_degree"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = (n * F.col("sxy") - sx * sy).cast("double")
    den = (n * F.col("sxx") - sx * sx).cast("double")
    return (
        sums.join(F.broadcast(census))  # 1-row scalar
        .select(
            F.col("n").alias("n_degree_cells"),
            F.col("n_nodes_tot").alias("n_nodes"),
            "max_degree",
            F.round(num / den, 6).alias("powerlaw_slope"),
        )
    )


# --------------------------------------------------------------------------
# Q: rich_club_coefficient — do high-degree suppliers preferentially trade
# with each other? φ(k) = observed edge density among nodes of degree > k,
# for k ∈ {2, 4, 8, 16}: the hub-interconnection diagnostic next to the
# assortativity face (assortativity is the correlation; rich-club is the
# density profile). For each k: n_k = |{v : deg(v) > k}|, e_k = edges with
# BOTH endpoints in that set, φ = 2·e_k / (n_k(n_k−1)) — all exact
# integers until the fixed-order readout. Scale: degree rollup once, then
# per-k a policied semi-join of the edge table against the (shrinking)
# hub set — 4 bounded passes, never an all-pairs.
# --------------------------------------------------------------------------
@query(
    "rich_club_coefficient",
    oracle=f"""
WITH {_co_order_edges_sql(_YEAR_1997)},
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
  ) GROUP BY node
),
ks AS (SELECT unnest([2, 4, 8, 16]) AS k),
club AS (
  SELECT k, node FROM deg JOIN ks ON d > k
),
nk AS (SELECT k, CAST(count(*) AS BIGINT) AS n_k FROM club GROUP BY k),
ek AS (
  SELECT cu.k, CAST(count(*) AS BIGINT) AS e_k
  FROM und
  JOIN club cu ON und.u = cu.node
  JOIN club cv ON und.v = cv.node AND cu.k = cv.k
  GROUP BY cu.k
)
SELECT nk.k, nk.n_k, CAST(COALESCE(ek.e_k, 0) AS BIGINT) AS e_k,
       round(2.0 * COALESCE(ek.e_k, 0) / (nk.n_k * (nk.n_k - 1)), 6) AS phi
FROM nk LEFT JOIN ek ON nk.k = ek.k
WHERE nk.n_k >= 2
ORDER BY nk.k
""",
)
def rich_club_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_bigdata_pyspark_spark.utils import materialize

    und = materialize(_co_order_edges(spark, sf_dir, _YEAR_1997))
    deg = (
        und.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    from f1_bigdata_pyspark_spark.operators.join_policy import local_dim

    ks = local_dim(spark, [(2,), (4,), (8,), (16,)], "k int")
    club = materialize(
        deg.join(F.broadcast(ks), F.col("d") > F.col("k")).select("k", "node")
    )
    nk = club.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("n_k"))
    cu = club.select(F.col("k"), F.col("node").alias("u"))
    cv = club.select(F.col("k").alias("k2"), F.col("node").alias("v2"))
    ek = (
        und.join(broadcast_if_small(cu), "u")
        .join(
            broadcast_if_small(cv),
            (F.col("v") == F.col("v2")) & (F.col("k") == F.col("k2")),
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("e_k"))
    )
    return (
        nk.join(ek, "k", "left")
        .filter(F.col("n_k") >= 2)
        .select(
            "k",
            "n_k",
            F.coalesce(F.col("e_k"), F.lit(0)).cast("long").alias("e_k"),
            F.round(
                2.0
                * F.coalesce(F.col("e_k"), F.lit(0))
                / (F.col("n_k") * (F.col("n_k") - 1)),
                6,
            ).alias("phi"),
        )
        .orderBy("k")
    )


# --------------------------------------------------------------------------
# Q: supplier_anf_curve — the Approximate Neighborhood Function (ANF,
# Palmer et al.): per-node portable-HLL sketches of the h-hop reachable
# set, advanced by MAX-MERGING registers along edges — the classic trick
# that turns "distance distribution of a 100 TB graph" (all-pairs BFS,
# O(n·m)) into h rounds of one edge join + one register max each, with
# per-node state of 64 registers regardless of graph size (registers are
# a max-semilattice, so merging along edges IS the frontier expansion).
# Readout: for h ∈ {0,1,2}, the average estimated neighborhood size and
# the estimated reachable-pair share — the curve whose knee is the
# effective diameter (the dense co-supplier graph saturates by h=2).
# Same portable md5 HLL discipline as portable_hll_users_by_type (exact
# integer rho, 4-dp rounding absorbing float-sum ulp), 64 buckets, so
# the DuckDB oracle replays every register bit-for-bit.
# --------------------------------------------------------------------------
@query(
    "supplier_anf_curve",
    oracle=f"""
WITH {_CO_PART_EDGES_SQL},
nodes AS (SELECT DISTINCT src AS node FROM edges),
n AS (SELECT count(*) AS n FROM nodes),
h0 AS MATERIALIZED (
  SELECT node,
         CAST(('0x' || substr(md5(CAST(node AS VARCHAR)), 1, 15)) AS BIGINT)
           % 64 AS bucket,
         CASE WHEN CAST(('0x' || substr(md5(CAST(node AS VARCHAR)), 1, 15))
                        AS BIGINT) // 64 = 0 THEN 55
              ELSE 55 - length(bin(CAST(('0x' || substr(md5(CAST(node AS
                   VARCHAR)), 1, 15)) AS BIGINT) // 64))::BIGINT
         END AS rho
  FROM nodes
),
h1 AS MATERIALIZED (
  SELECT node, bucket, max(rho) AS rho FROM (
    SELECT e.dst AS node, r.bucket, r.rho
    FROM edges e JOIN h0 r ON r.node = e.src
    UNION ALL SELECT node, bucket, rho FROM h0
  ) GROUP BY node, bucket
),
h2 AS MATERIALIZED (
  SELECT node, bucket, max(rho) AS rho FROM (
    SELECT e.dst AS node, r.bucket, r.rho
    FROM edges e JOIN h1 r ON r.node = e.src
    UNION ALL SELECT node, bucket, rho FROM h1
  ) GROUP BY node, bucket
),
est AS (
  SELECT hop, node,
         CASE WHEN CAST(0.7093409548395029 AS DOUBLE) * 4096.0 / (s + (64 - nb)) <= 160.0
                   AND nb < 64
              THEN 64.0 * ln(64.0 / (64 - nb))
              ELSE CAST(0.7093409548395029 AS DOUBLE) * 4096.0 / (s + (64 - nb))
         END AS nhat
  FROM (
    SELECT 0 AS hop, node, count(*) AS nb, sum(power(2.0, -rho)) AS s
    FROM h0 GROUP BY node
    UNION ALL
    SELECT 1, node, count(*), sum(power(2.0, -rho)) FROM h1 GROUP BY node
    UNION ALL
    SELECT 2, node, count(*), sum(power(2.0, -rho)) FROM h2 GROUP BY node
  )
)
SELECT CAST(hop AS BIGINT) AS hop,
       round(avg(nhat), 4) AS avg_neighborhood_est,
       round(sum(nhat) / ((SELECT n FROM n) * 1.0 * (SELECT n FROM n)), 6)
         AS reach_pair_share_est
FROM est
GROUP BY hop
ORDER BY hop
""",
)
def supplier_anf_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_bigdata_pyspark_spark.functions.text import md5_long
    from f1_bigdata_pyspark_spark.utils import materialize

    edges = materialize(_co_part_edges(spark, sf_dir))
    nodes = edges.select(F.col("src").alias("node")).distinct()
    hashed = nodes.select(
        "node", md5_long(F.col("node").cast("string")).alias("x")
    )
    w = F.expr("x DIV 64")  # integer div — x is 60-bit, floats would round
    # 60-bit hash, 6 bucket bits -> 54 payload bits; rho = leading zeros + 1
    rho = (
        F.when(w == 0, F.lit(55))
        .otherwise(F.lit(55) - F.length(F.bin(w)))
        .cast("long")
    )
    regs = [
        materialize(
            hashed.select(
                "node", (F.col("x") % 64).alias("bucket"), rho.alias("rho")
            )
        )
    ]
    for _ in range(2):
        prev = regs[-1]
        merged = (
            edges.join(prev, edges["src"] == prev["node"])
            .select(F.col("dst").alias("node"), "bucket", "rho")
            .unionByName(prev.select("node", "bucket", "rho"))
            .groupBy("node", "bucket")
            .agg(F.max("rho").alias("rho"))
        )
        regs.append(materialize(merged))
    n_nodes = nodes.count()
    ests = []
    for hop, r in enumerate(regs):
        per_node = r.groupBy("node").agg(
            F.count(F.lit(1)).alias("nb"),
            F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("s"),
        )
        raw = (
            F.lit(0.7093409548395029)
            * F.lit(4096.0)
            / (F.col("s") + (F.lit(64) - F.col("nb")))
        )
        linear = F.lit(64.0) * F.log(
            F.lit(64.0) / (F.lit(64) - F.col("nb"))
        )
        nhat = F.when((raw <= 160.0) & (F.col("nb") < 64), linear).otherwise(
            raw
        )
        ests.append(
            per_node.agg(
                F.lit(hop).cast("long").alias("hop"),
                F.round(F.avg(nhat), 4).alias("avg_neighborhood_est"),
                F.round(
                    F.sum(nhat) / F.lit(float(n_nodes) * float(n_nodes)), 6
                ).alias("reach_pair_share_est"),
            )
        )
    out = ests[0]
    for e in ests[1:]:
        out = out.unionByName(e)
    return out.orderBy("hop")


# --------------------------------------------------------------------------
# Q: personalized_pagerank_seed — Personalized PageRank: the restart mass
# goes to ONE SEED node instead of everywhere (teleport vector = e_seed),
# so scores measure proximity TO THE SEED — the similar-items /
# recommendation primitive, vs global PageRank's importance. Same loop-
# unrolled plumbing as pagerank_suppliers (3 rounds, one dst-keyed
# map-side-combined exchange per round; rank/degree frames node-sized);
# seed = the minimum supplier key in the edge set (deterministic, SF-
# independent choice). Starting vector is e_seed as well, so every round
# is exactly the power iteration of the PPR linear system.
# --------------------------------------------------------------------------
@query(
    "personalized_pagerank_seed",
    oracle=f"""
WITH {_CO_PART_EDGES_SQL},
seed AS (SELECT min(src) AS s FROM edges),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
r0 AS (
  SELECT src AS node,
         CASE WHEN src = (SELECT s FROM seed) THEN 1.0 ELSE 0.0 END AS pr
  FROM (SELECT DISTINCT src FROM edges)
),
r1 AS MATERIALIZED (
  SELECT e.dst AS node,
         CASE WHEN e.dst = (SELECT s FROM seed) THEN 0.15 ELSE 0.0 END
         + 0.85 * sum(r0.pr / deg.outdeg) AS pr
  FROM edges e JOIN r0 ON r0.node = e.src JOIN deg ON deg.src = e.src
  GROUP BY e.dst
),
r2 AS MATERIALIZED (
  SELECT e.dst AS node,
         CASE WHEN e.dst = (SELECT s FROM seed) THEN 0.15 ELSE 0.0 END
         + 0.85 * sum(r1.pr / deg.outdeg) AS pr
  FROM edges e JOIN r1 ON r1.node = e.src JOIN deg ON deg.src = e.src
  GROUP BY e.dst
),
r3 AS (
  SELECT e.dst AS node,
         CASE WHEN e.dst = (SELECT s FROM seed) THEN 0.15 ELSE 0.0 END
         + 0.85 * sum(r2.pr / deg.outdeg) AS pr
  FROM edges e JOIN r2 ON r2.node = e.src JOIN deg ON deg.src = e.src
  GROUP BY e.dst
)
SELECT node AS s_suppkey, round(pr, 6) AS ppr
FROM r3
WHERE round(pr, 6) > 0
ORDER BY ppr DESC, s_suppkey ASC
LIMIT 10
""",
)
def personalized_pagerank_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_bigdata_pyspark_spark.utils import materialize

    edges = materialize(_co_part_edges(spark, sf_dir))
    seed = edges.agg(F.min("src")).head()[0]  # 1-value probe, bounded
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    rank = edges.select(F.col("src").alias("node")).distinct().select(
        "node",
        F.when(F.col("node") == seed, F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("pr"),
    )
    for _ in range(3):
        contrib = (
            edges.join(broadcast_if_small(rank), edges["src"] == rank["node"])
            .join(broadcast_if_small(deg), "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("pr") / F.col("outdeg")).alias("c"),
            )
        )
        rank = contrib.groupBy("node").agg(
            (
                F.when(F.col("node") == seed, F.lit(0.15)).otherwise(
                    F.lit(0.0)
                )
                + F.lit(0.85) * F.sum("c")
            ).alias("pr")
        )
    return (
        rank.select("node", F.round("pr", 6).alias("ppr"))
        .filter(F.col("ppr") > 0)
        .orderBy(F.col("ppr").desc(), F.col("node").asc())
        .limit(10)
        .select(F.col("node").alias("s_suppkey"), "ppr")
    )
