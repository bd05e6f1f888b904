"""Extended operator coverage: window frames, statistical aggregates,
argmax, calendar rollups, rank distributions, cube, and two classic TPC-H
query shapes over the synthetic star schema.

These go beyond the reference's repertoire (SURVEY.md §2.4 notes what the
reference lacks); they are the operators a user of a general engine expects,
and Spark provides them natively — declared here so the oracle gate covers
them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from f1_bigdata_pyspark_spark.catalog import load_table
from f1_bigdata_pyspark_spark.queries.dedup_pipeline import _NEAR_DUP_LABELS_SQL
from f1_bigdata_pyspark_spark.queries.registry import query
from f1_bigdata_pyspark_spark.operators.join_policy import broadcast_if_small


# --------------------------------------------------------------------------
# Q: monthly_revenue — calendar bucketing (date_trunc month) + trend window
# (lag over months for month-over-month delta).
# --------------------------------------------------------------------------
@query(
    "monthly_revenue",
    oracle="""
WITH m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
         count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS revenue
  FROM orders
  GROUP BY 1
)
SELECT month_start, n_orders, revenue,
       round(revenue - lag(revenue) OVER (ORDER BY month_start), 2) AS mom_delta
FROM m
ORDER BY month_start
""",
    bench=True,
)
def monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(F.date_trunc("month", "o_orderdate").alias("month_start"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )
    w = Window.orderBy("month_start")  # ~80 months post-agg — tiny window
    return (
        monthly.withColumn(
            "mom_delta",
            F.round(F.col("revenue") - F.lag("revenue").over(w), 2),
        )
        .orderBy("month_start")
    )


# --------------------------------------------------------------------------
# Q: corr_stats — correlation / covariance aggregates per group (the
# statistical-aggregate family next to the reference's stddev_pop).
# --------------------------------------------------------------------------
@query(
    "corr_stats",
    oracle="""
SELECT l_returnflag,
       count(*) AS n_rows,
       round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
       round(covar_pop(l_quantity, l_extendedprice), 4) AS qty_price_covar
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
                "qty_price_corr"
            ),
            F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias(
                "qty_price_covar"
            ),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Q: priciest_part_per_supplier — argmax (max_by): the part with the highest
# extended price per supplier; deterministic via unique-max guard below.
# max_by ties are engine-dependent, so the metric maximized (price, partkey)
# is made unique by the partkey tiebreak inside a struct comparison.
# --------------------------------------------------------------------------
@query(
    "priciest_part_per_supplier",
    oracle="""
SELECT l_suppkey, l_partkey AS top_partkey, round(l_extendedprice, 2) AS top_price
FROM (
  SELECT l_suppkey, l_partkey, l_extendedprice,
         row_number() OVER (
           PARTITION BY l_suppkey
           ORDER BY l_extendedprice DESC, l_partkey DESC
         ) AS rn
  FROM lineitem
) WHERE rn = 1
ORDER BY l_suppkey
""",
)
def priciest_part_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(
            F.max_by(
                "l_partkey", F.struct(F.col("l_extendedprice"), F.col("l_partkey"))
            ).alias("top_partkey"),
            F.round(F.max("l_extendedprice"), 2).alias("top_price"),
        )
        .orderBy("l_suppkey")
    )


# --------------------------------------------------------------------------
# Q: events_moving_avg — window frame (ROWS BETWEEN 2 PRECEDING AND CURRENT):
# per-user 3-event moving average, summarized per user for a stable output.
# --------------------------------------------------------------------------
@query(
    "events_moving_avg",
    oracle="""
WITH mv AS (
  SELECT user_id,
         avg(value) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
         ) AS mov3
  FROM events
)
SELECT user_id,
       count(*) AS n_events,
       round(avg(mov3), 6) AS avg_mov3,
       round(max(mov3), 6) AS max_mov3
FROM mv
GROUP BY user_id
ORDER BY user_id
""",
)
def events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(-2, 0)
    )
    mv = ev.withColumn("mov3", F.avg("value").over(w))
    return (
        mv.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("mov3"), 6).alias("avg_mov3"),
            F.round(F.max("mov3"), 6).alias("max_mov3"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Q: supplier_rank_distribution — percent_rank + ntile quartiles over the
# supplier aggregate (rank-distribution family beyond dense_rank W1).
# --------------------------------------------------------------------------
@query(
    "supplier_rank_distribution",
    oracle="""
WITH m AS (
  SELECT l_suppkey, round(sum(l_extendedprice), 2) AS total_price
  FROM lineitem
  GROUP BY l_suppkey
)
SELECT l_suppkey, total_price,
       round(percent_rank() OVER (ORDER BY total_price), 6) AS pr,
       ntile(4) OVER (ORDER BY total_price, l_suppkey) AS quartile
FROM m
ORDER BY l_suppkey
""",
)
def supplier_rank_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    m = li.groupBy("l_suppkey").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("total_price")
    )
    return (
        m.withColumn(
            "pr", F.round(F.percent_rank().over(Window.orderBy("total_price")), 6)
        )
        .withColumn(
            "quartile",
            F.ntile(4).over(Window.orderBy("total_price", "l_suppkey")),
        )
        .orderBy("l_suppkey")
    )


# --------------------------------------------------------------------------
# Q: cube_qty — CUBE over (returnflag, linestatus): all grouping combinations
# (rollup's sibling; NULL markers coalesced as in rollup_qty).
# --------------------------------------------------------------------------
@query(
    "cube_qty",
    oracle="""
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*) AS n_rows,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY returnflag, linestatus
""",
)
def cube_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "n_rows",
            "sum_qty",
        )
        .orderBy("returnflag", "linestatus")
    )


# --------------------------------------------------------------------------
# Q: tpch_q3_shipping_priority — TPC-H Q3 shape: two joins, date filters on
# both sides, revenue aggregate, top-10 by revenue. The builder and the
# oracle's two halves are shared with the served twin,
# snapshot_faces.snapshot_served_q3_join.
# --------------------------------------------------------------------------
_TPCH_Q3_SELECT_SQL = """SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       o_orderdate"""
_TPCH_Q3_FROM_SQL = """FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1996-06-30'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10"""


def _tpch_q3(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q3's top 10 over ``t``'s customer, orders and lineitem."""
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    orders = t["orders"].filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = t["lineitem"].filter(
        F.col("l_shipdate") > F.lit("1996-06-30").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast_if_small(cust), F.col("o_custkey") == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("o_orderdate"), F.col("l_orderkey"))
        .limit(10)
    )


@query(
    "tpch_q3_shipping_priority",
    oracle=f"""
{_TPCH_Q3_SELECT_SQL}
{_TPCH_Q3_FROM_SQL}
""",
    bench=True,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tpch_q3(
        {t: load_table(spark, sf_dir, t) for t in ("customer", "orders", "lineitem")}
    )


# --------------------------------------------------------------------------
# Q: tpch_q10_returned_items — TPC-H Q10 shape: returned-lineitem revenue per
# customer over a quarter, top-20.
# --------------------------------------------------------------------------
@query(
    "tpch_q10_returned_items",
    oracle="""
SELECT c_custkey, c_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-07-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast_if_small(cust), F.col("o_custkey") == cust.c_custkey)
        .join(broadcast_if_small(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q: sql_face_top_nations — the engine's SQL entry path: the same views the
# DuckDB oracle sees are registered as Spark temp views (catalog.
# register_views) and the query is pure ANSI SQL through spark.sql().
# Catalyst plans it identically to the DataFrame form (broadcast dims,
# partial aggs) — asserted by the generic shuffle budgets, not special-
# cased — so the SQL face is a first-class surface, not a demo.
# --------------------------------------------------------------------------
_SQL_FACE = """
SELECT n.n_name AS nation,
       count(*) AS n_orders,
       round(sum(o.o_totalprice), 2) AS total_spend
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY n.n_name
ORDER BY total_spend DESC, nation
LIMIT 5
"""


@query("sql_face_top_nations", oracle=_SQL_FACE)
def sql_face_top_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_bigdata_pyspark_spark.catalog import register_views

    register_views(spark, sf_dir, names=("orders", "customer", "nation"))
    return spark.sql(_SQL_FACE)


# --------------------------------------------------------------------------
# Q: orders_profile — ANALYZE-style table profile (operators/profile.py):
# per-column nulls / distincts / min / max in ONE scan (wide agg → stack
# unpivot). The oracle states the same statistics per column.
# --------------------------------------------------------------------------
_PROFILE_COLS = (
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority",
)


def _profile_oracle() -> str:
    parts = [
        f"""SELECT '{c}' AS col_name, count(*) AS n_rows,
        count(*) - count({c}) AS n_nulls,
        count(DISTINCT {c}) AS n_distinct,
        CAST(min({c}) AS VARCHAR) AS min_s,
        CAST(max({c}) AS VARCHAR) AS max_s FROM orders"""
        for c in _PROFILE_COLS
    ]
    return " UNION ALL ".join(parts) + " ORDER BY col_name"


@query("orders_profile", oracle=_profile_oracle())
def orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_bigdata_pyspark_spark.operators.profile import profile_table

    orders = load_table(spark, sf_dir, "orders")
    return profile_table(orders, list(_PROFILE_COLS)).orderBy("col_name")


# --------------------------------------------------------------------------
# Q: referential_integrity_audit — cross-table FK audit, the data-quality
# gate a warehouse load runs after ingest: orphaned facts per relationship
# via left-anti joins, one row per checked edge. Dimension key sets
# broadcast; the fact side never shuffles for any check.
# --------------------------------------------------------------------------
@query(
    "referential_integrity_audit",
    oracle="""
SELECT 'lineitem->orders' AS fk_edge,
       (SELECT count(*) FROM lineitem) AS n_rows,
       CAST((SELECT count(*) FROM lineitem
             WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
            AS BIGINT) AS n_orphans
UNION ALL
SELECT 'orders->customer',
       (SELECT count(*) FROM orders),
       CAST((SELECT count(*) FROM orders
             WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
            AS BIGINT)
UNION ALL
SELECT 'lineitem->part',
       (SELECT count(*) FROM lineitem),
       CAST((SELECT count(*) FROM lineitem
             WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
            AS BIGINT)
UNION ALL
SELECT 'lineitem->supplier',
       (SELECT count(*) FROM lineitem),
       CAST((SELECT count(*) FROM lineitem
             WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
            AS BIGINT)
ORDER BY fk_edge
""",
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")

    def check(name, fact, fact_key, dim, dim_key):
        # ONE pass per edge: broadcast left join + conditional count —
        # total rows and orphans (unmatched dim key) from the same scan
        keys = F.broadcast(dim.select(dim_key).distinct())
        return (
            fact.join(keys, fact[fact_key] == keys[dim_key], "left")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count_if(F.col(dim_key).isNull()).alias("n_orphans"),
            )
            .select(F.lit(name).alias("fk_edge"), "n_rows", "n_orphans")
        )

    audits = [
        check("lineitem->orders", li, "l_orderkey", orders, "o_orderkey"),
        check("orders->customer", orders, "o_custkey", customer, "c_custkey"),
        check("lineitem->part", li, "l_partkey", part, "p_partkey"),
        check("lineitem->supplier", li, "l_suppkey", supplier, "s_suppkey"),
    ]
    out = audits[0]
    for a in audits[1:]:
        out = out.unionByName(a)
    return out.orderBy("fk_edge")


# --------------------------------------------------------------------------
# Q: daily_revenue_spine — calendar-spine gap fill: a generated date
# scaffold (sequence/generate_series over the observed range) LEFT-joined
# to the daily aggregate so zero-activity days appear with explicit zeros
# (coalesce) — the reporting pattern that keeps time series dense for
# downstream window math. The spine is generated, never stored; the fact
# side aggregates before the join.
# --------------------------------------------------------------------------
@query(
    "daily_revenue_spine",
    oracle="""
WITH bounds AS (
  SELECT CAST(min(o_orderdate) AS DATE) AS d0,
         CAST(max(o_orderdate) AS DATE) AS d1
  FROM orders
), spine AS (
  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
), daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS revenue
  FROM orders GROUP BY day
)
SELECT s.day,
       CAST(coalesce(d.n_orders, 0) AS BIGINT) AS n_orders,
       coalesce(d.revenue, 0.0) AS revenue
FROM spine s LEFT JOIN daily d ON s.day = d.day
ORDER BY s.day
""",
)
def daily_revenue_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("d0"),
        F.max(F.col("o_orderdate").cast("date")).alias("d1"),
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )
    return (
        spine.join(daily, "day", "left")
        .select(
            "day",
            F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# Q: top_parts_per_brand — top-k per group (k=2): the windowed
# generalization of argmax — row_number over a per-brand revenue order with
# a full tiebreak chain, kept to rn <= 2. Partitioned by brand, so the
# window scales; the aggregate beneath it is map-side combined.
# --------------------------------------------------------------------------
@query(
    "top_parts_per_brand",
    oracle="""
WITH pr AS (
  SELECT p_brand, l_partkey,
         round(sum(l_extendedprice), 2) AS part_rev
  FROM lineitem JOIN part ON p_partkey = l_partkey
  GROUP BY p_brand, l_partkey
)
SELECT p_brand, l_partkey, part_rev, rn FROM (
  SELECT *, CAST(row_number() OVER (
           PARTITION BY p_brand ORDER BY part_rev DESC, l_partkey
         ) AS BIGINT) AS rn
  FROM pr
) WHERE rn <= 2
ORDER BY p_brand, rn
""",
)
def top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    pr = (
        li.join(broadcast_if_small(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "l_partkey")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("part_rev"))
    )
    w = Window.partitionBy("p_brand").orderBy(
        F.col("part_rev").desc(), F.col("l_partkey")
    )
    return (
        pr.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 2)
        .orderBy("p_brand", "rn")
    )


# --------------------------------------------------------------------------
# Q: key_continuity_audit — sequence-continuity data-quality check: for
# each surrogate-key column, expected span (max - min + 1) vs observed
# distinct count — the post-ingest probe that catches dropped batches
# (holes) and double-loads (dupes) in one row per table.
# --------------------------------------------------------------------------
@query(
    "key_continuity_audit",
    oracle="""
SELECT 'events.event_id' AS key_col,
       count(*) AS n_rows,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
       CAST(max(event_id) - min(event_id) + 1 AS BIGINT) AS expected_span,
       CAST(max(event_id) - min(event_id) + 1
            - count(DISTINCT event_id) AS BIGINT) AS n_missing
FROM events
UNION ALL
SELECT 'orders.o_orderkey', count(*),
       CAST(count(DISTINCT o_orderkey) AS BIGINT),
       CAST(max(o_orderkey) - min(o_orderkey) + 1 AS BIGINT),
       CAST(max(o_orderkey) - min(o_orderkey) + 1
            - count(DISTINCT o_orderkey) AS BIGINT)
FROM orders
ORDER BY key_col
""",
)
def key_continuity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    def audit(name, df, key):
        k = F.col(key)
        span = (F.max(k) - F.min(k) + F.lit(1)).cast("long")
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(key).alias("n_distinct"),
            span.alias("expected_span"),
            (span - F.countDistinct(key)).cast("long").alias("n_missing"),
        ).select(F.lit(name).alias("key_col"), "*")

    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    return (
        audit("events.event_id", events, "event_id")
        .unionByName(audit("orders.o_orderkey", orders, "o_orderkey"))
        .orderBy("key_col")
    )


# --------------------------------------------------------------------------
# Q: price_equidepth_histogram — equi-DEPTH histogram (equal row count per
# bucket) via ntile over a UNIQUE sort key, complementing the equi-width
# histogram in timeseries.py. Equi-depth is the layout primitive behind
# range-partitioning boundaries: the per-bucket [lo, hi] spans ARE the
# partition split points a 100 TB range-shuffle would use (Spark computes
# them the same way by sampling inside RangePartitioner).
# Scale: one reduction to (o_totalprice, o_orderkey) pairs, one global sort
# for the window — at full scale you'd sample instead (approx boundaries),
# which is exactly what the plan's RangePartitioner does; cardinality here
# is one row per order, already the reduced side.
# --------------------------------------------------------------------------
@query(
    "price_equidepth_histogram",
    oracle="""
SELECT bucket,
       count(*) AS n_orders,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi
FROM (
  SELECT o_totalprice,
         ntile(8) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
  FROM orders
)
GROUP BY bucket
ORDER BY bucket
""",
)
def price_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        orders.select("o_totalprice", F.ntile(8).over(w).alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# Q: zorder_part_layout — Z-order (Morton) clustering key: interleave the
# bits of two filter dimensions (p_size, and an equi-width bucket of
# p_retailprice) so a sort by the interleaved key co-locates rows that are
# close in BOTH dimensions. This is the layout operator behind multi-
# dimensional data skipping (Delta OPTIMIZE ZORDER BY): after writing the
# table sorted by z_key, parquet row-group min/max stats prune scans on
# EITHER predicate column, not just the leading sort key.
# The query emits per-z-range row-group stats (min/max of both dims for
# each run of 64 consecutive z-ordered rows) — exactly the skipping index a
# scan would consult; the oracle replicates the bit math in SQL.
# Scale: computing z_key is a pure map; the sort is the same range exchange
# any clustered write pays. 6 bits/dim here; production uses 16-21.
# --------------------------------------------------------------------------
@query(
    "zorder_part_layout",
    oracle="""
WITH z AS (
  SELECT p_partkey, p_size,
         CAST(floor(p_retailprice / 40.0) AS INTEGER) AS price_bucket,
         -- interleave 6 bits of p_size (x) and price_bucket (y):
         -- z = sum over i of bit_i(x)<<(2i) | bit_i(y)<<(2i+1)
         ((p_size & 1) << 0) | ((p_size & 2) << 1) | ((p_size & 4) << 2)
           | ((p_size & 8) << 3) | ((p_size & 16) << 4) | ((p_size & 32) << 5)
           | (((CAST(floor(p_retailprice / 40.0) AS INTEGER) & 1)) << 1)
           | (((CAST(floor(p_retailprice / 40.0) AS INTEGER) & 2)) << 2)
           | (((CAST(floor(p_retailprice / 40.0) AS INTEGER) & 4)) << 3)
           | (((CAST(floor(p_retailprice / 40.0) AS INTEGER) & 8)) << 4)
           | (((CAST(floor(p_retailprice / 40.0) AS INTEGER) & 16)) << 5)
           | (((CAST(floor(p_retailprice / 40.0) AS INTEGER) & 32)) << 6)
         AS z_key
  FROM part
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY z_key, p_partkey) - 1 AS pos
  FROM z
)
SELECT CAST(floor(pos / 64.0) AS INTEGER) AS row_group,
       count(*) AS n_rows,
       min(p_size) AS size_min, max(p_size) AS size_max,
       min(price_bucket) AS price_min, max(price_bucket) AS price_max
FROM ranked
GROUP BY row_group
ORDER BY row_group
""",
)
def zorder_part_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    x = F.col("p_size")
    y = F.floor(F.col("p_retailprice") / 40.0).cast("int")
    z_key = F.lit(0)
    for i in range(6):
        z_key = z_key.bitwiseOR(
            F.shiftleft(x.bitwiseAND(F.lit(1 << i)), i)
        ).bitwiseOR(F.shiftleft(y.bitwiseAND(F.lit(1 << i)), i + 1))
    z = part.select(
        "p_partkey", "p_size", y.alias("price_bucket"), z_key.alias("z_key")
    )
    pos = F.row_number().over(Window.orderBy("z_key", "p_partkey")) - 1
    return (
        z.select("*", pos.alias("pos"))
        .groupBy(F.floor(F.col("pos") / 64).cast("int").alias("row_group"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("p_size").alias("size_min"),
            F.max("p_size").alias("size_max"),
            F.min("price_bucket").alias("price_min"),
            F.max("price_bucket").alias("price_max"),
        )
        .orderBy("row_group")
    )


# --------------------------------------------------------------------------
# Q: bloom_prefilter_revenue — runtime bloom-filter join pruning, built
# from scratch relationally: the reduced dimension side's join keys
# (high-priority orders) are hashed to k=3 bit positions (portable md5
# math), OR-folded into a 4096-bit filter as 64 int64 words with a bit_or
# aggregate, collected ONCE driver-side (64 longs — the same driver hop
# Spark's own runtime row-level filtering does), and injected as a literal
# array into the fact scan's filter. The bloom pass discards most fact
# rows map-side before the join exchange; false positives are eliminated
# by the exact join, so the result is identical to the plain join — which
# is exactly what the oracle runs. At 100 TB this is the difference
# between shuffling the full fact table and shuffling the ~matching
# fraction (plus a 32 KB broadcast).
# --------------------------------------------------------------------------
@query(
    "bloom_prefilter_revenue",
    oracle="""
SELECT o_orderpriority,
       count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def bloom_prefilter_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_bigdata_pyspark_spark.functions.text import md5_long

    # Filter geometry: N_BITS bits stored as N_WORDS int64 words. Word index
    # is bitpos / BITS_PER_WORD (bits per int64 word, always 64) — NOT
    # bitpos / N_WORDS, which only coincides while N_BITS == N_WORDS * 64
    # happens to make both equal 64.
    BITS_PER_WORD = 64
    N_BITS, K = 4096, 3
    N_WORDS = N_BITS // BITS_PER_WORD

    def probes(key):
        return [
            md5_long(F.concat_ws("#", key.cast("string"), F.lit(i))) % N_BITS
            for i in range(K)
        ]

    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    words_rows = (
        urgent.select(
            F.explode(F.array(*probes(F.col("o_orderkey")))).alias("bitpos")
        )
        .select(
            (F.col("bitpos") / BITS_PER_WORD).cast("int").alias("word"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(bitpos % {BITS_PER_WORD} AS INT))"
            ).alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
        .collect()
    )
    bloom = [0] * N_WORDS
    for r in words_rows:
        bloom[r["word"]] = r["bits"]
    bloom_lit = F.array(*[F.lit(w).cast("long") for w in bloom])
    li = load_table(spark, sf_dir, "lineitem")
    for i, p in enumerate(probes(F.col("l_orderkey"))):
        li = li.withColumn(f"bp{i}", p)
    might_contain = None
    for i in range(K):
        word = (F.col(f"bp{i}") / BITS_PER_WORD).cast("int")
        mask = F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(bp{i} % {BITS_PER_WORD} AS INT))"
        )
        hit = F.element_at(bloom_lit, word + 1).bitwiseAND(mask) != 0
        might_contain = hit if might_contain is None else (might_contain & hit)
    pref = li.filter(might_contain).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        pref.join(urgent, urgent.o_orderkey == pref.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))),
                2,
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Q: approx_quantile_accuracy — the approximate-percentile face with a
# checkable contract: alongside the EXACT median (interpolated, same
# algorithm as DuckDB quantile_cont), emit whether percentile_approx at
# accuracy 10000 lands within 1% relative error. The oracle states the
# exact median and literal TRUE — so the driver hash fails if the sketch
# ever drifts out of tolerance. At 100 TB the approx path is the one you
# run (single-pass, mergeable GK sketch, no global sort); this query pins
# its error budget as part of the contract instead of leaving the sketch
# unchecked.
# --------------------------------------------------------------------------
@query(
    "approx_quantile_accuracy",
    oracle="""
SELECT p_brand,
       round(quantile_cont(p_retailprice, 0.5), 6) AS exact_p50,
       TRUE AS approx_within_1pct
FROM part
GROUP BY p_brand
ORDER BY p_brand
""",
)
def approx_quantile_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    exact = F.expr("percentile(p_retailprice, 0.5)")
    approx = F.percentile_approx("p_retailprice", F.lit(0.5), F.lit(10000))
    return (
        part.groupBy("p_brand")
        .agg(
            F.round(exact, 6).alias("exact_p50"),
            (F.abs(approx - exact) <= 0.01 * exact).alias("approx_within_1pct"),
        )
        .orderBy("p_brand")
    )


# --------------------------------------------------------------------------
# Q: sql_udf_dedup_fingerprints — the Spark 4 SQL UDF surface (CREATE
# TEMPORARY FUNCTION ... RETURN <expr>): the repo's portable 60-bit hash
# (functions.text.md5_long) declared as a pure-SQL scalar function and
# driven entirely from spark.sql — the path a SQL-only user takes to the
# same dedup fingerprints the DataFrame API computes. SQL UDFs inline
# into the plan as Catalyst expressions (no Python worker, full codegen),
# so this face costs exactly what the DataFrame form costs. The query:
# per-source distinct text fingerprints + min hash, value-identical to
# the md5_long discipline used everywhere else.
# --------------------------------------------------------------------------
@query(
    "sql_udf_dedup_fingerprints",
    oracle="""
WITH fp AS (
  SELECT source,
         CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT h) AS BIGINT) AS n_distinct_fp,
       CAST(min(h) AS BIGINT) AS min_fp
FROM fp
GROUP BY source
ORDER BY source
""",
)
def sql_udf_dedup_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents_sqludf"
    )
    spark.sql("DROP TEMPORARY FUNCTION IF EXISTS md5_long60")
    spark.sql(
        "CREATE TEMPORARY FUNCTION md5_long60(s STRING) RETURNS BIGINT "
        "RETURN CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)"
    )
    return spark.sql(
        """
        SELECT source,
               count(*) AS n_docs,
               count(DISTINCT md5_long60(text)) AS n_distinct_fp,
               min(md5_long60(text)) AS min_fp
        FROM documents_sqludf
        GROUP BY source
        ORDER BY source
        """
    )


# --------------------------------------------------------------------------
# Q: recursive_cte_components — connected components via Spark 4's native
# WITH RECURSIVE, the same formulation the DuckDB oracle of
# near_dup_clusters has always used — now runnable ON the engine. The
# edge set is the thresholded exact-Jaccard near-dup graph; each node
# labels itself with the least node reachable from it. SCALE CAVEAT in
# the operator hierarchy: recursion depth = graph diameter and state
# grows with the reachability closure, so the star algorithm
# (operators/graph.connected_components) remains the 100 TB path; this
# face exists because chained-CTE shapes are how SQL users express it,
# and the engine should answer it. Spark's recursion accepts only
# UNION ALL (no fixpoint dedup), so the walk carries an explicit depth
# bound (6 ≥ the near-dup graph's diameter — components here are 2-3
# docs; the min-label aggregate is insensitive to the duplicated paths
# UNION ALL leaves). Output: per-component size and min label, identical
# to the DuckDB fixpoint recursion whenever depth covers the diameter.
# --------------------------------------------------------------------------
@query(
    "recursive_cte_components",
    oracle=f"""
WITH {_NEAR_DUP_LABELS_SQL}
SELECT comp, CAST(count(*) AS BIGINT) AS n_nodes
FROM labels
GROUP BY comp
ORDER BY comp
""",
)
def recursive_cte_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_bigdata_pyspark_spark.operators.dedup import ngram_jaccard_pairs
    from f1_bigdata_pyspark_spark.utils import materialize

    docs = load_table(spark, sf_dir, "documents")
    edges = materialize(
        ngram_jaccard_pairs(docs, shingle_n=3, threshold=0.2).select(
            "d1", "d2"
        )
    )
    edges.createOrReplaceTempView("neardup_edges")
    return spark.sql(
        """
        WITH RECURSIVE und AS (
          SELECT d1 AS a, d2 AS b FROM neardup_edges
          UNION
          SELECT d2, d1 FROM neardup_edges
        ),
        r(a, b, depth) AS (
          SELECT a, b, 1 FROM und
          UNION ALL
          SELECT r.a, u.b, r.depth + 1
          FROM r JOIN und u ON r.b = u.a
          WHERE r.depth < 6
        ),
        labels AS (
          SELECT a AS node, least(a, min(b)) AS comp FROM r GROUP BY a
        )
        SELECT comp, count(*) AS n_nodes
        FROM labels
        GROUP BY comp
        ORDER BY comp
        """
    )


# --------------------------------------------------------------------------
# Q: merge_into_orders — full three-clause MERGE semantics (WHEN MATCHED
# DELETE / WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT) over a plain
# parquet target, via operators/merge.merge_into: one full-outer join of
# target and changeset, row-wise CASE per clause. The changeset is derived
# deterministically from the target itself (price bump for keys % 7 == 0,
# delete for % 13 == 0 — delete wins on overlap, MERGE clause order — and
# synthetic inserts with negated keys for % 97 == 0), so the oracle can
# restate the post-merge TABLE directly and the whole merge is value-hash
# checked through a per-status roll-up with exact-cents sums.
#
# 100 TB shape: one co-partitioned key exchange (the full-outer join);
# clauses are narrow projections. A small changeset broadcasts under the
# size policy, making MERGE map-only over the target — the plan a
# Delta/Iceberg MERGE compiles to, without the table format.
# --------------------------------------------------------------------------
@query(
    "merge_into_orders",
    oracle="""
WITH kept AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 7 = 0
              THEN CAST(round(o_totalprice * 105) AS BIGINT) / 100.0
              ELSE o_totalprice END AS p
  FROM orders
  WHERE o_orderkey % 13 <> 0
), ins AS (
  SELECT -o_orderkey - 1 AS o_orderkey, 'N' AS o_orderstatus, 100.0 AS p
  FROM orders WHERE o_orderkey % 97 = 0
), merged AS (
  SELECT * FROM kept UNION ALL SELECT * FROM ins
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) FILTER (o_orderkey < 0) AS BIGINT) AS n_inserted,
       CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS total_price
FROM merged
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def merge_into_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_bigdata_pyspark_spark.operators.merge import merge_into

    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    # exact-cents price bump: round to integer cents, not to 2 dp — the
    # engines' 2-dp rounding of a binary double diverges by one cent on
    # representation ties, integer-cent rounding does not
    bumped = F.round(F.col("o_totalprice") * 105).cast("long") / 100.0
    upd = orders.filter((key % 7 == 0) | (key % 13 == 0)).select(
        "o_orderkey",
        bumped.alias("new_price"),
        (key % 13 == 0).alias("is_delete"),
    )
    # -k-1 keeps insert keys strictly disjoint from target keys (plain -k
    # would collide on key 0, which every modulus clause also selects)
    ins = orders.filter(key % 97 == 0).select(
        (-key - 1).alias("o_orderkey"),
        F.lit(100.0).alias("new_price"),
        F.lit(False).alias("is_delete"),
    )
    changeset = upd.unionByName(ins)
    merged = merge_into(
        orders,
        changeset,
        ["o_orderkey"],
        matched_delete=F.col("is_delete"),
        matched_update={"o_totalprice": F.col("new_price")},
        not_matched_insert={
            "o_orderstatus": F.lit("N"),
            "o_totalprice": F.col("new_price"),
        },
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((F.col("o_orderkey") < 0).cast("long")).alias("n_inserted"),
            (F.sum(cents) / 100.0).alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# Q: join_key_skew_report — the diagnostic you run BEFORE a big join or
# aggregation: the per-key row-count distribution of a prospective shuffle
# key. Output per table/key: distinct keys, mean and max rows per key, the
# p50/p99 of the per-key counts, and the hot-key ratio (max/mean) — the
# number that tells you whether to salt (operators/skew.py) or let AQE
# split (tests/test_aqe_skew.py). Two-phase: the corpus-sized pass is one
# map-side-combined count per key; the distribution stats then run over
# the key-count table (keys, not rows). One row per audited key so the
# report extends by UNION.
# --------------------------------------------------------------------------
@query(
    "join_key_skew_report",
    oracle="""
WITH ec AS (
  SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
),
lc AS (
  SELECT l_orderkey, count(*) AS cnt FROM lineitem GROUP BY l_orderkey
)
SELECT 'events.user_id' AS key_name,
       count(*) AS n_keys,
       round(avg(cnt), 6) AS mean_rows,
       CAST(max(cnt) AS BIGINT) AS max_rows,
       round(quantile_cont(cnt, 0.5), 6) AS p50_rows,
       round(quantile_cont(cnt, 0.99), 6) AS p99_rows,
       round(max(cnt) / avg(cnt), 6) AS hot_key_ratio
FROM ec
UNION ALL
SELECT 'lineitem.l_orderkey',
       count(*),
       round(avg(cnt), 6),
       CAST(max(cnt) AS BIGINT),
       round(quantile_cont(cnt, 0.5), 6),
       round(quantile_cont(cnt, 0.99), 6),
       round(max(cnt) / avg(cnt), 6)
FROM lc
ORDER BY key_name
""",
)
def join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    def report(df: DataFrame, key: str, key_name: str) -> DataFrame:
        counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
        return counts.agg(
            F.lit(key_name).alias("key_name"),
            F.count(F.lit(1)).alias("n_keys"),
            F.round(F.avg("cnt"), 6).alias("mean_rows"),
            F.max("cnt").cast("long").alias("max_rows"),
            F.round(F.percentile("cnt", F.lit(0.5)), 6).alias("p50_rows"),
            F.round(F.percentile("cnt", F.lit(0.99)), 6).alias("p99_rows"),
            F.round(F.max("cnt") / F.avg("cnt"), 6).alias("hot_key_ratio"),
        )
    events = load_table(spark, sf_dir, "events")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        report(events, "user_id", "events.user_id")
        .unionByName(report(li, "l_orderkey", "lineitem.l_orderkey"))
        .orderBy("key_name")
    )


# --------------------------------------------------------------------------
# Q: data_quality_suite — declarative expectation suite (the Deequ/
# Great-Expectations pattern): a battery of data-contract checks evaluated
# in as few passes as the checks allow, emitted as one (check, observed,
# passed) report — the gate a production pipeline runs before publishing
# a table version (pairs with sources/snapshots.py: gate, then commit).
# Single-scan discipline: the five scalar checks fold into ONE aggregate
# over orders; only uniqueness (groupBy key) and referential integrity
# (anti join) need their own exchanges, and both move keys, not rows.
# --------------------------------------------------------------------------
@query(
    "data_quality_suite",
    oracle="""
WITH scalars AS (
  SELECT count(*) AS n_rows,
         sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS null_custkey,
         min(o_totalprice) AS min_price,
         max(o_orderdate) AS max_date
  FROM orders
),
dups AS (
  SELECT count(*) AS n_dup_keys FROM (
    SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1
  ) t
),
orphans AS (
  SELECT count(*) AS n_orphans
  FROM orders LEFT JOIN customer ON o_custkey = c_custkey
  WHERE c_custkey IS NULL
)
SELECT check_name, round(observed, 6) AS observed, passed FROM (
  SELECT 'row_count_min_1000' AS check_name,
         CAST(n_rows AS DOUBLE) AS observed, n_rows >= 1000 AS passed
  FROM scalars
  UNION ALL
  SELECT 'custkey_complete', CAST(null_custkey AS DOUBLE),
         null_custkey = 0 FROM scalars
  UNION ALL
  SELECT 'totalprice_positive', min_price, min_price > 0 FROM scalars
  UNION ALL
  SELECT 'orderdate_fresh_1998',
         CAST(date_part('year', max_date) AS DOUBLE),
         max_date >= TIMESTAMP '1998-01-01' FROM scalars
  UNION ALL
  SELECT 'orderkey_unique', CAST(n_dup_keys AS DOUBLE),
         n_dup_keys = 0 FROM dups
  UNION ALL
  SELECT 'custkey_referential', CAST(n_orphans AS DOUBLE),
         n_orphans = 0 FROM orphans
) r
ORDER BY check_name
""",
)
def data_quality_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    scalars = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("o_custkey").isNull(), 1).otherwise(0)
        ).alias("null_custkey"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_orderdate").alias("max_date"),
    )
    dups = (
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count(F.lit(1)).alias("n_dup_keys"))
    )
    orphans = orders.join(
        customer.select("c_custkey"),
        orders.o_custkey == F.col("c_custkey"),
        "left_anti",
    ).agg(F.count(F.lit(1)).alias("n_orphans"))

    def row(name, observed, passed):
        return F.struct(
            F.lit(name).alias("check_name"),
            F.round(observed.cast("double"), 6).alias("observed"),
            passed.alias("passed"),
        )

    report = (
        scalars.join(F.broadcast(dups))
        .join(F.broadcast(orphans))
        .select(
            F.explode(
                F.array(
                    row(
                        "row_count_min_1000",
                        F.col("n_rows"),
                        F.col("n_rows") >= 1000,
                    ),
                    row(
                        "custkey_complete",
                        F.col("null_custkey"),
                        F.col("null_custkey") == 0,
                    ),
                    row(
                        "totalprice_positive",
                        F.col("min_price"),
                        F.col("min_price") > 0,
                    ),
                    row(
                        "orderdate_fresh_1998",
                        F.year("max_date"),
                        F.col("max_date")
                        >= F.lit("1998-01-01").cast("timestamp"),
                    ),
                    row(
                        "orderkey_unique",
                        F.col("n_dup_keys"),
                        F.col("n_dup_keys") == 0,
                    ),
                    row(
                        "custkey_referential",
                        F.col("n_orphans"),
                        F.col("n_orphans") == 0,
                    ),
                )
            ).alias("r")
        )
        .select("r.check_name", "r.observed", "r.passed")
        .orderBy("check_name")
    )
    return report


# --------------------------------------------------------------------------
# Q: ab_test_welch — experimentation analytics: deterministically hash
# users into two arms (same md5 split rule as train_test_split_stats —
# assignment is a pure function of the id, reproducible at any scale and
# immune to partitioning), then compare purchase values with Welch's
# t-statistic from per-arm sufficient statistics (n, mean, var_samp).
# The whole analysis is ONE aggregate pass over purchases + a 2-row
# pivot — the at-scale shape of every metrics/experimentation platform
# readout (no per-user collect, no scipy).
# --------------------------------------------------------------------------
@query(
    "ab_test_welch",
    oracle="""
WITH p AS (
  SELECT CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                   AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
         value
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
),
arms AS (
  SELECT arm, count(*) AS n, avg(value) AS m, var_samp(value) AS v
  FROM p GROUP BY arm
)
SELECT a.n AS n_a, b.n AS n_b,
       round(a.m, 6) AS mean_a, round(b.m, 6) AS mean_b,
       round(a.m - b.m, 6) AS mean_diff,
       round((a.m - b.m) / sqrt(a.v / a.n + b.v / b.n), 6) AS welch_t
FROM (SELECT * FROM arms WHERE arm = 'A') a,
     (SELECT * FROM arms WHERE arm = 'B') b
""",
)
def ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_bigdata_pyspark_spark.functions.text import md5_long

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        F.when(md5_long(F.col("user_id").cast("string")) % 2 == 0, "A")
        .otherwise("B")
        .alias("arm"),
        "value",
    )
    arms = p.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )
    a = arms.filter(F.col("arm") == "A").select(
        F.col("n").alias("n_a"), F.col("m").alias("m_a"), F.col("v").alias("v_a")
    )
    b = arms.filter(F.col("arm") == "B").select(
        F.col("n").alias("n_b"), F.col("m").alias("m_b"), F.col("v").alias("v_b")
    )
    return a.join(F.broadcast(b)).select(
        "n_a",
        "n_b",
        F.round("m_a", 6).alias("mean_a"),
        F.round("m_b", 6).alias("mean_b"),
        F.round(F.col("m_a") - F.col("m_b"), 6).alias("mean_diff"),
        F.round(
            (F.col("m_a") - F.col("m_b"))
            / F.sqrt(F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b")),
            6,
        ).alias("welch_t"),
    )


# --------------------------------------------------------------------------
# Q: customer_revenue_gini — revenue concentration audit: the Gini
# coefficient of per-customer revenue via the rank formula
# G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n over ascending-sorted totals. The
# whale-dependence number (G→0 uniform, G→1 one customer is the business)
# — for a training corpus the identical query over per-source token
# counts is the mixture-concentration audit. Compute discipline: the
# corpus-sized pass is the per-customer aggregate; the rank runs over the
# REDUCED per-customer table (documented unpartitioned-window allowlist
# candidate — at true scale, rank via range-partitioned sort or bucketed
# ECDF). Tie-break (rev, custkey) makes the rank — and thus Σ(i·x_i) —
# identical in both engines even with duplicate revenues.
# --------------------------------------------------------------------------
@query(
    "customer_revenue_gini",
    oracle="""
WITH cr AS (
  SELECT o_custkey, sum(o_totalprice) AS rev FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT rev, row_number() OVER (ORDER BY rev, o_custkey) AS i FROM cr
)
SELECT CAST(count(*) AS BIGINT) AS n_customers,
       round(sum(rev), 2) AS total_revenue,
       round(2.0 * sum(i * rev) / (count(*) * sum(rev))
             - (count(*) + 1.0) / count(*), 6) AS gini
FROM ranked
""",
)
def customer_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cr = orders.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("rev"))
    w = Window.orderBy("rev", "o_custkey")
    ranked = cr.select("rev", F.row_number().over(w).alias("i"))
    n = F.count(F.lit(1))
    return ranked.agg(
        n.cast("long").alias("n_customers"),
        F.round(F.sum("rev"), 2).alias("total_revenue"),
        F.round(
            2.0 * F.sum(F.col("i") * F.col("rev")) / (n * F.sum("rev"))
            - (n + F.lit(1.0)) / n,
            6,
        ).alias("gini"),
    )


# --------------------------------------------------------------------------
# Q: ab_cuped_adjustment — CUPED variance reduction beside ab_test_welch:
# adjust each user's experiment metric (purchase value) by their
# pre-exposure covariate (view value), y' = y − θ(x − x̄) with
# θ = cov(x,y)/var(x) — the standard trick that shrinks experiment
# confidence intervals 30-50% without changing the expectation. Entirely
# sufficient statistics: one per-user aggregate (the only corpus-sized
# shuffle), one global θ (1-row broadcast), one per-arm aggregate.
# --------------------------------------------------------------------------
@query(
    "ab_cuped_adjustment",
    oracle="""
WITH peruser AS (
  SELECT user_id,
         CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                   AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
         sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) AS y,
         sum(CASE WHEN event_type = 'view' THEN value ELSE 0 END) AS x
  FROM events GROUP BY user_id
),
theta AS (
  SELECT covar_samp(x, y) / var_samp(x) AS th, avg(x) AS xbar FROM peruser
)
SELECT arm,
       CAST(count(*) AS BIGINT) AS n_users,
       round(avg(y), 6) AS raw_mean,
       round(avg(y - th * (x - xbar)), 6) AS cuped_mean,
       round(var_samp(y - th * (x - xbar)) / var_samp(y), 6) AS var_ratio
FROM peruser CROSS JOIN theta
GROUP BY arm
ORDER BY arm
""",
)
def ab_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_bigdata_pyspark_spark.functions.text import md5_long

    ev = load_table(spark, sf_dir, "events")
    peruser = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0)
        ).alias("y"),
        F.sum(
            F.when(F.col("event_type") == "view", F.col("value")).otherwise(0)
        ).alias("x"),
    ).withColumn(
        "arm",
        F.when(md5_long(F.col("user_id").cast("string")) % 2 == 0, "A").otherwise("B"),
    )
    theta = peruser.agg(
        (F.covar_samp("x", "y") / F.var_samp("x")).alias("th"),
        F.avg("x").alias("xbar"),
    )
    adj = F.col("y") - F.col("th") * (F.col("x") - F.col("xbar"))
    return (
        peruser.join(F.broadcast(theta))
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.round(F.avg("y"), 6).alias("raw_mean"),
            F.round(F.avg(adj), 6).alias("cuped_mean"),
            F.round(F.var_samp(adj) / F.var_samp("y"), 6).alias("var_ratio"),
        )
        .orderBy("arm")
    )


# --------------------------------------------------------------------------
# Q: arm_mix_chi2 — the categorical counterpart of ab_test_welch: the
# chi-square independence statistic between experiment arm and event-type
# mix (the sample-ratio-mismatch / behavior-mix check run before trusting
# any experiment readout). Everything flows from ONE contingency
# aggregate (arm × type counts — at most |arms|·|types| rows regardless
# of corpus size); expected counts and the statistic are arithmetic over
# that table plus its two broadcast marginals.
# --------------------------------------------------------------------------
@query(
    "arm_mix_chi2",
    oracle="""
WITH c AS (
  SELECT CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                   AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
         event_type, count(*) AS o
  FROM events GROUP BY 1, 2
),
tot AS (SELECT sum(o) AS n FROM c),
rowt AS (SELECT arm, sum(o) AS r FROM c GROUP BY arm),
colt AS (SELECT event_type, sum(o) AS col FROM c GROUP BY event_type)
SELECT round(sum(pow(o - r * col / n, 2) / (r * col / n)), 6) AS chi2,
       CAST((SELECT count(*) FROM rowt) - 1 AS BIGINT)
       * CAST((SELECT count(*) FROM colt) - 1 AS BIGINT) AS dof
FROM c
JOIN rowt USING (arm)
JOIN colt USING (event_type)
CROSS JOIN tot
""",
)
def arm_mix_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_bigdata_pyspark_spark.functions.text import md5_long

    ev = load_table(spark, sf_dir, "events")
    c = (
        ev.select(
            F.when(md5_long(F.col("user_id").cast("string")) % 2 == 0, "A")
            .otherwise("B")
            .alias("arm"),
            "event_type",
        )
        .groupBy("arm", "event_type")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    from f1_bigdata_pyspark_spark.utils import materialize

    c = materialize(c)  # tiny contingency table, four readers below
    tot = c.agg(F.sum("o").alias("n"))
    rowt = c.groupBy("arm").agg(F.sum("o").alias("r"))
    colt = c.groupBy("event_type").agg(F.sum("o").alias("col"))
    n_rows = rowt.agg((F.count(F.lit(1)) - 1).alias("r_dof"))
    n_cols = colt.agg((F.count(F.lit(1)) - 1).alias("c_dof"))
    e = F.col("r") * F.col("col") / F.col("n")
    return (
        c.join(F.broadcast(rowt), "arm")
        .join(F.broadcast(colt), "event_type")
        .join(F.broadcast(tot))
        .agg(F.round(F.sum(F.pow(F.col("o") - e, 2) / e), 6).alias("chi2"))
        .join(F.broadcast(n_rows))
        .join(F.broadcast(n_cols))
        .select(
            "chi2",
            (F.col("r_dof") * F.col("c_dof")).cast("long").alias("dof"),
        )
    )


# --------------------------------------------------------------------------
# Q: benford_first_digit_audit — Benford's-law first-digit audit of order
# totals: observed leading-digit frequencies beside the Benford
# expectation log10(1 + 1/d) — the classic anomaly/fabrication screen for
# financial columns (here it correctly EXPOSES the synthetic generator:
# uniform price ranges are nothing like Benford). One digit-extraction
# pass folded into a 9-group aggregate; the total re-broadcasts as one
# row. The deviation is the readout, not an assertion — real pipelines
# alert on the distance, they don't fail ingest.
# --------------------------------------------------------------------------
@query(
    "benford_first_digit_audit",
    oracle="""
WITH d AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS INT) AS digit
  FROM orders WHERE o_totalprice >= 1
),
c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
t AS (SELECT sum(n) AS total FROM c)
SELECT digit,
       CAST(n AS BIGINT) AS n,
       round(n * 1.0 / total, 6) AS observed_freq,
       round(log10(1.0 + 1.0 / digit), 6) AS benford_freq,
       round(abs(n * 1.0 / total - log10(1.0 + 1.0 / digit)), 6)
         AS abs_deviation
FROM c CROSS JOIN t
ORDER BY digit
""",
)
def benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # floor() EXPLICITLY before the integer cast: Spark's double->bigint
    # cast truncates while DuckDB's rounds, so a price like 89999.6 would
    # lead with 8 on one side and 9 on the other
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("int")
    c = (
        orders.filter(F.col("o_totalprice") >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = c.agg(F.sum("n").alias("total"))
    obs = F.col("n") / F.col("total")
    benford = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return (
        c.join(F.broadcast(t))
        .select(
            "digit",
            F.col("n").cast("long").alias("n"),
            F.round(obs, 6).alias("observed_freq"),
            F.round(benford, 6).alias("benford_freq"),
            F.round(F.abs(obs - benford), 6).alias("abs_deviation"),
        )
        .orderBy("digit")
    )


# --------------------------------------------------------------------------
# Q: approx_quantile_contract — percentile_approx (Greenwald–Khanna) held
# to its own guarantee: for q in {0.5, 0.9, 0.99} over events.value, the
# sketch (accuracy 1000 => rank error <= N/1000) must land within 0.003
# rank of the target — checked by re-ranking the approx VALUE against the
# data, not by trusting the sketch. The emitted boolean is the contract:
# the oracle computes the exact interpolated quantile (identical math in
# both engines) and asserts the bound literally true, so a sketch
# regression hash-mismatches even though the oracle can't replay GK
# merge order. Scale: the sketch is the mergeable one-pass quantile at
# 100 TB; exact sort-based quantiles are the thing it replaces.
# --------------------------------------------------------------------------
@query(
    "approx_quantile_contract",
    oracle="""
SELECT CAST(0.5 AS DOUBLE) AS q, round(quantile_cont(value, 0.5), 6) AS exact_p,
       true AS within_bound FROM events
UNION ALL
SELECT CAST(0.9 AS DOUBLE), round(quantile_cont(value, 0.9), 6), true FROM events
UNION ALL
SELECT CAST(0.99 AS DOUBLE), round(quantile_cont(value, 0.99), 6), true FROM events
ORDER BY q
""",
)
def approx_quantile_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_bigdata_pyspark_spark.operators.join_policy import as_local_dim

    ev = load_table(spark, sf_dir, "events").select("value")
    qs = [0.5, 0.9, 0.99]
    agg = ev.agg(
        F.percentile_approx("value", qs, 1000).alias("approx"),
        F.expr(f"percentile(value, array({', '.join(map(str, qs))}))").alias(
            "exact"
        ),
        F.count(F.lit(1)).alias("n"),
    )
    per_q = as_local_dim(
        agg.select(
            F.posexplode(
                F.arrays_zip(
                    F.lit(qs).alias("q"),
                    F.col("approx").alias("a"),
                    F.col("exact").alias("e"),
                )
            ).alias("i", "z"),
            "n",
        ).select(
            F.col("z.q").alias("q"),
            F.col("z.a").alias("approx_v"),
            F.round(F.col("z.e"), 6).alias("exact_p"),
            "n",
        )
    )
    # re-rank each approx value against the data: its true rank must sit
    # within eps + interpolation slack of the target quantile
    ranked = (
        ev.crossJoin(F.broadcast(per_q))
        .groupBy("q", "exact_p", "n")
        .agg(
            F.sum((F.col("value") <= F.col("approx_v")).cast("long")).alias(
                "rank_le"
            )
        )
    )
    return ranked.select(
        "q",
        "exact_p",
        (
            F.abs(F.col("rank_le") / F.col("n") - F.col("q")) <= F.lit(0.003)
        ).alias("within_bound"),
    ).orderBy("q")


# --------------------------------------------------------------------------
# Q: compaction_file_planner — the OPTIMIZE/compaction planning pass of a
# lakehouse maintenance job as a pure query: pack each partition's orders
# (in orderkey sequence) into target output files of ~5000 lineitem rows
# via a running row-count cumsum (file = floor(preceding-cumsum / target),
# the standard streaming first-fit used by Delta/Iceberg bin-packing:
# files may overflow by at most one order, never underfill mid-stream).
# All-integer arithmetic, windows partitioned by l_returnflag — the
# planning itself scales horizontally and the output is file-count-sized.
# Emits per planned file: row/order counts + key bounds (the manifest
# entry a rewrite job would execute).
# --------------------------------------------------------------------------
@query(
    "compaction_file_planner",
    oracle="""
WITH per_order AS (
  SELECT l_returnflag AS flag, l_orderkey AS okey, count(*) AS n_rows
  FROM lineitem GROUP BY 1, 2
), packed AS (
  SELECT flag, okey, n_rows,
         CAST((sum(n_rows) OVER (PARTITION BY flag ORDER BY okey
                                 ROWS UNBOUNDED PRECEDING) - n_rows) // 5000
              AS BIGINT) AS file_id
  FROM per_order
)
SELECT flag, file_id,
       count(*) AS n_orders,
       CAST(sum(n_rows) AS BIGINT) AS n_rows,
       min(okey) AS min_okey, max(okey) AS max_okey
FROM packed
GROUP BY flag, file_id
ORDER BY flag, file_id
""",
)
def compaction_file_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy(
        F.col("l_returnflag").alias("flag"), F.col("l_orderkey").alias("okey")
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    w = (
        Window.partitionBy("flag")
        .orderBy("okey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = per_order.withColumn(
        "file_id",
        F.floor((F.sum("n_rows").over(w) - F.col("n_rows")) / 5000),
    )
    return (
        packed.groupBy("flag", "file_id")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("n_rows").alias("n_rows"),
            F.min("okey").alias("min_okey"),
            F.max("okey").alias("max_okey"),
        )
        .orderBy("flag", "file_id")
    )


# --------------------------------------------------------------------------
# Q: bootstrap_ci_order_value — distributed bootstrap: a 95% CI for the
# mean order value from B=100 DETERMINISTIC resamples. Each (order, b)
# draws a Poisson(1)-approximating multiplicity from the portable
# md5-derived uniform (inverse-CDF thresholds as exact literals), so the
# "random" resample is a pure function both engines compute identically —
# no RNG, no rows-only fallback. Order values are quantized to integer
# cents before the weighted sums, so per-resample totals are exact in any
# aggregation order (same discipline as the CUSUM prefix sums). Scale:
# B× amplification of a 2-column projection with map-side-combined sums —
# the classic "embarrassingly parallel" bootstrap; B is a constant, never
# row-scaled.
# --------------------------------------------------------------------------
@query(
    "bootstrap_ci_order_value",
    oracle="""
WITH o AS (
  SELECT o_orderkey AS k,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), draws AS (
  SELECT b.b, o.cents,
         CAST(('0x' || substr(md5(CAST(o.k AS VARCHAR) || ':'
                                  || CAST(b.b AS VARCHAR)), 1, 15))
              AS BIGINT) / 1152921504606846976.0 AS u
  FROM o CROSS JOIN (SELECT unnest(range(100)) AS b) b
), wt AS (
  SELECT b, cents,
         CASE WHEN u < 0.36787944117144233 THEN 0
              WHEN u < 0.7357588823428847 THEN 1
              WHEN u < 0.9196986029286058 THEN 2
              WHEN u < 0.9810118431238462 THEN 3
              ELSE 4 END AS w
  FROM draws
), m AS (
  SELECT b, CAST(sum(cents * w) AS BIGINT) AS s,
         CAST(sum(w) AS BIGINT) AS n
  FROM wt GROUP BY b
), means AS (
  SELECT CAST(s AS DOUBLE) / n / 100.0 AS mean FROM m WHERE n > 0
)
SELECT CAST(count(*) AS BIGINT) AS n_resamples,
       round(quantile_cont(mean, 0.025), 6) AS ci_lo,
       round(quantile_cont(mean, 0.975), 6) AS ci_hi,
       round((SELECT CAST(sum(cents) AS DOUBLE) / count(*) / 100.0 FROM o),
             6) AS point_mean
FROM means
""",
)
def bootstrap_ci_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_bigdata_pyspark_spark.functions.text import md5_long

    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    draws = o.select(
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(99))).alias("b"),
        F.col("k"),
    ).select(
        "b",
        "cents",
        (
            md5_long(
                F.concat(
                    F.col("k").cast("string"),
                    F.lit(":"),
                    F.col("b").cast("string"),
                )
            )
            / F.lit(1152921504606846976.0)
        ).alias("u"),
    )
    w = (
        F.when(F.col("u") < 0.36787944117144233, 0)
        .when(F.col("u") < 0.7357588823428847, 1)
        .when(F.col("u") < 0.9196986029286058, 2)
        .when(F.col("u") < 0.9810118431238462, 3)
        .otherwise(4)
    )
    m = (
        draws.select("b", "cents", w.alias("w"))
        .groupBy("b")
        .agg(
            F.sum(F.col("cents") * F.col("w")).alias("s"),
            F.sum("w").cast("long").alias("n"),
        )
        .filter(F.col("n") > 0)
        .select((F.col("s").cast("double") / F.col("n") / 100.0).alias("mean"))
    )
    point = o.agg(
        F.round(
            F.sum("cents").cast("double") / F.count(F.lit(1)) / 100.0, 6
        ).alias("point_mean")
    )
    ci = m.agg(
        F.count(F.lit(1)).alias("n_resamples"),
        F.round(F.percentile("mean", F.lit(0.025)), 6).alias("ci_lo"),
        F.round(F.percentile("mean", F.lit(0.975)), 6).alias("ci_hi"),
    )
    return ci.crossJoin(F.broadcast(point))  # 1-row scalar


# --------------------------------------------------------------------------
# Q: loo_target_encoding_stats — leave-one-out target encoding, the
# standard leakage-safe categorical feature for tabular ML: each row's
# encoding is the category's target mean EXCLUDING the row itself,
# enc_i = (sum_y - y_i) / (n - 1) — computed from ONE sufficient-stats
# pass (category sum + count broadcast back), never a per-row re-scan.
# Targets quantized to integer cents so the excluded-sum arithmetic is
# exact in any order; the readout checks the two properties that make
# LOO correct: mean(enc) == category mean (exactly, since Σ(S-y_i) =
# (n-1)S), and Var(enc) = Var(y)/(n-1)² — emitted as ratios.
# --------------------------------------------------------------------------
@query(
    "loo_target_encoding_stats",
    oracle="""
WITH o AS (
  SELECT o_orderpriority AS cat,
         CAST(round(o_totalprice * 100) AS BIGINT) AS y
  FROM orders
), s AS (
  SELECT cat, CAST(sum(y) AS BIGINT) AS sy, count(*) AS n FROM o GROUP BY cat
), enc AS (
  SELECT o.cat, o.y,
         CAST(s.sy - o.y AS DOUBLE) / (s.n - 1) / 100.0 AS e
  FROM o JOIN s USING (cat)
)
SELECT cat,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(e), 6) AS mean_enc,
       round(avg(y) / 100.0, 6) AS mean_y,
       round(stddev_pop(e) * (count(*) - 1), 4) AS sd_enc_scaled,
       round(stddev_pop(y / 100.0), 4) AS sd_y
FROM enc GROUP BY cat ORDER BY cat
""",
)
def loo_target_encoding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        F.col("o_orderpriority").alias("cat"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("y"),
    )
    s = o.groupBy("cat").agg(
        F.sum("y").alias("sy"), F.count(F.lit(1)).alias("n")
    )
    enc = o.join(broadcast_if_small(s), "cat").select(
        "cat",
        "y",
        (
            (F.col("sy") - F.col("y")).cast("double")
            / (F.col("n") - 1)
            / 100.0
        ).alias("e"),
    )
    return (
        enc.groupBy("cat")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("e"), 6).alias("mean_enc"),
            F.round(F.avg("y") / 100.0, 6).alias("mean_y"),
            F.round(
                F.stddev_pop("e") * (F.count(F.lit(1)) - 1), 4
            ).alias("sd_enc_scaled"),
            F.round(F.stddev_pop(F.col("y") / 100.0), 4).alias("sd_y"),
        )
        .orderBy("cat")
    )


# --------------------------------------------------------------------------
# Q: feature_hash_collisions — the hashing-trick audit an ML featurizer
# runs before committing to a bucket width: hash the part-name token
# vocabulary into 2^10 buckets (portable md5 hash) and report the
# collision profile — distinct tokens, occupied buckets, collided
# tokens, max bucket load — plus the birthday-bound expected occupancy
# n_buckets·(1-(1-1/n_buckets)^V) as a checked ratio. Pure counting on
# the DISTINCT token vocabulary (Zipf-small), one explode + two
# aggregates.
# --------------------------------------------------------------------------
@query(
    "feature_hash_collisions",
    oracle="""
WITH toks AS (
  SELECT DISTINCT unnest(string_split(p_name, ' ')) AS t FROM part
), hashed AS (
  SELECT t,
         CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 1024 AS bucket
  FROM toks
), buckets AS (
  SELECT bucket, count(*) AS load FROM hashed GROUP BY bucket
), v AS (SELECT count(*) AS v FROM hashed)
SELECT CAST((SELECT v FROM v) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS occupied_buckets,
       CAST(sum(CASE WHEN load > 1 THEN load ELSE 0 END) AS BIGINT)
         AS collided_tokens,
       CAST(max(load) AS BIGINT) AS max_load,
       round(count(*) / (1024.0 * (1 - power(1 - 1.0 / 1024,
                                            (SELECT v FROM v)))), 4)
         AS occupancy_vs_expected
FROM buckets
""",
)
def feature_hash_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_bigdata_pyspark_spark.functions.text import md5_long

    part = load_table(spark, sf_dir, "part")
    toks = (
        part.select(F.explode(F.split(F.col("p_name"), " ")).alias("t"))
        .distinct()
    )
    hashed = toks.select("t", (md5_long(F.col("t")) % 1024).alias("bucket"))
    from f1_bigdata_pyspark_spark.utils import materialize

    buckets = materialize(
        hashed.groupBy("bucket").agg(F.count(F.lit(1)).alias("load"))
    )
    v = hashed.count()  # vocabulary size: driver scalar for the closed form
    expected = 1024.0 * (1.0 - (1.0 - 1.0 / 1024.0) ** v)
    return buckets.agg(
        F.lit(v).cast("long").alias("n_tokens"),
        F.count(F.lit(1)).alias("occupied_buckets"),
        F.sum(F.when(F.col("load") > 1, F.col("load")).otherwise(0))
        .cast("long")
        .alias("collided_tokens"),
        F.max("load").cast("long").alias("max_load"),
        F.round(F.count(F.lit(1)) / F.lit(expected), 4).alias(
            "occupancy_vs_expected"
        ),
    )


# --------------------------------------------------------------------------
# Q: benford_first_digit — Benford's-law conformance audit on order
# totals: observed first-significant-digit distribution vs the expected
# log10(1 + 1/d), with the per-digit chi-square contribution. The classic
# fabricated-data / ETL-corruption screen for financial magnitude columns
# (naturally-grown multiplicative amounts follow Benford; uniform or
# truncated generators don't). Determinism: the digit comes from the
# EXACT integer cents (round(price·100) — no float log10 at magnitude
# boundaries), counts are integers, and each expectation/chi² term is a
# fixed-order scalar over (count, total) — no cross-row float sums.
# Scale: one narrow map (cents → first digit via string head) + a 9-cell
# aggregate with map-side combine; the 1-row total joins back broadcast.
# --------------------------------------------------------------------------
@query(
    "benford_first_digit",
    oracle="""
WITH digits AS (
  SELECT substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
                1, 1) AS digit,
         count(*) AS n_obs
  FROM orders
  WHERE o_totalprice > 0
  GROUP BY 1
),
tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM digits)
SELECT digit,
       CAST(n_obs AS BIGINT) AS n_obs,
       round(n_obs * 1.0 / n, 6) AS obs_share,
       round(log10(1.0 + 1.0 / CAST(digit AS BIGINT)), 6) AS benford_p,
       round(POW(n_obs - n * log10(1.0 + 1.0 / CAST(digit AS BIGINT)), 2)
             / (n * log10(1.0 + 1.0 / CAST(digit AS BIGINT))), 6)
         AS chi2_term
FROM digits CROSS JOIN tot
ORDER BY digit
""",
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    digits = (
        orders.filter(F.col("o_totalprice") > 0)
        .select(
            F.substring(
                F.round(F.col("o_totalprice") * 100)
                .cast("long")
                .cast("string"),
                1,
                1,
            ).alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    )
    tot = digits.agg(F.sum("n_obs").cast("long").alias("n"))
    d = F.col("digit").cast("long")
    p = F.log10(F.lit(1.0) + F.lit(1.0) / d)
    return (
        digits.join(F.broadcast(tot))  # 1-row scalar
        .select(
            "digit",
            "n_obs",
            F.round(F.col("n_obs") * 1.0 / F.col("n"), 6).alias("obs_share"),
            F.round(p, 6).alias("benford_p"),
            F.round(
                F.pow(F.col("n_obs") - F.col("n") * p, F.lit(2))
                / (F.col("n") * p),
                6,
            ).alias("chi2_term"),
        )
        .orderBy("digit")
    )


# --------------------------------------------------------------------------
# Q: did_treatment_effect — difference-in-differences readout: users hash
# into treatment/control arms (same md5 split rule as ab_test_welch —
# assignment is a pure function of the id), the month splits into pre/post
# periods at day 16, and the causal readout is the classic 2×2:
# DiD = (post_T − pre_T) − (post_C − pre_C) on mean event value. The whole
# analysis is ONE aggregate pass over events to a 4-cell table.
# Determinism: per-cell sums run over 1e-6-quantized BIGINT values (exact
# in any order; |vq| ≤ 5.6e8 × 1e4 rows/cell at sf0.1 ≈ 5.6e12, int64 to
# ~1.6e10 rows/cell); every mean and the DiD contrast are fixed-order
# scalar readouts over those integers.
# --------------------------------------------------------------------------
@query(
    "did_treatment_effect",
    oracle="""
WITH cells AS (
  SELECT CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                   AS BIGINT) % 2 = 0 THEN 'T' ELSE 'C' END AS arm,
         CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
              THEN 'pre' ELSE 'post' END AS period,
         CAST(round(value * 1000000) AS BIGINT) AS vq
  FROM events WHERE value IS NOT NULL
),
agg AS (
  SELECT arm, period, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(vq) AS BIGINT) AS s
  FROM cells GROUP BY arm, period
),
wide AS (
  SELECT
    max(CASE WHEN arm = 'T' AND period = 'pre'  THEN s * 1.0 / (n * 1000000.0) END) AS t_pre,
    max(CASE WHEN arm = 'T' AND period = 'post' THEN s * 1.0 / (n * 1000000.0) END) AS t_post,
    max(CASE WHEN arm = 'C' AND period = 'pre'  THEN s * 1.0 / (n * 1000000.0) END) AS c_pre,
    max(CASE WHEN arm = 'C' AND period = 'post' THEN s * 1.0 / (n * 1000000.0) END) AS c_post,
    CAST(sum(n) AS BIGINT) AS n_events
  FROM agg
)
SELECT n_events,
       round(t_pre, 6) AS t_pre, round(t_post, 6) AS t_post,
       round(c_pre, 6) AS c_pre, round(c_post, 6) AS c_post,
       round((t_post - t_pre) - (c_post - c_pre), 6) AS did_estimate
FROM wide
""",
)
def did_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_bigdata_pyspark_spark.functions.text import md5_long

    events = load_table(spark, sf_dir, "events")
    arm = F.when(
        md5_long(F.col("user_id").cast("string")) % 2 == 0, F.lit("T")
    ).otherwise(F.lit("C"))
    period = F.when(
        F.col("ts").cast("date") < F.lit("2024-01-16").cast("date"), F.lit("pre")
    ).otherwise(F.lit("post"))
    agg = (
        events.filter(F.col("value").isNotNull())
        .select(
            arm.alias("arm"),
            period.alias("period"),
            F.round(F.col("value") * 1000000).cast("long").alias("vq"),
        )
        .groupBy("arm", "period")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("vq").cast("long").alias("s"),
        )
    )
    mean = F.col("s") * 1.0 / (F.col("n") * 1000000.0)

    def cell(a: str, p: str):
        return F.max(
            F.when((F.col("arm") == a) & (F.col("period") == p), mean)
        )

    wide = agg.agg(
        cell("T", "pre").alias("t_pre"),
        cell("T", "post").alias("t_post"),
        cell("C", "pre").alias("c_pre"),
        cell("C", "post").alias("c_post"),
        F.sum("n").cast("long").alias("n_events"),
    )
    return wide.select(
        "n_events",
        F.round("t_pre", 6).alias("t_pre"),
        F.round("t_post", 6).alias("t_post"),
        F.round("c_pre", 6).alias("c_pre"),
        F.round("c_post", 6).alias("c_post"),
        F.round(
            (F.col("t_post") - F.col("t_pre"))
            - (F.col("c_post") - F.col("c_pre")),
            6,
        ).alias("did_estimate"),
    )


# --------------------------------------------------------------------------
# Q: churn_training_dataset — leak-free ML dataset construction: per-user
# features from the OBSERVATION window (Jan 1–15) and a churn label from
# the disjoint HORIZON window (Jan 16–30, label = no activity there) — the
# time-split discipline that makes the dataset trainable (features can
# never see the label window; same guarantee family as
# loo_target_encoding_stats). Readout = per-label feature means + counts
# (the class-balance/feature-shift report a feature store publishes), so
# the corpus never leaves the cluster. Determinism: features are exact
# BIGINTs (counts, 1e-6-quantized value sums, integer micro-second
# recency); per-label sums are integer; means are fixed-order readouts.
# Scale: two filtered aggregates over ONE user-keyed exchange each
# (observation features, horizon flag), one co-partitioned left join on
# user_id, then a 2-row rollup.
# --------------------------------------------------------------------------
@query(
    "churn_training_dataset",
    oracle="""
WITH obs AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(count_if(event_type = 'purchase') AS BIGINT) AS n_purch,
         CAST(sum(CAST(round(COALESCE(value, 0) * 1000000) AS BIGINT))
              AS BIGINT) AS svq,
         CAST(max(epoch_us(ts)) AS BIGINT) AS last_us
  FROM events
  WHERE CAST(ts AS DATE) < DATE '2024-01-16'
  GROUP BY user_id
),
hor AS (
  SELECT DISTINCT user_id FROM events
  WHERE CAST(ts AS DATE) >= DATE '2024-01-16'
),
labeled AS (
  SELECT o.*, CASE WHEN h.user_id IS NULL THEN 1 ELSE 0 END AS churned
  FROM obs o LEFT JOIN hor h ON o.user_id = h.user_id
)
SELECT churned,
       CAST(count(*) AS BIGINT) AS n_users,
       round(sum(n_events) * 1.0 / count(*), 6) AS avg_events,
       round(sum(n_purch) * 1.0 / count(*), 6) AS avg_purchases,
       round(sum(svq) / (count(*) * 1000000.0), 6) AS avg_value_sum,
       round(sum(epoch_us(TIMESTAMP '2024-01-16 00:00:00') - last_us)
             / (count(*) * 86400000000.0), 6) AS avg_recency_days
FROM labeled
GROUP BY churned
ORDER BY churned
""",
)
def churn_training_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-16").cast("date")
    obs = (
        events.filter(F.col("ts").cast("date") < cutoff)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count_if(F.col("event_type") == "purchase")
            .cast("long")
            .alias("n_purch"),
            F.sum(
                F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 1000000)
                .cast("long")
            )
            .cast("long")
            .alias("svq"),
            F.max(F.unix_micros("ts")).cast("long").alias("last_us"),
        )
    )
    hor = (
        events.filter(F.col("ts").cast("date") >= cutoff)
        .select("user_id")
        .distinct()
        .withColumn("active", F.lit(1))
    )
    labeled = obs.join(hor, "user_id", "left").withColumn(
        "churned", F.when(F.col("active").isNull(), 1).otherwise(0)
    )
    cutoff_us = F.unix_micros(F.lit("2024-01-16 00:00:00").cast("timestamp"))
    return (
        labeled.groupBy("churned")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.round(F.sum("n_events") * 1.0 / F.count(F.lit(1)), 6).alias(
                "avg_events"
            ),
            F.round(F.sum("n_purch") * 1.0 / F.count(F.lit(1)), 6).alias(
                "avg_purchases"
            ),
            F.round(
                F.sum("svq") / (F.count(F.lit(1)) * 1000000.0), 6
            ).alias("avg_value_sum"),
            F.round(
                F.sum(cutoff_us - F.col("last_us"))
                / (F.count(F.lit(1)) * 86400000000.0),
                6,
            ).alias("avg_recency_days"),
        )
        .orderBy("churned")
    )


# --------------------------------------------------------------------------
# Q: customer_rfm_segments — RFM segmentation at scale: per-customer
# Recency (days since last order, from the corpus max date), Frequency
# (order count), Monetary (lifetime cents), each cut into quintiles, and
# the (R,F,M) segment cells counted. The scale discipline is the same
# histogram trick as the AUC/gains faces: quintile BOUNDARIES come from
# cumulative counts over bounded value histograms (recency days ≤ a few
# thousand, frequency small integers, monetary quantized to 100-dollar
# cells), never from a corpus-global rank — customers join their quintile
# via range comparison against 4 boundary scalars per dimension (12
# numbers, a broadcast literal-sized frame). Quintile rule: score q ∈
# {1..5} = 1 + #boundaries strictly below the value, boundaries b_k =
# smallest cell value with cum ≥ k·N/5 (integer comparisons only — no
# float percentile midpoints anywhere). R is inverted (recent = 5).
# Output: the 25 largest (r,f,m) cells — the wall chart a CRM publishes.
# --------------------------------------------------------------------------
@query(
    "customer_rfm_segments",
    oracle="""
WITH maxd AS (SELECT max(o_orderdate) AS mx FROM orders),
cust AS (
  SELECT o_custkey,
         CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
                        CAST((SELECT mx FROM maxd) AS DATE)) AS BIGINT) AS rec,
         CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 10000
              AS BIGINT) AS mon
  FROM orders GROUP BY o_custkey
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cust),
rb AS (
  SELECT k, min(v) AS b FROM (
    SELECT rec AS v, CAST(sum(count(*)) OVER (ORDER BY rec) AS BIGINT) AS cum
    FROM cust GROUP BY rec
  ) h CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS k)
  WHERE 5 * cum >= k * (SELECT n FROM n) GROUP BY k
),
fb AS (
  SELECT k, min(v) AS b FROM (
    SELECT freq AS v, CAST(sum(count(*)) OVER (ORDER BY freq) AS BIGINT) AS cum
    FROM cust GROUP BY freq
  ) h CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS k)
  WHERE 5 * cum >= k * (SELECT n FROM n) GROUP BY k
),
mb AS (
  SELECT k, min(v) AS b FROM (
    SELECT mon AS v, CAST(sum(count(*)) OVER (ORDER BY mon) AS BIGINT) AS cum
    FROM cust GROUP BY mon
  ) h CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS k)
  WHERE 5 * cum >= k * (SELECT n FROM n) GROUP BY k
),
seg AS (
  SELECT
    6 - (1 + (SELECT count(*) FROM rb WHERE b < rec)) AS r,
    1 + (SELECT count(*) FROM fb WHERE b < freq) AS f,
    1 + (SELECT count(*) FROM mb WHERE b < mon) AS m
  FROM cust
)
SELECT r, f, m, CAST(count(*) AS BIGINT) AS n_customers
FROM seg GROUP BY r, f, m
ORDER BY n_customers DESC, r, f, m
LIMIT 25
""",
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_bigdata_pyspark_spark.utils import materialize

    orders = load_table(spark, sf_dir, "orders")
    mx = orders.agg(F.max("o_orderdate").alias("mx"))
    cust = materialize(
        orders.join(F.broadcast(mx))  # 1-row scalar
        .groupBy("o_custkey", "mx")
        .agg(
            F.max("o_orderdate").alias("last_d"),
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.floor(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                / 10000
            )
            .cast("long")
            .alias("mon"),
        )
        .select(
            F.datediff(F.col("mx").cast("date"), F.col("last_d").cast("date"))
            .cast("long")
            .alias("rec"),
            "freq",
            "mon",
        )
    )
    n = cust.count()  # driver scalar: the quintile denominator

    def boundaries(col: str):
        # bounded histogram (#distinct values of a small-domain feature)
        # -> cumulative -> 4 quintile boundary values
        h = cust.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        from pyspark.sql import Window

        wcum = Window.orderBy(col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        cum = h.select(
            F.col(col).alias("v"), F.sum("cnt").over(wcum).alias("cum")
        )
        ks = F.array(*[F.lit(k) for k in (1, 2, 3, 4)])
        return (
            cum.select("v", "cum", F.explode(ks).alias("k"))
            .filter(5 * F.col("cum") >= F.col("k") * F.lit(n))
            .groupBy("k")
            .agg(F.min("v").alias("b"))
            .select("k", "b")
        )

    def score(col: str, bdf, invert: bool = False):
        # boundaries are 4 rows — collected to literals (driver-bounded
        # constant, same policy as the IVF centroids)
        bs = sorted(r["b"] for r in bdf.collect())
        q = F.lit(1)
        for b in bs:
            q = q + F.when(F.lit(b) < F.col(col), 1).otherwise(0)
        return (F.lit(6) - q) if invert else q

    seg = cust.select(
        score("rec", boundaries("rec"), invert=True).alias("r"),
        score("freq", boundaries("freq")).alias("f"),
        score("mon", boundaries("mon")).alias("m"),
    )
    return (
        seg.groupBy("r", "f", "m")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        .orderBy(F.col("n_customers").desc(), "r", "f", "m")
        .limit(25)
    )


# --------------------------------------------------------------------------
# Q: parts_pareto_front — 2-D skyline (Pareto front): parts not dominated
# on (cheaper retail price, larger size). The naive skyline is an O(n²)
# dominance anti-join; the scalable 2-D form used here collapses to a
# BOUNDED sweep: min price per size cell (size domain ≤ 50), then a size
# cell is on the front iff its min price undercuts every LARGER size's
# running minimum — one cummin window over the size cells, descending.
# Front members are then recovered with a semi-join against the winning
# (size, price) cells. Exact integer cents everywhere; front membership
# is a pure integer comparison. Scale: one size-keyed rollup (map-side
# combinable) + a ≤50-row window + one policied join back.
# --------------------------------------------------------------------------
@query(
    "parts_pareto_front",
    oracle="""
WITH cells AS (
  SELECT p_size,
         CAST(min(round(p_retailprice * 100)) AS BIGINT) AS min_cents
  FROM part GROUP BY p_size
),
sweep AS (
  SELECT p_size, min_cents,
         min(min_cents) OVER (ORDER BY p_size DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS best_larger
  FROM cells
),
front_cells AS (
  SELECT p_size, min_cents FROM sweep
  WHERE best_larger IS NULL OR min_cents < best_larger
)
SELECT p.p_partkey, p.p_size,
       round(CAST(round(p_retailprice * 100) AS BIGINT) / 100.0, 2)
         AS retail_price
FROM part p
JOIN front_cells f
  ON p.p_size = f.p_size
 AND CAST(round(p.p_retailprice * 100) AS BIGINT) = f.min_cents
ORDER BY p.p_size, p.p_partkey
""",
)
def parts_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    part = load_table(spark, sf_dir, "part")
    cents = F.round(F.col("p_retailprice") * 100).cast("long")
    cells = part.select(F.col("p_size"), cents.alias("cents")).groupBy(
        "p_size"
    ).agg(F.min("cents").alias("min_cents"))
    # bounded global window: the size domain (≤50 cells) — allowlisted
    w = Window.orderBy(F.col("p_size").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    front_cells = cells.withColumn(
        "best_larger", F.min("min_cents").over(w)
    ).filter(
        F.col("best_larger").isNull()
        | (F.col("min_cents") < F.col("best_larger"))
    )
    from f1_bigdata_pyspark_spark.operators.join_policy import (
        broadcast_if_small,
    )

    return (
        part.select("p_partkey", "p_size", cents.alias("cents"))
        .join(
            broadcast_if_small(front_cells.select("p_size", "min_cents")),
            ["p_size"],
        )
        .filter(F.col("cents") == F.col("min_cents"))
        .select(
            "p_partkey",
            "p_size",
            F.round(F.col("cents") / 100.0, 2).alias("retail_price"),
        )
        .orderBy("p_size", "p_partkey")
    )


# --------------------------------------------------------------------------
# Q: wilson_ci_conversion — Wilson score intervals (95%) for the per-type
# purchase-conversion proportion of users: the interval that stays inside
# [0,1] and behaves at small n, where the naive normal CI fails — what a
# metrics platform should publish next to every conversion rate. Inputs
# are exact BIGINT counts (users converting vs seen per event type...
# users who emitted the type and later purchased); the Wilson bounds are
# fixed-order closed-form scalars (z = 1.96 literal) over those integers.
# Scale: two user-keyed rollups joined co-partitioned, then a type-sized
# readout. No windows.
# --------------------------------------------------------------------------
@query(
    "wilson_ci_conversion",
    oracle="""
WITH seen AS (
  SELECT DISTINCT event_type, user_id FROM events
),
buyers AS (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
),
cells AS (
  SELECT s.event_type,
         CAST(count(*) AS BIGINT) AS n_users,
         CAST(count(b.user_id) AS BIGINT) AS n_conv
  FROM seen s LEFT JOIN buyers b ON s.user_id = b.user_id
  GROUP BY s.event_type
),
w AS (
  SELECT event_type, n_users, n_conv,
         n_conv * 1.0 / n_users AS p,
         1.96 * 1.96 AS z2
  FROM cells
)
SELECT event_type, n_users, n_conv,
       round(p, 6) AS conv_rate,
       round((p + z2 / (2 * n_users)
              - 1.96 * sqrt((p * (1 - p) + z2 / (4 * n_users)) / n_users))
             / (1 + z2 / n_users), 6) AS wilson_low,
       round((p + z2 / (2 * n_users)
              + 1.96 * sqrt((p * (1 - p) + z2 / (4 * n_users)) / n_users))
             / (1 + z2 / n_users), 6) AS wilson_high
FROM w
ORDER BY event_type
""",
)
def wilson_ci_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    seen = events.select("event_type", "user_id").distinct()
    buyers = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .withColumn("bought", F.lit(1))
    )
    cells = (
        seen.join(buyers, "user_id", "left")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.count("bought").cast("long").alias("n_conv"),
        )
    )
    p = F.col("n_conv") * 1.0 / F.col("n_users")
    n = F.col("n_users")
    z, z2 = 1.96, 1.96 * 1.96
    center = p + z2 / (2 * n)
    margin = z * F.sqrt((p * (1 - p) + z2 / (4 * n)) / n)
    denom = 1 + z2 / n
    return cells.select(
        "event_type",
        "n_users",
        "n_conv",
        F.round(p, 6).alias("conv_rate"),
        F.round((center - margin) / denom, 6).alias("wilson_low"),
        F.round((center + margin) / denom, 6).alias("wilson_high"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Q: lang_source_cramers_v — effect size for the lang × source association:
# chi-square over the full contingency table (languages × sources) folded
# into Cramér's V = sqrt(χ² / (N·(min(r,c)−1))) — "how strongly does
# source determine language" as one bounded number, where raw χ² grows
# with N. Cells and marginals are exact BIGINTs from ONE corpus pass;
# each cell's χ² term is a fixed-order scalar quantized to 1e-9 before
# the cell-table fold (≤ langs×sources terms — exact in any order).
# Scale: one (lang, source) rollup; marginals re-aggregate from the cell
# table; everything after is vocabulary-sized.
# --------------------------------------------------------------------------
@query(
    "lang_source_cramers_v",
    oracle="""
WITH cells AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY lang, source
),
rm AS (SELECT lang, CAST(sum(n) AS BIGINT) AS r FROM cells GROUP BY lang),
cm AS (SELECT source, CAST(sum(n) AS BIGINT) AS c FROM cells GROUP BY source),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        FROM cells),
terms AS (
  SELECT CAST(round(
           POW(cells.n - r * 1.0 * c / nn, 2) / (r * 1.0 * c / nn) * 1e9)
           AS BIGINT) AS tq,
         nn, n_langs, n_sources
  FROM cells
  JOIN rm ON cells.lang = rm.lang
  JOIN cm ON cells.source = cm.source
  CROSS JOIN tot
)
SELECT max(nn) AS n_docs, max(n_langs) AS n_langs, max(n_sources) AS n_sources,
       round(sum(tq) / 1e9, 6) AS chi2,
       round(sqrt((sum(tq) / 1e9)
                  / (max(nn) * (least(max(n_langs), max(n_sources)) - 1))), 6)
         AS cramers_v
FROM terms
""",
)
def lang_source_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_bigdata_pyspark_spark.operators.join_policy import (
        broadcast_if_small,
    )

    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    rm = cells.groupBy("lang").agg(F.sum("n").cast("long").alias("r"))
    cm = cells.groupBy("source").agg(F.sum("n").cast("long").alias("c"))
    tot = cells.agg(
        F.sum("n").cast("long").alias("nn"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    )
    exp = F.col("r") * 1.0 * F.col("c") / F.col("nn")
    tq = F.round(F.pow(F.col("n") - exp, F.lit(2)) / exp * 1e9).cast("long")
    terms = (
        cells.join(broadcast_if_small(rm), "lang")
        .join(broadcast_if_small(cm), "source")
        .join(F.broadcast(tot))  # 1-row scalar
        .select(
            tq.alias("tq"), "nn", "n_langs", "n_sources"
        )
    )
    chi2 = F.sum("tq") / 1e9
    return terms.agg(
        F.max("nn").alias("n_docs"),
        F.max("n_langs").alias("n_langs"),
        F.max("n_sources").alias("n_sources"),
        F.round(chi2, 6).alias("chi2"),
        F.round(
            F.sqrt(
                (F.sum("tq") / 1e9)
                / (
                    F.max("nn")
                    * (F.least(F.max("n_langs"), F.max("n_sources")) - 1)
                )
            ),
            6,
        ).alias("cramers_v"),
    )


# --------------------------------------------------------------------------
# Q: eb_shrunk_urgent_rates — empirical-Bayes shrinkage of per-nation
# urgent-order rates (beta-binomial, method of moments): small nations'
# noisy raw rates pull toward the cross-nation prior, big nations keep
# their data — the standard fix for "the tiny segment tops every ranking"
# in per-entity rate tables. Prior Beta(α, β) fitted by MoM on the raw
# rate distribution over the BOUNDED nation table (m = avg p_i, v =
# var_pop p_i, α+β = m(1−m)/v − 1); shrunk_i = (x_i + α)/(n_i + α + β).
# Scale: the corpus collapses to per-nation (n, x) BIGINT counts in one
# map-side-combined pass; all float math runs on the 25-row rollup and
# its 1-row broadcast prior. Degenerate guard: if the MoM variance is 0
# or the implied strength is non-positive, shrinkage is a no-op (α=β=0).
# --------------------------------------------------------------------------
@query(
    "eb_shrunk_urgent_rates",
    oracle="""
WITH per_cust AS (
  SELECT c.c_nationkey AS nk,
         CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
),
nations AS (
  SELECT nk, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS x
  FROM per_cust GROUP BY nk
),
prior AS (
  SELECT avg(x * 1.0 / n) AS m,
         avg((x * 1.0 / n) * (x * 1.0 / n)) - avg(x * 1.0 / n) * avg(x * 1.0 / n)
           AS v
  FROM nations
),
fit AS (
  SELECT m, v,
         CASE WHEN v > 0 AND m * (1 - m) / v - 1 > 0
              THEN m * (1 - m) / v - 1 ELSE 0 END AS strength
  FROM prior
)
SELECT nk AS nationkey, n, x,
       round(x * 1.0 / n, 6) AS raw_rate,
       round((x + m * strength) / (n + strength), 6) AS shrunk_rate,
       round(m, 6) AS prior_mean,
       round(strength, 6) AS prior_strength
FROM nations CROSS JOIN fit
ORDER BY nationkey
""",
)
def eb_shrunk_urgent_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    per = orders.join(
        broadcast_if_small(cust.select("c_custkey", "c_nationkey")),
        orders.o_custkey == F.col("c_custkey"),
    ).select(
        F.col("c_nationkey").alias("nk"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        ).otherwise(0).alias("y"),
    )
    nations = per.groupBy("nk").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("x"),
    )
    p = F.col("x") / F.col("n")
    prior = nations.agg(
        F.avg(p).alias("m"), (F.avg(p * p) - F.avg(p) * F.avg(p)).alias("v")
    )
    raw_strength = F.col("m") * (1 - F.col("m")) / F.col("v") - 1
    fit = prior.select(
        "m",
        "v",
        F.when((F.col("v") > 0) & (raw_strength > 0), raw_strength)
        .otherwise(F.lit(0.0))
        .alias("strength"),
    )
    return (
        nations.crossJoin(F.broadcast(fit))
        .select(
            F.col("nk").alias("nationkey"),
            "n",
            "x",
            F.round(p, 6).alias("raw_rate"),
            F.round(
                (F.col("x") + F.col("m") * F.col("strength"))
                / (F.col("n") + F.col("strength")),
                6,
            ).alias("shrunk_rate"),
            F.round("m", 6).alias("prior_mean"),
            F.round("strength", 6).alias("prior_strength"),
        )
        .orderBy("nationkey")
    )


# --------------------------------------------------------------------------
# Q: lineitem_corr_matrix — the full pairwise covariance / correlation
# matrix of the four lineitem measures (quantity, extendedprice, discount,
# tax) from ONE corpus pass: 14 mergeable sufficient statistics (4 means,
# 4 mean-squares, 6 cross-means), then the 10 matrix cells (4 variances +
# 6 covariances) are read out of the 1-row aggregate in long form. This is
# the feature-screening / multicollinearity readout a modeling pipeline
# wants before fitting anything — computed the only way that scales (no
# per-pair passes, no corr() called 6 times re-scanning the corpus).
# Floats follow the house avg()-based policy (6-dp rounded readout).
# --------------------------------------------------------------------------
@query(
    "lineitem_corr_matrix",
    oracle="""
WITH s AS (
  SELECT avg(l_quantity) AS m1, avg(l_extendedprice) AS m2,
         avg(l_discount) AS m3, avg(l_tax) AS m4,
         avg(l_quantity * l_quantity) AS s11,
         avg(l_extendedprice * l_extendedprice) AS s22,
         avg(l_discount * l_discount) AS s33,
         avg(l_tax * l_tax) AS s44,
         avg(l_quantity * l_extendedprice) AS s12,
         avg(l_quantity * l_discount) AS s13,
         avg(l_quantity * l_tax) AS s14,
         avg(l_extendedprice * l_discount) AS s23,
         avg(l_extendedprice * l_tax) AS s24,
         avg(l_discount * l_tax) AS s34
  FROM lineitem
)
SELECT var_a, var_b, round(cov_pop, 6) AS cov_pop, round(corr, 6) AS corr
FROM (
  SELECT 'quantity' AS var_a, 'extendedprice' AS var_b,
         s12 - m1 * m2 AS cov_pop,
         (s12 - m1 * m2) / (sqrt(s11 - m1 * m1) * sqrt(s22 - m2 * m2)) AS corr
  FROM s
  UNION ALL
  SELECT 'quantity', 'discount', s13 - m1 * m3,
         (s13 - m1 * m3) / (sqrt(s11 - m1 * m1) * sqrt(s33 - m3 * m3)) FROM s
  UNION ALL
  SELECT 'quantity', 'tax', s14 - m1 * m4,
         (s14 - m1 * m4) / (sqrt(s11 - m1 * m1) * sqrt(s44 - m4 * m4)) FROM s
  UNION ALL
  SELECT 'extendedprice', 'discount', s23 - m2 * m3,
         (s23 - m2 * m3) / (sqrt(s22 - m2 * m2) * sqrt(s33 - m3 * m3)) FROM s
  UNION ALL
  SELECT 'extendedprice', 'tax', s24 - m2 * m4,
         (s24 - m2 * m4) / (sqrt(s22 - m2 * m2) * sqrt(s44 - m4 * m4)) FROM s
  UNION ALL
  SELECT 'discount', 'tax', s34 - m3 * m4,
         (s34 - m3 * m4) / (sqrt(s33 - m3 * m3) * sqrt(s44 - m4 * m4)) FROM s
)
ORDER BY var_a, var_b
""",
)
def lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cols = {
        "quantity": F.col("l_quantity"),
        "extendedprice": F.col("l_extendedprice"),
        "discount": F.col("l_discount"),
        "tax": F.col("l_tax"),
    }
    names = list(cols)
    aggs = [F.avg(cols[a]).alias(f"m_{a}") for a in names]
    aggs += [
        F.avg(cols[a] * cols[b]).alias(f"s_{a}_{b}")
        for i, a in enumerate(names)
        for b in names[i:]
    ]
    s = li.agg(*aggs)
    pairs = [
        (a, b) for i, a in enumerate(names) for b in names[i + 1 :]
    ]
    rows = []
    for a, b in pairs:
        cov = F.col(f"s_{a}_{b}") - F.col(f"m_{a}") * F.col(f"m_{b}")
        var_a = F.col(f"s_{a}_{a}") - F.col(f"m_{a}") * F.col(f"m_{a}")
        var_b = F.col(f"s_{b}_{b}") - F.col(f"m_{b}") * F.col(f"m_{b}")
        rows.append(
            s.select(
                F.lit(a).alias("var_a"),
                F.lit(b).alias("var_b"),
                F.round(cov, 6).alias("cov_pop"),
                F.round(cov / (F.sqrt(var_a) * F.sqrt(var_b)), 6).alias("corr"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("var_a", "var_b")


# --------------------------------------------------------------------------
# Q: grouped_kfold_audit — deterministic GROUP-aware k-fold assignment
# over the events table: fold = portable md5 hash of user_id mod 5, so
# every event of a user lands in the same fold BY CONSTRUCTION (the
# group-aware split that prevents user-level leakage between folds — the
# per-row random split a naive pipeline uses leaks user behavior across
# train/validation). The audit readout per fold: event share, user share,
# and the positive-label (purchase) rate — the stratification-balance
# numbers a training run checks before trusting CV estimates. Scale: fold
# is a pure narrow hash of the grouping key (no shuffle to assign), one
# aggregate per fold after that; the per-fold user distinct is the only
# exchange and it's keyed.
# --------------------------------------------------------------------------
@query(
    "grouped_kfold_audit",
    oracle="""
WITH ev AS (
  SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 5 AS fold,
         user_id, event_type
  FROM events
),
tot AS (SELECT count(*) AS n_total FROM ev)
SELECT fold,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       round(CAST(count(*) AS DOUBLE) / (SELECT n_total FROM tot), 6)
         AS event_share,
       round(CAST(count(*) FILTER (WHERE event_type = 'purchase') AS DOUBLE)
             / count(*), 6) AS purchase_rate
FROM ev
GROUP BY fold
ORDER BY fold
""",
)
def grouped_kfold_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_bigdata_pyspark_spark.functions.text import md5_long

    ev = load_table(spark, sf_dir, "events").select(
        (md5_long(F.col("user_id").cast("string")) % 5).alias("fold"),
        "user_id",
        "event_type",
    )
    per_fold = ev.groupBy("fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.count_if(F.col("event_type") == "purchase").alias("n_purchase"),
    )
    total = per_fold.agg(F.sum("n_events").alias("n_total"))
    return (
        per_fold.crossJoin(broadcast_if_small(total))
        .select(
            "fold",
            "n_events",
            "n_users",
            F.round(
                F.col("n_events").cast("double") / F.col("n_total"), 6
            ).alias("event_share"),
            F.round(
                F.col("n_purchase").cast("double") / F.col("n_events"), 6
            ).alias("purchase_rate"),
        )
        .orderBy("fold")
    )


# --------------------------------------------------------------------------
# Q: sql_pipe_revenue_report — the Spark 4 SQL PIPE syntax face (|>):
# the same declarative plan as a nested classic query, stated as a linear
# dataflow (FROM → WHERE → AGGREGATE → WHERE → ORDER), which is how the
# engine executes it anyway — pipe syntax is pure parser surface, Catalyst
# sees the identical logical plan, so it costs nothing and reads like the
# pipeline it is. The DuckDB oracle states the classic-SQL equivalent;
# the hash check therefore ALSO pins that the pipe parse means what the
# classic query means. Post-agg HAVING is a |> WHERE after AGGREGATE.
# --------------------------------------------------------------------------
@query(
    "sql_pipe_revenue_report",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
         / 100.0 AS revenue
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
HAVING count(*) > 10
ORDER BY o_orderpriority
""",
)
def sql_pipe_revenue_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "pipe_orders_v"
    )
    return spark.sql(
        """
FROM pipe_orders_v
|> WHERE o_orderstatus = 'F'
|> AGGREGATE count(*) AS n_orders,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS DOUBLE) / 100.0 AS revenue
   GROUP BY o_orderpriority
|> WHERE n_orders > 10
|> SELECT o_orderpriority, n_orders, revenue
|> ORDER BY o_orderpriority
"""
    )


# --------------------------------------------------------------------------
# Q: recursive_month_spine — Spark 4's WITH RECURSIVE surface on a real
# gaps-filling job: generate the complete month spine over the orders
# date range by recursion (anchor = first month, step = add_months), then
# LEFT JOIN monthly revenue so missing months would surface as zero rows
# rather than silently vanish — the calendar-completeness contract a
# reporting pipeline needs. The oracle is DuckDB's recursive CTE of the
# same shape, so the hash ALSO pins that Spark's recursive evaluation
# semantics (iterate-until-empty) agree with a second engine. Bounds are
# inlined as literals on the Spark side (two-scalar driver lookup, the
# planner-input discipline); the recursion itself is engine-evaluated.
# Depth is the month span (~80 at any SF) — metadata-scale.
# --------------------------------------------------------------------------
@query(
    "recursive_month_spine",
    oracle="""
WITH RECURSIVE spine(m) AS (
  SELECT CAST(date_trunc('month', (SELECT min(o_orderdate) FROM orders))
              AS DATE)
  UNION ALL
  SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM spine
  WHERE m < CAST(date_trunc('month', (SELECT max(o_orderdate) FROM orders))
                 AS DATE)
),
rev AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
           / 100.0 AS revenue
  FROM orders GROUP BY 1
)
SELECT spine.m AS month_start,
       coalesce(rev.n_orders, 0) AS n_orders,
       coalesce(rev.revenue, 0.0) AS revenue
FROM spine LEFT JOIN rev ON rev.m = spine.m
ORDER BY month_start
""",
)
def recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lo, hi = orders.agg(
        F.min("o_orderdate"), F.max("o_orderdate")
    ).head()
    lo_m = lo.replace(day=1).isoformat()
    hi_m = hi.replace(day=1).isoformat()
    orders.createOrReplaceTempView("rms_orders_v")
    return spark.sql(
        f"""
WITH RECURSIVE spine(m) AS (
  SELECT CAST('{lo_m}' AS DATE)
  UNION ALL
  SELECT add_months(m, 1) FROM spine WHERE m < CAST('{hi_m}' AS DATE)
),
rev AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
           / 100.0 AS revenue
  FROM rms_orders_v GROUP BY 1
)
SELECT spine.m AS month_start,
       coalesce(rev.n_orders, CAST(0 AS BIGINT)) AS n_orders,
       coalesce(rev.revenue, 0.0) AS revenue
FROM spine LEFT JOIN rev ON rev.m = spine.m
ORDER BY month_start
"""
    )
