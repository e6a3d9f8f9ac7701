"""The SQL and DataFrame surface: joins (semi, anti, outer, cross,
lateral, null-safe, range, as-of, salted), set operations, windows and
frames, grouping sets, pivots, subqueries, scalar/string/date/map/
struct/array functions, pipe syntax, Python UDF/UDAF surfaces, the
single-file sink round trip and the join-key skew audit.

Every query is a declarative pipeline with an exact oracle twin:
Catalyst does predicate pushdown, column pruning and join selection;
AQE handles coalescing and skew. Map-typed outputs do not hash portably
across engines, so map queries explode back to rows for the oracle.
Shapes with no single Spark operator (range and as-of joins, skyline)
are composed from inequality joins and windows, never row-at-a-time
UDFs.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import table
from .base import SQL_REVENUE, SQL_TOKENS, Query, dec, money_sum, revenue_expr


def q_join_skew_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Key-skew profile of lineitem's supplier key — the measurement a
    pipeline takes BEFORE deciding to salt a join or rely on AQE's
    skew-join split, instead of guessing. Reports row/key counts, the
    heaviest key's share, and the exact p50/p99 of the per-key row
    distribution.

    Plan: one uniform key-count shuffle (map-side combinable), then all
    statistics reduce the |keys|-sized count table to ONE row — the
    percentile works on per-key counts, never raw rows. At 100 TB this
    is one linear scan + a keys-sized aggregate; the output feeds the
    salt-factor choice (max_key_rows / avg_key_rows)."""
    li = table(spark, sf, "lineitem")
    counts = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_key_rows"),
        F.round(
            F.sum("cnt") / F.count(F.lit(1)).cast("double"), 6
        ).alias("avg_key_rows"),
        F.round(
            F.max("cnt")
            / (F.sum("cnt") / F.count(F.lit(1)).cast("double")),
            6,
        ).alias("skew_ratio"),
        F.percentile("cnt", F.lit(0.5)).alias("p50_key_rows"),
        F.percentile("cnt", F.lit(0.99)).alias("p99_key_rows"),
    )


SQL_JOIN_SKEW_AUDIT = """
WITH counts AS (
  SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_suppkey
)
SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
  COUNT(*) AS n_keys,
  MAX(cnt) AS max_key_rows,
  ROUND(SUM(cnt) / CAST(COUNT(*) AS DOUBLE), 6) AS avg_key_rows,
  ROUND(MAX(cnt) / (SUM(cnt) / CAST(COUNT(*) AS DOUBLE)), 6) AS skew_ratio,
  quantile_cont(cnt, 0.5) AS p50_key_rows,
  quantile_cont(cnt, 0.99) AS p99_key_rows
FROM counts
"""


SKY_FROM, SKY_TO = "1997-03-01", "1997-04-01"


def q_pareto_skyline(spark: SparkSession, sf: str) -> DataFrame:
    """Skyline of {SKY_FROM}..{SKY_TO} orders: keep an order iff no
    other order in the slice is at-least-as-recent AND at-most-as-
    expensive with one strict. Duplicate (price, date) points are
    mutually non-dominating and both survive (the standard skyline
    convention) — the same-date window uses strict-less, the
    later-date window at-most.

    Plan: the linear sort-based skyline — ONE date-keyed range window
    (min price over strictly-later dates) + one same-date partition
    min; no self-join, no quadratic dominance test (that is the
    ORACLE's job). At 100 TB: the window key is the date (bounded
    distinct values), so the exchange is date-bucketed and the
    frontier test stays two window passes regardless of row count."""
    o = table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= SKY_FROM) & (F.col("o_orderdate") < SKY_TO)
    )
    base = o.select(
        "o_orderkey",
        "o_orderdate",
        F.datediff("o_orderdate", F.lit("1995-01-01")).alias("dd"),
        (dec("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    w_later = (
        Window.orderBy(F.desc("dd"))
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_same = Window.partitionBy("dd")
    flagged = base.select(
        "o_orderkey",
        "o_orderdate",
        "cents",
        F.min("cents").over(w_later).alias("minp_later"),
        F.min("cents").over(w_same).alias("minp_same"),
    )
    return (
        flagged.filter(
            ~(
                (
                    F.col("minp_later").isNotNull()
                    & (F.col("minp_later") <= F.col("cents"))
                )
                | (F.col("minp_same") < F.col("cents"))
            )
        )
        .select(
            "o_orderkey",
            "o_orderdate",
            F.round(F.col("cents") / F.lit(100.0), 2).alias("price"),
        )
        .orderBy(F.desc("o_orderdate"), F.asc("o_orderkey"))
    )


SQL_PARETO_SKYLINE = f"""
WITH base AS (
  SELECT o_orderkey, o_orderdate,
    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
  WHERE o_orderdate >= DATE '{SKY_FROM}' AND o_orderdate < DATE '{SKY_TO}'
)
SELECT o_orderkey, o_orderdate, ROUND(cents / 100.0, 2) AS price
FROM base a
WHERE NOT EXISTS (
  SELECT 1 FROM base b
  WHERE b.cents <= a.cents AND b.o_orderdate >= a.o_orderdate
    AND (b.cents < a.cents OR b.o_orderdate > a.o_orderdate)
)
ORDER BY o_orderdate DESC, o_orderkey ASC
"""


def q_agg_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """COUNT(DISTINCT) — Spark expands to a two-phase distinct aggregate;
    at scale prefer approx_count_distinct (HLL) which is one pass and
    mergeable — provided as a separate rows-only query."""
    return (
        table(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct("l_partkey").alias("n_part"),
            F.count("*").alias("n_rows"),
        )
    )


SQL_AGG_DISTINCT = """
SELECT l_returnflag,
  COUNT(DISTINCT l_suppkey) AS n_supp,
  COUNT(DISTINCT l_partkey) AS n_part,
  COUNT(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
"""


def q_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP grouping sets (EXT; SURVEY §2.4)."""
    return (
        table(spark, sf, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"), money_sum("o_totalprice", "sum_price"))
    )


SQL_ROLLUP = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def q_cube(spark: SparkSession, sf: str) -> DataFrame:
    return (
        table(spark, sf, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(money_sum("l_quantity", "sum_qty"), F.count("*").alias("n_rows"))
    )


SQL_CUBE = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  COUNT(*) AS n_rows
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot with an explicit value list (never let Spark scan for values
    at 100 TB — always pass the list)."""
    return (
        table(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum(dec("l_quantity")).cast("double"))
    )


SQL_PIVOT = """
SELECT l_returnflag,
  CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS F,
  CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS O
FROM lineitem GROUP BY l_returnflag
"""


def q_broadcast_join(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit broadcast-hint join: part (dimension) into lineitem (fact).
    No shuffle of the fact side at all — map-side hash join."""
    part = table(spark, sf, "part").filter(F.col("p_size") >= 40)
    li = table(spark, sf, "lineitem")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(F.sum(revenue_expr()).cast("double").alias("revenue"), F.count("*").alias("n_items"))
    )


SQL_BROADCAST_JOIN = f"""
SELECT p_brand, CAST(SUM({SQL_REVENUE}) AS DOUBLE) AS revenue, COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size >= 40
GROUP BY p_brand
"""


def q_semi_join(spark: SparkSession, sf: str) -> DataFrame:
    """LEFT SEMI = EXISTS: customers having at least one urgent order.
    Plans as a broadcast/shuffled semi join — no row duplication, no
    post-join distinct needed."""
    orders = table(spark, sf, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    cust = table(spark, sf, "customer")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


SQL_SEMI_JOIN = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""


def q_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    """LEFT ANTI = NOT EXISTS: customers with no urgent orders."""
    orders = table(spark, sf, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    cust = table(spark, sf, "customer")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


SQL_ANTI_JOIN = """
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""


def q_outer_join(spark: SparkSession, sf: str) -> DataFrame:
    """LEFT OUTER join preserving empty groups (nations with zero
    suppliers) — the same zero-fill semantics as the letter counter's
    26-row domain join (usr_functions.c:102-106)."""
    nation = table(spark, sf, "nation")
    supplier = table(spark, sf, "supplier")
    return (
        nation.join(supplier, nation.n_nationkey == supplier.s_nationkey, "left")
        .groupBy("n_nationkey", "n_name")
        .agg(F.count("s_suppkey").alias("n_suppliers"))
    )


SQL_OUTER_JOIN = """
SELECT n_nationkey, n_name, COUNT(s_suppkey) AS n_suppliers
FROM nation LEFT JOIN supplier ON n_nationkey = s_nationkey
GROUP BY n_nationkey, n_name
"""


def q_window_topk_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 customers per market segment by balance. ROW_NUMBER with a
    unique tie-break (c_custkey) so the result is deterministic. At scale
    this is one shuffle on the partition key; skewed groups are split by
    AQE."""
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        table(spark, sf, "customer")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_mktsegment", "c_custkey", "c_acctbal", "rn")
    )


SQL_WINDOW_TOPK_PER_GROUP = """
SELECT c_mktsegment, c_custkey, c_acctbal, rn FROM (
  SELECT c_mktsegment, c_custkey, c_acctbal,
    CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal DESC, c_custkey ASC) AS INTEGER) AS rn
  FROM customer) t
WHERE rn <= 3
"""


def q_window_running_sum(spark: SparkSession, sf: str) -> DataFrame:
    """Per-customer running spend (ROWS UNBOUNDED PRECEDING). Decimal
    accumulation keeps every prefix exact → oracle-stable."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        table(spark, sf, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.sum(dec("o_totalprice")).over(w).cast("double").alias("running_spend"),
        )
    )


SQL_WINDOW_RUNNING_SUM = """
SELECT o_custkey, o_orderkey, o_orderdate,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
FROM orders
"""


def q_window_lag(spark: SparkSession, sf: str) -> DataFrame:
    """LAG: gap in days since the customer's previous order."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderdate").over(w)
    return table(spark, sf, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), prev).cast("int").alias("days_since_prev"),
    )


SQL_WINDOW_LAG = """
SELECT o_custkey, o_orderkey,
  CAST(datediff('day',
       LAG(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       o_orderdate) AS INTEGER) AS days_since_prev
FROM orders
"""


def q_window_frames(spark: SparkSession, sf: str) -> DataFrame:
    """Ranking + distribution + explicit-frame window functions in one
    pass: ntile quartiles, percent_rank, cume_dist, and first/last value
    over a bounded ROWS frame — all share ONE window sort (single
    shuffle on the partition key, one sort per partition)."""
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o = table(spark, sf, "orders")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 9).alias("cume"),
        F.first_value(F.col("o_orderkey")).over(wf).alias("cheapest_key_so_far"),
    )


SQL_WINDOW_FRAMES = """
SELECT o_custkey, o_orderkey,
  CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
  ROUND(PERCENT_RANK() OVER w, 9) AS pct_rank,
  ROUND(CUME_DIST() OVER w, 9) AS cume,
  FIRST_VALUE(o_orderkey) OVER
    (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cheapest_key_so_far
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
"""


def q_window_range_frame(spark: SparkSession, sf: str) -> DataFrame:
    """RANGE window frame (value-based, not row-based): for each order,
    how many same-customer orders fall within ±5000 of its price. RANGE
    frames cost the same one sort as ROWS frames — the frame bound is
    resolved by scanning the ordered partition."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_totalprice"))
        .rangeBetween(-5000, 5000)
    )
    o = table(spark, sf, "orders")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.count("*").over(w).alias("n_near_price"),
        F.round(F.avg("o_totalprice").over(w), 6).alias("avg_near_price"),
    )


SQL_WINDOW_RANGE_FRAME = """
SELECT o_custkey, o_orderkey,
  COUNT(*) OVER w AS n_near_price,
  ROUND(AVG(o_totalprice) OVER w, 6) AS avg_near_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice
             RANGE BETWEEN 5000 PRECEDING AND 5000 FOLLOWING)
"""


def q_pipe_syntax(spark: SparkSession, sf: str) -> DataFrame:
    """SQL pipe syntax (Spark 4, GoogleSQL-style |> operators): the
    linear dataflow reading of a filter→aggregate→filter→sort pipeline.
    Parses to the IDENTICAL Catalyst plan as nested SQL — pure surface
    syntax, zero execution difference (the oracle is the nested form)."""
    table(spark, sf, "orders").createOrReplaceTempView("orders_pipe")
    return spark.sql(
        """
        FROM orders_pipe
        |> WHERE o_orderstatus = 'F'
        |> AGGREGATE COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
           GROUP BY o_orderpriority
        |> WHERE n > 10
        """
    )


SQL_PIPE_SYNTAX = """
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
HAVING COUNT(*) > 10
"""


def q_union_all(spark: SparkSession, sf: str) -> DataFrame:
    cust = table(spark, sf, "customer")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = cust.filter(F.col("c_acctbal") > 8000).select("c_custkey")
    return a.unionAll(b)


SQL_UNION_ALL = """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
UNION ALL
SELECT c_custkey FROM customer WHERE c_acctbal > 8000
"""


def q_intersect(spark: SparkSession, sf: str) -> DataFrame:
    cust = table(spark, sf, "customer")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = cust.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return a.intersect(b)


SQL_INTERSECT = """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT c_custkey FROM customer WHERE c_acctbal > 5000
"""


def q_except(spark: SparkSession, sf: str) -> DataFrame:
    cust = table(spark, sf, "customer")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = cust.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return a.subtract(b)  # distinct EXCEPT semantics, matching SQL EXCEPT


SQL_EXCEPT = """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
EXCEPT
SELECT c_custkey FROM customer WHERE c_acctbal > 5000
"""


def q_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """DISTINCT = hash aggregation on all columns (partial+final)."""
    return table(spark, sf, "orders").select("o_orderstatus", "o_orderpriority").distinct()


SQL_DISTINCT = "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders"


def q_scalar_functions(spark: SparkSession, sf: str) -> DataFrame:
    """Scalar surface (SURVEY §2.8): string/math built-ins, all JVM-side
    codegen — the engine-native generalization of the reference's
    isalpha/toupper/strstr/strlen set."""
    p = table(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.lower("p_type").alias("type_l"),
        F.length("p_name").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type5"),
        F.concat_ws("_", "p_brand", F.col("p_size").cast("string")).alias("brand_size"),
        F.floor("p_retailprice").cast("double").alias("floor_price"),
        F.ceil("p_retailprice").cast("double").alias("ceil_price"),
        F.abs(F.col("p_size") - F.lit(25)).alias("size_dev"),
    )


SQL_SCALAR_FUNCTIONS = """
SELECT p_partkey,
  UPPER(p_brand) AS brand_u,
  LOWER(p_type) AS type_l,
  CAST(LENGTH(p_name) AS INTEGER) AS name_len,
  SUBSTRING(p_type, 1, 5) AS type5,
  CONCAT(p_brand, '_', CAST(p_size AS VARCHAR)) AS brand_size,
  CAST(FLOOR(p_retailprice) AS DOUBLE) AS floor_price,
  CAST(CEIL(p_retailprice) AS DOUBLE) AS ceil_price,
  ABS(p_size - 25) AS size_dev
FROM part
"""


def q_datetime_functions(spark: SparkSession, sf: str) -> DataFrame:
    """Date/time scalar surface over order dates."""
    o = table(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.quarter("o_orderdate").alias("q"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
    )


SQL_DATETIME_FUNCTIONS = """
SELECT o_orderkey,
  CAST(year(o_orderdate) AS INTEGER) AS y,
  CAST(month(o_orderdate) AS INTEGER) AS m,
  CAST(day(o_orderdate) AS INTEGER) AS d,
  CAST(quarter(o_orderdate) AS INTEGER) AS q,
  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start
FROM orders
"""


def q_cross_join(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit small×small cross join (region × nation grid)."""
    r = table(spark, sf, "region").select(F.col("r_name"))
    n = table(spark, sf, "nation").select(F.col("n_name"))
    return r.crossJoin(n)


SQL_CROSS_JOIN = "SELECT r_name, n_name FROM region CROSS JOIN nation"


def q_range_join(spark: SparkSession, sf: str) -> DataFrame:
    """Interval/range join: pairs of events by the same user within a
    5-minute window. Planned as a broadcast-nested-loop / shuffled
    inequality join locally; at 100 TB you bucket ``ts`` to the range
    width first so the equi-part (user_id, bucket) carries the shuffle —
    that exact rewrite is what AQE cannot invent for you.

    The bucketed rewrite is used here: join on (user_id, bucket) where
    e2 checks both its own and the previous bucket → equi-join shuffle,
    inequality applied as a post-filter."""
    ev = table(spark, sf, "events").select("user_id", "event_id", "ts")
    width = 300  # seconds
    bucket = (F.unix_timestamp("ts") / width).cast("long")
    e1 = ev.select(
        F.col("user_id"), F.col("event_id").alias("id1"), F.col("ts").alias("ts1"),
        bucket.alias("b1"),
    )
    e2 = ev.select(
        F.col("user_id").alias("u2"), F.col("event_id").alias("id2"),
        F.col("ts").alias("ts2"), bucket.alias("b2"),
    )
    # candidate buckets: same or adjacent (ts2 in (ts1, ts1+5min] spans ≤2)
    joined = e1.join(
        e2,
        (F.col("user_id") == F.col("u2"))
        & ((F.col("b2") == F.col("b1")) | (F.col("b2") == F.col("b1") + 1))
        & (F.col("ts2") > F.col("ts1"))
        & (F.col("ts2") <= F.col("ts1") + F.expr("INTERVAL 5 MINUTES")),
    )
    return joined.select("user_id", "id1", "id2")


SQL_RANGE_JOIN = """
SELECT e1.user_id, e1.event_id AS id1, e2.event_id AS id2
FROM events e1 JOIN events e2
  ON e1.user_id = e2.user_id
 AND e2.ts > e1.ts
 AND e2.ts <= e1.ts + INTERVAL 5 MINUTE
"""


def q_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join: for every 'purchase' event, the most recent prior
    'view' by the same user. Composition: union-tag + window max — ONE
    shuffle on user_id, no inequality join at all. This is the
    100 TB-correct as-of shape (the naive t1<=t2 join is quadratic per
    key)."""
    ev = table(spark, sf, "events")
    tagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "view", F.col("ts")).alias("view_ts"),
    ).filter(F.col("event_type").isin("view", "purchase"))
    from pyspark.sql import Window

    win = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    enriched = tagged.withColumn("last_view_ts", F.max("view_ts").over(win))
    return enriched.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts", "last_view_ts"
    )


SQL_ASOF_JOIN = """
WITH tagged AS (
  SELECT user_id, event_id, ts, event_type,
    CASE WHEN event_type = 'view' THEN ts END AS view_ts
  FROM events WHERE event_type IN ('view', 'purchase')
),
enriched AS (
  SELECT user_id, event_id, ts, event_type,
    MAX(view_ts) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view_ts
  FROM tagged
)
SELECT user_id, event_id AS purchase_id, ts, last_view_ts
FROM enriched WHERE event_type = 'purchase'
"""


def q_asof_join_forward(spark: SparkSession, sf: str) -> DataFrame:
    """Forward as-of: for every 'view', the NEXT 'purchase' by the same
    user (conversion attribution). Mirror of q_asof_join with an
    unbounded-FOLLOWING frame and min — still one shuffle on user_id."""
    ev = table(spark, sf, "events")
    tagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "purchase", F.col("ts")).alias("purchase_ts"),
    ).filter(F.col("event_type").isin("view", "purchase"))
    from pyspark.sql import Window

    win = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(1, Window.unboundedFollowing)
    )
    enriched = tagged.withColumn("next_purchase_ts", F.min("purchase_ts").over(win))
    return enriched.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), "ts", "next_purchase_ts"
    )


SQL_ASOF_JOIN_FORWARD = """
WITH tagged AS (
  SELECT user_id, event_id, ts, event_type,
    CASE WHEN event_type = 'purchase' THEN ts END AS purchase_ts
  FROM events WHERE event_type IN ('view', 'purchase')
),
enriched AS (
  SELECT user_id, event_id, ts, event_type,
    MIN(purchase_ts) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
      AS next_purchase_ts
  FROM tagged
)
SELECT user_id, event_id AS view_id, ts, next_purchase_ts
FROM enriched WHERE event_type = 'view'
"""


def q_array_functions(spark: SparkSession, sf: str) -> DataFrame:
    """Array scalar surface over the embedding column."""
    e = table(spark, sf, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.array_max(v), 6).alias("vmax"),
        F.round(F.array_min(v), 6).alias("vmin"),
        F.round(F.element_at(v, 1), 6).alias("first_el"),
        F.round(
            F.aggregate(F.slice(v, 1, 8), F.lit(0.0), lambda a, x: a + x), 6
        ).alias("head8_sum"),
    )


SQL_ARRAY_FUNCTIONS = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT vec_id,
  CAST(len(v) AS INTEGER) AS dim,
  ROUND(list_max(v), 6) AS vmax,
  ROUND(list_min(v), 6) AS vmin,
  ROUND(v[1], 6) AS first_el,
  ROUND(list_sum(list_slice(v, 1, 8)), 6) AS head8_sum
FROM e
"""


def q_salted_join(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-safe salted join (operators/skew.py) — result identical to
    the plain equi-join, so the plain SQL join IS the oracle; the salt
    spreads any hot o_custkey over 8 reducers."""
    from ..operators.skew import salted_join

    orders = table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    cust = table(spark, sf, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    return salted_join(orders, cust, "o_custkey", n_salts=8)


SQL_SALTED_JOIN = """
SELECT o_orderkey, o_custkey, c_name
FROM orders JOIN customer ON o_custkey = c_custkey
"""


def q_null_safe_join(spark: SparkSession, sf: str) -> DataFrame:
    """Null-safe equality join (``eqNullSafe`` / SQL ``<=>``): NULL keys
    match each other instead of vanishing — the semantics needed when a
    'bucket' key is legitimately absent. Demonstrated on per-status
    aggregates with one status NULLed out; plans as a normal hash join
    (null-safe keys still hash-partition)."""
    o = table(spark, sf, "orders")
    s = o.groupBy(F.nullif("o_orderstatus", F.lit("O")).alias("st")).agg(
        F.count("*").alias("n")
    )
    a, b = s.alias("a"), s.alias("b")
    return a.join(b, F.col("a.st").eqNullSafe(F.col("b.st"))).select(
        F.col("a.st").alias("status"),
        F.col("a.n").alias("n_left"),
        F.col("b.n").alias("n_right"),
    )


SQL_NULL_SAFE_JOIN = """
WITH s AS (
  SELECT NULLIF(o_orderstatus, 'O') AS st, COUNT(*) AS n FROM orders GROUP BY 1
)
SELECT a.st AS status, a.n AS n_left, b.n AS n_right
FROM s a JOIN s b ON a.st IS NOT DISTINCT FROM b.st
"""


def q_lateral_join(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated LATERAL subquery (SQL:1999): top-2 customers by balance
    per nation. Catalyst decorrelates this into a window-ranked join —
    same physical shape as the QUALIFY/top-k-per-group pattern, so it
    scales as one shuffle on the correlation key, NOT a per-row subquery."""
    table(spark, sf, "nation").createOrReplaceTempView("nation_lat")
    table(spark, sf, "customer").createOrReplaceTempView("customer_lat")
    return spark.sql(
        """
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM nation_lat n,
        LATERAL (
          SELECT c_name, c_acctbal FROM customer_lat c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_name LIMIT 2
        ) t
        """
    )


SQL_LATERAL_JOIN = """
SELECT n.n_name, t.c_name, t.c_acctbal
FROM nation n,
LATERAL (
  SELECT c_name, c_acctbal FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_name LIMIT 2
) t
"""


def q_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """GROUPING SETS via the SQL surface (same Catalyst plan as the
    DataFrame rollup/cube — Expand + partial/final agg)."""
    table(spark, sf, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


SQL_GROUPING_SETS = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def q_having(spark: SparkSession, sf: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    ev = table(spark, sf, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .filter(F.col("n_events") > 80)
    )


SQL_HAVING = """
SELECT user_id, COUNT(*) AS n_events FROM events
GROUP BY user_id HAVING COUNT(*) > 80
"""


def q_listagg(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered string aggregation (SQL:2016 LISTAGG ... WITHIN GROUP,
    Spark 4). Per-group ordered concat requires a sort within each
    group's partial state — fine for small groups (names per region);
    for huge groups prefer collect_list + downstream processing."""
    n = table(spark, sf, "nation")
    return n.groupBy("n_regionkey").agg(
        F.expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)").alias("names")
    )


SQL_LISTAGG = """
SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS names
FROM nation GROUP BY n_regionkey
"""


def q_group_by_all(spark: SparkSession, sf: str) -> DataFrame:
    """GROUP BY ALL (modern SQL sugar: every non-aggregate select column
    becomes a grouping key) — same Catalyst plan as the explicit list."""
    table(spark, sf, "orders").createOrReplaceTempView("orders_gba")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders_gba GROUP BY ALL
        """
    )


SQL_GROUP_BY_ALL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders GROUP BY ALL
"""


def q_string_functions(spark: SparkSession, sf: str) -> DataFrame:
    d = table(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.initcap(F.substring("text", 1, 20)).alias("head_initcap"),
        F.lpad(F.col("lang"), 5, "_").alias("lang_pad"),
        F.translate("lang", "aeiou", "AEIOU").alias("lang_tr"),
        F.regexp_extract("text", "([a-z]+)", 1).alias("first_word"),
        F.instr("text", "data").alias("data_pos"),
        F.split_part(F.col("source"), F.lit("rc"), F.lit(2)).alias("src_num"),
        F.repeat(F.col("lang"), 2).alias("lang2"),
        F.reverse(F.col("lang")).alias("lang_rev"),
        F.trim(F.concat(F.lit("  "), F.col("lang"), F.lit("  "))).alias("lang_trim"),
    )


SQL_STRING_FUNCTIONS = """
SELECT doc_id,
  -- DuckDB initcap doesn't exist; emulate title-case of first char per word
  list_aggr(list_transform(string_split(SUBSTRING(text, 1, 20), ' '),
    x -> CASE WHEN length(x) > 0
              THEN upper(x[1]) || lower(x[2:]) ELSE x END), 'string_agg', ' ')
    AS head_initcap,
  lpad(lang, 5, '_') AS lang_pad,
  translate(lang, 'aeiou', 'AEIOU') AS lang_tr,
  regexp_extract(text, '([a-z]+)', 1) AS first_word,
  CAST(instr(text, 'data') AS INTEGER) AS data_pos,
  split_part(source, 'rc', 2) AS src_num,
  repeat(lang, 2) AS lang2,
  reverse(lang) AS lang_rev,
  trim('  ' || lang || '  ') AS lang_trim
FROM documents
"""


def q_conditional_functions(spark: SparkSession, sf: str) -> DataFrame:
    c = table(spark, sf, "customer")
    return c.select(
        "c_custkey",
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("(b)")).alias(
            "seg_or_b"
        ),
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
        .alias("bal_band"),
        F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("bal_floor0"),
        F.least(F.col("c_nationkey"), F.lit(10)).alias("nk_cap"),
    )


SQL_CONDITIONAL_FUNCTIONS = """
SELECT c_custkey,
  COALESCE(NULLIF(c_mktsegment, 'BUILDING'), '(b)') AS seg_or_b,
  CASE WHEN c_acctbal < 0 THEN 'neg'
       WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS bal_band,
  GREATEST(c_acctbal, 0.0) AS bal_floor0,
  LEAST(c_nationkey, 10) AS nk_cap
FROM customer
"""


def q_scalar_subquery(spark: SparkSession, sf: str) -> DataFrame:
    """Scalar subquery: orders above the global average price. Spark
    plans the subquery as an independent job feeding a literal —
    morally a broadcast of one value."""
    table(spark, sf, "orders").createOrReplaceTempView("orders_sq")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders_sq
        WHERE o_totalprice > (SELECT CAST(AVG(CAST(o_totalprice AS DECIMAL(18,2)))
                                          AS DOUBLE) FROM orders_sq)
        """
    )


SQL_SCALAR_SUBQUERY = """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice > (SELECT CAST(AVG(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                      FROM orders)
"""


def q_in_subquery(spark: SparkSession, sf: str) -> DataFrame:
    """IN (correlated-free) subquery — planned as a left-semi join."""
    for t in ("orders", "customer"):
        table(spark, sf, t).createOrReplaceTempView(f"{t}_in")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey
        FROM orders_in
        WHERE o_custkey IN (SELECT c_custkey FROM customer_in WHERE c_acctbal > 9000)
        """
    )


SQL_IN_SUBQUERY = """
SELECT o_orderkey, o_custkey
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
"""


def q_union_by_name(spark: SparkSession, sf: str) -> DataFrame:
    """unionByName with missing columns filled — schema-evolution union."""
    a = table(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("entity_id"), F.col("s_name").alias("name")
    )
    b = table(spark, sf, "customer").select(
        F.col("c_name").alias("name"),
        F.col("c_custkey").alias("entity_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    return a.unionByName(b, allowMissingColumns=True)


SQL_UNION_BY_NAME = """
SELECT s_suppkey AS entity_id, s_name AS name, NULL AS segment FROM supplier
UNION ALL
SELECT c_custkey AS entity_id, c_name AS name, c_mktsegment AS segment FROM customer
"""


def q_explode_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """explode/posexplode (lateral UNNEST) — token stream with positions
    from the first 20 documents."""
    from ..functions import tokens

    d = (
        table(spark, sf, "documents")
        .filter(F.col("doc_id") < 20)
        .select("doc_id", tokens("text").alias("ts"))
    )
    return d.select(
        "doc_id", F.posexplode("ts").alias("pos", "tok")
    ).withColumn("pos", F.col("pos").cast("int"))


SQL_EXPLODE_TOKENS = f"""
WITH t AS (
  SELECT doc_id,
    {SQL_TOKENS} AS ts
  FROM documents WHERE doc_id < 20
)
SELECT doc_id, CAST(u.i - 1 AS INTEGER) AS pos, ts[u.i] AS tok
FROM t, unnest(range(1, len(ts) + 1)) u(i)
"""


def q_exists_subquery(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated EXISTS — planned as a left-semi join; the correlation
    is decorrelated by Catalyst into the join condition (no per-row
    subquery execution ever happens)."""
    for t in ("customer", "orders"):
        table(spark, sf, t).createOrReplaceTempView(f"{t}_ex")
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM customer_ex c
        WHERE EXISTS (
          SELECT 1 FROM orders_ex o
          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
        )
        """
    )


SQL_EXISTS_SUBQUERY = """
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
)
"""


def q_not_exists_subquery(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated NOT EXISTS — the left-anti join plan (customers with
    no orders at all)."""
    for t in ("customer", "orders"):
        table(spark, sf, t).createOrReplaceTempView(f"{t}_nex")
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM customer_nex c
        WHERE NOT EXISTS (
          SELECT 1 FROM orders_nex o WHERE o.o_custkey = c.c_custkey
        )
        """
    )


SQL_NOT_EXISTS_SUBQUERY = """
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def q_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    """UNPIVOT (wide→long) via ``stack`` — the inverse of pivot: three
    account metrics per customer melt into (metric, val) rows. Pure
    projection+generator, no shuffle."""
    c = table(spark, sf, "customer")
    return c.selectExpr(
        "c_custkey",
        "stack(2, 'acctbal', CAST(c_acctbal AS DOUBLE), "
        "'custkey_mod', CAST(c_custkey % 97 AS DOUBLE)) AS (metric, val)",
    )


SQL_UNPIVOT = """
SELECT c_custkey, u.metric, u.val
FROM customer
CROSS JOIN LATERAL (
  SELECT 'acctbal' AS metric, CAST(c_acctbal AS DOUBLE) AS val
  UNION ALL
  SELECT 'custkey_mod', CAST(c_custkey % 97 AS DOUBLE)
) u
"""


def q_try_functions(spark: SparkSession, sf: str) -> DataFrame:
    """Error-safe arithmetic/casts (try_divide / try_cast): NULL instead
    of a failed 100 TB job at row 3 billion. This session runs ANSI mode
    (spark.sql.ansi.enabled=true) where plain ops THROW on overflow and
    zero-division — try_* is the designed per-expression escape hatch."""
    li = table(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            F.try_divide(F.col("l_extendedprice"), F.col("l_quantity") - F.lit(25)), 6
        ).alias("ratio_or_null"),
        F.col("l_returnflag").try_cast("int").alias("flag_as_int"),
        F.col("l_linenumber").cast("string").try_cast("int").alias("ln_roundtrip"),
    )


SQL_TRY_FUNCTIONS = """
SELECT l_orderkey, l_linenumber,
  CASE WHEN l_quantity = 25 THEN NULL
       ELSE ROUND(l_extendedprice / (l_quantity - 25), 6) END AS ratio_or_null,
  TRY_CAST(l_returnflag AS INTEGER) AS flag_as_int,
  TRY_CAST(CAST(l_linenumber AS VARCHAR) AS INTEGER) AS ln_roundtrip
FROM lineitem
"""


def q_map_functions(spark: SparkSession, sf: str) -> DataFrame:
    """Build a map<event_type, count> per user, then explode to rows —
    map_from_entries over collect_list(struct), map_keys/values used in
    the projection."""
    ev = table(spark, sf, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    mapped = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "n")))
        ).alias("type_counts")
    )
    return mapped.select(
        "user_id",
        F.size("type_counts").alias("n_types"),
        F.explode("type_counts").alias("event_type", "n_events"),
    )


SQL_MAP_FUNCTIONS = """
WITH per_type AS (
  SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY 1, 2
),
sized AS (
  SELECT user_id, COUNT(*) AS n_types FROM per_type GROUP BY 1
)
SELECT p.user_id, CAST(s.n_types AS INTEGER) AS n_types,
       p.event_type, p.n AS n_events
FROM per_type p JOIN sized s ON p.user_id = s.user_id
"""


def q_struct_functions(spark: SparkSession, sf: str) -> DataFrame:
    """Nested struct build + field access + inline flattening."""
    o = table(spark, sf, "orders")
    nested = o.select(
        "o_orderkey",
        F.struct(
            F.col("o_custkey").alias("cust"),
            F.struct(F.col("o_orderstatus").alias("st"), F.col("o_totalprice").alias("p")).alias(
                "detail"
            ),
        ).alias("info"),
    )
    return nested.select(
        "o_orderkey",
        F.col("info.cust").alias("cust"),
        F.col("info.detail.st").alias("status"),
        F.col("info.detail.p").alias("price"),
    )


SQL_STRUCT_FUNCTIONS = """
SELECT o_orderkey, o_custkey AS cust, o_orderstatus AS status, o_totalprice AS price
FROM orders
"""


def q_udaf_geomean(spark: SparkSession, sf: str) -> DataFrame:
    """Geometric mean of event value per type via a GROUPED_AGG
    pandas_udf (Arrow-batched custom aggregate). Rounded to 6 dp so the
    numpy fold and the oracle's exp(avg(ln)) agree despite summation
    order."""

    @F.pandas_udf("double")
    def geomean(v: pd.Series) -> float:
        return float(np.exp(np.log(v.to_numpy(np.float64)).mean()))

    ev = table(spark, sf, "events").filter(F.col("value") > 0)
    # NB: a GROUPED_AGG pandas UDF cannot share an agg with built-in
    # aggregate functions (INVALID_PANDAS_UDF_PLACEMENT) — single column.
    # value > 0: the geometric mean is defined on positives (sf0.1 has
    # zero-valued events; ln(0) errors in the oracle, -inf in numpy).
    return ev.groupBy("event_type").agg(
        F.round(geomean("value"), 6).alias("geomean_value")
    )


SQL_UDAF_GEOMEAN = """
SELECT event_type,
  ROUND(exp(AVG(ln(value))), 6) AS geomean_value
FROM events WHERE value > 0 GROUP BY event_type
"""


# scratch dirs created this process, removed at exit: a fresh dir per
# build is required for race-freedom (below), but without cleanup every
# build leaks a table snapshot into /tmp for the machine's lifetime
_SCRATCH_DIRS: list[str] = []


def _cleanup_scratch() -> None:
    for d in _SCRATCH_DIRS:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_cleanup_scratch)


def q_sink_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Route the correctness gate through a sink: write a projection of
    ``documents`` with the reference's single-file property
    (``coalesce(1)``; the reference writes exactly one ``mr.rst``), read
    it back, and return the rows with the written file count. The oracle
    computes the same rows from the source with ``1 AS n_files``, so the
    value hash checks both the round trip and the one-file property.
    ``coalesce(1)`` suits small results only; the large-scale sinks in
    ``sources/tables.py`` stay many-file."""
    # a FRESH directory per build: a fixed path keyed by sf basename
    # would race under concurrent builds (bench + tests, or two data
    # roots sharing a basename) — overwrite deletes the part file a
    # previously-built lazy DataFrame still points at. Removed at
    # process exit (the read-back DataFrame is only consumed in-session)
    out = tempfile.mkdtemp(prefix="spark_graft_sink_")
    _SCRATCH_DIRS.append(out)
    snap = table(spark, sf, "documents").select(
        "doc_id", "lang", F.md5("text").alias("text_md5")
    )
    snap.coalesce(1).write.mode("overwrite").parquet(out)
    n_files = len(
        [
            f
            for f in os.listdir(out)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
    )
    back = spark.read.parquet(out)
    return back.select(
        "doc_id", "lang", "text_md5", F.lit(n_files).alias("n_files")
    )


SQL_SINK_ROUNDTRIP = """
SELECT doc_id, lang, md5(text) AS text_md5, 1 AS n_files FROM documents
"""


QUERIES: dict[str, Query] = {
    "join_skew_audit": Query(q_join_skew_audit, SQL_JOIN_SKEW_AUDIT),
    "pareto_skyline": Query(q_pareto_skyline, SQL_PARETO_SKYLINE),
    "agg_distinct": Query(q_agg_distinct, SQL_AGG_DISTINCT),
    "rollup": Query(q_rollup, SQL_ROLLUP),
    "cube": Query(q_cube, SQL_CUBE),
    "pivot": Query(q_pivot, SQL_PIVOT),
    "broadcast_join": Query(q_broadcast_join, SQL_BROADCAST_JOIN),
    "semi_join": Query(q_semi_join, SQL_SEMI_JOIN),
    "anti_join": Query(q_anti_join, SQL_ANTI_JOIN),
    "outer_join": Query(q_outer_join, SQL_OUTER_JOIN),
    "window_topk_per_group": Query(q_window_topk_per_group, SQL_WINDOW_TOPK_PER_GROUP),
    "window_running_sum": Query(q_window_running_sum, SQL_WINDOW_RUNNING_SUM),
    "window_lag": Query(q_window_lag, SQL_WINDOW_LAG),
    "window_frames": Query(q_window_frames, SQL_WINDOW_FRAMES),
    "union_all": Query(q_union_all, SQL_UNION_ALL),
    "intersect": Query(q_intersect, SQL_INTERSECT),
    "except_": Query(q_except, SQL_EXCEPT),
    "distinct": Query(q_distinct, SQL_DISTINCT),
    "pipe_syntax": Query(q_pipe_syntax, SQL_PIPE_SYNTAX),
    "window_range_frame": Query(q_window_range_frame, SQL_WINDOW_RANGE_FRAME),
    "scalar_functions": Query(q_scalar_functions, SQL_SCALAR_FUNCTIONS),
    "datetime_functions": Query(q_datetime_functions, SQL_DATETIME_FUNCTIONS),
    "cross_join": Query(q_cross_join, SQL_CROSS_JOIN),
    "lateral_join": Query(q_lateral_join, SQL_LATERAL_JOIN),
    "null_safe_join": Query(q_null_safe_join, SQL_NULL_SAFE_JOIN),
    "salted_join": Query(q_salted_join, SQL_SALTED_JOIN),
    "range_join": Query(q_range_join, SQL_RANGE_JOIN),
    "asof_join": Query(q_asof_join, SQL_ASOF_JOIN),
    "asof_join_forward": Query(q_asof_join_forward, SQL_ASOF_JOIN_FORWARD),
    "array_functions": Query(q_array_functions, SQL_ARRAY_FUNCTIONS),
    "group_by_all": Query(q_group_by_all, SQL_GROUP_BY_ALL),
    "grouping_sets": Query(q_grouping_sets, SQL_GROUPING_SETS),
    "having": Query(q_having, SQL_HAVING),
    "listagg": Query(q_listagg, SQL_LISTAGG),
    "string_functions": Query(q_string_functions, SQL_STRING_FUNCTIONS),
    "try_functions": Query(q_try_functions, SQL_TRY_FUNCTIONS),
    "exists_subquery": Query(q_exists_subquery, SQL_EXISTS_SUBQUERY),
    "not_exists_subquery": Query(q_not_exists_subquery, SQL_NOT_EXISTS_SUBQUERY),
    "unpivot": Query(q_unpivot, SQL_UNPIVOT),
    "conditional_functions": Query(q_conditional_functions, SQL_CONDITIONAL_FUNCTIONS),
    "scalar_subquery": Query(q_scalar_subquery, SQL_SCALAR_SUBQUERY),
    "in_subquery": Query(q_in_subquery, SQL_IN_SUBQUERY),
    "union_by_name": Query(q_union_by_name, SQL_UNION_BY_NAME),
    "explode_tokens": Query(q_explode_tokens, SQL_EXPLODE_TOKENS),
    "map_functions": Query(q_map_functions, SQL_MAP_FUNCTIONS),
    "struct_functions": Query(q_struct_functions, SQL_STRUCT_FUNCTIONS),
    "udaf_geomean": Query(q_udaf_geomean, SQL_UDAF_GEOMEAN),
    "sink_roundtrip": Query(q_sink_roundtrip, SQL_SINK_ROUNDTRIP),
}
