"""Relational-core query inventory (SURVEY.md §2.1-2.6).

Covers: tolerant scans + projections/filters/scalar expressions (P1-P11),
the join family incl. broadcast + semi/anti (§2.3), aggregations with time
bucketing (A1-A4), window functions (W1 + the Spark-native family), sorts &
limits (O1-O2), set operators, watermark-incremental filtering (C4), and the
MERGE rewrite as a pure query (J1-J3).

Every entry returns (spark_fn, oracle_sql) with identical column aliases.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.merge import upsert_dataframe
from .artifacts import artifact
from .util import davg, dsum, load


# ---------------------------------------------------------------------------
# q1_pricing_summary — flagship. Scan+filter+group agg (TPC-H Q1 shape).
# Exercises S5-scan semantics, P1 projection, A-family aggregates.
# ---------------------------------------------------------------------------
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate").cast("date") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
       CAST(SUM(CAST(l_discount AS DECIMAL(30,8))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# q3_top_revenue — 3-way join + group + topN (TPC-H Q3 shape). Broadcast of
# the filtered customer dim is the scale-correct plan.
# ---------------------------------------------------------------------------
def q3_top_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", F.col("o_orderdate").cast("date").alias("o_orderdate"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# ---------------------------------------------------------------------------
# region_revenue — 5-way star join rolled up per region; all dims broadcast.
# ---------------------------------------------------------------------------
def region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name")
    )


REGION_REVENUE_SQL = """
SELECT r_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
"""


# ---------------------------------------------------------------------------
# q5_local_supplier_volume — the TPC-H Q5 shape: six-table star join with a
# region filter, a date-range filter, and the extra customer-nation ==
# supplier-nation equality that makes it the classic join-ORDER test. All
# four dimensions broadcast; the two fact tables (lineitem, orders) meet in
# the one unavoidable shuffle join.
# ---------------------------------------------------------------------------
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


Q5_SQL = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


# ---------------------------------------------------------------------------
# q10_returned_items — the TPC-H Q10 shape: returned-item revenue per
# customer over a quarter, top 20 — join + filter + agg + TakeOrdered, the
# standard "who cost us money" report.
# ---------------------------------------------------------------------------
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, n_name, c_acctbal,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-07-01'
GROUP BY c_custkey, c_name, n_name, c_acctbal
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# ---------------------------------------------------------------------------
# join_left_outer — NULL-extension semantics; customers with zero orders kept.
# ---------------------------------------------------------------------------
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dsum("o_totalprice").alias("total_spent"),
        )
        .orderBy("c_custkey")
    )


JOIN_LEFT_SQL = """
SELECT c_custkey,
       COUNT(o_orderkey) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS total_spent
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
ORDER BY c_custkey
"""


# ---------------------------------------------------------------------------
# join_right_outer — right-preserved NULL extension with the FACT side on the
# left: high-value orders RIGHT JOIN customer keeps every customer, extending
# unmatched ones with NULLs. Completes the equi-join family (SURVEY §2.3);
# reference decomposition need: the MERGE in co2_harmonized_sp/function.py
# is a right-outer of source against target under the hood. Spark planning
# note: for right-outer only the LEFT side may be broadcast (the preserved
# side must stream), so the filtered fact side is the build side here.
# Hash robustness (r04 driver red, bit-identical locally): prices are 2-dp
# values, so the decimal-exact sum sits on a 0.01 grid — ROUND(x, 2) in both
# engines lands on the same nearest double (never near a scale-2 tie),
# making the compared float64 bit-identical regardless of how the harness
# renders floats. n_unmatched is pinned BIGINT on the oracle side too
# (DuckDB SUM(int)->HUGEINT becomes float64 in pandas otherwise).
# ---------------------------------------------------------------------------
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000)
    cust = load(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "right")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("o_orderkey").alias("n_big_orders"),
            F.sum(F.col("o_orderkey").isNull().cast("long")).alias("n_unmatched"),
            F.round(dsum("o_totalprice"), 2).alias("big_order_value"),
        )
        .orderBy("c_mktsegment")
    )


JOIN_RIGHT_SQL = """
SELECT c_mktsegment,
       COUNT(*) AS n_rows,
       COUNT(o_orderkey) AS n_big_orders,
       CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE), 2) AS big_order_value
FROM (SELECT * FROM orders WHERE o_totalprice > 150000) o
RIGHT JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# join_full_outer — both-sides-preserved join: customers with no orders AND
# orphaned order keys survive. Spark plans full outer as a sort-merge join
# (broadcast is not valid for full outer); the aggregate is keyed on the
# coalesced key so unmatched rows from either side group correctly.
# ---------------------------------------------------------------------------
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    # order keys shifted by 3 so some customers lose matches and some order
    # rows have no customer — both outer sides exercised on any SF
    orders = load(spark, sf_dir, "orders").select(
        (F.col("o_custkey") + 3000).alias("o_custkey"), "o_totalprice"
    )
    joined = cust.join(orders, cust.c_custkey == orders.o_custkey, "full")
    return (
        joined.groupBy(
            F.coalesce("c_custkey", "o_custkey").alias("key")
        )
        .agg(
            F.count("c_custkey").alias("n_cust_rows"),
            F.count("o_totalprice").alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
        .orderBy("key")
    )


JOIN_FULL_SQL = """
SELECT coalesce(c_custkey, o_custkey) AS key,
       COUNT(c_custkey) AS n_cust_rows,
       COUNT(o_totalprice) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS total_price
FROM (SELECT c_custkey, c_acctbal FROM customer) c
FULL OUTER JOIN (SELECT o_custkey + 3000 AS o_custkey, o_totalprice FROM orders) o
  ON c.c_custkey = o.o_custkey
GROUP BY 1
ORDER BY key
"""


# ---------------------------------------------------------------------------
# join_semi / join_anti — EXISTS / NOT EXISTS (the upsert building blocks, §2.3).
# ---------------------------------------------------------------------------
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_nationkey")
        .orderBy("c_custkey")
    )


JOIN_SEMI_SQL = """
SELECT c_custkey, c_name, c_nationkey
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000)
ORDER BY c_custkey
"""


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    )


JOIN_ANTI_SQL = """
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
ORDER BY c_custkey
"""


# ---------------------------------------------------------------------------
# set_ops — UNION / INTERSECT / EXCEPT (engine extensions beyond reference §2.6).
# ---------------------------------------------------------------------------
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
    b = cust.filter(F.col("c_acctbal") > 5000).select("c_nationkey")
    u = a.union(b).distinct().select(F.lit("union").alias("op"), "c_nationkey")
    i = a.intersect(b).select(F.lit("intersect").alias("op"), "c_nationkey")
    e = a.exceptAll(b).distinct().select(F.lit("except").alias("op"), "c_nationkey")
    return u.unionByName(i).unionByName(e).orderBy("op", "c_nationkey")


SET_OPS_SQL = """
WITH a AS (SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'),
     b AS (SELECT c_nationkey FROM customer WHERE c_acctbal > 5000)
SELECT 'union' AS op, c_nationkey FROM (SELECT DISTINCT c_nationkey FROM (SELECT * FROM a UNION ALL SELECT * FROM b))
UNION ALL
SELECT 'intersect' AS op, c_nationkey FROM (SELECT c_nationkey FROM a INTERSECT SELECT c_nationkey FROM b)
UNION ALL
SELECT 'except' AS op, c_nationkey FROM (SELECT DISTINCT c_nationkey FROM (SELECT c_nationkey FROM a EXCEPT ALL SELECT c_nationkey FROM b))
ORDER BY op, c_nationkey
"""


# ---------------------------------------------------------------------------
# order_limit — O1/O2: total order + LIMIT (deterministic tiebreak on key).
# ---------------------------------------------------------------------------
def order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey", "o_custkey", "o_totalprice",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(25)
    )


ORDER_LIMIT_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice, CAST(o_orderdate AS DATE) AS o_orderdate
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
"""


# ---------------------------------------------------------------------------
# agg_global_minmax — A1/A2: global scalar aggregate (the watermark / minmax
# cache shape).
# ---------------------------------------------------------------------------
def agg_global_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.max(F.col("l_shipdate").cast("date")).alias("max_shipdate"),
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


AGG_MINMAX_SQL = """
SELECT min(l_extendedprice) AS min_price,
       max(l_extendedprice) AS max_price,
       max(CAST(l_shipdate AS DATE)) AS max_shipdate,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT l_orderkey) AS n_orders
FROM lineitem
"""


# ---------------------------------------------------------------------------
# watermark_filter — C4: rows strictly newer than (max date - 30 days).
# ---------------------------------------------------------------------------
def watermark_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    wm = orders.agg(
        F.date_sub(F.max(F.col("o_orderdate").cast("date")), 30).alias("wm")
    ).first()["wm"]
    return (
        orders.filter(F.col("o_orderdate").cast("date") > F.lit(wm))
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_totalprice",
        )
        .orderBy("o_orderkey")
    )


WATERMARK_SQL = """
SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice
FROM orders
WHERE CAST(o_orderdate AS DATE) >
      (SELECT max(CAST(o_orderdate AS DATE)) - INTERVAL 30 DAY FROM orders)
ORDER BY o_orderkey
"""


# ---------------------------------------------------------------------------
# case_string_funcs — P10/P11: CASE WHEN + CONCAT/LPAD/LOWER/CONCAT_WS.
# ---------------------------------------------------------------------------
def case_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    return (
        cust.select(
            "c_custkey",
            F.when(F.col("c_acctbal") < 0, "negative")
            .when(F.col("c_acctbal") < 5000, "standard")
            .otherwise("premium")
            .alias("balance_tier"),
            F.concat_ws(
                "-", F.lower("c_mktsegment"), F.lpad(F.col("c_custkey").cast("string"), 8, "0")
            ).alias("cust_code"),
            F.round(F.col("c_acctbal") / 100.0, 2).alias("bal_hundreds"),
        )
        .orderBy("c_custkey")
    )


CASE_STRING_SQL = """
SELECT c_custkey,
       CASE WHEN c_acctbal < 0 THEN 'negative'
            WHEN c_acctbal < 5000 THEN 'standard'
            ELSE 'premium' END AS balance_tier,
       concat_ws('-', lower(c_mktsegment), lpad(CAST(c_custkey AS VARCHAR), 8, '0')) AS cust_code,
       round(c_acctbal / 100.0, 2) AS bal_hundreds
FROM customer ORDER BY c_custkey
"""


# ---------------------------------------------------------------------------
# cast_coercion — S4: tolerant cast + regex extraction from semi-structured
# strings (events.props JSON-ish payload).
# ---------------------------------------------------------------------------
def cast_coercion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    k = F.regexp_extract("props", r'"k": (\d+)', 1).cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


CAST_COERCION_SQL = """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k, MAX(k) AS max_k
FROM (SELECT event_type,
             TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT) AS k
      FROM events)
GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# window_family — W1 lag + the standard window family (row_number / rank /
# running sum with explicit frame).
# ---------------------------------------------------------------------------
def window_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").cast("date"), F.col("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.lag("o_totalprice", 1).over(w).alias("prev_price"),
            F.sum(F.col("o_totalprice").cast("decimal(30,8)"))
            .over(w.rowsBetween(W.unboundedPreceding, 0))
            .cast("double")
            .alias("running_total"),
        )
        .filter(F.col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    )


WINDOW_FAMILY_SQL = """
SELECT * FROM (
  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice,
         row_number() OVER w AS rn,
         rank() OVER w AS rnk,
         lag(o_totalprice, 1) OVER w AS prev_price,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8)))
              OVER (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
)
WHERE rn <= 3
ORDER BY o_custkey, rn
"""


# ---------------------------------------------------------------------------
# window_family2 — the distribution/navigation half of the window surface:
# lead / dense_rank / ntile / percent_rank / cume_dist / first_value /
# last_value with an explicit full-partition frame.
# ---------------------------------------------------------------------------
def window_family2(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").cast("date"), F.col("o_orderkey")
    )
    full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.lead("o_totalprice", 1).over(w).alias("next_price"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cdist"),
            F.first_value(F.col("o_orderkey")).over(full).alias("first_key"),
            F.last_value(F.col("o_orderkey")).over(full).alias("last_key"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


WINDOW_FAMILY2_SQL = """
SELECT o_custkey, o_orderkey,
       lead(o_totalprice, 1) OVER w AS next_price,
       dense_rank() OVER w AS drnk,
       ntile(4) OVER w AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cdist,
       first_value(o_orderkey) OVER wf AS first_key,
       last_value(o_orderkey) OVER wf AS last_key
FROM orders
WHERE o_custkey < 200
WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
       wf AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY o_custkey, o_orderkey
"""


# ---------------------------------------------------------------------------
# rollup_agg — grouping-set aggregation (Spark-native extension, SURVEY §2.4).
# ---------------------------------------------------------------------------
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(dsum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first()
        )
    )


ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


# ---------------------------------------------------------------------------
# merge_upsert_rewrite — J1-J3 as a pure query: the MERGE decomposition
# (anti-join ∪ matched-update ∪ insert) versus its SQL specification.
# ---------------------------------------------------------------------------
def merge_upsert_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    source = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        F.lit("U").alias("o_orderstatus"),
    )
    merged = upsert_dataframe(target, source, keys=["o_orderkey"])
    return merged.select(
        "o_orderkey", F.round("o_totalprice", 4).alias("o_totalprice"), "o_orderstatus"
    ).orderBy("o_orderkey")


MERGE_UPSERT_SQL = """
WITH target AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders WHERE o_orderkey % 2 = 0
),
source AS (
  SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice, 'U' AS o_orderstatus
  FROM orders WHERE o_orderkey % 3 = 0
)
SELECT o_orderkey, round(o_totalprice, 4) AS o_totalprice, o_orderstatus FROM (
  SELECT t.* FROM target t WHERE NOT EXISTS (SELECT 1 FROM source s WHERE s.o_orderkey = t.o_orderkey)
  UNION ALL
  SELECT s.* FROM source s WHERE EXISTS (SELECT 1 FROM target t WHERE t.o_orderkey = s.o_orderkey)
  UNION ALL
  SELECT s.* FROM source s WHERE NOT EXISTS (SELECT 1 FROM target t WHERE t.o_orderkey = s.o_orderkey)
)
ORDER BY o_orderkey
"""


# ---------------------------------------------------------------------------
# merge_pruned_partitions — the 100 TB merge path through the REAL store:
# a year-partitioned orders slice takes an incremental batch touching 1997
# only. merge_upsert keys on (o_year, o_orderkey), so each file's o_year
# directory is a key bound: only 1997's files meet the source and are
# rewritten, and every other year's files are hardlinked into the new
# version unchanged (the copy-on-write merge's carried list).
# Oracle = the same upsert as set algebra. tests pin the inode sharing; this
# query pins the RESULT through the driver's hash gate.
# ---------------------------------------------------------------------------
def merge_pruned_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import merge_upsert
    from ..operators.table_store import TableStore

    def build(root: str) -> TableStore:
        store = TableStore(root=root)
        orders = load(spark, sf_dir, "orders")
        target = orders.filter(F.col("o_orderkey") % 2 == 0).select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            "o_orderkey", "o_totalprice", "o_orderstatus",
        )
        store.overwrite(target, "pm.orders_part", partition_by=["o_year"])
        source = orders.filter(
            (F.col("o_orderkey") % 3 == 0) & (F.year("o_orderdate") == 1997)
        ).select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            "o_orderkey",
            # decimal-routed +10%: a 2dp price x 1.1 is exactly 3dp in
            # decimal; double*1.1 lands on 4dp rounding ties that diverge
            # between engines
            F.expr(
                "CAST(round(CAST(o_totalprice AS DECIMAL(30,8)) * 1.1, 4) AS DOUBLE)"
            ).alias("o_totalprice"),
            F.lit("U").alias("o_orderstatus"),
        )
        merge_upsert(
            spark, store, "pm.orders_part", source,
            keys=["o_year", "o_orderkey"],
            update_cols=["o_totalprice", "o_orderstatus"],
        )
        return store

    store = artifact(spark, sf_dir, "pmerge", build)
    return (
        store.read(spark, "pm.orders_part")
        .select(
            "o_year", "o_orderkey",
            F.round("o_totalprice", 4).alias("o_totalprice"), "o_orderstatus",
        )
        .orderBy("o_orderkey")
    )


MERGE_PRUNED_SQL = """
WITH target AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         o_orderkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 2 = 0
),
source AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, o_orderkey,
         CAST(round(CAST(o_totalprice AS DECIMAL(30,8)) * 1.1, 4) AS DOUBLE) AS o_totalprice,
         'U' AS o_orderstatus
  FROM orders WHERE o_orderkey % 3 = 0 AND year(o_orderdate) = 1997
)
SELECT o_year, o_orderkey, round(o_totalprice, 4) AS o_totalprice, o_orderstatus FROM (
  SELECT t.* FROM target t WHERE NOT EXISTS (SELECT 1 FROM source s WHERE s.o_orderkey = t.o_orderkey)
  UNION ALL
  SELECT s.o_year, s.o_orderkey, s.o_totalprice, s.o_orderstatus
  FROM source s WHERE EXISTS (SELECT 1 FROM target t WHERE t.o_orderkey = s.o_orderkey)
  UNION ALL
  SELECT s.o_year, s.o_orderkey, s.o_totalprice, s.o_orderstatus
  FROM source s WHERE NOT EXISTS (SELECT 1 FROM target t WHERE t.o_orderkey = s.o_orderkey)
)
ORDER BY o_orderkey
"""


QUERIES: dict = {
    "q1_pricing_summary": (q1_pricing_summary, Q1_SQL),
    "q3_top_revenue": (q3_top_revenue, Q3_SQL),
    "region_revenue": (region_revenue, REGION_REVENUE_SQL),
    "q5_local_supplier_volume": (q5_local_supplier_volume, Q5_SQL),
    "q10_returned_items": (q10_returned_items, Q10_SQL),
    "join_left_outer": (join_left_outer, JOIN_LEFT_SQL),
    "join_right_outer": (join_right_outer, JOIN_RIGHT_SQL),
    "join_full_outer": (join_full_outer, JOIN_FULL_SQL),
    "window_family2": (window_family2, WINDOW_FAMILY2_SQL),
    "join_semi": (join_semi, JOIN_SEMI_SQL),
    "join_anti": (join_anti, JOIN_ANTI_SQL),
    "set_ops": (set_ops, SET_OPS_SQL),
    "order_limit": (order_limit, ORDER_LIMIT_SQL),
    "agg_global_minmax": (agg_global_minmax, AGG_MINMAX_SQL),
    "watermark_filter": (watermark_filter, WATERMARK_SQL),
    "case_string_funcs": (case_string_funcs, CASE_STRING_SQL),
    "cast_coercion": (cast_coercion, CAST_COERCION_SQL),
    "window_family": (window_family, WINDOW_FAMILY_SQL),
    "rollup_agg": (rollup_agg, ROLLUP_SQL),
    "merge_upsert_rewrite": (merge_upsert_rewrite, MERGE_UPSERT_SQL),
    "merge_pruned_partitions": (merge_pruned_partitions, MERGE_PRUNED_SQL),
}
