"""Pipeline-shaped queries over the driver's ``events`` table.

These are the reference pipeline's analytics semantics (SURVEY.md §2.5 W1,
§2.4 A4, §2.8 U1-U4, §2.2 P3/P8) applied to the synthetic ``events`` time
series (ts, value) so the DuckDB oracle can hash-check them: the `events`
daily series plays the role of the harmonized CO2 series.

- ``daily_stats``: per-day mean -> lag window -> pct-change / volatility /
  min-max normalize — exactly ``daily_co2_stats``
  (reference ``co2_analytical_sp/function.py:105-125``).
- ``weekly_stats``: ISO-week rollup with the reference's min/max naming —
  exactly ``weekly_co2_stats`` (``:178-199``).
- ``date_construction``: P3's two date-building idioms.
- ``stream_sample``: P8 metadata-filter + O1 ordered sample.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.kernels import normalize_value, pct_change, volatility
from .artifacts import artifact
from .util import davg, load


def _daily_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(F.col("ts").cast("date").alias("DATE")).agg(
        davg("value").alias("VALUE")
    )


_DAILY_SERIES_SQL = """
  SELECT CAST(ts AS DATE) AS DATE,
         CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE) / COUNT(value) AS VALUE
  FROM events GROUP BY CAST(ts AS DATE)
"""

# SQL twins of the scalar kernels (same NULL/zero edges as functions/kernels.py)
_PCT_SQL = (
    "CASE WHEN {p} IS NULL OR {c} IS NULL OR {p} = 0 THEN 0.0"
    " ELSE ({c} - {p}) / {p} * 100.0 END"
)
_VOL_SQL = (
    "CASE WHEN {c} IS NULL OR {p} IS NULL OR {c} <= 0 OR {p} <= 0 THEN NULL"
    " ELSE round(abs({c} - {p}) / (({c} + {p}) / 2.0) * 100.0, 4) END"
)
_NORM_SQL = (
    "CASE WHEN {mx} = {mn} THEN 0.5 ELSE round(({x} - {mn}) / ({mx} - {mn}), 3) END"
)


def daily_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A2 scalar-cache pattern for the global min/max: one agg + literals,
    # instead of min()/max() over an empty window — the window form forces a
    # single-partition exchange of the whole series. The lag window stays
    # globally ordered by design (the daily series is bounded, one row per
    # day); the cache keeps the aggregated series to one computation across
    # the scalar read and the main plan.
    daily = _daily_series(spark, sf_dir).cache()
    mn, mx = daily.agg(F.min("VALUE"), F.max("VALUE")).first()
    w = W.orderBy("DATE")
    withlag = daily.select(
        "DATE",
        "VALUE",
        F.lag("VALUE", 1).over(w).alias("PREV_VALUE"),
    )
    return withlag.select(
        "DATE",
        "VALUE",
        "PREV_VALUE",
        pct_change("PREV_VALUE", "VALUE").alias("DAILY_CHANGE"),
        volatility("VALUE", "PREV_VALUE").alias("DAILY_VOLATILITY"),
        normalize_value("VALUE", F.lit(mn), F.lit(mx)).alias("NORMALIZED_VALUE"),
    ).orderBy("DATE")


DAILY_STATS_SQL = f"""
WITH daily AS ({_DAILY_SERIES_SQL}),
withlag AS (
  SELECT DATE, VALUE,
         lag(VALUE, 1) OVER (ORDER BY DATE) AS PREV_VALUE,
         min(VALUE) OVER () AS _mn,
         max(VALUE) OVER () AS _mx
  FROM daily
)
SELECT DATE, VALUE, PREV_VALUE,
       {_PCT_SQL.format(p="PREV_VALUE", c="VALUE")} AS DAILY_CHANGE,
       {_VOL_SQL.format(c="VALUE", p="PREV_VALUE")} AS DAILY_VOLATILITY,
       {_NORM_SQL.format(x="VALUE", mn="_mn", mx="_mx")} AS NORMALIZED_VALUE
FROM withlag ORDER BY DATE
"""


def daily_stats_sql_udfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/U3/U4 *name-surface* parity: the same daily stats, but computed by
    a ``spark.sql`` statement that calls the registered warehouse-UDF names
    — ``CO2_DAILY_PERCENT_CHANGE`` / ``CALCULATE_CO2_VOLATILITY`` /
    ``NORMALIZE_CO2_UDF`` — exactly as the reference's analytics SP does
    (``co2_analytical_sp/function.py:119-123``). The oracle twin uses the
    inline CASE expressions, proving the registered Python UDFs agree with
    the native kernels on every edge (NULL, zero-prev, degenerate range).

    Python's round() is half-even vs SQL's HALF_UP, but no double is
    exactly representable at an x.xxx5 boundary (5^k denominators are not
    dyadic), so the two rounding modes agree on all reachable inputs.
    """
    from ..functions.kernels import register_all_udfs

    register_all_udfs(spark)
    _daily_series(spark, sf_dir).createOrReplaceTempView("_daily_series_for_udfs")
    return spark.sql(
        """
        WITH withlag AS (
          SELECT DATE, VALUE,
                 lag(VALUE, 1) OVER (ORDER BY DATE) AS PREV_VALUE
          FROM _daily_series_for_udfs
        ),
        mm AS (  -- 1-row aggregate, broadcast by the join: no global window
          SELECT min(VALUE) AS _mn, max(VALUE) AS _mx
          FROM _daily_series_for_udfs
        )
        SELECT DATE, VALUE, PREV_VALUE,
               CO2_DAILY_PERCENT_CHANGE(PREV_VALUE, VALUE) AS DAILY_CHANGE,
               CALCULATE_CO2_VOLATILITY(VALUE, PREV_VALUE) AS DAILY_VOLATILITY,
               NORMALIZE_CO2_UDF(VALUE, _mn, _mx) AS NORMALIZED_VALUE
        FROM withlag CROSS JOIN mm ORDER BY DATE
        """
    )


def weekly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    weekly = ev.groupBy(
        F.date_trunc("week", F.col("ts")).cast("date").alias("WEEK_START")
    ).agg(
        davg("value").alias("AVG_WEEKLY_VALUE"),
        F.min("value").alias("WEEK_START_VALUE"),  # reference naming: min
        F.max("value").alias("WEEK_END_VALUE"),    # reference naming: max
    )
    weekly = weekly.cache()  # A2 scalar-cache: agg + lit, no global window
    mn, mx = weekly.agg(F.min("AVG_WEEKLY_VALUE"), F.max("AVG_WEEKLY_VALUE")).first()
    return weekly.select(
        "WEEK_START",
        "AVG_WEEKLY_VALUE",
        "WEEK_START_VALUE",
        "WEEK_END_VALUE",
        pct_change("WEEK_START_VALUE", "WEEK_END_VALUE").alias("WEEKLY_CHANGE"),
        volatility("WEEK_END_VALUE", "WEEK_START_VALUE").alias("WEEKLY_VOLATILITY"),
        normalize_value("AVG_WEEKLY_VALUE", F.lit(mn), F.lit(mx)).alias(
            "NORMALIZED_WEEKLY_VALUE"
        ),
    ).orderBy("WEEK_START")


WEEKLY_STATS_SQL = f"""
WITH weekly AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS WEEK_START,
         CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE) / COUNT(value) AS AVG_WEEKLY_VALUE,
         min(value) AS WEEK_START_VALUE,
         max(value) AS WEEK_END_VALUE
  FROM events GROUP BY CAST(date_trunc('week', ts) AS DATE)
),
g AS (
  SELECT *, min(AVG_WEEKLY_VALUE) OVER () AS _mn, max(AVG_WEEKLY_VALUE) OVER () AS _mx
  FROM weekly
)
SELECT WEEK_START, AVG_WEEKLY_VALUE, WEEK_START_VALUE, WEEK_END_VALUE,
       {_PCT_SQL.format(p="WEEK_START_VALUE", c="WEEK_END_VALUE")} AS WEEKLY_CHANGE,
       {_VOL_SQL.format(c="WEEK_END_VALUE", p="WEEK_START_VALUE")} AS WEEKLY_VOLATILITY,
       {_NORM_SQL.format(x="AVG_WEEKLY_VALUE", mn="_mn", mx="_mx")} AS NORMALIZED_WEEKLY_VALUE
FROM g ORDER BY WEEK_START
"""


def date_construction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: ``make_date(Y,M,D)`` and ``to_date(concat(lpad(...)))`` — the
    reference's two date-building idioms (``co2_harmonized_sp/function.py:128-130``,
    ``loading_data_sp/function.py:41-49``) must agree."""
    orders = load(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    y, m, dd = F.year(d), F.month(d), F.dayofmonth(d)
    rebuilt = F.make_date(y, m, dd)
    via_concat = F.to_date(
        F.concat_ws(
            "-",
            F.lpad(y.cast("string"), 4, "0"),
            F.lpad(m.cast("string"), 2, "0"),
            F.lpad(dd.cast("string"), 2, "0"),
        )
    )
    return (
        orders.select(
            "o_orderkey",
            y.alias("y"),
            m.alias("m"),
            dd.alias("d"),
            rebuilt.alias("rebuilt_date"),
            via_concat.alias("concat_date"),
            (rebuilt == d).alias("dates_agree"),
        )
        .orderBy("o_orderkey")
    )


DATE_CONSTRUCTION_SQL = """
SELECT o_orderkey,
       year(CAST(o_orderdate AS DATE)) AS y,
       month(CAST(o_orderdate AS DATE)) AS m,
       day(CAST(o_orderdate AS DATE)) AS d,
       make_date(year(CAST(o_orderdate AS DATE)), month(CAST(o_orderdate AS DATE)), day(CAST(o_orderdate AS DATE))) AS rebuilt_date,
       CAST(concat_ws('-',
            lpad(CAST(year(CAST(o_orderdate AS DATE)) AS VARCHAR), 4, '0'),
            lpad(CAST(month(CAST(o_orderdate AS DATE)) AS VARCHAR), 2, '0'),
            lpad(CAST(day(CAST(o_orderdate AS DATE)) AS VARCHAR), 2, '0')) AS DATE) AS concat_date,
       make_date(year(CAST(o_orderdate AS DATE)), month(CAST(o_orderdate AS DATE)), day(CAST(o_orderdate AS DATE))) = CAST(o_orderdate AS DATE) AS dates_agree
FROM orders ORDER BY o_orderkey
"""


def stream_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 + O1: metadata-action filter, then ordered sample by row id —
    the reference's stream-inspection query
    (``02_create_rawco2data_stream.py:71-76``)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "value",
            F.col("ts").cast("date").alias("event_date"),
        )
        .orderBy("event_id")
        .limit(50)
    )


STREAM_SAMPLE_SQL = """
SELECT event_id, user_id, value, CAST(ts AS DATE) AS event_date
FROM events WHERE event_type = 'purchase'
ORDER BY event_id LIMIT 50
"""


# ---------------------------------------------------------------------------
# cdc_apply_changes — the APPEND_ONLY=false stream shape through the REAL
# operator: a deterministic INSERT+DELETE change batch (with _row_id order)
# applied to a committed target table via operators.merge.apply_changes
# (last-action-wins per key, single-pass anti-join ∪ final-insert-images).
# Reference stream semantics: 02_create_rawco2data_stream.py:50-56. Oracle =
# the same last-action resolution written as a window + anti-join in SQL.
# ---------------------------------------------------------------------------
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import apply_changes
    from ..operators.table_store import TableStore

    def build(root: str) -> TableStore:
        store = TableStore(root=root)
        orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        target = orders.filter(F.col("o_orderkey") % 2 == 0)
        inserts = orders.filter(F.col("o_orderkey") % 3 == 0).select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 1.1, 4).alias("o_totalprice"),
            F.lit("INSERT").alias("_action"),
            (F.col("o_orderkey") * 2).alias("_row_id"),
        )
        deletes = orders.filter(F.col("o_orderkey") % 5 == 0).select(
            "o_orderkey",
            F.lit(None).cast("double").alias("o_totalprice"),
            F.lit("DELETE").alias("_action"),
            (F.col("o_orderkey") * 2 + 1).alias("_row_id"),
        )
        store.overwrite(target, "cdc.orders_state")
        apply_changes(
            spark,
            store,
            "cdc.orders_state",
            inserts.unionByName(deletes),
            keys=["o_orderkey"],
        )
        return store

    store = artifact(spark, sf_dir, "cdc", build)
    return store.read(spark, "cdc.orders_state").orderBy("o_orderkey")


CDC_APPLY_SQL = """
WITH target AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
),
changes AS (
  SELECT o_orderkey, round(o_totalprice * 1.1, 4) AS o_totalprice,
         'INSERT' AS a, o_orderkey * 2 AS rid
  FROM orders WHERE o_orderkey % 3 = 0
  UNION ALL
  SELECT o_orderkey, NULL, 'DELETE', o_orderkey * 2 + 1
  FROM orders WHERE o_orderkey % 5 = 0
),
last AS (
  SELECT o_orderkey, o_totalprice, a FROM (
    SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY rid DESC) AS rn
    FROM changes
  ) WHERE rn = 1
)
SELECT o_orderkey, o_totalprice FROM (
  SELECT t.o_orderkey, t.o_totalprice FROM target t
  WHERE NOT EXISTS (SELECT 1 FROM last WHERE last.o_orderkey = t.o_orderkey)
  UNION ALL
  SELECT o_orderkey, o_totalprice FROM last WHERE a = 'INSERT'
)
ORDER BY o_orderkey
"""


# ---------------------------------------------------------------------------
# decimal_typed_stats — NUMBER(35,4) typed parity (SURVEY §1.3): the
# reference declares its kernel surface over Snowflake NUMBER(35,4)
# (udfs_and_spoc/normalize_co2.sql:2-6); this exercises the DecimalType(35,4)
# mapping end-to-end — exact decimal SUM/MIN/MAX and exact decimal
# subtraction — with both engines producing identical fixed-scale decimals
# (decimal str() is exact, so the hash gate has no float tolerance at all).
# Hash robustness (r04 driver red, bit-identical locally): a bare
# double→DECIMAL cast is the one place the engines' rounding modes can
# diverge (Spark rounds the shortest-repr string HALF_UP, DuckDB rounds the
# binary value), so the decimal is built on an explicit integer grid
# instead: vi = FLOOR(value * 1e4) is pure IEEE arithmetic (identical in
# both engines; events.value >= 0 so DIV/%% are truncation-free), and the
# DECIMAL(35,4) is parsed from the exact digit string "%d.%04d" — string→
# decimal parsing is exact in both engines, leaving no rounding ambiguity.
# The decimal arithmetic (SUM / MIN / MAX / subtraction over DecimalType)
# stays internal; the compared columns are presented as DOUBLE because a
# scale-4 decimal converts to its nearest double identically in both
# engines (bit-identical float64 — immune to any harness decimal/float
# rendering skew; pandas also turns DuckDB DECIMAL into float64 anyway).
# ---------------------------------------------------------------------------
def decimal_typed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    d = ev.select(
        "event_type",
        F.floor(F.col("value") * F.lit(10000.0)).cast("bigint").alias("vi"),
    ).select(
        "event_type",
        F.format_string("%d.%04d", F.expr("vi DIV 10000"), F.expr("vi % 10000"))
        .cast("decimal(35,4)")
        .alias("v"),
    )
    return (
        d.groupBy("event_type")
        .agg(
            F.sum("v").cast("decimal(35,4)").cast("double").alias("sum_v"),
            F.min("v").cast("double").alias("min_v"),
            F.max("v").cast("double").alias("max_v"),
            F.count("v").alias("n"),
            (F.max("v") - F.min("v"))
            .cast("decimal(35,4)")
            .cast("double")
            .alias("span_v"),
        )
        .orderBy("event_type")
    )


DECIMAL_TYPED_SQL = """
SELECT event_type,
       CAST(CAST(sum(v) AS DECIMAL(35,4)) AS DOUBLE) AS sum_v,
       CAST(min(v) AS DOUBLE) AS min_v,
       CAST(max(v) AS DOUBLE) AS max_v,
       count(v) AS n,
       CAST(CAST(max(v) - min(v) AS DECIMAL(35,4)) AS DOUBLE) AS span_v
FROM (
  SELECT event_type,
         CAST(printf('%d.%04d', vi // 10000, vi % 10000) AS DECIMAL(35,4)) AS v
  FROM (SELECT event_type,
               CAST(FLOOR(value * 10000.0) AS BIGINT) AS vi
        FROM events)
)
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# table_changes_cdf — the change-data-feed between two table versions,
# exercised through the REAL versioned store: two deterministic versions of
# an orders subset are committed to a scratch TableStore, then
# TableStore.table_changes diffs the retained versions into INSERT / DELETE
# / UPDATE_BEFORE / UPDATE_AFTER rows (the row-diff a Snowflake stream
# exposes between offsets, reference 02_create_rawco2data_stream.py:50-56;
# Delta's table_changes analogue). Oracle = the same full-outer diff
# computed directly over orders.
# ---------------------------------------------------------------------------
def _cdf_versions(spark: SparkSession, sf_dir: str):
    """Two committed versions of the orders-derived table in a scratch
    store, built once per (session, sf_dir)."""
    from ..operators.table_store import TableStore

    def build(root: str) -> TableStore:
        store = TableStore(root=root)
        # odd-key half-slice: the CDF cost is two staged writes + one
        # full-outer diff, which scales linearly — half the base keeps the
        # bench entry lean without changing what the operator proves
        orders = (
            load(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") % 2 == 1)
            .select("o_orderkey", "o_orderstatus", "o_totalprice")
        )
        v1 = orders.filter(F.col("o_orderkey") % 3 != 0)
        v2 = orders.filter(F.col("o_orderkey") % 7 != 0).withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 11 == 0,
                F.round(F.col("o_totalprice") * 1.1, 4),
            ).otherwise(F.col("o_totalprice")),
        )
        store.overwrite(v1, "cdf.orders_slice")
        store.overwrite(v2, "cdf.orders_slice")
        return store

    return artifact(spark, sf_dir, "cdf", build)


def table_changes_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _cdf_versions(spark, sf_dir)
    return store.table_changes(
        spark, "cdf.orders_slice", 1, 2, key_cols=["o_orderkey"]
    ).orderBy("o_orderkey", "_action")


TABLE_CHANGES_SQL = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 2 = 1
),
v1 AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM base WHERE o_orderkey % 3 <> 0
),
v2 AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 11 = 0 THEN round(o_totalprice * 1.1, 4)
              ELSE o_totalprice END AS o_totalprice
  FROM base WHERE o_orderkey % 7 <> 0
)
SELECT * FROM (
  SELECT b.o_orderkey, b.o_orderstatus, b.o_totalprice,
         'INSERT' AS _action, 2 AS _version
  FROM v2 b WHERE NOT EXISTS (SELECT 1 FROM v1 a WHERE a.o_orderkey = b.o_orderkey)
  UNION ALL
  SELECT a.o_orderkey, a.o_orderstatus, a.o_totalprice, 'DELETE', 1
  FROM v1 a WHERE NOT EXISTS (SELECT 1 FROM v2 b WHERE b.o_orderkey = a.o_orderkey)
  UNION ALL
  SELECT a.o_orderkey, a.o_orderstatus, a.o_totalprice, 'UPDATE_BEFORE', 1
  FROM v1 a JOIN v2 b USING (o_orderkey)
  WHERE (a.o_orderstatus, a.o_totalprice) IS DISTINCT FROM (b.o_orderstatus, b.o_totalprice)
  UNION ALL
  SELECT b.o_orderkey, b.o_orderstatus, b.o_totalprice, 'UPDATE_AFTER', 2
  FROM v1 a JOIN v2 b USING (o_orderkey)
  WHERE (a.o_orderstatus, a.o_totalprice) IS DISTINCT FROM (b.o_orderstatus, b.o_totalprice)
)
ORDER BY o_orderkey, _action
"""


# ---------------------------------------------------------------------------
# dml_update_delete — standalone DELETE/UPDATE DML through the versioned
# store (operators/merge.delete_where / update_where): a scratch table takes
# a DELETE (drop F-status orders with key % 4 == 0) then an UPDATE (+5% on
# urgent orders over 300k), each an atomic single-scan rewrite with
# Observation-carried affected-row counts. Oracle = the same two statements
# as set algebra over the base data. Privacy purge (TableStore.purge_versions) is
# exercised in tests (side-effecting, not hashable).
# ---------------------------------------------------------------------------
def dml_update_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import delete_where, update_where
    from ..operators.table_store import TableStore

    def build(root: str) -> TableStore:
        store = TableStore(root=root)
        base = load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
        )
        store.overwrite(base, "dml.orders_slice")
        delete_where(
            spark, store, "dml.orders_slice",
            (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 4 == 0),
        )
        # decimal-routed +5%: double*1.05 lands on scale-4 ties whose
        # rounding mode differs between engines; exact decimal multiply +
        # round(,2) is engine-identical (both half-up for positives)
        update_where(
            spark, store, "dml.orders_slice",
            (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 300000),
            {"o_totalprice": F.expr(
                "CAST(round(CAST(o_totalprice AS DECIMAL(30,8)) * 1.05, 2) AS DOUBLE)"
            )},
        )
        return store

    store = artifact(spark, sf_dir, "dml", build)
    return (
        store.read(spark, "dml.orders_slice")
        .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
        .orderBy("o_orderkey")
    )


DML_SQL = """
SELECT o_orderkey, o_orderstatus, o_orderpriority,
       CASE WHEN o_orderpriority = '1-URGENT' AND o_totalprice > 300000
            THEN CAST(round(CAST(o_totalprice AS DECIMAL(30,8)) * 1.05, 2) AS DOUBLE)
            ELSE o_totalprice END AS o_totalprice
FROM orders
WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 4 = 0)
ORDER BY o_orderkey
"""


# ---------------------------------------------------------------------------
# table_clone_changes — zero-copy CLONE + divergence + change-data-feed
# (r06): an orders-derived table is CLONEd (TableStore.clone hardlinks the
# current version — Snowflake's CREATE TABLE ... CLONE), the clone diverges
# through DELETE / UPDATE DML and an append, and table_changes diffs the
# clone's v1 (the shared-inode snapshot of the source) against its final
# version. Oracle = the same divergence as set algebra over orders.
# ---------------------------------------------------------------------------
def table_clone_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import delete_where, update_where
    from ..operators.table_store import TableStore

    def build(root: str) -> TableStore:
        store = TableStore(root=root, keep_versions=4)
        base = load(spark, sf_dir, "orders").filter(
            F.col("o_orderkey") % 2 == 0
        ).select("o_orderkey", "o_orderstatus", "o_totalprice")
        store.overwrite(base, "cl.src")
        store.clone("cl.src", "cl.dup")  # zero-copy: v1 shares inodes
        delete_where(spark, store, "cl.dup", F.col("o_orderkey") % 10 == 0)
        update_where(
            spark, store, "cl.dup",
            F.col("o_orderkey") % 7 == 0,
            {"o_totalprice": F.expr(
                "CAST(round(CAST(o_totalprice AS DECIMAL(30,8)) * 1.1, 2) AS DOUBLE)"
            )},
        )
        inserts = load(spark, sf_dir, "orders").filter(
            (F.col("o_orderkey") % 2 == 1) & (F.col("o_orderkey") % 997 == 0)
        ).select("o_orderkey", "o_orderstatus", "o_totalprice")
        store.append(inserts, "cl.dup")
        return store

    store = artifact(spark, sf_dir, "clone", build)
    return store.table_changes(
        spark, "cl.dup", 1, 3, key_cols=["o_orderkey"]
    ).orderBy("o_orderkey", "_action")


TABLE_CLONE_SQL = """
WITH v1 AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
),
v3 AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 7 = 0
              THEN CAST(round(CAST(o_totalprice AS DECIMAL(30,8)) * 1.1, 2) AS DOUBLE)
              ELSE o_totalprice END AS o_totalprice
  FROM v1 WHERE o_orderkey % 10 <> 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_orderkey % 2 = 1 AND o_orderkey % 997 = 0
)
SELECT * FROM (
  SELECT b.o_orderkey, b.o_orderstatus, b.o_totalprice,
         'INSERT' AS _action, 3 AS _version
  FROM v3 b WHERE NOT EXISTS (SELECT 1 FROM v1 a WHERE a.o_orderkey = b.o_orderkey)
  UNION ALL
  SELECT a.o_orderkey, a.o_orderstatus, a.o_totalprice, 'DELETE', 1
  FROM v1 a WHERE NOT EXISTS (SELECT 1 FROM v3 b WHERE b.o_orderkey = a.o_orderkey)
  UNION ALL
  SELECT a.o_orderkey, a.o_orderstatus, a.o_totalprice, 'UPDATE_BEFORE', 1
  FROM v1 a JOIN v3 b USING (o_orderkey)
  WHERE (a.o_orderstatus, a.o_totalprice) IS DISTINCT FROM (b.o_orderstatus, b.o_totalprice)
  UNION ALL
  SELECT b.o_orderkey, b.o_orderstatus, b.o_totalprice, 'UPDATE_AFTER', 3
  FROM v1 a JOIN v3 b USING (o_orderkey)
  WHERE (a.o_orderstatus, a.o_totalprice) IS DISTINCT FROM (b.o_orderstatus, b.o_totalprice)
)
ORDER BY o_orderkey, _action
"""


QUERIES: dict = {
    "daily_stats": (daily_stats, DAILY_STATS_SQL),
    "daily_stats_sql_udfs": (daily_stats_sql_udfs, DAILY_STATS_SQL),
    "weekly_stats": (weekly_stats, WEEKLY_STATS_SQL),
    "date_construction": (date_construction, DATE_CONSTRUCTION_SQL),
    "stream_sample": (stream_sample, STREAM_SAMPLE_SQL),
    "table_changes_cdf": (table_changes_cdf, TABLE_CHANGES_SQL),
    "table_clone_changes": (table_clone_changes, TABLE_CLONE_SQL),
    "decimal_typed_stats": (decimal_typed_stats, DECIMAL_TYPED_SQL),
    "dml_update_delete": (dml_update_delete, DML_SQL),
    "cdc_apply_changes": (cdc_apply_changes, CDC_APPLY_SQL),
}
