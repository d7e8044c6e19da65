"""Pipeline stages — the engine's equivalent of the reference's three stored
procedures (SURVEY.md §2.8 SP1-SP3, §3.1).

RAW -> (changelog) -> HARMONIZED -> ANALYTICS, each stage a plain function
over DataFrames; the orchestrator sequences them with stream-gating.

Layer mapping (reference ``config/dev.yml:9-14``):
    RAW_CO2.CO2_DATA            -> raw_co2.co2_data            (+ its changelog)
    HARMONIZED_CO2.HARMONIZED_CO2 -> harmonized_co2.harmonized_co2
    ANALYTICS_CO2.DAILY_CO2_STATS -> analytics_co2.daily_co2_stats
    ANALYTICS_CO2.WEEKLY_CO2_STATS -> analytics_co2.weekly_co2_stats
    ANALYTICS_CO2._CO2_MINMAX     -> analytics_co2._co2_minmax
"""

from __future__ import annotations

import datetime
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..functions.kernels import normalize_value, pct_change, volatility
from ..operators.changelog import Changelog
from ..operators.merge import merge_upsert
from ..operators.table_store import TableStore, driver_rows, write_atomic
from ..session import local_rows_df
from ..sources.noaa_feed import RAW_SCHEMA, fetch_feed, parse_feed_rows
from ..sources.noaa_feed import parse_feed_text  # noqa: F401 (perfbench traces it here by name)

RAW_TABLE = "raw_co2.co2_data"
HARMONIZED_TABLE = "harmonized_co2.harmonized_co2"
DAILY_TABLE = "analytics_co2.daily_co2_stats"
WEEKLY_TABLE = "analytics_co2.weekly_co2_stats"
MINMAX_TABLE = "analytics_co2._co2_minmax"

NAMESPACES = ["external", "raw_co2", "harmonized_co2", "analytics_co2"]


def bootstrap(store: TableStore) -> None:
    """Create the 4-layer namespace layout (reference ``setup.sql.j2:49-53``)."""
    for ns in NAMESPACES:
        store.create_namespace(ns)


# ---------------------------------------------------------------------------
# SP1: LOADING_CO2_DATA_SP — watermark-incremental fetch & load
# reference: udfs_and_spoc/loading_co2_data_sp/loading_data_sp/function.py:8-398
# ---------------------------------------------------------------------------
def _watermark_file(store: TableStore) -> str:
    return os.path.join(store.table_dir(RAW_TABLE), "_WATERMARK")


def current_watermark(spark: SparkSession, store: TableStore) -> object | None:
    """A1: MAX(make_date(YEAR,MONTH,DAY)) over RAW — the high-watermark date
    (reference ``loading_data_sp/function.py:41-51``).

    Fast path: ``load_raw`` records the batch max date in a ``_WATERMARK``
    sidecar, folded on the driver from the rows it loads, so the steady-state
    read is a driver-side file — zero Spark jobs (the table-stats pattern:
    Delta/Iceberg answer MAX over a partition key from metadata the same
    way). Fallback for stores not written through ``load_raw``: RAW is
    year-partitioned (S6) and the max date lives in the max YEAR by
    construction, so the aggregate is pruned to one partition via a
    driver-side directory listing.
    """
    if not store.exists(RAW_TABLE):
        return None
    wf = _watermark_file(store)
    if os.path.exists(wf):
        with open(wf) as f:
            return datetime.date.fromisoformat(f.read().strip())

    years = [
        b["YEAR"][1]
        for b in store.file_bounds(store.data_path(RAW_TABLE), ["YEAR"]).values()
        if b["YEAR"] is not None
    ]
    raw = store.read(spark, RAW_TABLE)
    if years:
        raw = raw.filter(F.col("YEAR") == max(years))  # partition pruning
    return raw.agg(
        F.max(F.make_date("YEAR", "MONTH", "DAY")).alias("wm")
    ).first()["wm"]


def load_raw(
    spark: SparkSession,
    store: TableStore,
    feed_text: str | None = None,
    fetcher: Callable[[str], str] | None = None,
) -> str:
    """Fetch feed -> parse -> keep rows strictly newer than the watermark ->
    append to RAW + record changelog INSERTs (C4 semantics: late/duplicate
    rows for dates <= watermark are dropped at ingest; downstream merges are
    idempotent on the DATE key anyway).

    The reference's S1-S4 run in-process (``loading_data_sp/function.py:
    108-178``), and so do these: the feed is already a driver-side
    document, so it is parsed and filtered here and only the new rows
    cross into Spark. A night with nothing new starts no Spark job."""
    text = feed_text if feed_text is not None else fetch_feed(fetcher=fetcher)
    wm = current_watermark(spark, store)
    dated = ((datetime.date(*r[:3]), r) for r in parse_feed_rows(text))
    new = [(d, r) for d, r in dated if wm is None or d > wm]
    if not new:
        return "No new data to load"

    # ONE physical append lands both RAW and its change record: the
    # changelog rides on the year-partitioned RAW table (S6 partition
    # pruning intact — YEAR stays the layout key; the stream offset is the
    # _row_id column, pruned by row-group stats).
    Changelog(store, RAW_TABLE).append(
        local_rows_df(spark, [r for _, r in new], RAW_SCHEMA), partition_by=["YEAR"],
    )
    # watermark sidecar AFTER rows land: a crash in between re-ingests the
    # batch (dates > stale watermark), and the DATE-keyed merges downstream
    # make that replay idempotent (SURVEY §7.3)
    write_atomic(_watermark_file(store), max(d for d, _ in new).isoformat())
    return f"Loaded {len(new)} new rows"


# ---------------------------------------------------------------------------
# SP2: CO2_HARMONIZED_SP — consume stream, MERGE into HARMONIZED, refresh
# the min/max scalar cache.
# reference: udfs_and_spoc/co2_harmonized_sp/co2_harmonized_sp/function.py
# ---------------------------------------------------------------------------
def _co2_bounds(spark: SparkSession, store: TableStore, version_dir: str) -> tuple:
    """MIN/MAX(CO2_PPM) of a HARMONIZED version, folded on the driver from
    its files' footer stats — exact, because every file a merge writes
    carries fresh stats and carried files keep theirs. A file without
    usable min/max (a NaN reading, an all-NULL file) falls back to one
    aggregate over the version."""
    stats = store.file_bounds(version_dir, ["CO2_PPM"]).values()
    per_file = [s["CO2_PPM"] for s in stats]
    if per_file and None not in per_file:
        return min(lo for lo, _ in per_file), max(hi for _, hi in per_file)
    return tuple(
        store._read_dir(spark, version_dir)
        .agg(F.min("CO2_PPM"), F.max("CO2_PPM"))
        .first()
    )


def _harmonize_rows(spark: SparkSession, store: TableStore, rows: DataFrame) -> None:
    """SP2's write, shared by the batch :func:`harmonize` and the streaming
    drain: project a window of changelog rows to the HARMONIZED schema and
    MERGE it on DATE (J1), then fold the new version's MIN/MAX into the A2
    ``_CO2_MINMAX`` scalar cache (reference ``:81-87``). Both writes publish
    in ONE transaction (staged version dirs + commit journal): a crash
    between them can never leave HARMONIZED moved with the cache stale."""
    src = (
        rows.filter(F.col("_action") == "INSERT")  # P8 metadata filter
        .withColumn("DATE", F.make_date("YEAR", "MONTH", "DAY"))  # P2/P3
        .select(
            "DATE",
            "YEAR",
            "MONTH",
            "DAY",
            "CO2_PPM",
            F.current_timestamp().alias("META_UPDATED_AT"),  # P6 audit column
        )
    )
    with store.transaction("harmonize") as txn:
        merge_upsert(spark, store, HARMONIZED_TABLE, src, keys=["DATE"], txn=txn)
        mn, mx = _co2_bounds(spark, store, txn.staged_dir(HARMONIZED_TABLE))
        minmax = driver_rows(  # a scalar cache: written on the driver, no job
            spark,
            [(None if mn is None else float(mn), None if mx is None else float(mx))],
            "MIN_CO2 double, MAX_CO2 double",
        )
        txn.overwrite(minmax, MINMAX_TABLE)


def harmonize(spark: SparkSession, store: TableStore) -> str:
    log = Changelog(store, RAW_TABLE)
    pending = log.pending(spark, "harmonize")
    if pending is None:
        return "No data in stream to process"  # empty-stream short-circuit (:119-124)
    hi = log.high_water(pending)
    if hi <= log.offset("harmonize"):
        return "No data in stream to process"
    # later appends wait for the next run
    _harmonize_rows(spark, store, pending.filter(F.col("_row_id") <= hi))
    log.commit("harmonize", hi)  # offset advances with the consuming merge
    return "CO2 data harmonization complete"


# ---------------------------------------------------------------------------
# SP3: CO2_ANALYTICS_SP — daily (lag window + UDF kernels) and weekly
# (date_trunc rollup + kernels) statistics, both MERGEd on their keys.
# reference: udfs_and_spoc/co2_analytical_sp/co2_analytical_sp/function.py
# ---------------------------------------------------------------------------
def daily_stats_df(harmonized: DataFrame, min_co2: float, max_co2: float) -> DataFrame:
    """W1 lag + U1/U3/U4 kernels -> daily stats projection
    (reference ``co2_analytical_sp/function.py:105-125``).

    The unpartitioned orderBy window matches the reference exactly; at 100 TB
    a single time series this shape would be range-partitioned by year with
    boundary stitching — for a daily series (~18k rows/50 years) the single
    partition is small by construction.
    """
    w = W.orderBy("DATE")
    with_lag = harmonized.select(
        "DATE",
        "CO2_PPM",
        F.lag("CO2_PPM", 1).over(w).alias("PREV_DAY_CO2"),
    )
    return with_lag.select(
        "DATE",
        "CO2_PPM",
        "PREV_DAY_CO2",
        pct_change("PREV_DAY_CO2", "CO2_PPM").alias("DAILY_CHANGE"),
        volatility("CO2_PPM", "PREV_DAY_CO2").alias("DAILY_VOLATILITY"),
        normalize_value(F.col("CO2_PPM"), F.lit(min_co2), F.lit(max_co2)).alias(
            "NORMALIZED_CO2"
        ),
        F.current_timestamp().alias("META_UPDATED_AT"),
    )


def weekly_stats_df(harmonized: DataFrame, min_co2: float, max_co2: float) -> DataFrame:
    """A4 weekly rollup + kernels (reference ``co2_analytical_sp/function.py:178-199``).

    Kept verbatim from the reference, including its (mis)naming of
    min->WEEK_START_CO2 / max->WEEK_END_CO2. ``date_trunc('week')`` is
    ISO-Monday in both Spark and Snowflake (and the DuckDB oracle).
    """
    weekly = harmonized.groupBy(
        F.date_trunc("week", F.col("DATE")).cast("date").alias("WEEK_START")
    ).agg(
        F.avg("CO2_PPM").alias("AVG_WEEKLY_CO2"),
        F.min("CO2_PPM").alias("WEEK_START_CO2"),
        F.max("CO2_PPM").alias("WEEK_END_CO2"),
    )
    return weekly.select(
        "WEEK_START",
        "AVG_WEEKLY_CO2",
        "WEEK_START_CO2",
        "WEEK_END_CO2",
        pct_change("WEEK_START_CO2", "WEEK_END_CO2").alias("WEEKLY_CHANGE"),
        volatility("WEEK_END_CO2", "WEEK_START_CO2").alias("WEEKLY_VOLATILITY"),
        normalize_value(F.col("AVG_WEEKLY_CO2"), F.lit(min_co2), F.lit(max_co2)).alias(
            "NORMALIZED_WEEKLY_CO2"
        ),
        F.current_timestamp().alias("META_UPDATED_AT"),
    )


def _recompute(
    spark: SparkSession,
    store: TableStore,
    bounds: tuple,
    dates: dict[datetime.date, datetime.date | None] | None = None,
) -> None:
    """The one DAILY (J2: MERGE on DATE) and WEEKLY (J3: MERGE on
    WEEK_START) write, normalized against HARMONIZED's CO2 ``bounds``.

    ``dates=None`` recomputes every row. Otherwise ``dates`` maps each date
    to recompute to its predecessor in the series (None for the first
    date) — the lag input its daily row needs — and the weekly rollup
    recomputes just their ISO weeks (ISO Monday = d - weekday; there is no
    cross-week lag). Every filter is an IN-list literal, pushed into the
    parquet scans with no broadcast exchange to materialize."""
    mn, mx = bounds
    harmonized = store.read(spark, HARMONIZED_TABLE)
    daily_rows = weekly_rows = harmonized
    if dates is not None:
        need = set(dates) | {p for p in dates.values() if p is not None}
        daily_rows = harmonized.filter(F.col("DATE").isin(sorted(need)))
        weeks = {d - datetime.timedelta(days=d.weekday()) for d in dates}
        weekly_rows = harmonized.filter(
            F.date_trunc("week", F.col("DATE")).cast("date").isin(sorted(weeks))
        )
    daily = daily_stats_df(daily_rows, mn, mx)
    if dates is not None:  # the predecessor rows are lag input only
        daily = daily.filter(F.col("DATE").isin(sorted(dates)))
    merge_upsert(spark, store, DAILY_TABLE, daily, keys=["DATE"])
    merge_upsert(
        spark, store, WEEKLY_TABLE, weekly_stats_df(weekly_rows, mn, mx),
        keys=["WEEK_START"],
    )


def analytics_incremental(spark: SparkSession, store: TableStore) -> str:
    """SP3 with churn-proportional recompute — the incremental form the
    repo is named for.

    Analytics registers as a SECOND named consumer of the RAW changelog:
    its pending window yields the exact set of affected DATEs, so the
    daily stage recomputes only those dates plus their order-neighbors
    (the lag chain breaks at most one date past an insert) and the weekly
    stage only the touched ISO weeks. A narrow DATE-only pass over the
    harmonized series resolves order neighbors (gaps make ``d - 1 day``
    wrong); full-width compute is proportional to the churn.

    Fallback to the full recompute (:func:`analytics`) when it must:
    - first run (no stats tables yet), or
    - the batch moves the global min/max bounds — NORMALIZED_* columns
      depend on them, so EVERY row's normalized value changes (the
      reference recomputes fully every run for exactly this reason;
      steady-state CO2 batches inside known bounds skip it).

    Offset semantics match harmonize: commit after the merges land;
    replay is idempotent because every merge keys on its date key.
    """
    log = Changelog(store, RAW_TABLE)
    pending = log.pending(spark, "analytics")
    if pending is None:
        return "No data in stream to process"
    # never run ahead of harmonize: rows it has not merged yet are not in
    # HARMONIZED, and advancing past them would lose their dates forever.
    # harmonize's offset is a landed row id, so the gate needs no scan.
    h_off = log.offset("harmonize")
    pending = pending.filter(F.col("_row_id") <= h_off)
    hi = min(log.high_water(pending), h_off)
    if hi <= log.offset("analytics"):
        return "No data in stream to process"

    # the bounds harmonize's transaction wrote to _CO2_MINMAX, re-folded
    # from the same footers (no Spark job); _BOUNDS records the bounds the
    # stored stats were last normalized against
    bounds = _co2_bounds(spark, store, store.data_path(HARMONIZED_TABLE))
    bounds_file = os.path.join(store.table_dir(DAILY_TABLE), "_BOUNDS")
    prev = None
    if os.path.exists(bounds_file):
        with open(bounds_file) as f:
            prev = tuple(json.load(f))
    if not (store.exists(DAILY_TABLE) and store.exists(WEEKLY_TABLE)):
        out = f"{analytics(spark, store)} (full: first run)"
    elif prev != bounds:
        # NORMALIZED_* columns depend on the GLOBAL bounds: this batch
        # moved them, so every stored row's normalized value is stale
        out = f"{analytics(spark, store)} (full: bounds moved)"
    else:
        affected = pending.filter(F.col("_action") == "INSERT").select(
            F.make_date("YEAR", "MONTH", "DAY").alias("_a")
        ).distinct()
        # DATE-only neighbor pass: global order over the daily series (one
        # narrow column; the series is one row per date by construction).
        # Recompute a date if IT changed or its PREDECESSOR changed (its
        # lag inputs moved). One job collects the (churn-sized) date pairs
        # to the driver. A giant backfill (>5000 dates) would belong on the
        # full path anyway, and bounds-moves already route it there in
        # practice.
        ndf = store.read(spark, HARMONIZED_TABLE).select(
            "DATE", F.lag("DATE", 1).over(W.orderBy("DATE")).alias("_prev")
        )
        pairs = ndf.join(
            F.broadcast(affected),
            (F.col("DATE") == F.col("_a")) | (F.col("_prev") == F.col("_a")),
            "left_semi",
        ).collect()
        _recompute(spark, store, bounds, {r["DATE"]: r["_prev"] for r in pairs})
        out = "Daily analytics complete; Weekly analytics complete (incremental)"

    write_atomic(bounds_file, json.dumps(list(bounds)))
    log.commit("analytics", hi)
    return out


def analytics(spark: SparkSession, store: TableStore) -> str:
    """SP3 whole: daily + weekly over every date (reference
    ``function.py:227-255``), normalized against HARMONIZED's min/max —
    folded from the footers of the version harmonize wrote, the same value
    its transaction staged into ``_CO2_MINMAX`` (the reference reads that
    cache once per SP call, ``co2_analytical_sp/function.py:95-102``)."""
    _recompute(spark, store, _co2_bounds(spark, store, store.data_path(HARMONIZED_TABLE)))
    return "Daily analytics complete; Weekly analytics complete"
