"""End-to-end pipeline scenarios (FIXTURES.md §3): watermark behavior,
stream gating, merge idempotency, daily/weekly analytics correctness."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from incremental_datapipeline_using_snowflake_spark.operators import Changelog
from incremental_datapipeline_using_snowflake_spark.plans import (
    Orchestrator,
    analytics,
    bootstrap,
    harmonize,
    load_raw,
)
from incremental_datapipeline_using_snowflake_spark.plans import pipeline as P
from incremental_datapipeline_using_snowflake_spark.sources import parse_feed_text

FEED_V1 = """# CO2 data from Mauna Loa Observatory
# Some header info
2025 1 1 2025.000 418.50
2025 1 2 2025.003 418.65
2025 1 3 2025.005 418.75
2025 1 4 2025.008 bad_value
2025 1 6 2025.014 419.10
2025 1 7 2025.016 419.00
2025 1 8 2025.019 418.90
2025 1 9 2025.022 419.30
2025 1 10 2025.025 419.40
2025 1 11 2025.027 419.55
2025 1 12 2025.030 419.20
2025 1 13 2025.033 419.80
"""

FEED_V2 = FEED_V1 + """2025 1 14 2025.036 420.00
2025 1 15 2025.038 420.15
"""


def test_parse_feed_text(spark):
    df = parse_feed_text(spark, FEED_V1)
    rows = df.orderBy("YEAR", "MONTH", "DAY").collect()
    assert len(rows) == 12
    assert rows[0]["CO2_PPM"] == 418.50
    # tolerant coercion: bad_value -> NULL, row kept
    jan4 = [r for r in rows if r["DAY"] == 4][0]
    assert jan4["CO2_PPM"] is None
    assert jan4["DECIMAL_DATE"] == 2025.008


def test_parse_feed_regex_fallback(spark):
    # mangle the feed so whitespace-split yields <5 fields per line, but the
    # regex still matches inside a longer string
    garbled = "\n".join(
        f"junk>{ln}<junk" for ln in FEED_V1.splitlines() if not ln.startswith("#") and ln
    )
    df = parse_feed_text(spark, garbled)
    assert df.count() == 11  # bad_value row doesn't match the regex


def test_full_pipeline_and_incremental(spark, store):
    bootstrap(store)
    # run 1: empty watermark -> all rows load
    assert "12" in load_raw(spark, store, feed_text=FEED_V1)
    assert harmonize(spark, store).startswith("CO2 data harmonization")
    analytics(spark, store)

    harm = store.read(spark, P.HARMONIZED_TABLE)
    assert harm.count() == 12
    assert dict(harm.dtypes)["DATE"] == "date"

    daily = store.read(spark, P.DAILY_TABLE).orderBy("DATE").collect()
    assert len(daily) == 12
    first, second = daily[0], daily[1]
    # first-row lag semantics: NULL prev -> change 0.0 but volatility NULL
    assert first["PREV_DAY_CO2"] is None
    assert first["DAILY_CHANGE"] == 0.0
    assert first["DAILY_VOLATILITY"] is None
    assert second["PREV_DAY_CO2"] == 418.50
    assert second["DAILY_CHANGE"] == pytest.approx((418.65 - 418.50) / 418.50 * 100)

    # normalize endpoints: min -> 0.0, max -> 1.0
    vals = {r["DATE"]: r for r in daily}
    mn_row = min((r for r in daily if r["CO2_PPM"] is not None), key=lambda r: r["CO2_PPM"])
    mx_row = max((r for r in daily if r["CO2_PPM"] is not None), key=lambda r: r["CO2_PPM"])
    assert mn_row["NORMALIZED_CO2"] == 0.0
    assert mx_row["NORMALIZED_CO2"] == 1.0

    weekly = store.read(spark, P.WEEKLY_TABLE).orderBy("WEEK_START").collect()
    # Jan 2025: 2024-12-30 (Mon) and Jan 6, Jan 13 weeks
    assert [r["WEEK_START"] for r in weekly] == [
        dt.date(2024, 12, 30),
        dt.date(2025, 1, 6),
        dt.date(2025, 1, 13),
    ]
    wk2 = weekly[1]
    assert wk2["WEEK_START_CO2"] == 418.90  # reference naming: min
    assert wk2["WEEK_END_CO2"] == 419.55    # reference naming: max

    # run 2: watermark mid-feed -> only the 2 new rows load
    msg = load_raw(spark, store, feed_text=FEED_V2)
    assert "2 new rows" in msg
    harmonize(spark, store)
    analytics(spark, store)
    assert store.read(spark, P.HARMONIZED_TABLE).count() == 14
    assert store.read(spark, P.DAILY_TABLE).count() == 14

    # run 3: watermark at feed end -> no new data, stream gate holds
    assert load_raw(spark, store, feed_text=FEED_V2) == "No new data to load"
    assert harmonize(spark, store) == "No data in stream to process"


def test_harmonize_idempotent_replay(spark, store):
    """Offset-commit crash-replay: re-consuming the same changelog rows must
    not change harmonized contents (merge keyed on DATE)."""
    bootstrap(store)
    load_raw(spark, store, feed_text=FEED_V1)
    harmonize(spark, store)
    before = sorted(
        (r["DATE"], r["CO2_PPM"]) for r in store.read(spark, P.HARMONIZED_TABLE).collect()
    )
    # simulate lost offset commit: reset consumer offset and re-run
    log = Changelog(store, P.RAW_TABLE)
    meta = log._read_meta()
    meta["offsets"]["harmonize"] = -1
    log._write_meta(meta)
    harmonize(spark, store)
    after = sorted(
        (r["DATE"], r["CO2_PPM"]) for r in store.read(spark, P.HARMONIZED_TABLE).collect()
    )
    assert before == after


def test_invalid_date_never_lands(spark, store):
    """A feed row whose YEAR/MONTH/DAY form no calendar date (Feb 30) is
    dropped at ingest, on the first load as on any later one: no NULL
    DATE reaches HARMONIZED or DAILY."""
    bootstrap(store)
    feed = FEED_V1 + "2025 2 30 2025.161 421.00\n"
    loaded = load_raw(spark, store, feed_text=feed)
    harmonize(spark, store)
    analytics(spark, store)
    for table in (P.HARMONIZED_TABLE, P.DAILY_TABLE):
        assert store.read(spark, table).filter(F.col("DATE").isNull()).count() == 0
    assert loaded == "Loaded 12 new rows"


def test_orchestrator_gating_and_history(spark, store):
    bootstrap(store)
    orch = Orchestrator(spark, store)
    res = orch.run(feed_text=FEED_V1)
    assert "complete" in res["analytics"]
    # second run with identical feed: loader reports no data; harmonize's
    # own single-action gate reports the empty stream; analytics skipped
    res2 = orch.run(feed_text=FEED_V1)
    assert res2["harmonized"] == "No data in stream to process"
    assert res2["analytics"] == "skipped (stream empty)"
    hist = orch.task_history()
    assert [h["status"] for h in hist] == ["SUCCEEDED"] * 5
    # run log persisted as a table (one buffered append per DAG run)
    assert store.read(spark, "analytics_co2._run_log").count() == 5

    orch.suspend()
    assert orch.run(feed_text=FEED_V1) == {"status": "suspended"}


def test_minmax_cache(spark, store):
    bootstrap(store)
    load_raw(spark, store, feed_text=FEED_V1)
    harmonize(spark, store)
    row = store.read(spark, P.MINMAX_TABLE).first()
    assert row["MIN_CO2"] == 418.50
    assert row["MAX_CO2"] == 419.80


def test_minmax_fold_matches_full_aggregate(spark, store):
    """harmonize folds _CO2_MINMAX from the new version's footer stats; it
    must equal a full MIN/MAX aggregate after a merge that lowers the row
    holding the max (its old file is rewritten, the other carried) and
    after one that writes a NaN reading (no usable footer stats: the
    aggregate fallback)."""
    import math

    bootstrap(store)
    for feed in (FEED_V1, FEED_V2):
        load_raw(spark, store, feed_text=feed)
        harmonize(spark, store)
    log = Changelog(store, P.RAW_TABLE)
    jan15 = parse_feed_text(spark, FEED_V2).filter(F.col("DAY") == 15)

    def harmonize_row(co2):
        log.append(jan15.withColumn("CO2_PPM", F.lit(co2)), partition_by=["YEAR"])
        harmonize(spark, store)
        stats = store.file_bounds(store.data_path(P.HARMONIZED_TABLE), ["CO2_PPM"])
        got = tuple(store.read(spark, P.MINMAX_TABLE).first())
        want = tuple(
            store.read(spark, P.HARMONIZED_TABLE)
            .agg(F.min("CO2_PPM"), F.max("CO2_PPM"))
            .first()
        )
        return [s["CO2_PPM"] for s in stats.values()], got, want

    stats, got, want = harmonize_row(419.0)  # the max, 420.15, drops
    assert None not in stats and len(stats) > 1
    assert got == want == (418.5, 420.0)
    stats, got, want = harmonize_row(float("nan"))
    assert None in stats
    assert got[0] == want[0] == 418.5 and math.isnan(got[1]) and math.isnan(want[1])


def test_orchestrator_auto_compaction(spark, store):
    """Fragmented changelogs trigger the maintenance stage; pipeline
    semantics (offsets, replay gating) survive the rewrite."""
    import os

    bootstrap(store)
    orch = Orchestrator(spark, store, compact_after_files=1)
    orch.run(feed_text=FEED_V1)
    res = orch.run(feed_text=FEED_V2)  # 2nd append fragments past the gate
    assert "files_before" in res.get("maintenance", "")
    # changelog is embedded in RAW: compaction rewrites RAW itself, keeping
    # the YEAR partition layout
    data_dir = store.data_path("raw_co2.co2_data")
    n_files = sum(1 for r, _, fs in os.walk(data_dir) for f in fs if f.endswith(".parquet"))
    assert n_files == 1
    assert any(e.startswith("YEAR=") for e in os.listdir(data_dir))
    # stream gate still holds after compaction: nothing new -> skip
    res3 = orch.run(feed_text=FEED_V2)
    assert res3["harmonized"] == "No data in stream to process"
    assert store.read(spark, P.HARMONIZED_TABLE).count() == 14


# in-bounds increment (418.60, 419.70 ∈ [418.50, 419.80]) — exercises the
# churn-proportional path; FEED_V2's 420.x values move the max and exercise
# the bounds-moved full fallback
FEED_V1B = FEED_V1 + """2025 1 14 2025.036 418.60
2025 1 15 2025.038 419.70
"""
FEED_V1C = FEED_V1B + """2025 1 16 2025.041 420.40
"""


def _stats_snapshot(spark, store):
    daily = sorted(
        tuple(r)
        for r in store.read(spark, P.DAILY_TABLE)
        .drop("META_UPDATED_AT")
        .collect()
    )
    weekly = sorted(
        tuple(r)
        for r in store.read(spark, P.WEEKLY_TABLE)
        .drop("META_UPDATED_AT")
        .collect()
    )
    return daily, weekly


def test_incremental_analytics_matches_full(spark, tmp_path):
    """analytics_incremental must produce byte-identical stats to the full
    recompute across: first run (full), in-bounds increment (incremental
    path), and a bounds-moving increment (full fallback)."""
    from incremental_datapipeline_using_snowflake_spark.operators import TableStore

    inc_store = TableStore(root=str(tmp_path / "inc"))
    full_store = TableStore(root=str(tmp_path / "full"))
    bootstrap(inc_store)
    bootstrap(full_store)

    msgs = []
    for feed in (FEED_V1, FEED_V1B, FEED_V1C):
        load_raw(spark, inc_store, feed_text=feed)
        harmonize(spark, inc_store)
        msgs.append(P.analytics_incremental(spark, inc_store))

        load_raw(spark, full_store, feed_text=feed)
        harmonize(spark, full_store)
        analytics(spark, full_store)

        assert _stats_snapshot(spark, inc_store) == _stats_snapshot(spark, full_store)

    assert "full: first run" in msgs[0]
    assert msgs[1].endswith("(incremental)")
    assert "full: bounds moved" in msgs[2]

    # drained: nothing pending -> no-op
    assert P.analytics_incremental(spark, inc_store) == "No data in stream to process"


def test_incremental_analytics_never_outruns_harmonize(spark, store):
    """Analytics' pending window is capped at harmonize's committed offset:
    rows loaded but not yet harmonized must neither be processed nor have
    the analytics offset advance past them."""
    bootstrap(store)
    load_raw(spark, store, feed_text=FEED_V1)
    # harmonize has NOT run: analytics sees an empty (capped) window
    assert P.analytics_incremental(spark, store) == "No data in stream to process"
    assert not store.exists(P.DAILY_TABLE)
    harmonize(spark, store)
    msg = P.analytics_incremental(spark, store)
    assert "complete" in msg
    # 12 dates: the bad_value row keeps its DATE with NULL CO2
    assert store.read(spark, P.DAILY_TABLE).count() == 12


def test_harmonize_failed_merge_leaves_no_cache(spark, store, monkeypatch):
    """A merge that raises must not leak a cached copy of the pending
    window into the session (the gate is a metadata check; nothing is
    cached on any path)."""
    bootstrap(store)
    load_raw(spark, store, feed_text=FEED_V1)
    spark.catalog.clearCache()

    def broken_merge(*args, **kwargs):
        raise RuntimeError("merge failed")

    monkeypatch.setattr(P, "merge_upsert", broken_merge)
    with pytest.raises(RuntimeError, match="merge failed"):
        harmonize(spark, store)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_harmonize_gate_scans_while_append_in_flight(spark, store, monkeypatch, next_job_id):
    """Fault injection: an append lands its rows and dies before its
    metadata commit, leaving ``in_flight`` set and ``next_base`` stale.
    The metadata gate cannot vouch for the high-water mark then, so
    harmonize scans and still merges the landed rows. Once an append
    commits clean metadata, a no-op run's harmonize starts no job."""
    bootstrap(store)
    orch = Orchestrator(spark, store)
    orch.run(feed_text=FEED_V1)
    log = Changelog(store, P.RAW_TABLE)
    stale = log._read_meta()

    real_write = Changelog._write_meta
    calls = []

    def crash_after_rows_land(self, meta):
        calls.append(meta)
        if len(calls) == 2:  # the post-write commit of next_base
            raise RuntimeError("died after rows landed")
        real_write(self, meta)

    monkeypatch.setattr(Changelog, "_write_meta", crash_after_rows_land)
    with pytest.raises(RuntimeError, match="died after rows landed"):
        load_raw(spark, store, feed_text=FEED_V2)
    monkeypatch.undo()
    meta = log._read_meta()
    assert meta["next_base"] == stale["next_base"] and meta["in_flight"] is not None
    # the metadata mark is stale; the gate finds the landed rows by a scan
    landed = store.read(spark, P.RAW_TABLE).agg(F.max("_row_id")).first()[0]
    assert landed >= meta["next_base"]
    assert log.high_water(log.pending(spark, "harmonize")) == landed

    assert harmonize(spark, store) == "CO2 data harmonization complete"
    assert store.read(spark, P.HARMONIZED_TABLE).count() == 14

    # the next append recovers the mark and commits clean metadata (the
    # stale watermark re-ingests the two days; the DATE merge absorbs them)
    orch.run(feed_text=FEED_V2)
    assert log._read_meta()["in_flight"] is None
    assert store.read(spark, P.HARMONIZED_TABLE).count() == 14

    jobs = []
    real_harmonize = P.harmonize

    def counted(*args, **kwargs):
        j0 = next_job_id()
        try:
            return real_harmonize(*args, **kwargs)
        finally:
            jobs.append(next_job_id() - j0)

    monkeypatch.setattr(P, "harmonize", counted)
    res = orch.run(feed_text=FEED_V2)
    assert res["harmonized"] == "No data in stream to process"
    assert jobs == [0]


# Spark jobs one orchestrator run may start, by new days in the feed
# (measured on pyspark 4.1.2; the previous engine started 42 and 8, then 19
# and 1 before the run log and the min/max cache were written on the
# driver). The check allows 1 more: asynchronous broadcast jobs vary by one.
NIGHT_JOB_BUDGET = {1: 17, 0: 0}


def test_orchestrator_run_job_budget(spark, store, next_job_id):
    """A 1-day night (in-bounds: the incremental analytics path) and a
    0-day night stay within their pinned job budgets."""
    bootstrap(store)
    orch = Orchestrator(spark, store)
    orch.run(feed_text=FEED_V1)
    got = {}
    for days, feed in ((1, FEED_V1 + "2025 1 14 2025.036 418.60\n"),
                       (0, FEED_V1 + "2025 1 14 2025.036 418.60\n")):
        j0 = next_job_id()
        res = orch.run(feed_text=feed)
        got[days] = next_job_id() - j0
        assert (res["analytics"] == "skipped (stream empty)") == (days == 0)
        if days:
            assert res["analytics"].endswith("(incremental)")
    for days, budget in NIGHT_JOB_BUDGET.items():
        assert got[days] <= budget + 1, (days, got[days])
    # nothing new: the parse and the watermark gate run on the driver
    j0 = next_job_id()
    assert load_raw(spark, store, feed_text=feed) == "No new data to load"
    assert next_job_id() == j0
