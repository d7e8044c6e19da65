"""Structured Streaming surface: changelog readStream drain (checkpoint =
stream offset), and event-time window operators cross-checked between the
gaps-and-islands rewrite and Spark's native session_window."""

from __future__ import annotations

from pyspark.sql import functions as F

from incremental_datapipeline_using_snowflake_spark.operators import Changelog
from incremental_datapipeline_using_snowflake_spark.plans import bootstrap, load_raw
from incremental_datapipeline_using_snowflake_spark.streaming import (
    session_stats_batch,
    session_window_streaming,
    stream_harmonize,
    tumbling_window_agg,
)

FEED_V1 = """# header
2025 1 1 2025.000 418.50
2025 1 2 2025.003 418.65
2025 1 3 2025.005 418.75
"""

FEED_V2 = FEED_V1 + """2025 1 4 2025.008 419.10
2025 1 5 2025.011 419.25
"""


def test_stream_harmonize_incremental(spark, store, tmp_path):
    """Two scheduled drains: the checkpoint must carry the offset so the
    second run only merges the incremental batch; an empty backlog is a
    no-op (C3 gate)."""
    ckpt = str(tmp_path / "ckpt")
    bootstrap(store)

    load_raw(spark, store, feed_text=FEED_V1)
    msg = stream_harmonize(spark, store, ckpt)
    assert "complete" in msg
    harm = store.read(spark, "harmonized_co2.harmonized_co2")
    assert harm.count() == 3

    # A2 parity: the drain refreshes the scalar min/max cache like batch SP2
    from incremental_datapipeline_using_snowflake_spark.plans.pipeline import MINMAX_TABLE

    mm = store.read(spark, MINMAX_TABLE).first()
    assert (mm["MIN_CO2"], mm["MAX_CO2"]) == (418.50, 418.75)

    # incremental batch -> only 2 new rows flow; total 5, no duplicates
    load_raw(spark, store, feed_text=FEED_V2)
    msg = stream_harmonize(spark, store, ckpt)
    assert "complete" in msg
    harm = store.read(spark, "harmonized_co2.harmonized_co2")
    assert harm.count() == 5
    assert harm.select("DATE").distinct().count() == 5
    mm = store.read(spark, MINMAX_TABLE).first()
    assert (mm["MIN_CO2"], mm["MAX_CO2"]) == (418.50, 419.25)

    # nothing pending: the file source sees no new files
    msg = stream_harmonize(spark, store, ckpt)
    assert msg == "No data in stream to process"
    assert store.read(spark, "harmonized_co2.harmonized_co2").count() == 5


def test_stream_harmonize_cache_failure_keeps_harmonized_whole(
    spark, store, tmp_path, monkeypatch
):
    """The drain's HARMONIZED merge and its _CO2_MINMAX refresh publish
    together: when the cache write raises during a drain that has new
    rows, neither HARMONIZED's version pointer nor the cache row moves,
    and a clean rerun merges the rows and refreshes the cache."""
    import pytest

    from incremental_datapipeline_using_snowflake_spark.operators import table_store
    from incremental_datapipeline_using_snowflake_spark.plans.pipeline import (
        HARMONIZED_TABLE,
        MINMAX_TABLE,
    )

    ckpt = str(tmp_path / "ckpt")
    bootstrap(store)
    load_raw(spark, store, feed_text=FEED_V1)
    assert "complete" in stream_harmonize(spark, store, ckpt)
    version = store.current_version(HARMONIZED_TABLE)
    load_raw(spark, store, feed_text=FEED_V2)

    def refusing(real):
        def overwrite(self, df, name, *args, **kwargs):
            if name == MINMAX_TABLE:
                raise OSError("min/max cache write failed")
            return real(self, df, name, *args, **kwargs)

        return overwrite

    for cls in (table_store.TableStore, table_store._StagedTransaction):
        monkeypatch.setattr(cls, "overwrite", refusing(cls.overwrite))
    with pytest.raises(Exception, match="min/max cache write failed"):
        stream_harmonize(spark, store, ckpt)
    monkeypatch.undo()

    assert store.current_version(HARMONIZED_TABLE) == version
    assert tuple(store.read(spark, MINMAX_TABLE).first()) == (418.50, 418.75)
    assert "complete" in stream_harmonize(spark, store, ckpt)
    assert store.read(spark, HARMONIZED_TABLE).count() == 5
    assert tuple(store.read(spark, MINMAX_TABLE).first()) == (418.50, 419.25)


def test_orchestrator_streaming_mode(spark, store, tmp_path):
    """The full DAG with SP2 as a streaming drain: incremental runs,
    empty-feed run skips analytics via the drain's zero-batch gate."""
    from incremental_datapipeline_using_snowflake_spark.plans import Orchestrator, bootstrap

    bootstrap(store)
    # compact_after_files=1 fires compaction every run. The file-source
    # checkpoint tracks consumed files by path, so each rewrite makes the
    # next drain replay the whole changelog — the drain's named-offset
    # filter must merge NOTHING from the replay and keep the gate honest.
    orch = Orchestrator(
        spark,
        store,
        streaming_harmonize=True,
        checkpoint_dir=str(tmp_path / "ck"),
        compact_after_files=1,
    )
    r1 = orch.run(feed_text=FEED_V1)
    assert "complete" in r1["harmonized"] and "complete" in r1["analytics"]
    daily1 = {
        r["DATE"]: r["META_UPDATED_AT"]
        for r in store.read(spark, "analytics_co2.daily_co2_stats").collect()
    }
    assert len(daily1) == 3

    r2 = orch.run(feed_text=FEED_V2)  # incremental on top of a compaction
    assert "complete" in r2["harmonized"]
    assert store.read(spark, "analytics_co2.daily_co2_stats").count() == 5

    r3 = orch.run(feed_text=FEED_V2)  # nothing new (but files were rewritten)
    assert r3["raw"] == "No new data to load"
    # replayed post-compaction files merge zero rows -> honest empty gate
    assert r3["harmonized"] == "No data in stream to process"
    assert r3["analytics"] == "skipped (stream empty)"
    assert store.read(spark, "analytics_co2.daily_co2_stats").count() == 5
    # maintenance ran at least once across the runs (fragmented -> rewrite)
    assert any("files_before" in r.get("maintenance", "") for r in (r1, r2, r3))


def test_noaa_datasource_landing_zone(spark, tmp_path):
    """S1 at-scale path: feed files landed in an object-store directory,
    read through ``format("noaa_feed")`` with the same line parser as the
    in-memory parse."""
    from incremental_datapipeline_using_snowflake_spark.sources.noaa_datasource import (
        NoaaFeedDataSource,
    )
    from incremental_datapipeline_using_snowflake_spark.sources.noaa_feed import (
        parse_feed_text,
    )

    spark.dataSource.register(NoaaFeedDataSource)
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "feed1.txt").write_text(FEED_V1)
    (landing / "feed2.txt").write_text("2025 1 4 2025.008 419.10\n")
    # hidden files a writer leaves behind are skipped, as Spark's file sources do
    (landing / ".feed1.txt.crc").write_bytes(b"crc\x00\xff")
    (landing / "_SUCCESS").write_text("2025 1 9 2025.022 419.30\n")

    got = spark.read.format("noaa_feed").option("path", str(landing)).load()
    assert got.count() == 4
    mem = parse_feed_text(spark, FEED_V1)
    assert sorted(r["CO2_PPM"] for r in got.collect() if r["DAY"] <= 3) == sorted(
        r["CO2_PPM"] for r in mem.collect()
    )


def test_session_rewrite_matches_native_session_window(spark, sf_dir):
    """The batch gaps-and-islands sessionization must produce the same
    session bounds/counts as Spark's native F.session_window."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))

    ours = (
        session_stats_batch(ev, "ts", "user_id", 1800)
        .select("user_id", "session_start", "session_end", "n_events")
        .orderBy("user_id", "session_start")
    )
    native = (
        session_window_streaming(
            ev, "ts", "user_id", "30 minutes", [F.count(F.lit(1)).alias("n_events")]
        )
        .select("user_id", "session_start", "session_end", "n_events")
        .orderBy("user_id", "session_start")
    )
    a, b = ours.collect(), native.collect()
    assert len(a) == len(b) > 0
    for ra, rb in zip(a, b):
        assert ra["user_id"] == rb["user_id"]
        assert ra["session_start"] == rb["session_start"]
        assert ra["n_events"] == rb["n_events"]
        # native session_window's end = last_event + gap; ours = last event
        assert rb["session_end"] >= ra["session_end"]


def test_tumbling_window_covers_all_events(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    out = tumbling_window_agg(
        ev, "ts", "6 hours", [F.count(F.lit(1)).alias("n_events")]
    )
    total = out.agg(F.sum("n_events")).first()[0]
    assert total == ev.count()
    # windows are exactly 6h wide — interval arithmetic works for both
    # TIMESTAMP and TIMESTAMP_NTZ (a cast to long does not)
    bad = out.filter(
        (F.col("window_end") - F.col("window_start"))
        != F.expr("INTERVAL '21600' SECOND")
    ).count()
    assert bad == 0


def test_watermarked_dedup_across_micro_batches(spark, tmp_path):
    """A key duplicated across two micro-batches (within the watermark
    horizon) is emitted exactly once; batch twin agrees."""
    import os

    from incremental_datapipeline_using_snowflake_spark.streaming.windows import (
        watermarked_dedup,
    )

    data_dir = str(tmp_path / "wd_data")
    os.makedirs(data_dir)
    batches = [
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:00:10")],
        [(1, "2024-01-01 10:00:20"), (3, "2024-01-01 10:00:30")],  # key 1 repeats
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "key long, ts_s string").withColumn(
            "ts", F.to_timestamp("ts_s")
        ).drop("ts_s").coalesce(1).write.parquet(os.path.join(data_dir, f"b{i}"))

    src = (
        spark.readStream.schema("key long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(data_dir)
    )
    sink: list = []
    q = (
        watermarked_dedup(src, ["key"], "ts", "10 minutes")
        .writeStream.outputMode("append")
        .foreachBatch(lambda bdf, bid: sink.append(bdf.collect()))
        .option("checkpointLocation", str(tmp_path / "wd_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r["key"] for rows in sink for r in rows)
    assert got == [1, 2, 3]

    batch_df = spark.read.schema("key long, ts timestamp").option(
        "recursiveFileLookup", "true"
    ).parquet(data_dir)
    assert sorted(
        r["key"] for r in watermarked_dedup(batch_df, ["key"], "ts", "10 minutes").collect()
    ) == [1, 2, 3]


def test_stream_stream_interval_join_matches_batch_twin(spark, tmp_path):
    """views->purchase attribution within 60s, streamed in two micro-batches
    per side, equals the same operator applied to batch frames."""
    import os

    from incremental_datapipeline_using_snowflake_spark.streaming.windows import (
        stream_stream_interval_join,
    )

    vdir, pdir = str(tmp_path / "views"), str(tmp_path / "purch")
    os.makedirs(vdir), os.makedirs(pdir)
    views = [
        [(1, "2024-01-01 10:00:00", "v1"), (2, "2024-01-01 10:00:05", "v2")],
        [(1, "2024-01-01 10:02:00", "v3")],
    ]
    purchases = [
        [(1, "2024-01-01 10:00:30", 9.99)],               # joins v1 (30s lag)
        [(2, "2024-01-01 10:01:30", 5.0),                 # outside 60s of v2
         (1, "2024-01-01 10:02:10", 1.0)],                # joins v3 (10s lag)
    ]
    for d, bs, sch in ((vdir, views, "user_id long, ts_s string, view_id string"),
                       (pdir, purchases, "user_id long, ts_s string, amount double")):
        for i, rows in enumerate(bs):
            spark.createDataFrame(rows, sch).withColumn(
                "ts", F.to_timestamp("ts_s")
            ).drop("ts_s").coalesce(1).write.parquet(os.path.join(d, f"b{i}"))

    vschema, pschema = "user_id long, view_id string, ts timestamp", "user_id long, amount double, ts timestamp"
    vs = (spark.readStream.schema(vschema).option("maxFilesPerTrigger", "1")
          .option("recursiveFileLookup", "true").parquet(vdir))
    ps = (spark.readStream.schema(pschema).option("maxFilesPerTrigger", "1")
          .option("recursiveFileLookup", "true").parquet(pdir))
    joined = stream_stream_interval_join(
        ps, vs, key="user_id", left_ts="ts", right_ts="ts",
        max_lag_seconds=60, watermark="10 minutes",
    )
    sink: list = []
    q = (joined.writeStream.outputMode("append")
         .foreachBatch(lambda bdf, bid: sink.append(bdf.collect()))
         .option("checkpointLocation", str(tmp_path / "ssj_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    stream_got = sorted((r["user_id"], r["view_id"], r["amount"]) for rows in sink for r in rows)

    vb = spark.read.schema(vschema).option("recursiveFileLookup", "true").parquet(vdir)
    pb = spark.read.schema(pschema).option("recursiveFileLookup", "true").parquet(pdir)
    batch_got = sorted(
        (r["user_id"], r["view_id"], r["amount"])
        for r in stream_stream_interval_join(
            pb, vb, key="user_id", left_ts="ts", right_ts="ts",
            max_lag_seconds=60, watermark="10 minutes",
        ).collect()
    )
    assert stream_got == batch_got == [(1, "v1", 9.99), (1, "v3", 1.0)]


def test_changelog_stream_bounded_backfill(spark, tmp_path):
    """maxFilesPerTrigger bounds each micro-batch during a backlog drain —
    the knob that keeps a month-long backlog from becoming one giant
    micro-batch on a production restart. All rows still arrive exactly
    once across the (now multiple) batches."""
    from incremental_datapipeline_using_snowflake_spark.operators import TableStore
    from incremental_datapipeline_using_snowflake_spark.operators.changelog import Changelog
    from incremental_datapipeline_using_snowflake_spark.session import local_rows_df

    store = TableStore(root=str(tmp_path / "wh"))
    store.create_namespace("ns")
    log = Changelog(store, "ns.t")
    for i in range(4):  # 4 separate appends -> >= 4 files
        log.append(local_rows_df(spark, [(i, f"r{i}")], "k long, v string"), action="INSERT")

    src = (
        spark.readStream.schema(store.read(spark, log.log_table).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(store.data_path(log.log_table))
    )
    batches = []
    q = (
        src.writeStream.foreachBatch(
            lambda df, bid: batches.append(sorted(r["k"] for r in df.collect()))
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert len(batches) >= 4                      # backlog split, not one blob
    assert sorted(k for b in batches for k in b) == [0, 1, 2, 3]  # exactly once


def test_stream_harmonize_bounded_batches_offset_safe(spark, store, tmp_path):
    """maxFilesPerTrigger splits one backlog across several micro-batches,
    and the file source orders batches by mtime/path — NOT by _row_id. The
    drain must filter every batch against the offset snapshot taken at
    drain start and mirror only the running max AFTER the drain, so no
    batch's rows can be dropped by an earlier batch's high-water commit
    (r04 ADVICE, streaming/incremental.py:113)."""
    from incremental_datapipeline_using_snowflake_spark.operators import Changelog

    ckpt = str(tmp_path / "ckpt_bounded")
    bootstrap(store)
    # two separate appends -> at least two parquet files pending
    load_raw(spark, store, feed_text=FEED_V1)
    load_raw(spark, store, feed_text=FEED_V2)
    msg = stream_harmonize(
        spark, store, ckpt, max_files_per_trigger=1
    )
    assert "complete" in msg
    harm = store.read(spark, "harmonized_co2.harmonized_co2")
    assert harm.count() == 5  # all 5 distinct dates merged, none dropped
    assert harm.select("DATE").distinct().count() == 5
    # named offset mirrors the true consumed high-water mark
    log = Changelog(store, "raw_co2.co2_data", embedded=True)
    committed = int(log._read_meta()["offsets"].get("harmonize", -1))
    hi = store.read(spark, log.log_table).agg(F.max("_row_id")).first()[0]
    assert committed == int(hi)
    # nothing pending afterwards
    assert stream_harmonize(spark, store, ckpt) == "No data in stream to process"


def test_constraint_gated_stream_blocks_poisoned_batch(spark, tmp_path):
    """ops.quality.constraint_gated on a foreachBatch drain: clean batches
    flow to the sink; a batch violating the rules fails the query before
    the sink sees it, and the checkpoint does not advance past it."""
    import pyspark.sql.utils as _u
    import pytest as _pytest

    from incremental_datapipeline_using_snowflake_spark.ops.quality import (
        Rules,
        constraint_gated,
    )
    from incremental_datapipeline_using_snowflake_spark.streaming.incremental import (
        run_available_now,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame([(1, 5.0), (2, 6.0)], "id long, v double").write.parquet(src)

    seen: list[int] = []
    rules = Rules(not_null=["v"], ranges={"v": (0.0, None)})

    def sink(batch_df, batch_id):
        seen.append(batch_df.count())

    stream = spark.readStream.schema("id long, v double").parquet(src)
    n = run_available_now(stream, ckpt, constraint_gated(sink, rules, id_col="id"))
    assert n == 1 and seen == [2]

    # poisoned append: NULL v -> the gate must fail the query, sink unseen
    spark.createDataFrame([(3, None)], "id long, v double").write.mode("append").parquet(src)
    with _pytest.raises(Exception, match="constraint violations|StreamingQuery"):
        run_available_now(
            spark.readStream.schema("id long, v double").parquet(src),
            ckpt,
            constraint_gated(sink, rules, id_col="id"),
        )
    assert seen == [2]  # nothing new reached the sink

    # fix upstream (rewrite the bad file away) is out of scope here; the
    # key property is checkpoint non-advancement: a clean retry with the
    # same checkpoint still sees the poisoned file and fails again
    with _pytest.raises(Exception):
        run_available_now(
            spark.readStream.schema("id long, v double").parquet(src),
            ckpt,
            constraint_gated(sink, rules, id_col="id"),
        )
    assert seen == [2]


def test_stream_ingest_ivf_index(spark, tmp_path):
    """r06: a vector stream drains into a stored IVF index one micro-batch
    at a time (foreachBatch + batch markers); after the drain the index
    holds corpus+stream and a planted twin ranks first. Re-running the
    drain with the same checkpoint appends nothing (idempotent)."""
    import os
    import random

    from incremental_datapipeline_using_snowflake_spark.operators import TableStore
    from incremental_datapipeline_using_snowflake_spark.ops import similarity as S

    rng = random.Random(13)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(80)]
    corpus = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    store = TableStore(root=str(tmp_path / "store"))
    S.build_ivf_index(spark, store, corpus, "idx.s", n_cells=8)

    data_dir = str(tmp_path / "stream_data")
    os.makedirs(data_dir)
    batches = [
        [(1000 + i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(10)],
        [(2005, [x * 1.001 for x in vecs[5][1]])],  # twin of vec 5
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).coalesce(1).write.parquet(os.path.join(data_dir, f"b{i}"))

    src = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(data_dir)
    )
    q = S.stream_ingest_ivf(src, store, "idx.s", str(tmp_path / "ck"))
    q.awaitTermination()

    n_after = store.read(spark, "idx.s.assignments").count()
    assert n_after == 80 + 11
    queries = corpus.filter("vec_id = 5")
    top = S.query_ivf_index(spark, store, "idx.s", queries, k=3).collect()
    assert top[0]["nbr_id"] == 2005 and top[0]["rank"] == 1

    # replay with the same checkpoint: no new files -> no growth; and a
    # fresh checkpoint replaying the same files is fingerprint-skipped
    q2 = S.stream_ingest_ivf(src, store, "idx.s", str(tmp_path / "ck"))
    q2.awaitTermination()
    assert store.read(spark, "idx.s.assignments").count() == 91
    q3 = S.stream_ingest_ivf(src, store, "idx.s", str(tmp_path / "ck2"))
    q3.awaitTermination()
    assert store.read(spark, "idx.s.assignments").count() == 91

    # r07 (ADVICE): a SECOND stream with DIFFERENT data drains into the
    # same index. Its batch ids restart at 0 — under batch_id-keyed
    # markers these batches were silently skipped (data loss); content
    # fingerprints must let them through.
    data_dir2 = str(tmp_path / "stream_data2")
    os.makedirs(data_dir2)
    rows2 = [(3000 + i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(7)]
    spark.createDataFrame(
        rows2, "vec_id long, embedding array<double>"
    ).coalesce(1).write.parquet(os.path.join(data_dir2, "b0"))
    src2 = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(data_dir2)
    )
    q4 = S.stream_ingest_ivf(src2, store, "idx.s", str(tmp_path / "ck3"))
    q4.awaitTermination()
    assert store.read(spark, "idx.s.assignments").count() == 91 + 7
