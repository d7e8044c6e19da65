"""TableStore atomic swap, merge_upsert semantics, changelog offsets."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from incremental_datapipeline_using_snowflake_spark.operators import (
    Changelog,
    TableStore,
    merge_upsert,
)
from incremental_datapipeline_using_snowflake_spark.operators.merge import upsert_dataframe


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema=schema)


def test_table_store_roundtrip_and_overwrite(spark, store):
    df = _df(spark, [(1, "a"), (2, "b")], "id long, v string")
    store.overwrite(df, "ns.t1")
    assert store.exists("ns.t1")
    assert store.read(spark, "ns.t1").count() == 2
    store.overwrite(_df(spark, [(3, "c")], "id long, v string"), "ns.t1")
    out = store.read(spark, "ns.t1").collect()
    assert [(r["id"], r["v"]) for r in out] == [(3, "c")]
    assert store.current_version("ns.t1") == 2


def test_table_store_append_and_partitioning(spark, store):
    df = _df(spark, [(2020, 1.0), (2021, 2.0)], "YEAR int, v double")
    store.append(df, "ns.part", partition_by=["YEAR"])
    store.append(_df(spark, [(2022, 3.0)], "YEAR int, v double"), "ns.part", partition_by=["YEAR"])
    got = store.read(spark, "ns.part")
    assert got.count() == 3
    # partition pruning applies: filter on the partition column reads one dir
    assert got.filter(F.col("YEAR") == 2021).count() == 1


def test_writes_keep_the_recorded_partition_layout(spark, store):
    """An append or merge without ``partition_by`` into a partitioned table
    lands its rows in partition dirs, so reads see them; an explicit,
    different layout raises before any file is written."""
    schema = "YEAR int, v double"
    store.overwrite(_df(spark, [(2020, 1.0), (2021, 2.0)], schema), "ns.lay",
                    partition_by=["YEAR"])
    store.append(_df(spark, [(2022, 3.0)], schema), "ns.lay")
    merge_upsert(spark, store, "ns.lay", _df(spark, [(2023, 4.0)], schema), keys=["YEAR"])
    got = sorted(tuple(r) for r in store.read(spark, "ns.lay").select("YEAR", "v").collect())
    assert got == [(2020, 1.0), (2021, 2.0), (2022, 3.0), (2023, 4.0)]
    files = TableStore.data_files(store.data_path("ns.lay"))
    assert all(f.startswith("YEAR=") for f in files)

    for write in (
        lambda df: store.append(df, "ns.lay", partition_by=["v"]),
        lambda df: merge_upsert(spark, store, "ns.lay", df, keys=["YEAR"],
                                partition_by=["v"]),
    ):
        with pytest.raises(ValueError, match="partitioned by"):
            write(_df(spark, [(2024, 5.0)], schema))
    assert TableStore.data_files(store.data_path("ns.lay")) == files
    assert store.partitioning("ns.lay") == ["YEAR"]


def test_table_store_describe_and_comment(spark, store):
    """DESC TABLE / COMMENT ON TABLE parity (reference
    loading_data_sp/function.py:30, raw_co2_data.py:103-105)."""
    df = _df(spark, [(1, "a")], "id long, name string")
    store.overwrite(df, "ns.desc_t")
    desc = {r["col_name"]: r["data_type"] for r in store.describe(spark, "ns.desc_t").collect()}
    assert desc == {"id": "bigint", "name": "string"}

    assert store.get_comment("ns.desc_t") is None
    store.set_comment("ns.desc_t", "Raw CO2 readings")
    assert store.get_comment("ns.desc_t") == "Raw CO2 readings"
    # comment survives an overwrite (new version, same table)
    store.overwrite(df, "ns.desc_t")
    assert store.get_comment("ns.desc_t") == "Raw CO2 readings"

    import pytest

    with pytest.raises(FileNotFoundError):
        store.set_comment("ns.nope", "x")


def test_merge_upsert_update_insert(spark, store):
    target = _df(spark, [(1, 10.0, "x"), (2, 20.0, "y")], "k long, v double, tag string")
    store.overwrite(target, "ns.m")
    source = _df(spark, [(2, 99.0, "y2"), (3, 30.0, "z")], "k long, v double, tag string")
    stats = merge_upsert(spark, store, "ns.m", source, keys=["k"])
    assert stats == {"updated": 1, "inserted": 1}
    rows = {r["k"]: (r["v"], r["tag"]) for r in store.read(spark, "ns.m").collect()}
    assert rows == {1: (10.0, "x"), 2: (99.0, "y2"), 3: (30.0, "z")}


def test_merge_upsert_partial_update_cols(spark, store):
    """J2 pattern: update dict excludes helper columns."""
    target = _df(spark, [(1, 10.0, "keep")], "k long, v double, tag string")
    store.overwrite(target, "ns.m2")
    source = _df(spark, [(1, 77.0, "clobber")], "k long, v double, tag string")
    merge_upsert(spark, store, "ns.m2", source, keys=["k"], update_cols=["v"])
    row = store.read(spark, "ns.m2").first()
    assert (row["v"], row["tag"]) == (77.0, "keep")


def test_merge_upsert_idempotent(spark, store):
    target = _df(spark, [(1, 1.0)], "k long, v double")
    store.overwrite(target, "ns.m3")
    src = _df(spark, [(1, 5.0), (2, 6.0)], "k long, v double")
    merge_upsert(spark, store, "ns.m3", src, keys=["k"])
    first = sorted((r["k"], r["v"]) for r in store.read(spark, "ns.m3").collect())
    merge_upsert(spark, store, "ns.m3", src, keys=["k"])  # replay
    second = sorted((r["k"], r["v"]) for r in store.read(spark, "ns.m3").collect())
    assert first == second == [(1, 5.0), (2, 6.0)]


def test_upsert_dataframe_pure(spark):
    t = _df(spark, [(1, 1.0), (2, 2.0)], "k long, v double")
    s = _df(spark, [(2, 9.0), (3, 3.0)], "k long, v double")
    out = sorted((r["k"], r["v"]) for r in upsert_dataframe(t, s, ["k"]).collect())
    assert out == [(1, 1.0), (2, 9.0), (3, 3.0)]


def test_changelog_append_consume_commit(spark, store):
    log = Changelog(store, "ns.base")
    b1 = _df(spark, [(1,), (2,)], "id long")
    b2 = _df(spark, [(3,)], "id long")
    assert log.append(b1) == 2
    assert log.append(b2) == 1

    assert log.has_data(spark, "c1")
    pend = log.pending(spark, "c1")
    assert pend.count() == 3
    assert set(pend.columns) == {"id", "_action", "_row_id"}
    # ids strictly increase across batches
    ids = [r["_row_id"] for r in pend.orderBy("_row_id").collect()]
    assert ids == sorted(ids) and len(set(ids)) == 3

    hi = log.high_water(pend)
    assert hi == ids[-1]
    log.commit("c1", hi)
    assert not log.has_data(spark, "c1")

    # an independent consumer still sees everything
    assert log.pending(spark, "c2").count() == 3

    # new batch arrives -> only it is pending for c1
    log.append(_df(spark, [(4,)], "id long"))
    assert log.pending(spark, "c1").count() == 1


def test_changelog_ids_unique_across_wide_batches(spark, store):
    """mii = partitionId*2^33 + idx; a fixed per-batch span overflows at
    >=128 partitions. next_base now advances from the actual written max,
    so ids from a 200-partition batch never collide with the next batch."""
    log = Changelog(store, "ns.wide")
    wide = spark.range(0, 400).repartition(200).selectExpr("id")
    assert log.append(wide) == 400
    assert log.append(_df(spark, [(9001,), (9002,)], "id long")) == 2

    rows = log.pending(spark, "u").select("_row_id", "id").collect()
    ids = [r["_row_id"] for r in rows]
    assert len(ids) == 402 and len(set(ids)) == 402
    # batch 2's ids all sort after batch 1's (consumer-offset monotonicity)
    second = {r["_row_id"] for r in rows if r["id"] >= 9001}
    first = set(ids) - second
    assert min(second) > max(first)


def test_changelog_append_crash_guard(spark, store):
    """Rows landing without a _META.json commit (crash window) must not
    cause the next append to reuse their id range."""
    log = Changelog(store, "ns.crashy")
    assert log.append(_df(spark, [(1,), (2,)], "id long")) == 2
    # simulate the crash window: data from a second append is on disk, but
    # meta still holds the pre-append next_base with the write-ahead
    # in_flight marker set — exactly what a crash between the parquet write
    # and the final meta commit leaves behind
    meta_before = log._read_meta()
    assert log.append(_df(spark, [(3,), (4,)], "id long")) == 2
    meta_before["in_flight"] = meta_before["next_base"]
    log._write_meta(meta_before)

    assert log.append(_df(spark, [(5,)], "id long")) == 1
    ids = [r["_row_id"] for r in log.pending(spark, "u").collect()]
    assert len(ids) == 5 and len(set(ids)) == 5


def test_changelog_lost_meta_raises(spark, store):
    """A changelog that lost its ``_META.json`` no longer knows which row
    ids it minted or where its consumers stand: the next append raises
    naming the file and lands no row (defaults would re-mint a stored
    ``_row_id`` and rewind every consumer offset to -1)."""
    log = Changelog(store, "ns.lost")
    assert log.append(_df(spark, [(1,), (2,), (3,)], "id long")) == 3
    log.commit("c", log.high_water(log.pending(spark, "c")))
    os.remove(log._meta_path())
    with pytest.raises(FileNotFoundError, match="_META.json"):
        log.append(_df(spark, [(4,)], "id long"))
    assert sorted(r["id"] for r in store.read(spark, "ns.lost").collect()) == [1, 2, 3]


def test_compact_changelog_preserves_offsets(spark, store):
    """S12-adjacent maintenance: many micro-batch appends -> many small
    files; compaction must shrink the file count without disturbing ids,
    consumer offsets, or pending() semantics."""
    log = Changelog(store, "ns.compactme")
    for i in range(6):
        log.append(_df(spark, [(i * 10 + j,) for j in range(5)], "id long"))
    # consume half, then compact
    first_ids = sorted(
        r["_row_id"] for r in log.pending(spark, "c").select("_row_id").collect()
    )
    log.commit("c", first_ids[14])

    stats = store.compact(spark, log.table, sort_by=["_row_id"])
    assert stats["files_before"] >= 6
    assert stats["files_after"] < stats["files_before"]

    remaining = log.pending(spark, "c")
    assert remaining.count() == 15
    assert sorted(r["_row_id"] for r in remaining.collect()) == first_ids[15:]
    # ids still unique and appends continue from the compacted state
    assert log.append(_df(spark, [(999,)], "id long")) == 1
    all_ids = [r["_row_id"] for r in log.pending(spark, "never").collect()]
    assert len(all_ids) == len(set(all_ids)) == 31


def test_compact_partitioned_table(spark, store):
    df = _df(spark, [(2020 + i % 3, float(i)) for i in range(30)], "YEAR int, v double")
    store.append(df.repartition(10), "ns.frag", partition_by=["YEAR"])
    stats = store.compact(spark, "ns.frag", partition_by=["YEAR"])
    assert stats["files_after"] < stats["files_before"]
    got = store.read(spark, "ns.frag")
    assert got.count() == 30
    assert got.filter(F.col("YEAR") == 2021).count() == 10


def test_csv_sink_roundtrip(spark, tmp_path):
    """S7: CSV serialization sink — single-file parity mode and the
    parallel many-part default both round-trip through the S5 reader."""
    import os

    from incremental_datapipeline_using_snowflake_spark.sources.csv_source import (
        read_co2_csv,
        write_co2_csv,
    )

    df = _df(
        spark,
        [(2024, 1, d, 2024.0 + d / 365.0, 420.0 + d) for d in range(1, 11)],
        "YEAR int, MONTH int, DAY int, DECIMAL_DATE double, CO2_PPM double",
    )
    single = str(tmp_path / "single")
    write_co2_csv(df, single, single_file=True)
    csv_files = [f for f in os.listdir(single) if f.endswith(".csv")]
    assert len(csv_files) == 1  # reference's one-file-per-upload layout

    back = read_co2_csv(spark, single, pattern="*.csv")
    assert back.count() == 10
    assert sorted(r["DAY"] for r in back.collect()) == list(range(1, 11))
    assert back.schema == df.schema

    many = str(tmp_path / "many")
    write_co2_csv(df.repartition(4), many, single_file=False)
    assert read_co2_csv(spark, many, pattern="*.csv").count() == 10


def test_local_rows_df_single_partition(spark):
    """Metadata-sized local rows must land in ONE slice: coalesce(1) over a
    default-parallelism Python RDD serializes a worker roundtrip per slice
    (~4-5s of fixed overhead per action on local[32], measured round 3)."""
    from incremental_datapipeline_using_snowflake_spark.session import local_rows_df

    df = local_rows_df(spark, [("a", 1.0), ("b", 2.0)], "k string, v double")
    assert df.rdd.getNumPartitions() == 1
    assert df.count() == 2


def test_overwrite_crash_recovery(spark, tmp_path):
    """A crashed overwrite (version dir written, pointer never flipped)
    must be invisible to readers; the next overwrite allocates PAST the
    orphan dir (it cannot tell a crashed write from restore()-parked live
    history, so clobbering is never safe) and normal GC reaps the orphan a
    cycle later — the stage-and-swap ACID contract."""
    import os

    from incremental_datapipeline_using_snowflake_spark.operators import TableStore
    from incremental_datapipeline_using_snowflake_spark.session import local_rows_df

    store = TableStore(root=str(tmp_path))
    store.overwrite(local_rows_df(spark, [(1, "a")], "k long, v string"), "ns.t")
    # simulate a crash: the next version's files exist, pointer untouched
    crashed = os.path.join(store.table_dir("ns.t"), "v=000002")
    local_rows_df(spark, [(99, "crash")], "k long, v string").write.parquet(crashed)

    assert [r["v"] for r in store.read(spark, "ns.t").collect()] == ["a"]  # old version
    store.overwrite(local_rows_df(spark, [(2, "b")], "k long, v string"), "ns.t")
    assert [r["v"] for r in store.read(spark, "ns.t").collect()] == ["b"]
    assert store.current_version("ns.t") == 3  # allocated past the orphan
    # the orphan is reaped by the NEXT overwrite's GC cycle
    store.overwrite(local_rows_df(spark, [(3, "c")], "k long, v string"), "ns.t")
    assert store.versions("ns.t") == [3, 4]
    assert [r["v"] for r in store.read(spark, "ns.t").collect()] == ["c"]


def test_time_travel_versions_and_restore(spark, tmp_path):
    """Deeper retention gives readable history (VERSION AS OF), restore is
    a reversible pointer flip, and post-restore overwrites never clobber
    retained versions."""
    from incremental_datapipeline_using_snowflake_spark.operators import TableStore

    store = TableStore(root=str(tmp_path), keep_versions=3)
    name = "ns.t"
    for val in (1, 2, 3):
        store.overwrite(
            spark.createDataFrame([(val,)], "x long"), name
        )
    assert store.versions(name) == [1, 2, 3]
    assert store.read(spark, name).first()["x"] == 3
    assert store.read_version(spark, name, 1).first()["x"] == 1  # time travel

    store.restore(name, 1)
    assert store.read(spark, name).first()["x"] == 1
    # rolled-over version still retained -> restore is reversible
    assert store.read_version(spark, name, 3).first()["x"] == 3
    store.restore(name, 3)
    assert store.read(spark, name).first()["x"] == 3

    # post-restore overwrite allocates PAST retained history (v4), and GC
    # keeps the window
    store.restore(name, 1)
    store.overwrite(spark.createDataFrame([(4,)], "x long"), name)
    assert store.read(spark, name).first()["x"] == 4
    vs = store.versions(name)
    assert max(vs) == 4 and 1 in vs  # previous pointer version survives GC

    # GC'd version raises the documented error
    store2 = TableStore(root=str(tmp_path / "b"), keep_versions=2)
    for val in (1, 2, 3):
        store2.overwrite(spark.createDataFrame([(val,)], "x long"), "ns.u")
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError, match="not retained"):
        store2.read_version(spark, "ns.u", 1)


def test_append_schema_evolution(spark, tmp_path):
    """merge_schema=True widens the table: new columns readable across old
    AND new files (old rows NULL-extended), absent columns NULL-filled,
    and a fresh TableStore instance sees the evolved schema. Type changes
    and un-flagged drift raise."""
    import pytest as _pytest

    from incremental_datapipeline_using_snowflake_spark.operators import TableStore

    store = TableStore(root=str(tmp_path))
    name = "raw.evolving"
    store.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"), name)

    with _pytest.raises(ValueError, match="merge_schema=True"):
        store.append(
            spark.createDataFrame([(2, "b", 9.5)], "id long, v string, score double"),
            name,
        )
    store.append(
        spark.createDataFrame([(2, "b", 9.5)], "id long, v string, score double"),
        name,
        merge_schema=True,
    )
    got = {r["id"]: (r["v"], r["score"]) for r in store.read(spark, name).collect()}
    assert got == {1: ("a", None), 2: ("b", 9.5)}

    # appending a frame MISSING an evolved column NULL-fills it
    store.append(
        spark.createDataFrame([(3, "c")], "id long, v string"),
        name,
        merge_schema=True,
    )
    rows = store.read(spark, name).orderBy("id").collect()
    assert [r["score"] for r in rows] == [None, 9.5, None]

    # a fresh store instance (no warm cache) plans against the evolved schema
    fresh = TableStore(root=str(tmp_path))
    assert set(fresh.read(spark, name).columns) == {"id", "v", "score"}

    # same-name type change is always an error
    with _pytest.raises(ValueError, match="type changed"):
        store.append(
            spark.createDataFrame([(4, 7)], "id long, v long"), name, merge_schema=True
        )

    # a full overwrite resets evolution state (uniform schema again)
    store.overwrite(spark.createDataFrame([(9, "z")], "id long, v string"), name)
    assert set(store.read(spark, name).columns) == {"id", "v"}


def test_table_changes_between_versions(spark, tmp_path):
    """CDF diff of two retained versions: INSERT / DELETE / UPDATE_BEFORE /
    UPDATE_AFTER rows with values drawn from the right version."""
    from incremental_datapipeline_using_snowflake_spark.operators import TableStore

    store = TableStore(root=str(tmp_path), keep_versions=4)
    name = "ns.cdf"
    store.overwrite(
        spark.createDataFrame(
            [(1, "keep"), (2, "old"), (3, "gone")], "k long, v string"
        ),
        name,
    )
    store.overwrite(
        spark.createDataFrame(
            [(1, "keep"), (2, "new"), (4, "born")], "k long, v string"
        ),
        name,
    )
    ch = store.table_changes(spark, name, 1, 2, key_cols=["k"])
    got = sorted((r["k"], r["_action"], r["v"], r["_version"]) for r in ch.collect())
    assert got == [
        (2, "UPDATE_AFTER", "new", 2),
        (2, "UPDATE_BEFORE", "old", 1),
        (3, "DELETE", "gone", 1),
        (4, "INSERT", "born", 2),
    ]
    # unchanged keys (k=1) emit nothing; diff is churn-proportional
    assert ch.filter("k = 1").count() == 0


def test_transaction_commits_all_or_none(spark, tmp_path):
    """Multi-table publish: clean exit flips every pointer; an exception
    mid-block leaves every table at its pre-transaction version."""
    import pytest as _pytest

    from incremental_datapipeline_using_snowflake_spark.operators import TableStore

    store = TableStore(root=str(tmp_path))
    for t in ("ns.a", "ns.b"):
        store.overwrite(spark.createDataFrame([(0,)], "x long"), t)

    with store.transaction() as txn:
        txn.overwrite(spark.createDataFrame([(1,)], "x long"), "ns.a")
        txn.overwrite(spark.createDataFrame([(1,)], "x long"), "ns.b")
    assert store.read(spark, "ns.a").first()["x"] == 1
    assert store.read(spark, "ns.b").first()["x"] == 1

    with _pytest.raises(RuntimeError, match="boom"):
        with store.transaction() as txn:
            txn.overwrite(spark.createDataFrame([(2,)], "x long"), "ns.a")
            raise RuntimeError("boom")
    # pointer untouched, staged dir swept
    assert store.read(spark, "ns.a").first()["x"] == 1
    assert max(store.versions("ns.a")) == store.current_version("ns.a")


def test_transaction_crash_recovery_redoes_flips(spark, tmp_path, monkeypatch):
    """Crash injection: the process dies after the commit journal is
    written but before all pointers flip. recover() must redo the missing
    flips — no torn multi-table state survives."""
    from incremental_datapipeline_using_snowflake_spark.operators import TableStore
    from incremental_datapipeline_using_snowflake_spark.operators import (
        table_store as ts_mod,
    )

    store = TableStore(root=str(tmp_path))
    for t in ("ns.a", "ns.b"):
        store.overwrite(spark.createDataFrame([(0,)], "x long"), t)

    flips = {"n": 0}
    real_commit = TableStore._commit_version

    def crashing_commit(self, name, version):
        if flips["n"] >= 1:
            raise OSError("simulated crash after first pointer flip")
        flips["n"] += 1
        real_commit(self, name, version)

    monkeypatch.setattr(TableStore, "_commit_version", crashing_commit)
    try:
        with store.transaction() as txn:
            txn.overwrite(spark.createDataFrame([(1,)], "x long"), "ns.a")
            txn.overwrite(spark.createDataFrame([(1,)], "x long"), "ns.b")
    except OSError:
        pass
    monkeypatch.setattr(TableStore, "_commit_version", real_commit)

    # torn state on disk: one table flipped, the other not, journal present
    vals = {t: store.read(spark, t).first()["x"] for t in ("ns.a", "ns.b")}
    assert sorted(vals.values()) == [0, 1]
    assert any(os.listdir(os.path.join(str(tmp_path), "_txn")))

    recovered = TableStore(root=str(tmp_path))
    recovered.recover()
    assert recovered.read(spark, "ns.a").first()["x"] == 1
    assert recovered.read(spark, "ns.b").first()["x"] == 1
    assert not os.listdir(os.path.join(str(tmp_path), "_txn"))


def test_register_views_sql_entry(spark, store):
    """Raw-SQL entry point: warehouse tables become temp views a SQL
    script can query end-to-end (SURVEY §3.3 parity)."""
    from incremental_datapipeline_using_snowflake_spark.functions.sql_script import (
        run_sql_script,
    )

    store.overwrite(
        spark.createDataFrame([(1, 4.0), (2, 6.0)], "id long, v double"), "raw_co2.m"
    )
    store.overwrite(spark.createDataFrame([(1, "x")], "id long, tag string"), "analytics_co2.t")
    views = store.register_views(spark)
    assert views == ["analytics_co2__t", "raw_co2__m"]
    out = run_sql_script(
        spark,
        """
        -- script with a semicolon inside a literal; must not split
        SELECT ';' AS lit;
        SELECT sum(v) AS s FROM raw_co2__m JOIN analytics_co2__t USING (id);
        """,
    )
    assert out.first()["s"] == 4.0
    # namespace-scoped sweep
    assert store.register_views(spark, namespace="raw_co2") == ["raw_co2__m"]


def test_reader_in_flight_survives_overwrite(spark, store):
    """Stage-and-swap guarantee: a DataFrame planned against version N
    still collects correctly after an overwrite commits version N+1
    (keep_versions retains the previous pointer's version)."""
    name = "ns.inflight"
    store.overwrite(spark.createDataFrame([(1,)], "x long"), name)
    reader = store.read(spark, name)  # plan resolves v1's path now
    store.overwrite(spark.createDataFrame([(2,)], "x long"), name)
    assert reader.first()["x"] == 1  # old snapshot, still readable
    assert store.read(spark, name).first()["x"] == 2  # new pointer


def test_merge_upsert_shuffle_join_path(spark, store):
    """broadcast_source=False (source too big to broadcast): AQE plans
    shuffle joins keyed on the merge key; results identical to the
    broadcast plan."""
    name_a, name_b = "ns.m_bcast", "ns.m_shuffle"
    target = spark.createDataFrame(
        [(k, float(k)) for k in range(200)], "k long, v double"
    )
    source = spark.createDataFrame(
        [(k, float(k) * 10) for k in range(100, 300)], "k long, v double"
    )
    store.overwrite(target, name_a)
    store.overwrite(target, name_b)
    merge_upsert(spark, store, name_a, source, keys=["k"])
    merge_upsert(spark, store, name_b, source, keys=["k"], broadcast_source=False)
    a = sorted(tuple(r) for r in store.read(spark, name_a).collect())
    b = sorted(tuple(r) for r in store.read(spark, name_b).collect())
    assert a == b
    assert len(a) == 300  # 0..99 untouched, 100..199 updated, 200..299 inserted
    assert dict(a)[150] == 1500.0 and dict(a)[250] == 2500.0


def test_read_version_sees_evolved_schema(spark, tmp_path):
    """Time travel over a version holding mixed parquet footers (an
    evolving append landed new-column files next to old ones) must plan
    against the MERGED column set — a bare read samples one footer and can
    silently drop the evolved column (r04 ADVICE, table_store.py:228)."""
    from incremental_datapipeline_using_snowflake_spark.operators import TableStore

    store = TableStore(root=str(tmp_path))
    name = "ns.evolving"
    store.overwrite(spark.createDataFrame([(1, "a")], "k long, v string"), name)
    store.append(
        spark.createDataFrame([(2, "b", 9.5)], "k long, v string, extra double"),
        name,
        merge_schema=True,
    )
    v = store.current_version(name)
    got = store.read_version(spark, name, v)
    assert "extra" in got.columns
    rows = {r["k"]: r["extra"] for r in got.collect()}
    assert rows == {1: None, 2: 9.5}


def test_table_changes_across_schema_evolution(spark, tmp_path):
    """A column present in only ONE of the diffed versions still diffs:
    values appearing in the added column surface as UPDATEs (not silent
    no-ops), and diffing in the reverse direction doesn't raise on the
    old-side alias (r04 ADVICE, table_store.py:265)."""
    from incremental_datapipeline_using_snowflake_spark.operators import TableStore

    store = TableStore(root=str(tmp_path), keep_versions=4)
    name = "ns.evo_cdf"
    store.overwrite(spark.createDataFrame([(1, "x"), (2, "y")], "k long, v string"), name)
    store.overwrite(
        spark.createDataFrame([(1, "x", 1.5), (2, "y", None)],
                              "k long, v string, w double"),
        name,
    )
    ch = store.table_changes(spark, name, 1, 2, key_cols=["k"])
    by = {(r["k"], r["_action"]): (r["v"], r["w"]) for r in ch.collect()}
    # k=1: w went NULL -> 1.5 => UPDATE pair; k=2: w NULL -> NULL => unchanged
    assert by[(1, "UPDATE_BEFORE")] == ("x", None)
    assert by[(1, "UPDATE_AFTER")] == ("x", 1.5)
    assert (2, "UPDATE_AFTER") not in by
    # reverse direction: the column exists only on the OLD side — no
    # unresolved-alias AnalysisException, values surface as UPDATE_BEFORE
    rev = store.table_changes(spark, name, 2, 1, key_cols=["k"])
    rby = {(r["k"], r["_action"]): r["w"] for r in rev.collect()}
    assert rby[(1, "UPDATE_BEFORE")] == 1.5 and rby[(1, "UPDATE_AFTER")] is None
    # missing key column is a hard error, not NULL-joined garbage
    import pytest as _pytest

    with _pytest.raises(ValueError, match="key column"):
        store.table_changes(spark, name, 1, 2, key_cols=["nope"])


def test_orphan_staged_versions_not_served(spark, tmp_path):
    """A v= dir staged by a writer that died BEFORE its commit point is
    not committed data: versions() must not list it, read_version/restore
    must refuse it, and the next overwrite sweeps it (r04 ADVICE,
    table_store.py:208)."""
    import os

    import pytest as _pytest

    from incremental_datapipeline_using_snowflake_spark.operators import TableStore

    store = TableStore(root=str(tmp_path))
    name = "ns.orphaned"
    store.overwrite(spark.createDataFrame([(1,)], "x long"), name)
    # simulate the dying writer: a fully-staged dir, no pointer flip
    orphan_v = store.current_version(name) + 1
    spark.createDataFrame([(99,)], "x long").write.parquet(
        os.path.join(store.table_dir(name), f"v={orphan_v:06d}")
    )
    assert orphan_v not in store.versions(name)
    with _pytest.raises(FileNotFoundError):
        store.read_version(spark, name, orphan_v)
    with _pytest.raises(FileNotFoundError):
        store.restore(name, orphan_v)
    # next overwrite allocates PAST the orphan (no clobber) and sweeps it
    store.overwrite(spark.createDataFrame([(2,)], "x long"), name)
    assert store.current_version(name) > orphan_v
    assert not os.path.isdir(
        os.path.join(store.table_dir(name), f"v={orphan_v:06d}")
    )
    assert store.read(spark, name).first()["x"] == 2


def test_overwrite_crash_keeps_schema_pin(spark, tmp_path, monkeypatch):
    """Crash injection between staging and the pointer flip: the current
    version's schema record lives inside its own version dir, which a
    staged overwrite never touches, so the still-current mixed-footer
    version keeps reading its full evolved column set."""
    import json
    import os

    import pytest as _pytest

    from incremental_datapipeline_using_snowflake_spark.operators import TableStore
    from incremental_datapipeline_using_snowflake_spark.operators.table_store import (
        SCHEMA_RECORD,
    )

    store = TableStore(root=str(tmp_path))
    name = "ns.pinned"
    store.overwrite(spark.createDataFrame([(1, "a")], "k long, v string"), name)
    store.append(
        spark.createDataFrame([(2, "b", 7.0)], "k long, v string, extra double"),
        name,
        merge_schema=True,
    )
    with open(os.path.join(store.data_path(name), SCHEMA_RECORD)) as f:
        assert "extra" in [fld["name"] for fld in json.load(f)["fields"]]

    def crash(self, n, v):
        raise RuntimeError("died before flip")

    monkeypatch.setattr(TableStore, "_commit_version", crash)
    with _pytest.raises(RuntimeError, match="died before flip"):
        store.overwrite(spark.createDataFrame([(3, "c")], "k long, v string"), name)
    monkeypatch.undo()
    # record intact -> a FRESH store still reads the evolved column
    fresh = TableStore(root=str(tmp_path))
    assert "extra" in fresh.read(spark, name).columns
    # a clean overwrite's version carries its own record, without it
    store.overwrite(spark.createDataFrame([(4, "d")], "k long, v string"), name)
    assert fresh.read(spark, name).columns == ["k", "v"]


def test_transaction_same_table_twice_keeps_last(spark, tmp_path):
    """Two staged overwrites of the SAME table in one transaction: the
    later one wins and the earlier staged dir is not swept as an orphan
    mid-commit (gc runs only after every pointer flip)."""
    from incremental_datapipeline_using_snowflake_spark.operators import TableStore

    store = TableStore(root=str(tmp_path))
    name = "ns.twice"
    store.overwrite(spark.createDataFrame([(0,)], "x long"), name)
    with store.transaction() as txn:
        txn.overwrite(spark.createDataFrame([(1,)], "x long"), name)
        txn.overwrite(spark.createDataFrame([(2,)], "x long"), name)
    assert store.read(spark, name).first()["x"] == 2


def test_delete_update_where_and_purge(spark, tmp_path):
    """Standalone DML: DELETE/UPDATE rewrite atomically with
    Observation-carried counts, NULL predicates follow SQL three-valued
    logic (rows kept / untouched), and purge_versions erases retained
    history so a privacy delete cannot be resurrected."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from incremental_datapipeline_using_snowflake_spark.operators import TableStore
    from incremental_datapipeline_using_snowflake_spark.operators.merge import (
        delete_where,
        update_where,
    )

    store = TableStore(root=str(tmp_path), keep_versions=4)
    name = "ns.dml"
    store.overwrite(
        spark.createDataFrame(
            [(1, 10.0, "a"), (2, None, "b"), (3, 30.0, "a"), (4, 40.0, "b")],
            "k long, v double, g string",
        ),
        name,
    )
    # NULL predicate (v > 20 is NULL for k=2) keeps the row
    n = delete_where(spark, store, name, F.col("v") > 20)
    assert n == 2
    assert sorted(r["k"] for r in store.read(spark, name).collect()) == [1, 2]

    n = update_where(spark, store, name, F.col("v") > 5, {"g": F.lit("hit")})
    assert n == 1  # NULL v row untouched
    got = {r["k"]: r["g"] for r in store.read(spark, name).collect()}
    assert got == {1: "hit", 2: "b"}

    with _pytest.raises(ValueError, match="unknown column"):
        update_where(spark, store, name, F.lit(True), {"nope": F.lit(1)})

    # history still holds the deleted rows -> purge erases it
    assert len(store.versions(name)) == 3
    purged = store.purge_versions(name)
    assert purged == [1, 2]
    assert store.versions(name) == [store.current_version(name)]
    with _pytest.raises(FileNotFoundError):
        store.read_version(spark, name, 1)
    # table itself is intact after the purge
    assert store.read(spark, name).count() == 2


def test_purge_versions_removes_orphan_staged_dirs(spark, tmp_path, monkeypatch):
    """A writer that dies before its commit point leaves a staged dir no
    reader serves but whose files still hold its rows: a privacy purge
    removes it along with the retained history, leaving only the current
    version on disk."""
    store = TableStore(root=str(tmp_path), keep_versions=4)
    name = "ns.rtbf"
    for k in (1, 2):
        store.overwrite(_df(spark, [(k,)], "k long"), name)

    def crash(self, n, v):
        raise RuntimeError("died before flip")

    monkeypatch.setattr(TableStore, "_commit_version", crash)
    with pytest.raises(RuntimeError, match="died before flip"):
        store.overwrite(_df(spark, [(3,)], "k long"), name)
    monkeypatch.undo()
    current = store.current_version(name)
    orphans = [v for v in store._all_version_dirs(name) if v not in store.versions(name)]
    assert len(orphans) == 1

    assert store.purge_versions(name) == sorted([current - 1, *orphans])
    assert store._all_version_dirs(name) == store.versions(name) == [current]
    assert [r["k"] for r in store.read(spark, name).collect()] == [2]


def test_overwrite_partitions_links_untouched(spark, tmp_path):
    """A partition overwrite is an overwrite whose carried list names the
    files of every other partition, read off ``file_bounds``' partition
    values: replaced partitions come from the new frame, untouched
    partitions are HARDLINKED from the previous version (same inode —
    zero copy), and the result reads correctly."""
    store = TableStore(root=str(tmp_path))
    name = "ns.pover"
    base = spark.createDataFrame(
        [(2024, 1, 10.0), (2024, 2, 20.0), (2025, 1, 30.0)],
        "year int, k int, v double",
    ).coalesce(1)  # one file per partition
    store.overwrite(base, name, partition_by=["year"])
    v1_dir = store.data_path(name)
    bounds = store.file_bounds(v1_dir, ["year", "k"])
    assert sorted(b["year"] for b in bounds.values()) == [(2024, 2024), (2025, 2025)]
    assert {b["year"]: b["k"] for b in bounds.values()} == {
        (2024, 2024): (1, 2), (2025, 2025): (1, 1),
    }
    v1_inodes = _cow_inodes(store, name)

    repl = spark.createDataFrame([(2025, 1, 99.0), (2025, 2, 98.0)],
                                 "year int, k int, v double")
    kept = [f for f, b in bounds.items() if b["year"] != (2025, 2025)]
    store.overwrite(repl, name, partition_by=["year"], carried=kept)

    got = sorted(tuple(r) for r in store.read(spark, name).select("year", "k", "v").collect())
    assert got == [(2024, 1, 10.0), (2024, 2, 20.0), (2025, 1, 99.0), (2025, 2, 98.0)]
    assert store.data_path(name) != v1_dir
    v2_inodes = _cow_inodes(store, name)
    # untouched partition shared by inode
    assert {f: v2_inodes[f] for f in kept} == {f: v1_inodes[f] for f in kept}
    assert all(f.startswith("year=2025") for f in set(v2_inodes) - set(kept))


def test_merge_upsert_prune_partitions_equivalent(spark, tmp_path):
    """A merge keyed on the partition column (year, k) prunes by partition
    value: it equals the same merge into an unpartitioned table row for
    row, while only the churned partition is rewritten (untouched
    partition files keep their inodes across the new version). Staged in
    a transaction, it publishes together with another table's overwrite,
    and a crash inside the block moves neither pointer and leaves no
    staged dir."""
    from incremental_datapipeline_using_snowflake_spark.session import local_rows_df

    rows = [(y, k, float(k + y)) for y in (2023, 2024, 2025) for k in range(50)]
    source_rows = [(2025, k, 1000.0 + k) for k in range(25, 75)]  # updates + inserts

    full_store = TableStore(root=str(tmp_path / "full"))
    pruned_store = TableStore(root=str(tmp_path / "pruned"))
    target = spark.createDataFrame(rows, "year int, k int, v double")
    source = spark.createDataFrame(source_rows, "year int, k int, v double")
    full_store.overwrite(target, "ns.t")
    pruned_store.overwrite(target, "ns.t", partition_by=["year"])

    res_full = merge_upsert(spark, full_store, "ns.t", source, keys=["year", "k"])

    def inodes(part):
        pdir = os.path.join(pruned_store.data_path("ns.t"), part)
        return {f: os.stat(os.path.join(pdir, f)).st_ino
                for f in TableStore.data_files(pdir)}

    before_inodes = inodes("year=2023")
    res_pruned = merge_upsert(spark, pruned_store, "ns.t", source, keys=["year", "k"])
    assert (res_full["updated"], res_full["inserted"]) == (25, 25)
    assert (res_pruned["updated"], res_pruned["inserted"]) == (25, 25)
    a = sorted(tuple(r) for r in full_store.read(spark, "ns.t").select("year", "k", "v").collect())
    b = sorted(tuple(r) for r in pruned_store.read(spark, "ns.t").select("year", "k", "v").collect())
    assert a == b and len(a) == 175
    assert inodes("year=2023") == before_inodes  # 2023 not rewritten
    assert pruned_store.partitioning("ns.t") == ["year"]

    # the partition-keyed merge inside a transaction, next to a second
    # table's write
    def mm(x):
        return local_rows_df(spark, [(x,)], "hi double")

    pruned_store.overwrite(mm(0.0), "ns.mm")
    src2 = spark.createDataFrame([(2024, 3, 2003.0), (2024, 77, 2077.0)],
                                 "year int, k int, v double")

    def merge_txn(crash=False):
        with pruned_store.transaction("pm") as txn:
            merge_upsert(spark, pruned_store, "ns.t", src2, keys=["year", "k"], txn=txn)
            txn.overwrite(mm(2077.0), "ns.mm")
            if crash:
                raise RuntimeError("crash after staging")

    ptrs = {t: pruned_store.current_version(t) for t in ("ns.t", "ns.mm")}
    dirs = {t: pruned_store._all_version_dirs(t) for t in ptrs}
    untouched = {p: inodes(p) for p in ("year=2023", "year=2025")}
    with pytest.raises(RuntimeError, match="crash after staging"):
        merge_txn(crash=True)
    assert {t: pruned_store.current_version(t) for t in ptrs} == ptrs
    assert {t: pruned_store._all_version_dirs(t) for t in ptrs} == dirs
    merge_txn()
    assert all(pruned_store.current_version(t) > v for t, v in ptrs.items())
    assert pruned_store.read(spark, "ns.mm").collect()[0]["hi"] == 2077.0
    want = {(y, k): v for y, k, v in b} | {(2024, 3): 2003.0, (2024, 77): 2077.0}
    got = {(r["year"], r["k"]): r["v"] for r in pruned_store.read(spark, "ns.t").collect()}
    assert got == want
    assert {p: inodes(p) for p in untouched} == untouched


def test_partition_layout_recorded_and_preserved(spark, tmp_path):
    """The store records partition_by at overwrite; DML rewrites and
    compaction preserve the layout automatically (no caller re-statement);
    a plain full overwrite without partition_by clears it."""
    import os

    from pyspark.sql import functions as F

    from incremental_datapipeline_using_snowflake_spark.operators import TableStore
    from incremental_datapipeline_using_snowflake_spark.operators.merge import delete_where

    store = TableStore(root=str(tmp_path))
    name = "ns.layout"
    df = spark.createDataFrame(
        [(y, k, float(k)) for y in (2024, 2025) for k in range(10)],
        "year int, k int, v double",
    )
    store.overwrite(df, name, partition_by=["year"])
    assert store.partitioning(name) == ["year"]

    delete_where(spark, store, name, F.col("k") > 7)
    assert store.partitioning(name) == ["year"]
    assert os.path.isdir(os.path.join(store.data_path(name), "year=2024"))
    assert store.read(spark, name).count() == 16

    store.compact(spark, name)
    assert os.path.isdir(os.path.join(store.data_path(name), "year=2025"))

    # unpartitioned full rewrite clears the record
    store.overwrite(store.read(spark, name), name)
    assert store.partitioning(name) is None


def test_overwrite_partitions_crash_before_commit(spark, tmp_path, monkeypatch):
    """Crash injection: a partition-keyed merge that dies after its
    carried partition files are linked but before the pointer flip leaves
    the table untouched (old version still served, staged dir invisible)
    and the next merge sweeps the orphan."""
    store = TableStore(root=str(tmp_path))
    name = "ns.pcrash"
    schema = "year int, v double"
    store.overwrite(
        spark.createDataFrame([(2024, 1.0), (2025, 2.0)], schema),
        name, partition_by=["year"],
    )
    v_before = store.current_version(name)
    kept = _cow_inodes(store, name)

    def crash(self, n, v):
        raise RuntimeError("died before flip")

    monkeypatch.setattr(TableStore, "_commit_version", crash)
    with pytest.raises(RuntimeError, match="died before flip"):
        merge_upsert(spark, store, name, spark.createDataFrame([(2025, 99.0)], schema),
                     keys=["year"])
    monkeypatch.undo()

    assert store.current_version(name) == v_before
    got = {r["year"]: r["v"] for r in store.read(spark, name).collect()}
    assert got == {2024: 1.0, 2025: 2.0}  # old data intact
    staged = [v for v in store._all_version_dirs(name) if v not in store.versions(name)]
    assert len(staged) == 1  # the orphan exists on disk, with the carried link
    orphan = os.path.join(store.table_dir(name), f"v={staged[0]:06d}")
    linked = {f: os.stat(os.path.join(orphan, f)).st_ino
              for f in TableStore.data_files(orphan) if f.startswith("year=2024")}
    assert linked and all(kept[f] == ino for f, ino in linked.items())
    merge_upsert(spark, store, name, spark.createDataFrame([(2025, 50.0)], schema),
                 keys=["year"])
    # ...and is swept by the next successful commit's GC
    assert all(
        v in store.versions(name) for v in store._all_version_dirs(name)
    )
    got = {r["year"]: r["v"] for r in store.read(spark, name).collect()}
    assert got == {2024: 1.0, 2025: 50.0}


def test_clone_zero_copy_and_diverge(spark, tmp_path):
    """CREATE TABLE ... CLONE parity (r06): the clone hardlinks the source's
    current version (shared inodes, no data movement), copies metadata
    (layout marker, comment), then diverges independently — and the shared
    inodes keep the clone readable after the source is dropped."""
    import os

    from pyspark.sql import functions as F

    from incremental_datapipeline_using_snowflake_spark.operators import TableStore
    from incremental_datapipeline_using_snowflake_spark.operators.merge import update_where

    store = TableStore(root=str(tmp_path))
    df = spark.createDataFrame(
        [(y, k, float(k)) for y in (2024, 2025) for k in range(20)],
        "year int, k int, v double",
    )
    store.overwrite(df, "ns.src", partition_by=["year"])
    store.set_comment("ns.src", "the source")

    store.clone("ns.src", "ns.dup")
    assert store.read(spark, "ns.dup").count() == 40
    assert store.partitioning("ns.dup") == ["year"]
    assert store.get_comment("ns.dup") == "the source"

    def inodes(name):
        return {
            f: os.stat(os.path.join(r, f)).st_ino
            for r, _d, fs in os.walk(store.data_path(name))
            for f in fs if f.endswith(".parquet")
        }

    assert inodes("ns.dup") == inodes("ns.src")  # zero-copy

    # diverge the clone; source is untouched
    n = update_where(spark, store, "ns.dup", F.col("k") < 5, {"v": F.lit(-1.0)})
    assert n == 10
    assert store.read(spark, "ns.src").filter(F.col("v") < 0).count() == 0
    assert store.read(spark, "ns.dup").filter(F.col("v") < 0).count() == 10

    # clone-of-clone refusals
    import pytest as _pytest

    with _pytest.raises(ValueError, match="already exists"):
        store.clone("ns.src", "ns.dup")
    with _pytest.raises(FileNotFoundError, match="does not exist"):
        store.clone("ns.ghost", "ns.x")

    # dropping the source leaves the clone fully readable (shared inodes)
    store.drop("ns.src")
    assert store.read(spark, "ns.dup").count() == 40


def test_clone_rerun_after_crash_before_commit(spark, tmp_path, monkeypatch):
    """A clone that dies before its commit leaves an uncommitted version
    dir of hardlinks to the source's files. The rerun stages past it
    instead of linking onto the same inodes, commits, and its GC sweeps
    the orphan: the clone reads like the source and shares its inodes."""
    store = TableStore(root=str(tmp_path))
    df = spark.createDataFrame(
        [(y, k, float(k)) for y in (2024, 2025) for k in range(5)],
        "year int, k int, v double",
    )
    store.overwrite(df, "ns.src", partition_by=["year"])

    def crash(self, n, v):
        raise RuntimeError("died before flip")

    monkeypatch.setattr(TableStore, "_commit_version", crash)
    with pytest.raises(RuntimeError, match="died before flip"):
        store.clone("ns.src", "ns.dup")
    monkeypatch.undo()
    assert not store.exists("ns.dup") and store._all_version_dirs("ns.dup") == [1]

    store.clone("ns.src", "ns.dup")
    assert store._all_version_dirs("ns.dup") == [store.current_version("ns.dup")]
    assert sorted(store.read(spark, "ns.dup").collect()) == sorted(
        store.read(spark, "ns.src").collect()
    )
    assert store.partitioning("ns.dup") == ["year"]

    def inodes(name):
        d = store.data_path(name)
        return {f: os.stat(os.path.join(d, f)).st_ino for f in store.data_files(d)}

    assert inodes("ns.dup") == inodes("ns.src")


def test_timestamp_time_travel(spark, tmp_path):
    """AT (TIMESTAMP =>) parity (r06): reads resolve against the pointer-
    flip log, so restore() history is honored — a restored old version is
    what timestamp reads see after the restore instant."""
    import time

    import pytest as _pytest

    from incremental_datapipeline_using_snowflake_spark.operators import TableStore

    store = TableStore(root=str(tmp_path), keep_versions=4)
    name = "ns.tt"
    t_before = time.time()
    time.sleep(0.02)
    store.overwrite(spark.createDataFrame([(1,)], "v int"), name)
    time.sleep(0.02)
    t1 = time.time()
    time.sleep(0.02)
    store.overwrite(spark.createDataFrame([(2,)], "v int"), name)
    time.sleep(0.02)
    t2 = time.time()
    time.sleep(0.02)
    store.restore(name, 1)
    time.sleep(0.02)
    t3 = time.time()

    assert store.version_at_timestamp(name, t1) == 1
    assert store.version_at_timestamp(name, t2) == 2
    assert store.version_at_timestamp(name, t3) == 1  # restore honored
    assert store.read_at_timestamp(spark, name, t2).collect()[0][0] == 2
    assert store.read_at_timestamp(spark, name, t1).collect()[0][0] == 1
    with _pytest.raises(ValueError, match="no version existed"):
        store.version_at_timestamp(name, t_before)
    with _pytest.raises(FileNotFoundError, match="no pointer history"):
        store.version_at_timestamp("ns.ghost", t1)


def _inferred_schema(spark, version_dir):
    """What Spark infers from a version dir's own footers."""
    return spark.read.option("mergeSchema", "true").parquet(version_dir).schema


def test_schema_record_matches_footer_inference(spark, tmp_path, next_job_id):
    """Every version's schema record equals what inference over its
    footers reports: partition columns last, every field, array element
    and struct member nullable. Reads then plan from the record, so a
    fresh store, time travel and restore() start no Spark job."""
    store = TableStore(root=str(tmp_path), keep_versions=4)
    part = spark.createDataFrame(
        [(1, 2020, 1.5), (2, 2021, None)], "id long, YEAR int, v double"
    )
    store.overwrite(part, "ns.part", partition_by=["YEAR"])
    # the __embsig shape: non-nullable id, arrays with non-null elements
    arrays = spark.range(3).select(
        "id",
        F.array(F.col("id").cast("float"), F.lit(0.5).cast("float")).alias("v"),
        F.array("id", F.col("id") + 1).alias("buckets"),
        F.struct(F.col("id").alias("n")).alias("s"),
    )
    store.overwrite(arrays, "ns.arrays")
    for name in ("ns.part", "ns.arrays"):
        assert store.read(spark, name).schema == _inferred_schema(
            spark, store.data_path(name)
        )
    assert store.read(spark, "ns.part").columns == ["id", "v", "YEAR"]

    # an evolving append rewrites the record (partition columns stay last)
    store.append(
        spark.createDataFrame([(3, 2021, 2.5, "x")], "id long, YEAR int, v double, tag string"),
        "ns.part",
        partition_by=["YEAR"],
        merge_schema=True,
    )
    v_evolved = store.current_version("ns.part")
    want = _inferred_schema(spark, store.data_path("ns.part"))
    assert want.fieldNames() == ["id", "v", "tag", "YEAR"]
    assert store.read(spark, "ns.part").schema == want
    assert store.read_version(spark, "ns.part", v_evolved).schema == want

    # restore() an older version: its own record serves it
    store.overwrite(spark.createDataFrame([(9, "z")], "k long, w string"), "ns.part")
    store.restore("ns.part", v_evolved)
    assert store.read(spark, "ns.part").schema == want
    assert sorted(r["id"] for r in store.read(spark, "ns.part").collect()) == [1, 2, 3]

    fresh = TableStore(root=str(tmp_path))
    j0 = next_job_id()
    fresh.read(spark, "ns.part")
    fresh.read(spark, "ns.arrays")
    fresh.read_version(spark, "ns.part", v_evolved)
    assert next_job_id() == j0

    # a driver-written version records what inference over its pyarrow
    # footers reports, which is the record a Spark write of the same rows
    # keeps
    from incremental_datapipeline_using_snowflake_spark.operators.table_store import (
        driver_rows,
    )
    from incremental_datapipeline_using_snowflake_spark.session import local_rows_df

    ddl = "k long, n int, v double, ok boolean, d date, tags array<long>, s string"
    rows = [(1, 2, 0.5, True, datetime.date(2024, 1, 2), [1, None], "x")]
    store.overwrite(driver_rows(spark, rows, ddl), "ns.driver")
    store.overwrite(local_rows_df(spark, rows, ddl), "ns.spark")
    assert store.read(spark, "ns.driver").schema == _inferred_schema(
        spark, store.data_path("ns.driver")
    )
    assert store._schema_record(store.data_path("ns.driver")) == store._schema_record(
        store.data_path("ns.spark")
    )


_LOG_DDL = "run_id string, n long, secs double"


def test_driver_rows_write_and_read_start_no_job(spark, tmp_path, next_job_id):
    """Driver rows written by overwrite and append land as parquet files
    that Spark reads back exactly; ``read_rows`` reads the same rows on
    the driver; no write or driver read starts a Spark job."""
    from incremental_datapipeline_using_snowflake_spark.operators.table_store import (
        driver_rows,
    )

    store = TableStore(root=str(tmp_path))
    first = [("r1", 3, 0.25), ("r2", None, None)]
    j0 = next_job_id()
    store.overwrite(driver_rows(spark, first, _LOG_DDL), "ns.log")
    store.append(driver_rows(spark, [("r3", 5, 1.0)], _LOG_DDL), "ns.log")
    store.append(driver_rows(spark, [], _LOG_DDL), "ns.log")
    got = store.read_rows("ns.log")
    n = store.row_count(store.data_path("ns.log"))
    assert next_job_id() == j0
    want = sorted([*first, ("r3", 5, 1.0)], key=str)
    assert sorted(map(tuple, got), key=str) == want and n == 3
    assert sorted(map(tuple, store.read(spark, "ns.log").collect()), key=str) == want
    assert len(store.data_files(store.data_path("ns.log"))) == 3
    with pytest.raises(ValueError, match="is not the stored"):
        store.append(driver_rows(spark, [("r4",)], "run_id string"), "ns.log")
    with pytest.raises(ValueError, match="one file"):
        store.overwrite(driver_rows(spark, first, _LOG_DDL), "ns.p", partition_by=["n"])
    assert not store.exists("ns.p")


def test_row_count_matches_spark_count(spark, tmp_path):
    """``row_count`` (footer ``num_rows``) equals Spark's ``count()`` over
    an appended version, a copy-on-write merged one and a transaction's
    carried-plus-one-file version."""
    from incremental_datapipeline_using_snowflake_spark.operators.table_store import (
        driver_rows,
    )

    store = TableStore(root=str(tmp_path))

    def same(name):
        assert store.row_count(store.data_path(name)) == store.read(spark, name).count()

    schema = "k long, v double"
    store.overwrite(
        spark.range(40).selectExpr("id AS k", "CAST(id AS double) AS v").repartition(3), "ns.t"
    )
    store.append(_df(spark, [(100, 1.0), (101, 2.0)], schema), "ns.t")
    same("ns.t")
    merge_upsert(spark, store, "ns.t", _df(spark, [(5, 9.0), (200, 1.0)], schema), keys=["k"])
    same("ns.t")
    assert store.row_count(store.data_path("ns.t")) == 43
    store.overwrite(driver_rows(spark, [("a", 1, 1.0)], _LOG_DDL), "ns.log")
    for i in range(3):
        with store.transaction("log") as txn:
            txn.append(driver_rows(spark, [(f"b{i}", i, 0.0)], _LOG_DDL), "ns.log")
        same("ns.log")
    # every carried file is a hardlink of the previous version's
    assert store.row_count(store.data_path("ns.log")) == 4
    assert len(store.data_files(store.data_path("ns.log"))) == 4


def test_driver_write_fault_leaves_nothing_visible(spark, tmp_path, monkeypatch):
    """Fault injection: a driver write that raises before its rename
    leaves no visible file and no row (the temp file is dot-prefixed,
    which every reader skips), and the next append lands; an aborted
    transaction discards the version it staged from driver rows."""
    from incremental_datapipeline_using_snowflake_spark.operators import table_store
    from incremental_datapipeline_using_snowflake_spark.operators.table_store import (
        driver_rows,
    )

    store = TableStore(root=str(tmp_path))
    store.overwrite(driver_rows(spark, [("a", 1, 1.0)], _LOG_DDL), "ns.log")
    vdir = store.data_path("ns.log")
    files0 = store.data_files(vdir)

    real_replace = os.replace

    def dies_before_rename(src, dst):
        if dst.endswith(".parquet"):
            raise OSError(28, "No space left on device")
        real_replace(src, dst)

    monkeypatch.setattr(table_store.os, "replace", dies_before_rename)
    with pytest.raises(OSError, match="No space left"):
        store.append(driver_rows(spark, [("b", 2, 2.0)], _LOG_DDL), "ns.log")
    monkeypatch.undo()
    assert store.data_files(vdir) == files0
    assert [r.run_id for r in store.read_rows("ns.log")] == ["a"]
    assert [r.run_id for r in store.read(spark, "ns.log").collect()] == ["a"]

    store.append(driver_rows(spark, [("c", 3, 3.0)], _LOG_DDL), "ns.log")
    assert sorted(r.run_id for r in store.read(spark, "ns.log").collect()) == ["a", "c"]

    v = store.current_version("ns.log")
    with pytest.raises(RuntimeError, match="abort"):
        with store.transaction("log") as txn:
            txn.append(driver_rows(spark, [("d", 4, 4.0)], _LOG_DDL), "ns.log")
            txn.overwrite(driver_rows(spark, [(1,)], "m_bits long"), "ns.meta")
            raise RuntimeError("abort after staging")
    assert store.current_version("ns.log") == v
    assert store._all_version_dirs("ns.log") == [v]
    assert not store.exists("ns.meta") and store._all_version_dirs("ns.meta") == []
    assert sorted(r.run_id for r in store.read_rows("ns.log")) == ["a", "c"]


# -- copy-on-write merge -------------------------------------------------
# A multi-file target: files A, B, C hold the even keys 0-18, 20-38 and
# 40-58 (disjoint ranges); file D holds the odd keys 1 and 41, so its range
# overlaps A's and C's. A case may append one more file.
_COW_FILES = [list(range(0, 20, 2)), list(range(20, 40, 2)),
              list(range(40, 60, 2)), [1, 41]]
_COW_KEY_TYPES = {
    "long": lambda k: k,
    "date": lambda k: datetime.date(2020, 1, 1) + datetime.timedelta(days=k),
    "string": lambda k: f"k{k:03d}",
    "double": float,
}
# a partitioned case puts key k under partition value k // 20 (A, B and C
# one partition each; D splits in two) and every source row under C's
_COW_PART_TYPES = {
    "int": lambda g: g,
    "date": lambda g: datetime.date(2021, 1, 1) + datetime.timedelta(days=g),
    "string": ["a:b", "c/d", "e=f"].__getitem__,  # Hive-escaped in dir names
}


def _cow_rows(key, ks, tag):
    return [(None if k is None else key(k), float(-1 if k is None else k), tag(k))
            for k in ks]


def _cow_stage(spark, store, name, schema, files, partition_by=None):
    """Write ``files`` (row lists) as one data file each (one per partition
    dir when partitioned); returns {relative path: inode} of the version."""
    for i, rows in enumerate(files):
        df = spark.createDataFrame(rows, schema).coalesce(1)
        if i == 0:
            store.overwrite(df, name, partition_by=partition_by)
        else:
            store.append(df, name, partition_by=partition_by)
    return _cow_inodes(store, name)


def _cow_inodes(store, name):
    base = store.data_path(name)
    return {f: os.stat(os.path.join(base, f)).st_ino
            for f in store.file_bounds(base, [])}


def _cow_check(spark, store, name, source, keys, ref_source, ref_upd,
               inodes_before, n_carried, **kw):
    """merge_upsert over the multi-file target == upsert_dataframe over the
    previous version (rows and the parent's full-target counts); exactly
    ``n_carried`` files join the new version as hardlinks."""
    from collections import Counter

    from incremental_datapipeline_using_snowflake_spark.operators.merge import (
        merge_branches,
    )

    v_before = store.current_version(name)
    res = merge_upsert(spark, store, name, source, keys=keys, **kw)
    before = store.read_version(spark, name, v_before)
    want = upsert_dataframe(before, ref_source, keys, update_cols=ref_upd)
    assert Counter(map(tuple, store.read(spark, name).collect())) == Counter(
        map(tuple, want.collect())
    )
    _, matched, inserted = merge_branches(
        before, source.dropDuplicates(keys), keys,
        update_cols=kw.get("update_cols"), insert_cols=kw.get("insert_cols"),
    )
    assert res == {"updated": matched.count(), "inserted": inserted.count()}
    after = _cow_inodes(store, name)
    carried = set(after) & set(inodes_before)
    assert len(carried) == n_carried, sorted(carried)
    assert all(after[f] == inodes_before[f] for f in carried)


@pytest.mark.parametrize(
    "key_type, extra_file, src_ks, keys, kw, n_carried, part",
    [
        # updates 42/44 and inserts 59: only C meets the source range
        ("long", None, [42, 44, 59], ["k"], {}, 3, None),
        ("long", None, [100, 101], ["k"], {}, 4, None),  # insert-only past the max
        ("long", [42, 42], [42], ["k"], {}, 3, None),  # key 42 held three times
        ("long", [None], [None, 44], ["k"], {}, 3, None),  # NULL keys on both sides
        ("date", None, [42, 44, 59], ["k"], {}, 3, None),
        ("string", None, [42, 44, 59], ["k"], {}, 3, None),
        ("long", None, [42, 44, 59], ["k", "tag"], {}, 3, None),  # composite key
        ("double", None, [42, 44, 59], ["k"], {}, 0, None),  # float keys never prune
        ("long", None, [42, 44, 59], ["k"], {"update_cols": ["v"]}, 3, None),
        ("long", None, [42, 44, 59], ["k"],
         {"update_cols": ["v"], "insert_cols": ["k", "v", "tag"]}, 3, None),
        ("long", None, [42, 44, 59], ["k"], {"broadcast_source": False}, 3, None),
        # the source's k range meets every file but D's p=0 half; its one
        # partition value prunes A, B and that half
        ("long", None, [4, 44, 59], ["p", "k"], {}, 3, "int"),
        ("long", None, [4, 44, 59], ["p", "k"], {}, 3, "date"),
        ("long", None, [4, 44, 59], ["p", "k"], {}, 3, "string"),
        # p out of keys: key 4 matches A's row and moves it to C's partition
        ("long", None, [4, 44, 59], ["k"], {}, 1, "int"),
    ],
    ids=["update_insert", "insert_past_max", "dup_target_keys", "null_keys",
         "date", "string", "composite", "double", "update_cols", "insert_cols",
         "no_broadcast", "int_partition", "date_partition",
         "escaped_string_partition", "moved_key"],
)
def test_cow_merge_matches_reference(
    spark, store, key_type, extra_file, src_ks, keys, kw, n_carried, part
):
    """Copy-on-write merge_upsert equals the pure upsert_dataframe on the
    same inputs, returns the counts a full-target merge gives, and leaves
    every untouched file in place (same inode). A partitioned target keeps
    its recorded layout and prunes on a partition column in ``keys`` by
    the files' partition values."""
    key = _COW_KEY_TYPES[key_type]
    schema = f"k {key_type}, v double, tag string"
    files = [_cow_rows(key, ks, lambda k: f"t{k}") for ks in _COW_FILES]
    files += [_cow_rows(key, extra_file, lambda k: f"t{k}")] if extra_file else []
    # 42 keeps its target tag (a composite-key match); 44 and 59 do not
    src_rows = [(None if k is None else key(k), 1000.0 + (k or 0),
                 f"t{k}" if k == 42 else f"n{k}") for k in src_ks]
    if part:
        pv = _COW_PART_TYPES[part]
        schema += f", p {part}"
        files = [[(*r, pv(int(r[1]) // 20)) for r in rows] for rows in files]  # r[1] = k
        src_rows = [(*r, pv(2)) for r in src_rows]
    inodes = _cow_stage(spark, store, "ns.cow", schema, files,
                        partition_by=["p"] if part else None)
    if part == "string":
        assert {f.split(os.sep)[0] for f in inodes} == {"p=a%3Ab", "p=c%2Fd", "p=e%3Df"}
    source = spark.createDataFrame(src_rows, schema)
    upd = kw.get("update_cols")
    # update_cols alone inserts keys + update set; with insert_cols the
    # inserted rows carry every source column, as upsert_dataframe's do
    ref_source = source.select(*keys, *upd) if upd and "insert_cols" not in kw else source
    _cow_check(spark, store, "ns.cow", source, keys, ref_source, upd, inodes,
               n_carried, **kw)
    assert store.partitioning("ns.cow") == (["p"] if part else None)


def test_cow_merge_partitioned_target(spark, store):
    """A year-partitioned target: the touched files are read under the
    version's basePath and the untouched ones, in every partition dir,
    are carried by inode."""
    schema = "k long, v double, tag string, p int"
    files = [[(k, float(k), f"t{k}", k // 20) for k in ks] for ks in _COW_FILES]
    inodes = _cow_stage(spark, store, "ns.cowp", schema, files, partition_by=["p"])
    assert len(inodes) == 5  # D splits into p=0 and p=2
    source = spark.createDataFrame(
        [(k, 1000.0 + k, f"n{k}", k // 20) for k in (42, 44, 59)], schema
    )
    _cow_check(spark, store, "ns.cowp", source, ["k"], source, None, inodes, 4,
               partition_by=["p"])
    assert store.partitioning("ns.cowp") == ["p"]


def test_cow_merge_transaction_fault_and_gc(spark, tmp_path):
    """A copy-on-write merge staged in a transaction (the harmonize shape:
    merge + min/max overwrite) that dies before commit leaves the previous
    version reading identical rows and no staged dir; committed merges
    survive the GC and the purge of the versions their carried files came
    from."""
    from incremental_datapipeline_using_snowflake_spark.session import local_rows_df

    store = TableStore(root=str(tmp_path))
    name, mm = "ns.cowtx", "ns.cowtx_mm"
    schema = "k long, v double, tag string"
    _cow_stage(spark, store, name, schema,
               [_cow_rows(lambda k: k, ks, lambda k: f"t{k}") for ks in _COW_FILES])
    rows0 = sorted(store.read(spark, name).collect())
    v0 = store.current_version(name)

    def merge_txn(ks, crash=False):
        src = spark.createDataFrame([(k, 1000.0 + k, f"n{k}") for k in ks], schema)
        with store.transaction("cow") as txn:
            merge_upsert(spark, store, name, src, keys=["k"], txn=txn)
            # the three carried links sit next to the rewritten file
            assert len(store.file_bounds(txn.staged_dir(name), [])) >= 4
            txn.overwrite(local_rows_df(spark, [(1.0, 2.0)], "lo double, hi double"), mm)
            if crash:
                raise RuntimeError("crash after staging")

    with pytest.raises(RuntimeError, match="crash after staging"):
        merge_txn([42, 59], crash=True)
    assert store.current_version(name) == v0 and not store.exists(mm)
    assert store._all_version_dirs(name) == [v0]
    assert sorted(store.read(spark, name).collect()) == rows0

    merge_txn([42, 59])
    merge_txn([44])  # GCs v0, whose files A, B and D both merges carried
    assert v0 not in store._all_version_dirs(name)
    want = {r["k"]: r["v"] for r in rows0} | {42: 1042.0, 59: 1059.0, 44: 1044.0}
    got = {r["k"]: r["v"] for r in store.read(spark, name).collect()}
    assert got == want
    assert store.purge_versions(name)
    assert store.versions(name) == [store.current_version(name)]
    assert {r["k"]: r["v"] for r in store.read(spark, name).collect()} == want
