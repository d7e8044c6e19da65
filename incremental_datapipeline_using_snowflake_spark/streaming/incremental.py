"""Structured Streaming form of the CDC stream (SURVEY.md §2.7 C1-C2).

The batch path (``operators/changelog.py``) emulates a Snowflake stream with
a changelog riding on its table + named offsets. This module is the
*idiomatic Spark* alternative: a file-source ``readStream`` over the table's
directory, where the streaming checkpoint IS the stream offset — Spark
tracks which parquet files each query has consumed, exactly-once per
micro-batch, for free.

Reference semantics reproduced:
- ``CREATE STREAM ... ON TABLE CO2_DATA`` + consume-and-advance
  (``02_create_rawco2data_stream.py:50-56``,
  ``co2_harmonized_sp/function.py:119-130``): the file source sees only files
  appended since the last committed batch; offsets advance transactionally
  with the checkpoint commit, replay after a mid-merge crash is idempotent
  because every downstream merge keys on a natural key.
- Task-style scheduled drain: ``Trigger.AvailableNow`` processes everything
  pending and stops — the streaming analogue of the reference's daily task
  run (``orchestrate_tasks.sql.j2:28-47``); empty backlogs are skipped
  automatically (C3's ``SYSTEM$STREAM_HAS_DATA`` gate for free).

Scale notes: the file source scales to object-store listings with
``maxFilesPerTrigger`` bounding micro-batch size; each micro-batch flows
through the same broadcast-merge as the batch path, so a 100 TB target table
is never shuffled — scanned once per batch and streamed through the upsert.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.changelog import Changelog
from ..operators.merge import merge_upsert  # noqa: F401 — perfbench's tracer wraps this name
from ..operators.table_store import TableStore
from ..plans.pipeline import RAW_TABLE, _harmonize_rows


def changelog_stream(
    spark: SparkSession,
    store: TableStore,
    table: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """``readStream`` over a table and the changelog that rides on it —
    the stream-as-DataFrame; partition columns (YEAR) resolve from the
    directory names exactly as in batch.

    The file source requires an explicit schema; it is the current
    version's schema record (no Spark job).
    """
    reader = spark.readStream.schema(store.read(spark, table).schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(store.data_path(table))


def run_available_now(
    stream_df: DataFrame,
    checkpoint_dir: str,
    batch_fn: Callable[[DataFrame, int], None],
    query_name: str = "incremental_drain",
) -> int:
    """Drain all pending input through ``batch_fn`` and stop (one scheduled
    run). Returns the number of micro-batches executed."""
    n_batches = 0

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal n_batches
        n_batches += 1
        batch_fn(batch_df, batch_id)

    q = (
        stream_df.writeStream.foreachBatch(_fn)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_batches


def stream_harmonize(
    spark: SparkSession,
    store: TableStore,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> str:
    """SP2 (``co2_harmonized_sp/function.py:171-192``) as a streaming drain:
    every pending changelog batch goes through the batch path's harmonize
    step — MERGE on DATE and the ``_CO2_MINMAX`` refresh in one
    transaction. The checkpoint replaces the named consumer offset.

    Compaction-safe: the file source tracks consumed FILES by path, so a
    compaction rewrite makes every (already-consumed) row look new to the
    checkpoint. Each micro-batch therefore drops rows at or below the
    committed named offset before merging — replayed files become empty
    merges, and a drain that consumed only replays reports an empty
    stream instead of bumping every row's audit column.
    """
    log = Changelog(store, RAW_TABLE)
    if not store.exists(RAW_TABLE):
        return "No data in stream to process"
    stream = changelog_stream(
        spark, store, RAW_TABLE, max_files_per_trigger=max_files_per_trigger
    )
    merged_rows = 0
    # The committed offset is read ONCE, before the drain, and every
    # micro-batch filters against this same snapshot; the running max is
    # mirrored into the named offset only after the drain completes. The
    # file source orders batches by mtime/path, not _row_id, so under
    # maxFilesPerTrigger the files of one append can split across batches
    # out of _row_id order — a per-batch read-filter-commit cycle would
    # let an early high-water commit permanently drop a later batch's
    # unconsumed rows. (Crash before the final commit only delays the
    # mirror; replay through the keyed merge is idempotent.)
    committed = log.offset("harmonize")
    running_hi = committed

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal merged_rows, running_hi

        fresh = batch_df.filter(
            (F.col("_action") == "INSERT") & (F.col("_row_id") > committed)
        )
        # one small agg over the micro-batch gates replay-only batches OUT
        # before the merge runs at all (a compaction replay re-delivers
        # every file; its rows are all <= the committed offset)
        n, hi = fresh.agg(F.count(F.lit(1)), F.max("_row_id")).first()
        if not n:
            return
        _harmonize_rows(spark, store, fresh)
        merged_rows += int(n)
        running_hi = max(running_hi, int(hi))

    n = run_available_now(stream, checkpoint_dir, _merge_batch, "stream_harmonize")
    if merged_rows:
        # mirror the consumed high-water mark into the NAMED offset (the
        # checkpoint remains the streaming source of truth): downstream
        # batch consumers — incremental analytics, compaction gating —
        # read the same offset regardless of which mode harmonized ran
        log.commit("harmonize", running_hi)
    if n == 0 or merged_rows == 0:
        # zero micro-batches, or batches that carried only replayed
        # (post-compaction) rows — either way nothing new was merged
        return "No data in stream to process"
    return f"CO2 data harmonization complete ({n} micro-batch(es))"
