"""CDC changelog — Spark-native emulation of a Snowflake table stream.

Reference: ``CREATE STREAM CO2_DATA_STREAM ON TABLE CO2_DATA`` with metadata
columns ``METADATA$ACTION`` / ``METADATA$ROW_ID``
(``02_create_rawco2data_stream.py:50-56,71-76``), consumed in the harmonize SP
(``co2_harmonized_sp/function.py:119-130``) with the offset advancing
transactionally with the consuming MERGE.

Engine design:
- every ingested batch is appended to ``<table>__changelog`` with engine
  metadata columns ``_action`` ('INSERT' | 'DELETE') and ``_row_id``
  (monotonically increasing across batches);
- ``_row_id`` = persisted base + ``monotonically_increasing_id()`` — unique
  and batch-monotonic WITHOUT a global sort (a ``row_number`` over a global
  window would single-partition 100 TB; mii is per-partition parallel). Ids
  are materialized immediately on append, so their instability across
  recomputation never matters;
- consumers track a named offset (high-water ``_row_id``) in a JSON side file,
  committed AFTER the downstream merge lands. Replay between merge and
  commit is safe because every downstream merge keys on a natural key
  (idempotent — SURVEY.md §7.3).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .table_store import TableStore, write_atomic


@dataclass
class Changelog:
    store: TableStore
    table: str  # base table name, e.g. "raw_co2.co2_data"
    # embedded=True folds the changelog INTO the base table: one physical
    # append lands both the data and its change record (the metadata
    # columns ride along), exactly like a Snowflake stream ON a table is
    # zero-copy over the table's own versions. Halves the pipeline's
    # ingest write jobs; valid for append-only tables (INSERT actions
    # only — a DELETE marker row would masquerade as data to base-table
    # readers, so embedded mode rejects it).
    embedded: bool = False

    @property
    def log_table(self) -> str:
        return self.table if self.embedded else f"{self.table}__changelog"

    def _meta_path(self) -> str:
        return os.path.join(self.store.table_dir(self.log_table), "_META.json")

    def _read_meta(self) -> dict:
        p = self._meta_path()
        if not os.path.exists(p):
            return {"next_base": 0, "offsets": {}}
        with open(p) as f:
            return json.load(f)

    def _write_meta(self, meta: dict) -> None:
        p = self._meta_path()
        os.makedirs(os.path.dirname(p), exist_ok=True)
        write_atomic(p, json.dumps(meta))

    # -- producer ----------------------------------------------------------
    def append(
        self,
        df: DataFrame,
        action: str = "INSERT",
        partition_by: list[str] | None = None,
    ) -> int:
        """Record a change batch; returns the number of rows logged.

        Id allocation is exact, not span-based: a fixed per-batch span over
        ``monotonically_increasing_id`` (round 1 used ``1 << 40``) breaks as
        soon as a batch has >=128 partitions, because mii = pid*2^33 + idx
        — ids from one batch then collide with the next batch's base.
        ``next_base`` advances from the actual max id written, collected as
        an ``Observation`` metric ON the write job itself (the observed rows
        ARE the landed rows) — correct under any partition count, including
        AQE-coalesced plans whose runtime partitioning differs from
        ``df.rdd``'s, and with zero extra scans or jobs.

        Crash safety (single writer): rows become visible before
        ``_META.json`` commits, so a crash in between would leave
        ``next_base`` stale and a retried append would mint duplicate ids.
        Guard: a write-ahead ``in_flight`` marker is committed to the meta
        file BEFORE any rows land. In the steady state the marker is clear
        and no recovery scan runs at all; only an append that finds a stale
        marker (i.e. the previous append crashed mid-write) pays one
        metadata-pruned ``max(_row_id)`` scan to re-find the high-water
        mark. Consumers may see the orphaned rows of the crashed append
        once — downstream merges key on natural keys and are idempotent
        (SURVEY.md §7.3), the same replay contract as commit-after-merge.
        """
        if self.embedded and action != "INSERT":
            raise ValueError(
                "embedded changelog is INSERT-only (a DELETE marker row in "
                "the base table would read as data); use a standalone "
                "changelog for delete-bearing tables"
            )
        spark = df.sparkSession
        meta = self._read_meta()
        base = int(meta["next_base"])
        if meta.get("in_flight") is not None and self.store.exists(self.log_table):
            # previous append crashed after (possibly) landing rows: recover
            # the true high-water mark (>= pushes down -> row-group pruning)
            crashed = (
                self.store.read(spark, self.log_table)
                .filter(F.col("_row_id") >= int(meta["in_flight"]))
                .agg(F.max("_row_id"))
                .first()[0]
            )
            if crashed is not None:
                base = max(base, int(crashed) + 1)
        meta["in_flight"] = base
        self._write_meta(meta)  # intent marker durable before rows land
        batch = df.withColumn("_action", F.lit(action)).withColumn(
            "_row_id", F.lit(base) + F.monotonically_increasing_id()
        )
        # Collect count + max id DURING the write job (Observation metrics
        # ride the write's task results) — the ids that land are by
        # definition the ids observed, and the round-1 read-back scan plus
        # its aggregate job disappear entirely.
        from pyspark.sql import Observation

        obs = Observation()
        batch = batch.observe(
            obs, F.count(F.lit(1)).alias("n"), F.max("_row_id").alias("max_id")
        )
        self.store.append(batch, self.log_table, partition_by=partition_by)
        got = obs.get
        n, max_id = got["n"], got["max_id"]
        meta["next_base"] = int(max_id) + 1 if max_id is not None else base
        meta["in_flight"] = None
        self._write_meta(meta)
        return int(n)

    # -- consumer ----------------------------------------------------------
    def pending(self, spark: SparkSession, consumer: str = "default") -> DataFrame:
        """Unconsumed changes (``_row_id`` above the consumer's offset).

        The offset predicate is a plain comparison on a parquet column, so it
        pushes down to the scan (min/max row-group skipping prunes already-
        consumed batches — the at-scale analogue of stream offset seek).
        """
        if not self.store.exists(self.log_table):
            return None  # no changes ever recorded
        off = self.offset(consumer)
        return self.store.read(spark, self.log_table).filter(F.col("_row_id") > off)

    def offset(self, consumer: str) -> int:
        """The consumer's committed high-water ``_row_id`` (-1 before its
        first commit)."""
        return int(self._read_meta()["offsets"].get(consumer, -1))

    def high_water(self) -> int | None:
        """The highest ``_row_id`` any append landed (-1 before the first),
        from metadata alone — ``next_base`` advances from the max id each
        append observed on its own write job. ``None`` when metadata cannot
        vouch for it: an append is in flight (a crashed one may have landed
        rows past ``next_base``) or no append ever wrote metadata; callers
        then scan."""
        if not os.path.exists(self._meta_path()):
            return None
        meta = self._read_meta()
        if meta.get("in_flight") is not None:
            return None
        return int(meta["next_base"]) - 1

    def has_data(self, spark: SparkSession, consumer: str = "default") -> bool:
        """``SYSTEM$STREAM_HAS_DATA`` equivalent (reference
        ``orchestrate_tasks.sql.j2:38``) — gate for downstream stages.
        A metadata check, like the reference's; it probes the log only
        when :meth:`high_water` cannot vouch for the mark."""
        hi = self.high_water()
        if hi is not None:
            return hi > self.offset(consumer)
        p = self.pending(spark, consumer)
        return p is not None and bool(p.limit(1).count())

    def max_pending_id(self, spark: SparkSession, consumer: str = "default") -> int | None:
        p = self.pending(spark, consumer)
        if p is None:
            return None
        row = p.agg(F.max("_row_id").alias("m")).first()
        return None if row["m"] is None else int(row["m"])

    def commit(self, consumer: str, up_to_row_id: int) -> None:
        """Advance the consumer offset (call after the downstream merge)."""
        meta = self._read_meta()
        meta["offsets"][consumer] = max(self.offset(consumer), int(up_to_row_id))
        self._write_meta(meta)
