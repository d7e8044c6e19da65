"""Driver-side orchestrator — the reference's 3-node task DAG re-expressed.

Reference: root task on ``USING CRON 0 10 * * * UTC`` with ``AFTER`` edges
RAW -> HARMONIZED -> ANALYTICS and a ``SYSTEM$STREAM_HAS_DATA`` gate
(``templates/orchestrate_tasks.sql.j2:18-75``). Here the DAG is sequential
Python with the same gating; scheduling stays external (cron / Airflow), and
``TASK_HISTORY`` becomes a per-stage run-log table.
"""

from __future__ import annotations

import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from ..operators.changelog import Changelog
from ..operators.table_store import TableStore, driver_rows
from . import pipeline as P

RUN_LOG_TABLE = "analytics_co2._run_log"
RUN_LOG_SCHEMA = "stage string, status string, message string, seconds double, run_at string"


@dataclass
class Orchestrator:
    spark: SparkSession
    store: TableStore
    suspended: bool = False  # task suspend/resume lifecycle
    streaming_harmonize: bool = False  # SP2 via Structured Streaming drain
    checkpoint_dir: str | None = None  # required when streaming_harmonize
    # auto-compact the changelog when its file count exceeds this (0 = off).
    # Daily appends leave one small file per batch; unchecked, a year of
    # runs makes every pending() scan listing-bound.
    compact_after_files: int = 64
    _history: list[dict] = field(default_factory=list)
    _pending_log: list[dict] = field(default_factory=list)

    def __post_init__(self) -> None:
        # checked before any run, so a misconfigured DAG loads nothing
        if self.streaming_harmonize and not self.checkpoint_dir:
            raise ValueError("streaming_harmonize requires checkpoint_dir")

    def suspend(self) -> None:
        self.suspended = True

    def resume(self) -> None:
        self.suspended = False

    def _log(self, stage: str, status: str, message: str, seconds: float) -> None:
        rec = {
            "stage": stage,
            "status": status,
            "message": message,
            "seconds": round(seconds, 3),
            "run_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        self._history.append(rec)
        self._pending_log.append(rec)

    def _flush_log(self) -> None:
        """Persist buffered stage records as ONE parquet file per DAG run,
        written on the driver: the log is metadata, like the reference's
        ``TASK_HISTORY``, so logging a run starts no Spark job (a night
        that loads nothing starts none at all)."""
        if not self._pending_log:
            return
        rows = [
            (r["stage"], r["status"], r["message"], r["seconds"], r["run_at"])
            for r in self._pending_log
        ]
        self.store.append(driver_rows(self.spark, rows, RUN_LOG_SCHEMA), RUN_LOG_TABLE)
        self._pending_log = []

    def _run_stage(self, name: str, fn: Callable[[], str]) -> tuple[bool, str]:
        t0 = time.time()
        try:
            msg = fn()
            self._log(name, "SUCCEEDED", msg, time.time() - t0)
            return True, msg
        except Exception as exc:  # log-and-halt like a failed task node
            self._log(name, "FAILED", f"{exc}\n{traceback.format_exc()[-1500:]}", time.time() - t0)
            return False, str(exc)

    def run(self, feed_text: str | None = None, fetcher=None) -> dict[str, str]:
        """One DAG execution (``EXECUTE TASK`` equivalent)."""
        if self.suspended:
            return {"status": "suspended"}
        try:
            return self._run_dag(feed_text=feed_text, fetcher=fetcher)
        finally:
            self._flush_log()

    def _run_dag(self, feed_text: str | None = None, fetcher=None) -> dict[str, str]:
        results: dict[str, str] = {}

        ok, msg = self._run_stage(
            "co2_raw_data_task",
            lambda: P.load_raw(self.spark, self.store, feed_text=feed_text, fetcher=fetcher),
        )
        results["raw"] = msg
        if not ok:
            return results

        if self.streaming_harmonize:
            # Streaming mode: the checkpoint IS the offset, so the drain
            # itself is the gate — an empty backlog runs zero micro-batches.
            from ..streaming.incremental import stream_harmonize

            ok, msg = self._run_stage(
                "co2_harmonized_task",
                lambda: stream_harmonize(self.spark, self.store, self.checkpoint_dir),
            )
        else:
            # Batch mode: the WHEN SYSTEM$STREAM_HAS_DATA(...) gate lives
            # inside harmonize, a changelog-metadata check — probing it
            # here too would read the same metadata twice.
            ok, msg = self._run_stage(
                "co2_harmonized_task", lambda: P.harmonize(self.spark, self.store)
            )
        results["harmonized"] = msg
        if not ok:
            return results
        log = Changelog(self.store, P.RAW_TABLE)
        # an empty stream skips analytics — unless a run that crashed after
        # harmonize left analytics behind what harmonize already merged
        # (both offsets are changelog metadata: no Spark job)
        if (
            msg == "No data in stream to process"
            and log.offset("analytics") >= log.offset("harmonize")
        ):
            results["analytics"] = "skipped (stream empty)"
            return results

        # SP3 as its own changelog consumer, churn-proportional with a full
        # recompute on first run / bounds moves. Works in both modes: the
        # streaming drain mirrors its consumed high-water mark into the
        # named "harmonize" offset that analytics caps its window at
        ok, msg = self._run_stage(
            "co2_analytics_task", lambda: P.analytics_incremental(self.spark, self.store)
        )
        results["analytics"] = msg

        maint = self._maybe_compact_changelog()
        if maint is not None:
            results["maintenance"] = maint
        return results

    def _maybe_compact_changelog(self) -> str | None:
        """Compact the changelog when micro-batch appends have fragmented
        it. The gate is a driver-side file listing (no Spark job); the
        rewrite keeps ``_row_id`` range-sorted so consumer offset seeks
        stay row-group-prunable."""
        if not self.compact_after_files:
            return None
        # Streaming mode is compaction-safe since round 4: the drain drops
        # rows at or below the committed named offset, so the checkpoint's
        # path-based replay of compacted files merges nothing and the
        # empty-stream gate still reports honestly.
        if not self.store.exists(P.RAW_TABLE):
            return None
        n_files = len(self.store.data_files(self.store.data_path(P.RAW_TABLE)))
        if n_files <= self.compact_after_files:
            return None
        # the changelog rides on RAW: the rewrite must keep the
        # year-partitioned layout (watermark pruning) while range-sorting
        # _row_id within it (offset-seek pruning)
        ok, msg = self._run_stage(
            "changelog_compaction",
            lambda: str(
                self.store.compact(
                    self.spark,
                    P.RAW_TABLE,
                    sort_by=["_row_id"],
                    partition_by=["YEAR"],
                )
            ),
        )
        # A failed compaction must be distinguishable from a success payload
        # without parsing the run log.
        return msg if ok else f"FAILED: {msg}"

    def task_history(self) -> list[dict]:
        """INFORMATION_SCHEMA.TASK_HISTORY equivalent for this orchestrator."""
        return list(self._history)
