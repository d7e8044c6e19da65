"""Versioned parquet table store — the engine's multi-layer catalog.

Replaces the reference's Snowflake database/schema/table catalog
(``config/dev.yml:9-14``, ``templates/setup.sql.j2:49-53``) with a
path-per-layer parquet warehouse:

    <root>/<namespace>/<table>/v=<NNNNNN>/part-*.parquet
    <root>/<namespace>/<table>/v=<NNNNNN>/_schema.json  (the version's schema)
    <root>/<namespace>/<table>/_VERSION        (text file: current version)

**Atomic overwrite protocol** (stage-and-swap): a new version directory is
fully written, then the ``_VERSION`` pointer is flipped with ``os.replace``
(atomic on POSIX). Readers resolve the pointer once at plan time, so an
in-flight overwrite never exposes partial files — this stands in for
Snowflake's ACID ``MERGE`` / ``CREATE OR REPLACE TABLE`` semantics
(reference ``co2_harmonized_sp/function.py:82-87,146-153``).
Single-writer-per-table semantics; at cluster scale the same protocol works
on any object store with atomic pointer writes (or swap in Delta/Iceberg).

Appends write additional parquet files *into* the current version directory
(standard Spark append), in the table's recorded layout; partitioned tables
use Hive-style ``COL=value`` subdirectories so partition pruning applies
(reference's year-foldered layout, SURVEY.md §2.1 S6).

Rows the driver already holds (run logs, scalar caches, run records) are
written without Spark: a write whose input is :class:`DriverRows` lands one
parquet file through pyarrow, and :meth:`TableStore.read_rows` /
:meth:`TableStore.row_count` read such tables and stored row counts from
the files and their footers (the reference's ``TASK_HISTORY`` and
``_CO2_MINMAX`` reads use no warehouse compute either). The files are
ordinary parquet, so Spark, SQL and time travel read them unchanged.
"""

from __future__ import annotations

import datetime
import json
import os
import re
import shutil
from collections.abc import Sequence
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, ByteType, DataType, DateType, IntegerType, LongType, MapType,
    ShortType, StringType, StructField, StructType, _parse_datatype_string,
)

# per-version schema record; Spark's readers skip ``_``-prefixed files
SCHEMA_RECORD = "_schema.json"


def _unescape(name: str) -> str:
    """Hive's partition-path unescape, as Spark applies it: each ``%XX``
    becomes the character with hex code XX."""
    return re.sub(r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m[1], 16)), name)


# the directory value Spark writes for a NULL partition value
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"

# how a partition dir's ``col=v`` text reads back as the value a parquet
# footer of that column type would report; other types (and collated
# strings) are left unknown
_PARTITION_VALUE = {
    ByteType(): int, ShortType(): int, IntegerType(): int, LongType(): int,
    DateType(): datetime.date.fromisoformat, StringType(): _unescape,
}


def write_atomic(path: str, data: str | bytes) -> None:
    """Replace the small file ``path`` with ``data`` whole or not at all:
    readers see the old content or the new, never a torn write. The
    bytes go to a dot-prefixed temp name in the same dir, which every
    reader skips (Spark ignores ``.``-prefixed files; the store lists
    ``.parquet`` names), and the rename is the commit point (no fsync: a
    crash may lose the newest write, never half of it)."""
    head, tail = os.path.split(path)
    tmp = os.path.join(head, f".{tail}.tmp")
    with open(tmp, "wb" if isinstance(data, bytes) else "w") as f:
        f.write(data)
    os.replace(tmp, path)


def _as_nullable(dt: DataType) -> DataType:
    """``dt`` with every field, element and value nullable — the form a
    parquet read reports whatever the written frame declared."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
             for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _footer_bounds(path: str, cols: list[str]) -> dict[str, tuple | None]:
    """``{col: (min, max)}`` of one parquet file, folded from its footer's
    row-group statistics — a driver-side read, no Spark job. A column maps
    to None when the footer holds no usable min/max for it in some row
    group (absent column, all NULL, a NaN-bearing float): unknown, never
    "empty"."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    pos = {md.schema.column(i).path: i for i in range(md.num_columns)}
    out: dict[str, tuple | None] = {}
    for c in cols:
        lo = hi = None
        for g in range(md.num_row_groups if c in pos else 0):
            st = md.row_group(g).column(pos[c]).statistics
            # x != x is true only for NaN, which parquet orders as a value
            if st is None or not st.has_min_max or st.min != st.min or st.max != st.max:
                lo = hi = None
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        out[c] = None if lo is None else (lo, hi)
    return out


@dataclass(frozen=True)
class DriverRows:
    """Rows the driver already holds and the schema they are stored
    under: the store's second kind of write input, next to a DataFrame.
    Built by :func:`driver_rows`."""

    rows: list
    schema: StructType
    codec: str  # the session's parquet codec, in pyarrow's spelling


# Spark's parquet codec names that pyarrow spells differently (pyarrow's
# "lz4" is the raw LZ4 block format Spark calls lz4_raw)
_ARROW_CODEC = {"none": "none", "uncompressed": "none", "lz4_raw": "lz4"}


def driver_rows(spark: SparkSession, rows: list, schema: str | StructType) -> DriverRows:
    """``rows`` (tuples in ``schema``'s column order) for a driver-side
    store write; the codec is the session's
    ``spark.sql.parquet.compression.codec``, as a Spark write's would be."""
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    codec = spark.conf.get("spark.sql.parquet.compression.codec").lower()
    return DriverRows(list(rows), schema, _ARROW_CODEC.get(codec, codec))


def _write_rows(
    data: DriverRows, version_dir: str, partition_by: list[str] | None
) -> None:
    """``data`` as ONE new parquet file in ``version_dir``, written on the
    driver with pyarrow. The file is built in memory (metadata-sized rows)
    and lands through :func:`write_atomic`, so it appears whole or not at
    all. Every column is OPTIONAL, as in a Spark-written file, so footer
    inference reports the record :meth:`TableStore._write_schema_record`
    keeps. One file has no partition dirs: a partitioned layout raises
    ``ValueError`` before anything is written."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    if partition_by:
        raise ValueError(f"driver rows land as one file, not in partitions {partition_by}")
    schema = to_arrow_schema(_as_nullable(data.schema))
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in data.rows], f.type) for i, f in enumerate(schema)],
        schema=schema,
    )
    buf = pa.BufferOutputStream()
    # a handful of rows: dictionary pages and the embedded arrow schema
    # (the version's schema record is the store's) would only add bytes
    pq.write_table(
        table, buf, compression=data.codec, use_dictionary=False, store_schema=False
    )
    os.makedirs(version_dir, exist_ok=True)
    write_atomic(
        os.path.join(version_dir, f"part-{uuid.uuid4().hex}.parquet"),
        buf.getvalue().to_pybytes(),
    )


def _link_files(src_dir: str, dst_dir: str, rels: Sequence[str]) -> None:
    """Hardlink each ``src_dir/rel`` to ``dst_dir/rel`` — zero copy, and
    the link keeps the inode alive after the source version is GC'd; a
    cross-device store falls back to a copy."""
    for rel in rels:
        src, dst = os.path.join(src_dir, rel), os.path.join(dst_dir, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        try:
            os.link(src, dst)
        except OSError:
            shutil.copy2(src, dst)


@dataclass
class TableStore:
    root: str
    # retained versions per table (current + history). 2 = current + the
    # immediately previous (the minimum for reader-in-flight safety);
    # raise it for time-travel depth — every retained version stays
    # readable via read_version / restorable via restore.
    keep_versions: int = 2

    # -- paths ------------------------------------------------------------
    def table_dir(self, name: str) -> str:
        """``namespace.table`` -> ``<root>/namespace/table``."""
        return os.path.join(self.root, *name.lower().split("."))

    def _version_file(self, name: str) -> str:
        return os.path.join(self.table_dir(name), "_VERSION")

    def current_version(self, name: str) -> int | None:
        vf = self._version_file(name)
        if not os.path.exists(vf):
            return None
        with open(vf) as f:
            return int(f.read().strip())

    def data_path(self, name: str) -> str:
        v = self.current_version(name)
        if v is None:
            raise FileNotFoundError(f"table {name!r} does not exist in {self.root}")
        return os.path.join(self.table_dir(name), f"v={v:06d}")

    def exists(self, name: str) -> bool:
        return self.current_version(name) is not None

    def create_namespace(self, namespace: str) -> None:
        os.makedirs(os.path.join(self.root, namespace.lower()), exist_ok=True)

    def list_tables(self, namespace: str) -> list[str]:
        ns_dir = os.path.join(self.root, namespace.lower())
        if not os.path.isdir(ns_dir):
            return []
        return sorted(
            d for d in os.listdir(ns_dir)
            if os.path.exists(os.path.join(ns_dir, d, "_VERSION"))
        )

    # -- reads ------------------------------------------------------------
    # Every version dir carries the schema it was written with
    # (``_schema.json``: partition columns last, every field nullable —
    # exactly what inference over its Spark-written footers reports), so a
    # read plans from one small file instead of a footer-inference job.
    # That holds for any reader: a fresh process, ``restore()``, time
    # travel. A drifting ``append(merge_schema=True)`` rewrites the record
    # before its rows land, so files with older footers read the added
    # columns as NULL. A version dir without its record raises
    # ``FileNotFoundError`` naming it.
    def _schema_record(self, version_dir: str) -> StructType:
        with open(os.path.join(version_dir, SCHEMA_RECORD)) as f:
            return StructType.fromJson(json.load(f))

    def _write_schema_record(self, version_dir: str, schema: StructType) -> None:
        rec = os.path.join(version_dir, SCHEMA_RECORD)
        write_atomic(rec, json.dumps(_as_nullable(schema).jsonValue()))

    def _record_written_schema(
        self, df: DataFrame, version_dir: str, partition_by: list[str] | None
    ) -> None:
        """Record the schema of a version dir ``df`` was just written to.
        Partition columns take the type partition discovery gives their
        directory names (a driver-side listing; no job), so the record
        matches inference even where it differs from ``df``'s type; a
        partition column with no directory keeps ``df``'s type."""
        part = list(partition_by or [])
        data = StructType([f for f in df.schema.fields if f.name not in part])
        schema = df.sparkSession.read.schema(data).parquet(version_dir).schema
        for f in df.schema.fields:
            if f.name in part and f.name not in schema.fieldNames():
                schema = schema.add(f)
        self._write_schema_record(version_dir, schema)

    def _read_dir(self, spark: SparkSession, version_dir: str) -> DataFrame:
        return spark.read.schema(self._schema_record(version_dir)).parquet(version_dir)

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return self._read_dir(spark, self.data_path(name))

    def read_rows(self, name: str, version: int | None = None) -> list[Row]:
        """The rows of an unpartitioned table's current (or a retained
        ``version``'s) files as ``Row``s in its recorded column order, read
        on the driver with pyarrow — no Spark job. For metadata-sized
        tables; a column a file lacks (schema drift) reads as None, and a
        partitioned table raises ``ValueError``."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        vdir = self.data_path(name) if version is None else self.version_path(name, version)
        if self._partition_record(vdir):
            raise ValueError(f"read_rows({name!r}): a partitioned table is read through Spark")
        schema = to_arrow_schema(self._schema_record(vdir))
        make = Row(*schema.names)
        out = []
        for rel in self.data_files(vdir):
            t = pq.read_table(os.path.join(vdir, rel))
            cols = [
                t.column(f.name).cast(f.type) if f.name in t.column_names
                else pa.nulls(t.num_rows, f.type)
                for f in schema
            ]
            out += [make(*r) for r in zip(*(c.to_pylist() for c in cols))]
        return out

    def row_count(self, version_dir: str) -> int:
        """Rows in a version dir, summed from its files' footers
        (``num_rows``) on the driver — no Spark job."""
        import pyarrow.parquet as pq

        return sum(
            pq.read_metadata(os.path.join(version_dir, rel)).num_rows
            for rel in self.data_files(version_dir)
        )

    @staticmethod
    def data_files(version_dir: str) -> list[str]:
        """The ``.parquet`` data files of a version dir, as sorted paths
        relative to it — a driver-side listing."""
        return sorted(
            os.path.relpath(os.path.join(root, f), version_dir)
            for root, _dirs, files in os.walk(version_dir)
            for f in files
            if f.endswith(".parquet")
        )

    def file_bounds(
        self, version_dir: str, cols: list[str]
    ) -> dict[str, dict[str, tuple | None]]:
        """``{col: (min, max) | None}`` of every data file of a version dir,
        keyed by its path relative to the dir; driver-side reads only.

        A data column folds the file's footer stats (:func:`_footer_bounds`).
        A recorded partition column is ``(v, v)``, where ``v`` is the file's
        ``col=v`` directory value read as the type the version's schema
        record gives the column (byte, short, int, long, date, or a
        Hive-unescaped string). ``__HIVE_DEFAULT_PARTITION__`` (NULL) and
        every other type are unknown (None)."""
        part = [c for c in self._partition_record(version_dir) if c in cols]
        types = (
            {f.name: f.dataType for f in self._schema_record(version_dir).fields}
            if part else {}
        )
        parse = {c: _PARTITION_VALUE.get(types[c]) for c in part}
        data_cols = [c for c in cols if c not in parse]
        out = {}
        for rel in self.data_files(version_dir):
            bounds = (
                _footer_bounds(os.path.join(version_dir, rel), data_cols)
                if data_cols else {}
            )
            dirs = {
                _unescape(k): v
                for k, _, v in (d.partition("=") for d in rel.split(os.sep)[:-1])
            }
            for c, read in parse.items():
                raw = dirs.get(c, _NULL_PARTITION)
                if read is None or raw == _NULL_PARTITION:
                    bounds[c] = None
                else:
                    bounds[c] = (read(raw), read(raw))
            out[rel] = {c: bounds[c] for c in cols}
        return out

    def describe(self, spark: SparkSession, name: str) -> DataFrame:
        """``DESC TABLE`` parity (reference ``loading_data_sp/function.py:30``):
        one row per column — (col_name, data_type, nullable). Schema comes
        from the version's schema record; no data scan."""
        from ..session import local_rows_df

        fields = self.read(spark, name).schema.fields
        return local_rows_df(
            spark,
            [(f.name, f.dataType.simpleString(), f.nullable) for f in fields],
            schema="col_name string, data_type string, nullable boolean",
        )

    # -- partition layout ---------------------------------------------------
    def partitioning(self, name: str) -> list[str] | None:
        """The partition columns the current version was written with.
        Lets rewrite-shaped operators (DML, compaction) preserve the
        layout without every caller re-stating it.

        The record lives INSIDE the version directory (written while the
        version is staged), so it becomes visible atomically with the
        pointer flip — a table-level sidecar could go stale across a
        crash between write and flip and silently re-layout the next DML
        rewrite. A version without it raises ``FileNotFoundError``."""
        if not self.exists(name):
            return None
        return self._partition_record(self.data_path(name)) or None

    @staticmethod
    def _partition_record(version_dir: str) -> list[str]:
        with open(os.path.join(version_dir, "_PARTITIONING.json")) as f:
            return json.load(f)

    def write_layout(self, name: str, partition_by: list[str] | None) -> list[str] | None:
        """The partition columns a write that adds rows to ``name`` uses:
        the recorded layout of an existing table, which an explicit
        ``partition_by`` must restate (``ValueError`` otherwise, before
        any file is written); ``partition_by`` for a new table."""
        if not self.exists(name):
            return partition_by or None
        recorded = self.partitioning(name)
        if partition_by and list(partition_by) != recorded:
            raise ValueError(
                f"{name!r} is partitioned by {recorded}, not {list(partition_by)}: "
                f"a write that keeps its rows cannot change the layout"
            )
        return recorded

    def _mark_partitioning(self, version_dir: str, partition_by: list[str] | None) -> None:
        """Drop the layout marker into a STAGED version dir (call after the
        parquet write — Spark's overwrite clears the dir first)."""
        marker = os.path.join(version_dir, "_PARTITIONING.json")
        with open(marker, "w") as f:
            json.dump(list(partition_by or []), f)

    # -- table comments ----------------------------------------------------
    def _comment_file(self, name: str) -> str:
        return os.path.join(self.table_dir(name), "_COMMENT")

    def set_comment(self, name: str, comment: str) -> None:
        """``COMMENT ON TABLE`` parity (reference ``raw_co2_data.py:103-105``)."""
        if not self.exists(name):
            raise FileNotFoundError(f"table {name!r} does not exist in {self.root}")
        write_atomic(self._comment_file(name), comment)

    def get_comment(self, name: str) -> str | None:
        cf = self._comment_file(name)
        if not os.path.exists(cf):
            return None
        with open(cf) as f:
            return f.read()

    # -- writes -----------------------------------------------------------
    def _commits_file(self, name: str) -> str:
        return os.path.join(self.table_dir(name), "_COMMITS")

    def _committed_set(self, name: str) -> set[int]:
        """Version numbers that were actually committed (pointer-flipped).

        Distinguishes committed history (readable, restorable) from
        staged-but-never-committed ``v=`` dirs left by a writer that died
        before its commit point — those must NOT be served by
        :meth:`read_version` or resurrected by :meth:`restore`, even when
        a later commit allocates past them (a plain high-water mark would
        legitimize such gap orphans). GC prunes the set alongside the
        dirs, so it stays ~keep_versions entries. A table whose pointer
        exists without ``_COMMITS`` raises ``FileNotFoundError``: its
        history cannot be told from a dead writer's orphans.
        """
        cf = self._commits_file(name)
        if not os.path.exists(cf) and self.current_version(name) is None:
            return set()  # nothing committed yet
        with open(cf) as f:
            return set(json.load(f))

    def _write_committed_set(self, name: str, versions: set[int]) -> None:
        write_atomic(self._commits_file(name), json.dumps(sorted(versions)))

    def _pointer_log_file(self, name: str) -> str:
        return os.path.join(self.table_dir(name), "_POINTER_LOG")

    def _pointer_log(self, name: str) -> list[tuple[float, int]]:
        """(wall_time, version) per pointer flip, append order == time
        order. This is the table's EXACT currency history — which version
        was being served at any past instant — including restore() flips
        (a restored old version becomes current again from its flip time).
        Powers :meth:`read_at_timestamp` (Snowflake ``AT (TIMESTAMP =>)``).
        Entries are O(commits) scalars; GC never trims the log (a served
        read still fails cleanly if the version dir itself was GC'd)."""
        lf = self._pointer_log_file(name)
        if not os.path.exists(lf):
            return []
        with open(lf) as f:
            return [(float(t), int(v)) for t, v in json.load(f)]

    def _append_pointer_log(self, name: str, version: int) -> None:
        import time

        log = self._pointer_log(name)
        log.append((time.time(), version))
        write_atomic(self._pointer_log_file(name), json.dumps(log))

    def _commit_version(self, name: str, version: int) -> None:
        # Mark committed BEFORE the pointer flip: a crash between the two
        # writes only marks a fully-staged, internally-consistent dir as
        # committed early (readable history, never current — harmless);
        # the reverse order would leave the new CURRENT version looking
        # like an orphan.
        committed = self._committed_set(name)
        if version not in committed:
            self._write_committed_set(name, committed | {version})
        write_atomic(self._version_file(name), str(version))  # atomic pointer flip
        # record the flip time AFTER the flip: a crash between them loses
        # only the newest timestamp entry (timestamp reads then resolve to
        # the previous flip — conservative, never wrong data)
        self._append_pointer_log(name, version)

    def _stage_version(
        self,
        df: DataFrame | DriverRows | None,
        name: str,
        partition_by: list[str] | None = None,
        carried: Sequence[str] = (),
        base: str | None = None,
        txn: _StagedTransaction | None = None,
    ) -> None:
        """The one way a version directory is built. Allocates the next
        version number, writes ``df`` (None: no new rows), hardlinks the
        ``carried`` data files of ``base``'s current version (default: this
        table's) under their own names, records the layout and schema, then
        commits — or, given ``txn``, hands the staged version to it.

        ``df`` is a DataFrame (a Spark write) or :class:`DriverRows`, which
        land as one parquet file written on the driver (no Spark job; an
        unpartitioned layout only). ``carried`` lists paths relative to the
        base version's dir (a copy-on-write merge carries the files it did
        not rewrite; an append-only log carries all of them)."""
        local = isinstance(df, DriverRows)
        tdir = self.table_dir(name)
        os.makedirs(tdir, exist_ok=True)
        prev = self.current_version(name)
        # allocate past every on-disk dir (committed OR orphan-staged), not
        # just the pointer: after a restore() the pointer can sit below a
        # still-retained version, and reusing a number would clobber live
        # history (or collide with a dead writer's staged dir, e.g. a
        # crashed clone's links)
        new = max([prev or 0, *self._all_version_dirs(name)]) + 1
        target = os.path.join(tdir, f"v={new:06d}")
        base_dir = self.data_path(base or name) if self.exists(base or name) else None
        if local:
            _write_rows(df, target, partition_by)
        elif df is not None:
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(target)
        os.makedirs(target, exist_ok=True)
        if carried:
            _link_files(base_dir, target, carried)
        self._mark_partitioning(target, partition_by)
        if local:
            self._write_schema_record(target, df.schema)
        elif df is not None:
            self._record_written_schema(df, target, partition_by)
        else:
            self._write_schema_record(target, self._schema_record(base_dir))
        if txn is not None:
            txn.staged.append((name, new))
            txn.prev.setdefault(name, prev)
        else:
            self._commit_version(name, new)
            self._gc_versions(name, new, prev)

    def _gc_versions(self, name: str, new: int, prev: int | None) -> None:
        # GC versions beyond the retention window (the previous pointer's
        # version is always kept — even when restore() parked it below the
        # window — so a reader planned against the old pointer can still
        # finish; deeper windows give time travel). Dirs NOT in the
        # committed set are orphans staged by a writer that died before
        # its commit point — swept here so they can't accumulate (safe
        # under the declared single-writer-per-table semantics: no other
        # stage is in flight while gc runs).
        tdir = self.table_dir(name)
        floor = min(prev or new, new - self.keep_versions + 1)
        committed = self._committed_set(name)
        for v in self._all_version_dirs(name):
            if v < floor or v not in committed:
                shutil.rmtree(
                    os.path.join(tdir, f"v={v:06d}"), ignore_errors=True
                )
        # prune set entries whose dirs are gone so the file stays small
        live = set(self._all_version_dirs(name))
        if committed - live:
            self._write_committed_set(name, committed & live)

    def overwrite(
        self,
        df: DataFrame | DriverRows,
        name: str,
        partition_by: list[str] | None = None,
        carried: Sequence[str] = (),
    ) -> None:
        """Full-table replace via stage-and-swap (``df`` plus the
        ``carried`` files, see :meth:`_stage_version`); keeps one previous
        version."""
        self._stage_version(df, name, partition_by, carried)

    # -- time travel -------------------------------------------------------
    def _all_version_dirs(self, name: str) -> list[int]:
        """Every on-disk ``v=`` dir, committed or not (internal: allocation
        and GC must see orphans; readers must not)."""
        tdir = self.table_dir(name)
        if not os.path.isdir(tdir):
            return []
        return sorted(
            int(e.split("=")[1])
            for e in os.listdir(tdir)
            if e.startswith("v=") and os.path.isdir(os.path.join(tdir, e))
        )

    def versions(self, name: str) -> list[int]:
        """Retained (readable) COMMITTED version numbers, ascending.

        Staged-but-never-committed leftovers of a crashed writer are
        excluded, so :meth:`read_version` can't serve and :meth:`restore`
        can't resurrect data that was never committed (a torn multi-table
        state).
        """
        committed = self._committed_set(name)
        return [v for v in self._all_version_dirs(name) if v in committed]

    def read_version(self, spark: SparkSession, name: str, version: int) -> DataFrame:
        """Time-travel read of a retained committed version (Delta
        `VERSION AS OF` analogue). Raises ``FileNotFoundError`` for GC'd or
        never-committed versions. Plans from the version's schema record,
        like :meth:`read`."""
        return self._read_dir(spark, self.version_path(name, version))

    def version_path(self, name: str, version: int) -> str:
        """The dir of a retained committed version; ``FileNotFoundError``
        for a GC'd or never-committed one."""
        path = os.path.join(self.table_dir(name), f"v={version:06d}")
        if version not in self.versions(name) or not os.path.isdir(path):
            raise FileNotFoundError(
                f"{name} v{version} not retained (have {self.versions(name)}; "
                f"raise keep_versions for deeper history)"
            )
        return path

    def version_at_timestamp(self, name: str, ts: float) -> int:
        """The version that was CURRENT (pointer-served) at wall time
        ``ts`` (epoch seconds) — resolved off the pointer-flip log, so
        restore() history is honored exactly: a table restored to v1 at
        t5 answers v1 for ts >= t5 even though v3 committed at t3."""
        log = self._pointer_log(name)
        if not log:
            raise FileNotFoundError(
                f"{name}: no pointer history (table predates timestamp "
                f"tracking or does not exist)"
            )
        served = [v for t, v in log if t <= ts]
        if not served:
            raise ValueError(
                f"{name}: no version existed at timestamp {ts} (first "
                f"commit was at {log[0][0]})"
            )
        return served[-1]

    def read_at_timestamp(self, spark: SparkSession, name: str, ts: float) -> DataFrame:
        """Snowflake ``SELECT ... AT (TIMESTAMP => ...)`` / Delta
        ``timestampAsOf`` analogue: read the table as it was being served
        at wall time ``ts``. Raises if that version has been GC'd (raise
        ``keep_versions`` for deeper timestamp-travel)."""
        return self.read_version(spark, name, self.version_at_timestamp(name, ts))

    def clone(self, src: str, dst: str) -> None:
        """``CREATE TABLE dst CLONE src`` — Snowflake's headline zero-copy
        catalog feature (reference README's Snowflake feature set). The
        clone's first version HARDLINKS every data file of ``src``'s
        current version: no data movement, cost = one directory walk, and
        the shared inodes stay alive for whichever table keeps them even
        after the other GC's or drops its version. The tables then diverge
        independently (every later write goes through normal stage-and-swap
        on immutable files — a clone can never see the other's edits).
        Metadata (partition layout marker, schema record, comment) is
        copied so the clone reads identically to the source. A rerun after
        a clone that died before its commit stages past the orphan, which
        the commit's GC then sweeps."""
        if not self.exists(src):
            raise FileNotFoundError(f"clone: source table {src!r} does not exist")
        if self.exists(dst):
            raise ValueError(f"clone: target table {dst!r} already exists")
        cf = self._comment_file(src)
        if os.path.exists(cf):
            os.makedirs(self.table_dir(dst), exist_ok=True)
            shutil.copy2(cf, self._comment_file(dst))
        self._stage_version(
            None, dst, self.partitioning(src),
            self.data_files(self.data_path(src)), base=src,
        )

    def restore(self, name: str, version: int) -> None:
        """Roll the table back to a retained committed version by pointer
        flip (the Delta RESTORE analogue). The rolled-back-over version
        stays retained until normal GC, so restore is itself reversible."""
        if version not in self.versions(name):
            raise FileNotFoundError(
                f"{name} v{version} not retained (have {self.versions(name)})"
            )
        self._commit_version(name, version)

    def purge_versions(self, name: str) -> list[int]:
        """Erase every version dir but the current one — retained history
        and the staged dirs of writers that died before their commit
        point alike — the right-to-be-forgotten companion to
        :func:`~.merge.delete_where`: a privacy delete is incomplete while
        time travel, RESTORE or an orphan's files still hold the rows.
        Returns the removed version numbers."""
        self.data_path(name)  # a missing table raises
        current = self.current_version(name)
        purged = [v for v in self._all_version_dirs(name) if v != current]
        for v in purged:
            shutil.rmtree(os.path.join(self.table_dir(name), f"v={v:06d}"))
        self._write_committed_set(name, {current})
        return purged

    def table_changes(
        self,
        spark: SparkSession,
        name: str,
        v_from: int,
        v_to: int,
        key_cols: list[str],
    ) -> DataFrame:
        """Change-data-feed between two retained versions (Delta
        ``table_changes`` / the row-diff a Snowflake stream exposes,
        reference ``02_create_rawco2data_stream.py:50-56``): one row per
        changed key with ``_action`` ∈ INSERT / DELETE / UPDATE_BEFORE /
        UPDATE_AFTER, plus ``_version`` (the version the row's values come
        from).

        Computed as one full-outer sort-merge join of the two versions on
        ``key_cols`` with a null-safe struct comparison of the non-key
        columns — no per-row lineage needed, works on any pair of retained
        versions. At scale both sides are parquet scans of the SAME table
        (co-partitioned layouts bucket on the key), and the diff output is
        proportional to the churn, not the table.
        """
        old = self.read_version(spark, name, v_from)
        new = self.read_version(spark, name, v_to)
        # value columns = the UNION of both versions' columns: a column
        # present in only one version (schema evolved between them) still
        # diffs — the absent side reads as typed NULL, so an added column's
        # first values surface as UPDATEs instead of silent no-ops, and a
        # dropped column's last values as UPDATEs instead of an unresolved
        # `_o_<col>` AnalysisException.
        old_types = dict(old.dtypes)
        new_types = dict(new.dtypes)
        missing_keys = [
            k for k in key_cols if k not in old_types or k not in new_types
        ]
        if missing_keys:
            raise ValueError(
                f"table_changes({name}): key column(s) {missing_keys} absent "
                f"from one of versions v{v_from}/v{v_to} — keys cannot evolve"
            )
        val_cols = [c for c in new.columns if c not in key_cols] + [
            c for c in old.columns if c not in key_cols and c not in new.columns
        ]

        def side(df: DataFrame, types: dict[str, str], tag: str) -> DataFrame:
            cols = [
                (
                    F.col(c)
                    if c in df.columns
                    # type from the side that HAS the column, so the
                    # null-safe struct compare lines up field-for-field
                    else F.lit(None).cast(new_types.get(c) or old_types[c])
                ).alias(f"_{tag}_{c}")
                for c in [*key_cols, *val_cols]
            ]
            return df.select(*cols, F.lit(True).alias(f"_in_{'old' if tag == 'o' else 'new'}"))

        o = side(old, old_types, "o")
        n = side(new, new_types, "n")
        cond = [o[f"_o_{k}"].eqNullSafe(n[f"_n_{k}"]) for k in key_cols]
        j = o.join(n, cond, "full")
        same_vals = (
            F.struct(*[F.col(f"_o_{c}") for c in val_cols]).eqNullSafe(
                F.struct(*[F.col(f"_n_{c}") for c in val_cols])
            )
            if val_cols
            else F.lit(True)
        )
        action = (
            F.when(F.col("_in_old").isNull(), F.array(F.lit("INSERT")))
            .when(F.col("_in_new").isNull(), F.array(F.lit("DELETE")))
            .when(~same_vals, F.array(F.lit("UPDATE_BEFORE"), F.lit("UPDATE_AFTER")))
            .otherwise(F.array().cast("array<string>"))
        )
        exploded = j.select(
            *[F.coalesce(f"_o_{k}", f"_n_{k}").alias(k) for k in key_cols],
            *[F.col(f"_o_{c}").alias(f"_o_{c}") for c in val_cols],
            *[F.col(f"_n_{c}").alias(f"_n_{c}") for c in val_cols],
            F.explode(action).alias("_action"),
        )
        from_new = F.col("_action").isin("INSERT", "UPDATE_AFTER")
        return exploded.select(
            *key_cols,
            *[
                F.when(from_new, F.col(f"_n_{c}"))
                .otherwise(F.col(f"_o_{c}"))
                .alias(c)
                for c in val_cols
            ],
            "_action",
            F.when(from_new, F.lit(v_to)).otherwise(F.lit(v_from)).alias("_version"),
        )

    # -- multi-table transactions ------------------------------------------
    def _txn_dir(self) -> str:
        return os.path.join(self.root, "_txn")

    def recover(self) -> None:
        """Redo incomplete multi-table commits (call once on process start
        or after a crash). A journal present in ``_txn/`` means commit was
        decided: re-apply every pointer flip (idempotent — the versions it
        names are fully staged on disk), then drop the journal. Absent a
        journal, staged-but-unreferenced version dirs are inert and get
        swept by normal GC on the next overwrite."""
        td = self._txn_dir()
        if not os.path.isdir(td):
            return
        for entry in sorted(os.listdir(td)):
            if not entry.endswith(".json"):
                continue
            jp = os.path.join(td, entry)
            with open(jp) as f:
                flips: dict[str, int] = json.load(f)
            for table, version in flips.items():
                self._commit_version(table, version)
            os.remove(jp)

    @contextmanager
    def transaction(self, txn_id: str = "txn"):
        """All-or-none publish across tables (the reference pipeline's
        RAW + changelog + HARMONIZED triple needs exactly this; Snowflake
        gives it via one transactional MERGE session).

        Usage::

            with store.transaction() as txn:
                txn.overwrite(df1, "raw.t")
                txn.overwrite(df2, "raw.t_changelog")

        Writes inside the block stage new version directories WITHOUT
        flipping pointers. On clean exit a commit journal listing every
        pointer flip is written atomically (the commit point), then the
        pointers flip; :meth:`recover` redoes the flips if the process
        dies mid-way. On exception, staged dirs are removed and no
        pointer moves — readers never see a torn multi-table state.
        """
        txn = _StagedTransaction(self)
        try:
            yield txn
        except BaseException:
            txn.abort()
            raise
        self._do_commit(txn, txn_id)

    def _do_commit(self, txn: _StagedTransaction, txn_id: str) -> None:
        if not txn.staged:
            return
        td = self._txn_dir()
        os.makedirs(td, exist_ok=True)
        jp = os.path.join(td, f"{txn_id}-{max(v for _, v in txn.staged):06d}.json")
        write_atomic(jp, json.dumps(dict(txn.staged)))  # <- commit point
        # flip every pointer before any GC: gc sweeps dirs above the
        # committed high-water mark as orphans, so a same-table second
        # staged version must be committed before the first one's gc runs
        for table, version in txn.staged:
            self._commit_version(table, version)
        for table, _version in txn.staged:
            txn.finish_gc(table)
        os.remove(jp)

    def append(
        self,
        df: DataFrame | DriverRows,
        name: str,
        partition_by: list[str] | None = None,
        merge_schema: bool = False,
    ) -> None:
        """Append ``df``'s rows into the current version. :class:`DriverRows`
        land as one parquet file written on the driver (no Spark job) and
        must carry the stored schema.

        ``merge_schema=True`` tolerates additive drift (the reference
        handles upstream drift by re-deploying objects,
        ``scripts/deployment_files/check_and_fix_udf.py``; Delta's
        analogue is schema merging on write): columns new in ``df`` are
        added to the table schema (older files read back as NULL there),
        columns missing from ``df`` are written as NULL. A same-name
        column whose type changed raises — silent type coercion corrupts
        at scale.
        Without the flag, any schema difference raises.

        The rows land in the table's recorded partition layout
        (:meth:`write_layout`): an append without ``partition_by`` into a
        partitioned table is not written outside its partition dirs,
        where reads would skip it.
        """
        partition_by = self.write_layout(name, partition_by)
        if not self.exists(name):
            self.overwrite(df, name, partition_by=partition_by)
            return
        path = self.data_path(name)
        if isinstance(df, DriverRows):
            self._check_rows_schema(name, df)
            _write_rows(df, path, partition_by)
            return
        stored = self._read_dir(df.sparkSession, path).schema
        by_name = {f.name: f for f in stored.fields}
        drift = [f for f in df.schema.fields if f.name not in by_name]
        for f in df.schema.fields:
            old = by_name.get(f.name)
            if old is not None and old.dataType != f.dataType:
                raise ValueError(
                    f"append to {name!r}: column {f.name!r} type changed "
                    f"{old.dataType.simpleString()} -> {f.dataType.simpleString()}"
                )
        missing = [f.name for f in stored.fields if f.name not in df.columns]
        if (drift or missing) and not merge_schema:
            raise ValueError(
                f"append to {name!r}: schema drift (new columns "
                f"{[f.name for f in drift]}, absent columns {missing}); "
                f"pass merge_schema=True to evolve"
            )
        if drift or missing:
            merged = StructType(list(stored.fields) + drift)
            # align the incoming frame to the merged column set (absent
            # stored columns -> typed NULLs) so every file footer from this
            # append carries the full schema
            df = df.select(
                *[
                    F.col(f.name).cast(f.dataType)
                    if f.name in df.columns
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in merged.fields
                ]
            )
            if drift:
                # the record takes the added columns BEFORE rows carrying
                # them land: a crash in between reads them as NULL, the
                # reverse order would hide landed values. Partition columns
                # stay last, where inference puts them.
                part = set(self.partitioning(name) or [])
                self._write_schema_record(path, StructType(
                    [f for f in merged.fields if f.name not in part]
                    + [f for f in merged.fields if f.name in part]
                ))
        writer = df.write.mode("append")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)

    def _check_rows_schema(self, name: str, rows: DriverRows) -> None:
        """Driver rows evolve no schema: ``ValueError`` unless theirs is
        the one ``name``'s current version records."""
        stored = self._schema_record(self.data_path(name))
        if _as_nullable(rows.schema) != stored:
            raise ValueError(
                f"append to {name!r}: {rows.schema.simpleString()} is not the "
                f"stored {stored.simpleString()}"
            )

    def compact(
        self,
        spark: SparkSession,
        name: str,
        target_file_bytes: int = 128 << 20,
        sort_by: list[str] | None = None,
        partition_by: list[str] | None = None,
    ) -> dict[str, int]:
        """Rewrite a table into right-sized files (small-file compaction).

        Append-heavy tables (the CDC changelog above all) accumulate one
        file per micro-batch; at warehouse scale thousands of KB-sized
        files make every scan listing-bound and defeat row-group pruning.
        Compaction reads the current version, repartitions to
        ``ceil(total_bytes / target_file_bytes)`` output files, and commits
        through the same stage-and-swap protocol as :meth:`overwrite` — so
        readers planned against the old version still finish, and a crash
        mid-compaction leaves the table untouched.

        ``sort_by`` range-partitions and sorts the rewrite on those columns
        so min/max row-group stats stay selective for predicates on them
        (e.g. ``_row_id`` offset seeks, event-time filters). File sizing
        uses driver-side file metadata only — no data scan before the
        rewrite. Returns ``{"files_before", "files_after"}``.
        """
        from math import ceil

        src = self.data_path(name)
        sizes = [os.path.getsize(os.path.join(src, f)) for f in self.data_files(src)]
        n_out = max(1, ceil(sum(sizes) / target_file_bytes))
        # preserve the recorded layout unless the caller overrides it
        partition_by = partition_by or self.partitioning(name)
        df = self.read(spark, name)
        if sort_by:
            df = df.repartitionByRange(n_out, *sort_by).sortWithinPartitions(*sort_by)
        else:
            df = df.repartition(n_out)
        self.overwrite(df, name, partition_by=partition_by)
        files_after = len(self.data_files(self.data_path(name)))
        return {"files_before": len(sizes), "files_after": files_after}

    def drop(self, name: str) -> None:
        shutil.rmtree(self.table_dir(name), ignore_errors=True)

    # -- SQL surface --------------------------------------------------------
    def register_views(
        self, spark: SparkSession, namespace: str | None = None
    ) -> list[str]:
        """Expose warehouse tables to raw SQL (SURVEY §3.3 entry point C:
        the reference runs ``session.sql`` against ``RAW_CO2.CO2_DATA``
        style names). Temp-view names cannot contain dots, so
        ``raw_co2.co2_data`` registers as ``raw_co2__co2_data``; pass
        ``namespace`` to limit the sweep. Returns the view names, ready
        for ``spark.sql`` / ``functions.sql_script.run_sql_script``.
        """
        namespaces = (
            [namespace.lower()]
            if namespace
            else sorted(
                e
                for e in os.listdir(self.root)
                if os.path.isdir(os.path.join(self.root, e))
                and not e.startswith("_")
            )
        )
        out: list[str] = []
        for ns in namespaces:
            for t in self.list_tables(ns):
                view = f"{ns}__{t}"
                self.read(spark, f"{ns}.{t}").createOrReplaceTempView(view)
                out.append(view)
        return out


class _StagedTransaction:
    """Write buffer for :meth:`TableStore.transaction` — overwrites stage
    version directories; pointer flips happen only at commit."""

    def __init__(self, store: TableStore):
        self._store = store
        self.staged: list[tuple[str, int]] = []
        # each table's pointer before this transaction's first stage
        self.prev: dict[str, int | None] = {}

    def overwrite(
        self,
        df: DataFrame | DriverRows,
        name: str,
        partition_by: list[str] | None = None,
        carried: Sequence[str] = (),
    ) -> None:
        self._store._stage_version(df, name, partition_by, carried, txn=self)

    def append(self, rows: DriverRows, name: str) -> None:
        """Stage a version of ``name`` that carries every file of its
        current version (none for a new table) plus one new file of
        ``rows``: an append-only log's write inside a transaction, which
        rewrites no old row."""
        store = self._store
        carried = []
        if store.exists(name):
            store._check_rows_schema(name, rows)
            carried = store.data_files(store.data_path(name))
        store._stage_version(rows, name, store.write_layout(name, None), carried, txn=self)

    def staged_dir(self, name: str) -> str:
        """The version dir this transaction last staged for ``name``."""
        v = [v for n, v in self.staged if n == name][-1]
        return os.path.join(self._store.table_dir(name), f"v={v:06d}")

    def abort(self) -> None:
        for name, version in self.staged:
            shutil.rmtree(
                os.path.join(self._store.table_dir(name), f"v={version:06d}"),
                ignore_errors=True,
            )
        self.staged.clear()

    def finish_gc(self, name: str) -> None:
        current = self._store.current_version(name)
        if current is not None:
            self._store._gc_versions(name, current, self.prev.get(name))
