"""MERGE (upsert) as a copy-on-write DataFrame rewrite.

The reference's only join-shaped operator is Snowflake ``MERGE`` (SURVEY.md
§2.3 J1-J3, e.g. ``co2_harmonized_sp/function.py:135-153``): match on a key,
UPDATE matched rows, INSERT unmatched source rows. Vanilla parquet has no
transactional MERGE, so we decompose it —

    result =   target ⟕anti source        (rows untouched by the merge)
             ∪ (target ⋈ source)          (matched -> updated column values)
             ∪ (source ⟕anti target)      (brand-new rows -> inserted)

— and commit with the store's atomic stage-and-swap.

Copy-on-write at file grain (Snowflake rewrites only the micro-partitions a
MERGE touches): the source is deduplicated and pinned once, and an
``Observation`` on the pin yields its key min/max. The driver reads each
target file's key min/max (no Spark job): from its parquet footer, or, for a
partition column, from the file's ``col=v`` directory
(:meth:`TableStore.file_bounds`). A file whose range is disjoint from the
source's on some key column cannot hold a match, so the merge plan runs over
the touched files only and the others are hardlinked into the new version
unchanged. A night that adds one day rewrites the file holding that day, not
the history; a partitioned target keyed on its partition column rewrites
only the partitions the source names.

Scale notes (100 TB): the incremental source batch is orders of magnitude
smaller than the target, so the source side is broadcast (no shuffle of the
touched files for the anti-join or the inner join). For a huge source, pass
``broadcast_source=False`` and AQE picks sort-merge with skew handling.
The rewrite is idempotent on replay: re-merging the same source against the
merged target yields the identical table (C4 semantics).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import pin
from .table_store import TableStore


# key types whose parquet min/max order agrees with join equality. Float
# and double are left out (a join matches NaN = NaN and -0.0 = 0.0, which
# parquet ordering does not), as are collated strings and every type not
# listed.
_PRUNABLE_KEYS = (
    T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType(), T.DateType(),
    T.StringType(),
)


def _split_files(
    store: TableStore,
    name: str,
    target: DataFrame,
    src: DataFrame,
    keys: list[str],
    bounds: list[tuple],
) -> tuple[list[str], list[str]]:
    """``(touched, untouched)`` data files of ``name``'s current version,
    relative to its dir. A file is untouched when, on some key column, its
    ``[min, max]`` (:meth:`TableStore.file_bounds`: footer stats, or the
    partition value of a partition column) is disjoint from the source's
    ``bounds`` — none of its rows can equal a source key. Conservative: a
    file without min/max for a key column, or a key type outside
    ``_PRUNABLE_KEYS``, counts as touched on that column. Every file is
    touched when a source column's type differs from the target's (the
    union would widen it, and carried files could not match the rewritten
    ones)."""
    files = store.file_bounds(store.data_path(name), keys)
    types = {f.name: f.dataType for f in target.schema.fields}
    if any(types.get(f.name, f.dataType) != f.dataType for f in src.schema.fields):
        return sorted(files), []

    def disjoint(file_bounds: dict) -> bool:
        for k, (lo, hi) in zip(keys, bounds):
            if lo is None:  # no non-NULL source key: NULL never joins
                return True
            fb = file_bounds[k]
            if types[k] in _PRUNABLE_KEYS and fb is not None and (
                fb[1] < lo or fb[0] > hi
            ):
                return True
        return False

    untouched = {f for f, fb in files.items() if disjoint(fb)}
    return sorted(set(files) - untouched), sorted(untouched)


def merge_upsert(
    spark: SparkSession,
    store: TableStore,
    target_table: str,
    source: DataFrame,
    keys: list[str],
    update_cols: list[str] | None = None,
    insert_cols: list[str] | None = None,
    partition_by: list[str] | None = None,
    broadcast_source: bool = True,
    txn=None,
) -> dict:
    """Upsert ``source`` into ``target_table`` on ``keys``, copy-on-write:
    only the target files whose key ranges meet the source's are read and
    rewritten, the rest join the new version as hardlinks (module
    docstring).

    - ``update_cols``: non-key columns taken from the source for matched rows
      (default: every target column present in the source). Mirrors the
      reference's update dict that excludes helper columns
      (``co2_analytical_sp/function.py:127-141``). A matched row whose
      partition column is updated moves to its new partition.
    - ``insert_cols``: columns populated for inserted rows (default: same as
      update set + keys); target columns absent from the source become NULL.
    - ``partition_by``: the layout of a new target. An existing target keeps
      its recorded layout, which an explicit value must restate
      (:meth:`TableStore.write_layout`). Put the partition column in
      ``keys`` to prune by partition: a key match then implies the same
      partition, so only the partitions the source names are rewritten.
    - ``txn``: a :meth:`TableStore.transaction` handle — the merged table
      is STAGED through it instead of committed immediately, so the merge
      publishes atomically with the caller's other writes (the pipeline
      pairs HARMONIZED with its min/max scalar cache this way).

    Returns ``{"updated": n, "inserted": n}`` row counts, observed on the
    write's matched and inserted branches (no extra job).
    """
    sink = txn if txn is not None else store
    partition_by = store.write_layout(target_table, partition_by)
    # the source is evaluated ONCE: deduplicated on the keys and pinned;
    # every branch below plans over the pin, whose Observation carries the
    # row count and each key column's min/max
    obs = Observation()
    src_stats = [F.count(F.lit(1)).alias("n")]
    for i, k in enumerate(keys):
        src_stats += [F.min(k).alias(f"lo{i}"), F.max(k).alias(f"hi{i}")]
    src = pin(source.dropDuplicates(keys).observe(obs, *src_stats))
    got = obs.get
    # the write's plan and its observations belong to one session, the
    # source's: an Observation completes only when a query of the session
    # it was made in runs, and a streaming micro-batch's frames live in a
    # session of their own
    spark = src.sparkSession

    if not store.exists(target_table):
        out = src.select(*(insert_cols or source.columns))
        sink.overwrite(out, target_table, partition_by=partition_by)
        return {"updated": 0, "inserted": got["n"]}

    target = store.read(spark, target_table)
    base = store.data_path(target_table)
    bounds = [(got[f"lo{i}"], got[f"hi{i}"]) for i in range(len(keys))]
    touched, carried = _split_files(store, target_table, target, src, keys, bounds)
    # no file touched: a zero-row target lets Catalyst drop the joins and
    # broadcasts, so the write is just the pinned source — one plan
    rows = (
        spark.read.schema(target.schema)
        .option("basePath", base)
        .parquet(*[os.path.join(base, f) for f in touched])
        if touched
        else target.limit(0)
    )
    untouched, matched, inserted = merge_branches(
        rows,
        src,
        keys,
        update_cols=update_cols,
        insert_cols=insert_cols,
        broadcast_source=broadcast_source,
    )
    n_upd, n_ins = Observation(), Observation()
    result = untouched.unionByName(
        matched.observe(n_upd, F.count(F.lit(1)).alias("n"))
    ).unionByName(inserted.observe(n_ins, F.count(F.lit(1)).alias("n")))
    sink.overwrite(result, target_table, partition_by=partition_by, carried=carried)
    return {"updated": n_upd.get["n"], "inserted": n_ins.get["n"]}


def merge_branches(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    update_cols: list[str] | None = None,
    insert_cols: list[str] | None = None,
    broadcast_source: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The broadcast-hinted merge plan as pure DataFrames:
    ``(untouched, matched, inserted)``, each in ``target``'s column order;
    their union is the merged table. ``source`` must hold one row per key
    (:func:`merge_upsert` passes its deduplicated pin). ``target`` is what
    the merge rewrites — the touched files, in :func:`merge_upsert` — and
    is scanned up to three column-pruned times, but never shuffled and
    never broadcast.

    ``broadcast_source=False`` drops every hint (a source batch too big to
    broadcast): AQE then plans shuffle joins keyed on ``keys``, with skew
    splitting if a key is hot.
    """
    target_cols = target.columns
    upd = update_cols or [
        c for c in target_cols if c not in keys and c in source.columns
    ]
    ins = insert_cols or list(dict.fromkeys(keys + upd))

    bsrc = F.broadcast(source) if broadcast_source else source

    untouched = target.join(bsrc.select(*keys), on=keys, how="left_anti")

    matched = target.alias("t").join(bsrc.alias("s"), on=keys, how="inner").select(
        *[F.col(f"t.{k}").alias(k) for k in keys],
        *[
            (F.col(f"s.{c}") if c in upd else F.col(f"t.{c}")).alias(c)
            for c in target_cols
            if c not in keys
        ],
    )

    # Inserted rows = source keys absent from the target. Anti-joining source
    # against the full target keyset would need either a broadcast of the
    # target's keys (billions of rows at scale — driver/executor OOM) or a
    # full shuffle of them (sort-merge). Instead anti-join against the
    # MATCHED keys — computed from the same source-broadcast inner join as
    # the `matched` branch, so it is ≤|source| rows and broadcastable. The
    # target is scanned once more (pruned to key columns) but never
    # shuffled or broadcast.
    matched_keys = target.select(*keys).join(bsrc.select(*keys), on=keys, how="inner")
    if broadcast_source:
        matched_keys = F.broadcast(matched_keys)
    inserted = source.join(matched_keys, on=keys, how="left_anti").select(
        *[
            (F.col(c) if c in ins and c in source.columns else F.lit(None)).alias(c)
            for c in target_cols
        ]
    )

    return untouched.select(*target_cols), matched.select(*target_cols), inserted


def apply_changes(
    spark: SparkSession,
    store: TableStore,
    target_table: str,
    changes: DataFrame,
    keys: list[str],
    action_col: str = "_action",
    partition_by: list[str] | None = None,
) -> None:
    """Apply a full CDC batch (INSERT + DELETE rows, changelog order by
    ``_row_id``) to the target — the ``APPEND_ONLY=false`` stream shape
    (reference ``02_create_rawco2data_stream.py:50-56``; the reference's own
    merges only consume INSERTs, this completes the operator family).

    Per key, only the LAST action in the batch wins (a key deleted then
    re-inserted ends present). Single pass: the target is scanned once,
    anti-joined against ALL touched keys (broadcast), and the surviving
    rows are unioned with the batch's final INSERT images — one atomic
    overwrite, no separate delete rewrite.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(*keys).orderBy(F.desc("_row_id"))
    last = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    ).cache()
    upserts = last.filter(F.col(action_col) == "INSERT").drop(action_col, "_row_id")

    if not store.exists(target_table):
        store.overwrite(upserts, target_table, partition_by=partition_by)
        last.unpersist()
        return

    target = store.read(spark, target_table)
    untouched = target.join(
        F.broadcast(last.select(*keys)), on=keys, how="left_anti"
    )
    result = untouched.unionByName(
        upserts.select(*target.columns), allowMissingColumns=False
    )
    store.overwrite(result, target_table, partition_by=partition_by)
    last.unpersist()


def upsert_dataframe(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    update_cols: list[str] | None = None,
) -> DataFrame:
    """Pure (side-effect-free) upsert of two DataFrames; same semantics as
    :func:`merge_upsert` but returns the merged DataFrame. Used by the
    oracle-checked ``merge_upsert`` query and by tests."""
    target_cols = target.columns
    src = source.dropDuplicates(keys)
    upd = update_cols or [c for c in target_cols if c not in keys and c in src.columns]
    untouched = target.join(src.select(*keys), on=keys, how="left_anti")
    matched = target.alias("t").join(src.alias("s"), on=keys, how="inner").select(
        *[F.col(f"t.{k}").alias(k) for k in keys],
        *[
            (F.col(f"s.{c}") if c in upd else F.col(f"t.{c}")).alias(c)
            for c in target_cols
            if c not in keys
        ],
    )
    inserted = src.join(target.select(*keys), on=keys, how="left_anti").select(
        *[
            (F.col(c) if c in src.columns else F.lit(None)).alias(c)
            for c in target_cols
        ]
    )
    return (
        untouched.select(*target_cols)
        .unionByName(matched.select(*target_cols))
        .unionByName(inserted)
    )


def delete_where(
    spark: SparkSession,
    store: TableStore,
    name: str,
    condition: Column | str,
    partition_by: list[str] | None = None,
) -> int:
    """Standalone ``DELETE FROM <name> WHERE <condition>`` (the DML half
    Snowflake users reach for outside MERGE; reference deployer scripts
    issue these against staging tables).

    One scan: the survivor set is staged through the store's atomic
    overwrite, and the deleted-row count rides an ``Observation`` on the
    same pass — no second count job. Time travel still sees the pre-delete
    version until GC; call :meth:`TableStore.purge_versions` after a
    privacy-motivated delete so retained history cannot resurrect the rows.
    """
    # three-valued logic: DELETE removes only rows where the predicate is
    # TRUE — NULL-valued predicates keep their rows (SQL semantics)
    cond = F.expr(condition) if isinstance(condition, str) else condition
    cond = F.coalesce(cond, F.lit(False))
    obs = Observation()
    kept = store.read(spark, name).observe(
        obs, F.sum(cond.cast("long")).alias("n_deleted")
    ).filter(~cond)
    # preserve the table's recorded partition layout unless the caller
    # overrides it — an unpartitioned rewrite of a partitioned table would
    # silently flatten the layout
    store.overwrite(
        kept, name, partition_by=partition_by or store.partitioning(name)
    )
    n = obs.get["n_deleted"]
    return int(n) if n is not None else 0


def update_where(
    spark: SparkSession,
    store: TableStore,
    name: str,
    condition: Column | str,
    assignments: dict[str, Column],
    partition_by: list[str] | None = None,
) -> int:
    """Standalone ``UPDATE <name> SET col = expr, ... WHERE <condition>``.

    Row-preserving rewrite: every assigned column becomes
    ``CASE WHEN cond THEN new ELSE old END``; unmatched rows pass through
    byte-identical. Same single-scan Observation counting and atomic
    commit as :func:`delete_where`.
    """
    cond = F.expr(condition) if isinstance(condition, str) else condition
    cond = F.coalesce(cond, F.lit(False))  # NULL predicate -> row untouched
    df = store.read(spark, name)
    missing = [c for c in assignments if c not in df.columns]
    if missing:
        raise ValueError(f"update_where({name}): unknown column(s) {missing}")
    obs = Observation()
    updated = df.observe(obs, F.sum(cond.cast("long")).alias("n_updated")).select(
        *[
            (
                F.when(cond, assignments[c]).otherwise(F.col(c)).alias(c)
                if c in assignments
                else F.col(c)
            )
            for c in df.columns
        ]
    )
    store.overwrite(
        updated, name, partition_by=partition_by or store.partitioning(name)
    )
    n = obs.get["n_updated"]
    return int(n) if n is not None else 0
