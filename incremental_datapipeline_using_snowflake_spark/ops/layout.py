"""Data-layout operators: Z-order (Morton) clustering for multi-dimensional
scan pruning.

At 100 TB the dominant cost of a selective query is how many files its
predicate forces the scan to open. Parquet min/max row-group stats prune
perfectly on ONE sort column and barely at all on any other; interleaving
the bits of two (or more) sort keys — a Z-order / Morton curve — gives
every file a *tight bounding box in both dimensions*, so box predicates on
either or both columns skip most files. This is the same layout trick
Delta/Iceberg `OPTIMIZE ZORDER BY` applies; here it is a pure Column
expression plus `repartitionByRange`, so it works on any Spark table.

The Morton key is exact integer bit-interleaving — identical arithmetic in
any engine (`(x >> i) & 1` and `<<` only), which is what lets the
`zorder_layout` declared query hash-check layout effectiveness against a
DuckDB oracle rather than asserting it rhetorically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import pin

MORTON_BITS = 16  # 2 x 16 interleaved bits -> 32-bit key; plenty per-file


def morton_key(
    a: Column | str, b: Column | str, bits: int = MORTON_BITS
) -> Column:
    """Interleave the low ``bits`` bits of two non-negative integer columns
    into one Z-order key (``a`` on even bit positions, ``b`` on odd).

    Callers with wider domains should bucket first (e.g. ``col % 65536``
    or a range-rank); callers with doubles should quantize. Pure narrow
    expression — no shuffle, no UDF.
    """
    ca = (F.col(a) if isinstance(a, str) else a).cast("long")
    cb = (F.col(b) if isinstance(b, str) else b).cast("long")
    total = F.lit(0).cast("long")
    for i in range(bits):
        total = (
            total
            + F.shiftleft(F.shiftright(ca, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(cb, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return total


def morton_key_sql(a_expr: str, b_expr: str, bits: int = MORTON_BITS) -> str:
    """DuckDB twin of :func:`morton_key` — same shifts, same order."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a_expr} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b_expr} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def distributed_ntile(
    df: DataFrame, n: int, order_cols: list[str]
) -> DataFrame:
    """Global ``ntile(n)`` over a total order WITHOUT a single-partition
    window — the at-scale form of equal-count bucketing (file assignment,
    percentile banding). ``order_cols`` must be a total order (include a
    unique tiebreak) or ties may straddle range-partition boundaries.

    Shape: one ``repartitionByRange`` shuffle (sampled boundaries, pinned
    by an eager localCheckpoint so every downstream job sees the same
    partitioning), a per-partition ``row_number`` window, and a tiny
    per-partition-count action whose offsets come back as a broadcast map
    literal. Output adds ``bucket`` (1-based) with EXACTLY the SQL
    ``ntile`` distribution (first ``total % n`` buckets one row larger) —
    pinned bit-equal to the window form by
    ``tests/test_ops.py::test_distributed_ntile_matches_window_ntile``.
    """
    cols = [F.col(c) for c in order_cols]
    parted = df.repartitionByRange(*cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    parted = pin(parted)
    sizes = {
        r["_pid"]: r["c"]
        for r in parted.groupBy("_pid").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    total = sum(sizes.values())
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    off_expr = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(p) for p in sorted(offsets)]),
            F.array(*[F.lit(offsets[p]).cast("long") for p in sorted(offsets)]),
        ),
        F.col("_pid"),
    )
    from pyspark.sql import Window as W

    rank = F.row_number().over(W.partitionBy("_pid").orderBy(*cols)) + off_expr
    q, r = total // n, total % n
    if q == 0:
        bucket = rank
    else:
        bucket = F.when(
            rank <= r * (q + 1), F.ceil(rank / (q + 1))
        ).otherwise(F.lit(r) + F.ceil((rank - r * (q + 1)) / q))
    return parted.withColumn("bucket", bucket.cast("int")).drop("_pid")


def zorder_by(
    df: DataFrame,
    col_a: str,
    col_b: str,
    num_partitions: int | None = None,
    bits: int = MORTON_BITS,
) -> DataFrame:
    """Cluster ``df`` along the Z-order curve of (col_a, col_b): range-
    partition on the Morton key, then sort within partitions — the write
    path of `OPTIMIZE ZORDER BY`. Each output file then carries a tight
    min/max box in BOTH columns, so parquet stats prune box predicates on
    either. One range shuffle (with Spark's sampled range boundaries);
    drop this DataFrame straight into ``.write.parquet``.
    """
    keyed = df.withColumn("_zkey", morton_key(col_a, col_b, bits))
    parted = (
        keyed.repartitionByRange(num_partitions, "_zkey")
        if num_partitions
        else keyed.repartitionByRange("_zkey")
    )
    return parted.sortWithinPartitions("_zkey").drop("_zkey")
