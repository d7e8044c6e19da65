"""SparkSession factory.

Deterministic, oracle-stable defaults:
- session timezone pinned to UTC (keeps DATE/TIMESTAMP values identical to the
  DuckDB oracle),
- ANSI mode off so ``cast`` coerces bad values to NULL — matching the
  reference's tolerant pandas coercion (``pd.to_numeric(errors="coerce")``,
  reference ``loading_data_sp/function.py:171-178``),
- AQE on (runtime coalescing + skew-join handling matters at the 100 TB
  target scale),
- Arrow enabled for the pandas bridge and Pandas UDFs.
"""

from __future__ import annotations

import os

from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 8)


def get_session(
    app_name: str = "incremental_datapipeline_spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    rocksdb_state_store: bool = False,
    extra_conf: dict[str, str] | None = None,
    profile: str | object | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``shuffle_partitions`` defaults to the local core count — right for local
    test scale; on a real cluster AQE coalescing makes the initial number a
    ceiling rather than a fixed cost.

    ``profile`` applies an environment profile (``config.Profile`` or a
    registry name / config-file path — the dev/prod deployment surface,
    reference ``config/dev.yml`` + ``render_yaml.py``): its sizing knobs
    become the defaults, explicit arguments still win. Choose the profile
    at process start — an already-running session only picks up the
    runtime-modifiable confs.
    """
    if profile is not None:
        from .config import Profile, get_profile

        p = profile if isinstance(profile, Profile) else get_profile(profile)
        if shuffle_partitions is None:
            shuffle_partitions = p.shuffle_partitions
        merged = dict(p.session_conf)
        merged.update(extra_conf or {})
        extra_conf = merged
        app_name = f"{app_name}-{p.env}"
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "snappy")
        # testdata events.parquet carries TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long and convert (util.load) — DuckDB-parity
        # is ns -> us truncation.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    if rocksdb_state_store:
        # Large stateful streaming (running stats, cross-batch dedup,
        # session windows) outgrows the default in-memory HDFS-backed state
        # store; RocksDB keeps state on local disk with incremental
        # checkpointing — the at-scale choice. Off by default: tests and
        # the batch pipeline don't need it.
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_rows_df(spark: SparkSession, rows: list, schema: str):
    """Single-partition DataFrame from a handful of driver-side rows.

    ``spark.createDataFrame(rows)`` parallelizes over ``defaultParallelism``
    Python-RDD slices (one per core), so every scan of the frame runs that
    many tasks, and a later ``coalesce(1)`` folds them into ONE task that
    pays a Python-worker roundtrip PER SLICE — ~4 s of pure fixed overhead
    per action on local[32], measured. Parallelizing with ``numSlices=1`` up
    front makes every downstream action exactly one roundtrip (~0.3 s). Use
    for metadata-sized frames that Spark computes on (a join or union
    input, a manifest frame handed to a caller) — never for real data.
    Rows bound for an unpartitioned store table skip Spark altogether:
    ``TableStore`` writes ``table_store.driver_rows`` on the driver.
    """
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema=schema
    )


def pin(df: DataFrame) -> DataFrame:
    """Materialize ``df`` once and give the planner its measured size.

    Runs ``df.localCheckpoint(eager=True)``, reads the bytes the pin's
    blocks hold (memory plus disk), and returns the pin with those bytes as
    its plan statistics. No job runs. The planner then decides each join on
    the pin as it decides any other: by the size estimate against
    ``spark.sql.autoBroadcastJoinThreshold`` at planning time, and by
    runtime sizes under AQE. When not every block can be found the pin
    keeps the plan's estimate.

    Why: a checkpoint keeps the *plan's* size estimate, and Catalyst
    estimates an inner join as the product of its children, so a 26-row
    frame pinned after a few joins claimed 1e68 bytes. Every join on such a
    pin was planned as a SortMergeJoin; AQE ran each side's shuffle as its
    own job and only then switched to a broadcast. The stored size is
    SizeEstimator's figure for deserialized rows, at or above the real
    size (20000 rows of 20-long arrays stored 5 MB where the plan said
    240 KB), so a pin is not broadcast on an under-estimate. Frames derived
    from a pin are estimated from it by Catalyst's usual rules, as frames
    read from the store are: an explode keeps its input's size estimate.

    Tried and rejected: a broadcast hint on every pin that fits the
    threshold (the hint rides through projections, aggregates and
    explodes to the next join, and AQE never demotes a hinted broadcast);
    ``coalesce(1)`` before every pin (no fewer jobs than sized pins
    alone); and ``persist`` plus a ``noop`` write as the pin (plans are no
    longer truncated; the release built a 2 GB plan string and failed).
    """
    spark = df.sparkSession
    pinned = df.localCheckpoint(eager=True)
    plan = pinned._jdf.queryExecution().analyzed()  # the pin's LogicalRDD
    stored = _stored_bytes(spark, plan.rdd())
    if stored is None:
        return pinned
    jvm, jss = spark._jvm, spark._jsparkSession
    sized = plan.copy(
        plan.output(), plan.rdd(), plan.outputPartitioning(),
        plan.outputOrdering(), plan.isStreaming(), plan.stream(), jss,
        jvm.scala.Some(_size_statistics(jvm, stored)),
        jvm.scala.Some(plan.constraints()),
    )
    return DataFrame(jvm.org.apache.spark.sql.classic.Dataset.ofRows(jss, sized), spark)


def _stored_bytes(spark: SparkSession, rdd) -> int | None:
    """Bytes held by the blocks of a pin's ``rdd``, or None when a block is
    missing.

    Asked of the block manager master, to which every block is reported
    before its task ends, one block per partition (about 0.75 ms a
    partition on 4 cores). Not the app status store: its listener runs
    asynchronously, so right after the pin its entry can still be missing
    or short of partitions, and reading it would size a pin by how busy
    the listener bus is.
    """
    sc = spark.sparkContext._jsc.sc()
    storage = spark._jvm.org.apache.spark.storage
    statuses = sc.env().blockManager().master().getStorageStatus()
    rdd_id, total = rdd.id(), 0
    for i in range(rdd.getNumPartitions()):
        block = storage.RDDBlockId(rdd_id, i)
        for status in statuses:
            found = status.getBlock(block)
            if found.isDefined():
                found = found.get()
                total += found.memSize() + found.diskSize()
                break
        else:
            return None
    return total


@lru_cache(maxsize=1)
def _statistics_maker(jvm):
    """A method handle building ``Statistics(sizeInBytes=BigInt(n))`` from a
    long, plus its constant arguments. The BigInt is made inside the JVM:
    py4j turns any returned ``scala.math.BigInt`` into a Python int."""
    handles = jvm.java.lang.invoke.MethodHandles
    lookup = handles.publicLookup()
    big = jvm.java.lang.Class.forName("scala.math.BigInt")
    stats = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.plans.logical.Statistics"
    )
    to_big = lookup.findStatic(
        big, "apply",
        jvm.java.lang.invoke.MethodType.methodType(big, jvm.java.lang.Long.TYPE),
    )
    make = handles.collectArguments(
        lookup.unreflectConstructor(stats.getConstructors()[0]), 0, to_big
    )
    no_columns = getattr(
        getattr(jvm.org.apache.spark.sql.catalyst.expressions, "AttributeMap$"), "MODULE$"
    ).empty()
    return make, jvm.scala.Option.empty(), no_columns


def _size_statistics(jvm, n_bytes: int):
    """``Statistics(sizeInBytes=n_bytes)``: no row count, no column stats."""
    make, no_rows, no_columns = _statistics_maker(jvm)
    return make.invokeWithArguments([n_bytes, no_rows, no_columns, False])


def byte_sized_partitions(spark: SparkSession, n_bytes: int, current: int) -> int:
    """Partition count for a frame of ``n_bytes`` that now has ``current``
    partitions: the number AQE itself would coalesce a shuffle of that size
    to, read from the session's settings, capped at ``current``.

    AQE's rule (``CoalesceShufflePartitions``) targets ``max(minPartitionSize,
    min(advisoryPartitionSizeInBytes, bytes / n))`` bytes per partition, where
    ``n`` is ``minPartitionNum`` if set, else ``defaultParallelism`` under
    ``parallelismFirst`` (the default) and 1 without it. A KB-sized batch
    gets 1 partition, a batch of many advisory sizes keeps its width. The cap
    means the result only ever narrows a frame, so ``frame.coalesce(k)`` is
    a shuffle-free regrouping.
    """
    conf = spark.conf
    to_bytes = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes
    advisory = to_bytes(conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    floor = to_bytes(conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize"))
    n = conf.get("spark.sql.adaptive.coalescePartitions.minPartitionNum", None)
    if n is None:
        first = conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "true"
        n = spark.sparkContext.defaultParallelism if first else 1
    target = max(floor, min(advisory, -(-n_bytes // int(n))))
    return max(1, min(current, -(-n_bytes // target)))
