"""DataFrame operators.

One materialization rule holds across the package:

- A frame read more than once within one call is pinned with
  ``session.pin(df)``: ``localCheckpoint(eager=True)`` plus the pin's
  measured size. The pin makes each stage its own bounded job instead of
  one deep plan: the r07 driver-sim OOMed a default-1g session executing
  ``curate_append``'s verdict union over full-depth lineages (50+ stages,
  each shipping a ~14 MB task binary). It also truncates lineage, so a
  retried stage re-reads the pinned blocks instead of re-running
  MinHash/LSH joins, and it registers nothing in the session's
  CacheManager. Not ``cache()``: a columnar cache fill of vector arrays
  measured 2.3x slower on the IVF reindex wall (r14).
- Pins carry their measured size. A checkpoint keeps the plan's size
  estimate, which after a few joins is astronomically high, so every join
  on a pin planned a shuffle on both sides. ``pin`` reads the stored bytes
  of the pin's blocks and gives them to the planner as the pin's
  statistics, so ``spark.sql.autoBroadcastJoinThreshold`` and AQE decide
  each join from a measured size. There is no persist-for-size
  exception: ``persist``/``cache`` only where the first action that reads
  the frame should fill it lazily (``curate_append``'s input batch); the
  same function ``unpersist``s it.
- State that outlives one call goes to parquet through
  ``queries.artifacts.spill``: the session's memory release destroys
  pinned blocks, files survive it.

Counting follows from it: a count that a pin or a write already computes
rides that job as an ``Observation`` (``df.observe(obs, ...)`` before
``pin`` or the write); there is no ``.count()`` after a pin,
which would spend a job re-reading what the pin just wrote.

Width follows bytes, not cores: a pin keeps the partition count of its
input, so a small batch must be narrowed before the pins that derive from
it. ``session.byte_sized_partitions`` gives the count AQE would coalesce a
shuffle of that many bytes to (capped at the current width, so it only
narrows); ``curate_append`` sizes its batch with it once, from a byte sum
that rides its guard job, and ``coalesce``s the batch, its embeddings and
its verdict union to that count, which is narrow: no shuffle, no job.
Driver-side rows that a store table keeps (run records, meta rows) are
written on the driver: ``table_store.driver_rows`` given to the store's
``append``/``overwrite``/``txn.append``, one pyarrow file, no job; reads
of them use ``read_rows`` and ``row_count`` (footers). Driver-side rows
that Spark computes on (manifest frames, join inputs) become a frame
through ``session.local_rows_df``, one slice, never
``spark.createDataFrame(rows)``, which makes one slice per core.
"""
from . import (
    clustering,
    codecs,
    dedup,
    graph,
    multimodal,
    quality,
    sampling,
    similarity,
    sketches,
    temporal,
    text,
    textprep,
)

__all__ = [
    "clustering",
    "dedup",
    "graph",
    "codecs",
    "multimodal",
    "quality",
    "sampling",
    "similarity",
    "sketches",
    "temporal",
    "text",
    "textprep",
]
