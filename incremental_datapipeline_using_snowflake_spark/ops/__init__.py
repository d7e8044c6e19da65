"""DataFrame operators.

One materialization rule holds across the package:

- A frame read more than once within one call is pinned with
  ``df.localCheckpoint(eager=True)``. The pin makes each stage its own
  bounded job instead of one deep plan: the r07 driver-sim OOMed a
  default-1g session executing ``curate_append``'s verdict union over
  full-depth lineages (50+ stages, each shipping a ~14 MB task binary).
  It also truncates lineage, so a retried stage re-reads the pinned
  blocks instead of re-running MinHash/LSH joins, and it registers
  nothing in the session's CacheManager. Not ``cache()``: a columnar
  cache fill of vector arrays measured 2.3x slower on the IVF reindex
  wall (r14).
- ``persist``/``cache`` only where a later join needs the measured size
  (AQE picks the broadcast side from it) or the first action that reads
  the frame should fill it lazily (``curate_append``'s input batch); the
  same function ``unpersist``s it.
- State that outlives one call goes to parquet through
  ``queries.artifacts.spill``: the session's memory release destroys
  pinned blocks, files survive it.

Counting follows from it: a count that a pin or a write already computes
rides that job as an ``Observation`` (``df.observe(obs, ...)`` before
``localCheckpoint`` or the write); there is no ``.count()`` after a pin,
which would spend a job re-reading what the pin just wrote.
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
