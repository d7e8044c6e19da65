"""Session artifact cache for the declared queries.

Some declared queries build an expensive artifact — a scratch
``TableStore``, the dedup family's shared shingle/pair/component tables,
a curation run's verdicts — that a sibling query, or a repeat call in the
same session, reuses. All of them go through :func:`artifact`, one dict
keyed ``(applicationId, sf_dir, tag)``; a restarted session gets a new
applicationId and so never sees another session's entries.

Contract: each entry owns one tempdir ``root``. ``build(root)`` writes
everything it makes under ``root`` and returns either a ``TableStore``
rooted there or a DataFrame that scans files under ``root`` (see
:func:`spill`). No cached value is a ``localCheckpoint`` or a ``cache()``,
so the entries hold no executor storage and survive
``release_session_frames``. :func:`evict_new` (between bench reps) and
the process-exit sweep remove the entry and ``rmtree`` its ``root``: a
handle is invalid after its entry is evicted.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

_ENTRIES: dict[tuple[str, str, str], tuple[str, object]] = {}


def artifact(spark, sf_dir: str, tag: str, build):
    """The session's artifact ``tag`` for ``sf_dir``, built on first use."""
    key = (spark.sparkContext.applicationId, sf_dir, tag)
    hit = _ENTRIES.get(key)
    if hit is None:
        root = tempfile.mkdtemp(prefix=f"spark_{tag}_")
        try:
            hit = (root, build(root))
        except BaseException:
            shutil.rmtree(root, ignore_errors=True)
            raise
        _ENTRIES[key] = hit
    return hit[1]


def spill(df, root: str):
    """Write ``df`` as parquet under ``root`` and return the scan of it."""
    path = os.path.join(root, "data")
    df.write.parquet(path)
    return df.sparkSession.read.parquet(path)


def snapshot() -> set:
    return set(_ENTRIES)


def evict_new(snap: set) -> None:
    """Evict the entries added since ``snap`` and remove their files."""
    for key in [k for k in _ENTRIES if k not in snap]:
        shutil.rmtree(_ENTRIES.pop(key)[0], ignore_errors=True)


atexit.register(evict_new, set())
