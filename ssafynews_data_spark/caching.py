"""Session-scoped cache tracking — persist() without the leak.

Several operators persist intermediates for correctness or performance
(the CollapseProject barrier in dedup, the MLlib fit input in vectors,
the multi-grain rollup in sampling).  A registered query function
returns a *lazy* DataFrame — the driver materializes it later — so the
operator itself cannot unpersist before returning without losing the
cache exactly when it is needed.

``pin`` records every persisted frame; ``release_pins`` drops them all.
The registry wraps each query so that building query N+1 first releases
query N's pins: across a 65-query driver session at most one query's
caches are ever live (previously they accumulated for the whole session
— executor memory churn at larger scale factors).  bench.py and tests
release explicitly after materializing.

``scratch_dir`` is the one place a query's scratch artifacts (index
stores, layouts, format copies, stream checkpoints) are put: a fresh
directory per call, so no run can overwrite files a lazy result of
another run still reads.  They are NOT released with the pins: a
released frame only recomputes, but a deleted file fails it.  The
whole root goes at interpreter exit.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_LIVE: list[DataFrame] = []
_SCRATCH_LOCK = threading.Lock()
_SCRATCH_ROOT: str | None = None


def pin(df: DataFrame, level: StorageLevel | None = None) -> DataFrame:
    """persist() + track for later :func:`release_pins`."""
    df.persist(level if level is not None else StorageLevel.MEMORY_AND_DISK)
    _LIVE.append(df)
    return df


def release_pins() -> int:
    """Unpersist every pinned frame (LIFO); returns how many were live."""
    n = len(_LIVE)
    while _LIVE:
        df = _LIVE.pop()
        try:
            df.unpersist()
        except (Py4JError, RuntimeError):
            pass  # session already stopped — nothing to release
    return n


def live_pins() -> int:
    return len(_LIVE)


def scratch_dir(name: str) -> str:
    """A new empty directory named after ``name`` for one call's scratch
    artifacts.  Every directory sits under one root private to this
    process, made on first use in the first ``SPARK_LOCAL_DIRS`` entry
    (the system temp dir when unset) and removed at interpreter exit.
    The root is driver-local: a cluster needs it on a shared filesystem
    (docs/SCALE.md)."""
    global _SCRATCH_ROOT
    with _SCRATCH_LOCK:  # run_parallel legs may race to make the root
        if _SCRATCH_ROOT is None:
            parent = os.environ.get("SPARK_LOCAL_DIRS", "").split(",")[0]
            parent = parent or tempfile.gettempdir()
            os.makedirs(parent, exist_ok=True)
            _SCRATCH_ROOT = tempfile.mkdtemp(prefix="ssafynews-scratch-", dir=parent)
            atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=f"{name}_", dir=_SCRATCH_ROOT)
