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
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_LIVE: list[DataFrame] = []


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
