"""Overlap independent Spark jobs from driver threads (guide §2.6).

Several contract operators are chains of independent driver actions —
two serve pipelines materialized back-to-back, a stale and a fresh
KMeans fit, three artifact writes off one pinned frame.  Spark's
scheduler happily runs several jobs at once inside one application;
the actions are only sequential because the driver calls them
sequentially.  ``run_parallel`` submits each thunk from a small thread
pool so the next job's tasks back-fill executors freed by the current
job's tail (and, locally, so per-job scheduling latency overlaps).

Semantics are unchanged: every thunk is deterministic on its own, the
caller consumes results positionally, and an exception in any thunk
propagates (after the others finish or fail) exactly as the sequential
code would raise it.

Thread-local inheritance: under PySpark's pinned-thread mode (the
default since 3.2) JVM thread-local properties — job description/group,
session tags — are NOT inherited by plain Python threads, so each thunk
is wrapped with :func:`pyspark.inheritable_thread_target` (the
documented driver-thread recipe, guide §2.6) bound to the active
session; the caller's job labels then propagate to the concurrent jobs.
Dead pool threads' py4j connections are reclaimed by py4j's own
``ThreadLocalConnectionFinalizer`` (verified on this py4j: the only
post-pool JVM thread growth is Spark's bounded cached pools).

Invariant (ADVICE r13): thunks must not call ``spark.conf.set`` — the
session is shared, so a concurrent conf mutation would race every other
in-flight job.  The package's conf.set sites (dedup, streaming) never
run under run_parallel; keep it that way.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from typing import Any

#: cap on in-flight jobs per call site — guide §2.6: "2-3 jobs in
#: flight is plenty: enough to fill the tail, not so many that they
#: fight for executors".
MAX_PARALLEL_JOBS = 3


def _inheritable(thunks: Sequence[Callable[[], Any]]) -> Sequence[Callable[[], Any]]:
    """Wrap thunks so JVM thread-locals (job description/group, tags)
    carry into the pool threads under pinned-thread mode.  Falls back
    to the bare thunks when PySpark is missing or no session is active
    (unit tests that exercise run_parallel without Spark); any other
    failure to wrap surfaces instead of silently dropping the job
    group and tags."""
    try:
        from pyspark import inheritable_thread_target
        from pyspark.sql import SparkSession
    except ImportError:
        return thunks
    session = SparkSession.getActiveSession()
    if session is None:
        return thunks
    wrap = inheritable_thread_target(session)
    return [wrap(t) for t in thunks]


def run_parallel(*thunks: Callable[[], Any]) -> Sequence[Any]:
    """Run the thunks as concurrent Spark jobs; return results in order.

    With a single thunk this degenerates to a plain call (no thread);
    with none, to an empty result.
    """
    if not thunks:
        return []
    if len(thunks) == 1:
        return [thunks[0]()]
    fns = _inheritable(thunks)
    with ThreadPoolExecutor(max_workers=min(len(fns), MAX_PARALLEL_JOBS)) as pool:
        futures = [pool.submit(f) for f in fns]
        # collect in submission order; result() re-raises the thunk's
        # exception, matching sequential behaviour
        return [f.result() for f in futures]
