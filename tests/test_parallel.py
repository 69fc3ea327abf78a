"""Focused tests for the §2.6 job-overlap helper (optimization round 13).

``run_parallel`` wraps independent driver actions (serve
materializations, artifact writes, the stale/fresh fit legs) in a small
thread pool.  The operators rely on exactly three properties: results
come back in submission order, an exception in any thunk propagates,
and the single-thunk path degenerates to a plain call.  No Spark needed
— the helper is pure concurrency plumbing.
"""

from __future__ import annotations

import threading
import time

import pytest

from ssafynews_data_spark.parallel import MAX_PARALLEL_JOBS, run_parallel


def test_results_in_submission_order():
    # make the first thunk the SLOWEST so completion order differs from
    # submission order — results must still come back positionally
    def slow():
        time.sleep(0.2)
        return "slow"

    out = run_parallel(slow, lambda: "fast1", lambda: "fast2")
    assert list(out) == ["slow", "fast1", "fast2"]


def test_single_thunk_runs_in_caller_thread():
    caller = threading.get_ident()
    out = run_parallel(lambda: threading.get_ident())
    assert list(out) == [caller]


def test_exception_propagates():
    def boom():
        raise ValueError("thunk failed")

    with pytest.raises(ValueError, match="thunk failed"):
        run_parallel(lambda: 1, boom)


def test_more_thunks_than_workers_all_run():
    n = MAX_PARALLEL_JOBS * 3 + 1
    out = run_parallel(*[lambda i=i: i * i for i in range(n)])
    assert list(out) == [i * i for i in range(n)]


def test_empty_thunks_returns_empty():
    assert list(run_parallel()) == []


def test_thunks_overlap_in_time():
    """Two sleeping thunks must run concurrently.  Asserted
    STRUCTURALLY (ADVICE r13): each thunk records its [enter, exit]
    interval and the two intervals must intersect — immune to scheduler
    jitter on a loaded box, unlike a wall-clock bound."""
    spans: dict[str, tuple[float, float]] = {}

    def thunk(name: str):
        enter = time.perf_counter()
        time.sleep(0.5)
        spans[name] = (enter, time.perf_counter())

    run_parallel(lambda: thunk("a"), lambda: thunk("b"))
    (a0, a1), (b0, b1) = spans["a"], spans["b"]
    assert max(a0, b0) < min(a1, b1), f"no overlap: a={spans['a']} b={spans['b']}"


def test_unexpected_wrap_error_surfaces(spark, monkeypatch):
    """Only a missing PySpark falls back to bare thunks (ADVICE r14).
    Any other failure to wrap the thunks for an active session would
    silently drop the job group and tags in the pool threads, so it
    must raise."""
    import pyspark

    def broken(session):
        raise RuntimeError("cannot wrap")

    monkeypatch.setattr(pyspark, "inheritable_thread_target", broken)
    with pytest.raises(RuntimeError, match="cannot wrap"):
        run_parallel(lambda: 1, lambda: 2)
