"""Cache-lifecycle tests: no query may leave persisted RDDs behind once
its pins are released (VERDICT r1 'unpersist hygiene')."""

from __future__ import annotations

import pytest

from ssafynews_data_spark.caching import live_pins, pin, release_pins
from ssafynews_data_spark.registry import load_all

#: every registered query that pins intermediates (dedup barrier, LSH
#: signatures, similarity corpus, rollup ladder, block-id
#: partitioning).  ``pca_kmeans_clusters`` pinned its MLlib fit input
#: and now fits on a driver sample, and ``embedding_near_dup`` reads its
#: corpus once, by one collect, and pins nothing; both stay listed as
#: no-leak checks.
CACHE_USERS = [
    "minhash_lsh_pairs",
    "embedding_near_dup",
    "time_rollup_events",
    "pca_kmeans_clusters",
    "block_sequential_ids",
    "curate_corpus",
]


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.parametrize("name", CACHE_USERS)
def test_query_pins_are_releasable(spark, sf_dir, name):
    release_pins()  # clean slate regardless of test order
    base = _n_persistent(spark)
    q = load_all()[name]
    assert q.fn(spark, sf_dir).count() >= 0
    release_pins()
    assert _n_persistent(spark) <= base, f"{name} leaked persisted RDDs"


def test_registry_wrapper_releases_previous_querys_pins(spark, sf_dir):
    release_pins()
    qs = load_all()
    qs["minhash_lsh_pairs"].fn(spark, sf_dir).count()
    assert live_pins() > 0  # the barrier caches are live while consumed
    # building the NEXT query must drop them (driver-session hygiene)
    qs["daily_event_counts"].fn(spark, sf_dir)
    assert live_pins() == 0


def test_pin_release_is_idempotent(spark):
    df = pin(spark.range(10))
    df.count()
    assert release_pins() == 1
    assert release_pins() == 0
    assert live_pins() == 0


class _Pinned:
    def __init__(self, error: BaseException):
        self.error = error

    def unpersist(self):
        raise self.error


def test_release_pins_tolerates_only_a_stopped_session(monkeypatch):
    """A stopped session makes ``unpersist`` raise a py4j error, which
    ``release_pins`` swallows (nothing left to release); any other error
    surfaces (ADVICE r14)."""
    from py4j.protocol import Py4JError

    from ssafynews_data_spark import caching

    monkeypatch.setattr(caching, "_LIVE", [_Pinned(Py4JError("stopped"))])
    assert release_pins() == 1
    monkeypatch.setattr(caching, "_LIVE", [_Pinned(ValueError("unexpected"))])
    with pytest.raises(ValueError, match="unexpected"):
        release_pins()
