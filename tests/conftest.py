from __future__ import annotations

import pytest

from ssafynews_data_spark import get_session
from ssafynews_data_spark.session import JDK_DEFAULT_JIT

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_session(
        app_name="ssafynews-tests",
        master="local[4]",
        shuffle_partitions=8,
        # one JVM for the whole suite: long-lived, so the JDK's compile
        # defaults, not the short-job policy
        extra_conf={
            "spark.sql.streaming.checkpointLocation.deleteOnExit": "true",
            **JDK_DEFAULT_JIT,
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(autouse=True)
def _release_pinned_caches():
    """Tests call operator fns directly (unwrapped), so release their
    pinned persists at teardown — mirrors what the registry wrapper does
    between driver queries."""
    yield
    from ssafynews_data_spark.caching import release_pins

    release_pins()
