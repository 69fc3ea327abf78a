"""Robustness sweep: every registered query must run (not necessarily
return rows) against EMPTY input tables — the empty-day path
generalized (reference spark_daily_report.py:107-112)."""

from __future__ import annotations

import os

import pytest

from ssafynews_data_spark import registry
from ssafynews_data_spark.schemas import TESTDATA_SCHEMAS


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("empty_sf")
    for name, schema in TESTDATA_SCHEMAS.items():
        spark.createDataFrame([], schema).coalesce(1).write.parquet(
            os.path.join(str(d), f"{name}.parquet")
        )
    return str(d)


def test_all_queries_survive_empty_tables(spark, empty_sf_dir):
    failures = []
    for name, q in sorted(registry.load_all().items()):
        try:
            rows = q.fn(spark, empty_sf_dir).collect()
            assert isinstance(rows, list)
        except Exception as e:  # noqa: BLE001 - collecting all failures
            failures.append((name, f"{type(e).__name__}: {e}"))
    assert not failures, failures
