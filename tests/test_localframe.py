"""``local_df`` parity: the same rows, types and errors as
``createDataFrame`` over an RDD, planned as a ``LocalRelation``.

``local_df`` converts driver-local rows on the driver and hands the JVM
an Arrow table instead of a Python RDD, so no Python worker runs when
the frame is executed.  These tests pin that the conversion is the one
``createDataFrame`` applies (naive timestamps in the process's local
zone, dates, structs, maps, nested arrays, nulls), that a wrong-typed
value is still rejected, and that the plan is a ``LocalRelation``.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import pytest

from ssafynews_data_spark.localframe import local_df

SCHEMA = (
    "l long, i int, d double, s string, b boolean, n string, day date,"
    " ts timestamp, win struct<start: timestamp, end: timestamp>,"
    " m map<int, double>, aa array<array<double>>"
)

ROWS = [
    (
        1,
        -2,
        1.5,
        "뉴스 기사",
        True,
        None,
        dt.date(2024, 3, 1),
        dt.datetime(2024, 3, 10, 2, 30, 0, 123456),
        (dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 1, 0, 10)),
        {1: 0.5, 2: None},
        [[1.0, 2.0], [], None],
    ),
    (
        2**40,
        2**31 - 1,
        -0.0,
        "",
        False,
        None,
        dt.date(1969, 12, 31),
        dt.datetime(1999, 12, 31, 23, 59, 59),
        (None, dt.datetime(2030, 6, 1, 12)),
        {},
        [[float("inf")]],
    ),
    (None,) * 11,
]


def _reference(spark, rows, schema):
    return spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "empty"])
def test_local_df_matches_create_dataframe(spark, rows):
    got = local_df(spark, rows, SCHEMA)
    want = _reference(spark, rows, SCHEMA)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_df_timestamps_under_non_utc_zone(spark):
    """Naive datetimes are read in the process's local zone, exactly as
    ``createDataFrame`` reads them.  The reference converts in Python
    workers, which take their zone from ``sc.environment`` — set it too,
    as driver and workers share one environment in a real deployment."""
    sc = spark.sparkContext
    old_tz, old_env = os.environ.get("TZ"), sc.environment.get("TZ")
    os.environ["TZ"] = sc.environment["TZ"] = "Asia/Seoul"
    time.tzset()
    try:
        got = local_df(spark, ROWS, SCHEMA).collect()
        want = _reference(spark, ROWS, SCHEMA).collect()
        # the zone is really in play: 02:30 in Seoul is 17:30 UTC the day before
        micros = local_df(spark, [(ROWS[0][7],)], "ts timestamp").selectExpr(
            "unix_micros(ts) AS us"
        )
    finally:
        for env, old in ((os.environ, old_tz), (sc.environment, old_env)):
            if old is None:
                env.pop("TZ", None)
            else:
                env["TZ"] = old
        time.tzset()
    assert got == want
    seoul_0230 = dt.datetime(2024, 3, 9, 17, 30, 0, 123456, tzinfo=dt.timezone.utc)
    assert micros.collect()[0].us == int(seoul_0230.timestamp()) * 10**6 + 123456


@pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "empty"])
def test_local_df_plans_a_local_relation(spark, rows):
    plan = _optimized(local_df(spark, rows, SCHEMA))
    assert "LocalRelation" in plan, plan
    assert "LogicalRDD" not in plan, plan
    assert "LogicalRDD" in _optimized(_reference(spark, ROWS, SCHEMA))


def test_local_df_accepts_rows_dicts_and_struct_schemas(spark):
    from pyspark.sql import Row

    ref = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    rows = [Row(k=1, v="a"), {"v": "b", "k": 2}]
    assert local_df(spark, rows, ref.schema).collect() == ref.collect()


def test_local_df_rejects_wrong_types_on_the_driver(spark):
    from pyspark.errors import PySparkTypeError, PySparkValueError

    with pytest.raises(PySparkTypeError):
        local_df(spark, [("not a long",) + ROWS[0][1:]], SCHEMA)
    with pytest.raises(PySparkValueError):  # out of int range
        local_df(spark, [(1, 2**31)], "l long, i int")
    with pytest.raises(PySparkValueError):  # arity
        local_df(spark, [(1,)], "l long, i int")
