"""Dynamic partition pruning (DPP) over a date-partitioned fact layout.

The reference's archive layout is one directory per day
(``collect/consumer2.py:200-220``, ``year_month_day`` partition column) —
the canonical Hive-style layout every 100 TB warehouse uses.  Static
partition pruning only helps when the query names the dates literally;
the common real query joins the fact against a dimension whose FILTER
decides the dates ("campaign days", "holidays", "days with an
incident").  Spark's dynamic partition pruning closes that gap: at run
time the dim side's broadcast result is replayed as an IN-filter on the
fact's partition column, so only the qualifying date directories are
read at all.

This module writes events partitioned by day, derives a small "top
revenue days" dimension, joins fact⋈dim, and asserts (in
tests/test_dpp.py) that the fact scan carries a ``dynamicpruning``
partition filter — i.e. the 100 TB behavior, demonstrated, not assumed.
The registered query's oracle proves the rewrite changes nothing
semantically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ssafynews_data_spark.caching import scratch_dir
from ssafynews_data_spark.registry import register
from ssafynews_data_spark.sources.readers import load_table

TOP_DAYS = 3


def write_day_partitioned(spark: SparkSession, sf_dir: str) -> str:
    """Events written Hive-partitioned by day (the reference's
    year_month_day layout).  ``repartition(d)`` first so each day is one
    file instead of one-per-task — at 100 TB you'd target N files/day
    sized to ``maxPartitionBytes``."""
    path = scratch_dir("events_by_day")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "d", F.date_format("ts", "yyyy-MM-dd")
    )
    ev.repartition(F.col("d")).write.mode("overwrite").partitionBy("d").parquet(path)
    return path


def top_revenue_days(spark: SparkSession, sf_dir: str, k: int = TOP_DAYS) -> DataFrame:
    """The dim side: the K days with the highest purchase value.  Tiny
    (≤ |days| rows) → broadcast, which is exactly what lets DPP reuse
    its result as the fact-side partition filter."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "purchase")
        # DATE-typed key: the written layout's partition column reads
        # back as DATE (partition type inference), and DPP only fires
        # on a bare partition-column reference — a cast on the fact
        # side would block it, so the DIM side adopts the fact's type.
        .groupBy(F.to_date(F.col("ts")).alias("d"))
        .agg(F.round(F.sum("value"), 2).alias("day_revenue"))
        .orderBy(F.desc("day_revenue"), "d")
        .limit(k)
    )


@register(
    "dpp_top_days_report",
    oracle=f"""
        WITH dim AS (
            SELECT strftime(ts, '%Y-%m-%d') AS d,
                   round(sum(value), 2) AS day_revenue
            FROM events
            WHERE event_type = 'purchase'
            GROUP BY 1
            ORDER BY day_revenue DESC, d
            LIMIT {TOP_DAYS}
        )
        SELECT d, event_type,
               count(*) AS n,
               round(sum(value), 2) AS total_value
        FROM (SELECT strftime(ts, '%Y-%m-%d') AS d, event_type, value
              FROM events) e
        JOIN dim USING (d)
        GROUP BY d, event_type
        ORDER BY d, event_type
    """,
    tags=("layout", "dpp", "pruning"),
)
def dpp_top_days_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type activity on the top-{TOP_DAYS} revenue days, answered
    from the DAY-PARTITIONED layout joined to a runtime-computed dim —
    the dates are not known until the dim aggregate runs, so static
    pruning is impossible; DPP injects the dim's broadcast values as a
    partition filter and only those {TOP_DAYS} directories are read
    (plan-asserted in tests/test_dpp.py).  The oracle computes the same
    report from the raw table: layout + DPP are semantically
    invisible."""
    path = write_day_partitioned(spark, sf_dir)
    # explicit schema: an empty source writes zero files, and a bare
    # read.parquet on a file-less layout cannot infer one.  The data
    # columns match the source; the partition column reads as DATE.
    fact_schema = (
        load_table(spark, sf_dir, "events")
        .withColumn("d", F.to_date("ts"))
        .schema
    )
    fact = spark.read.schema(fact_schema).parquet(path)
    dim = top_revenue_days(spark, sf_dir)
    return (
        fact.join(F.broadcast(dim.select("d")), "d")
        .groupBy("d", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("d"),
            "event_type",
            "n",
            "total_value",
        )
        .orderBy("d", "event_type")
    )


@register(
    "backfill_day_partition",
    oracle="""
        SELECT strftime(ts, '%Y-%m-%d') AS d,
               event_type,
               count(*) AS n,
               round(sum(CASE WHEN strftime(ts, '%Y-%m-%d') = '2024-01-05'
                              THEN value * 2 ELSE value END), 2) AS total_value
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    tags=("layout", "backfill", "partition-overwrite"),
)
def backfill_day_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reprocessing pattern every day-partitioned warehouse needs:
    a bug is found in ONE day's data, so that day is recomputed and
    rewritten with ``partitionOverwriteMode=dynamic`` — only the
    affected partition directory is replaced, every other day's files
    are untouched (a static overwrite would wipe the whole table).
    Here 2024-01-05 is "corrected" to doubled values; the full-table
    readback must equal the raw table with exactly that day doubled —
    proving both the surgical replace and the preservation of the
    other ~29 partitions.  At 100 TB this is the difference between
    rewriting gigabytes and rewriting the lake."""
    path = write_day_partitioned(spark, sf_dir)
    fix_day = "2024-01-05"
    corrected = (
        load_table(spark, sf_dir, "events")
        .withColumn("d", F.date_format("ts", "yyyy-MM-dd"))
        .filter(F.col("d") == fix_day)
        .withColumn("value", F.col("value") * 2)
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        corrected.repartition(F.col("d")).write.mode("overwrite").partitionBy(
            "d"
        ).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    fact_schema = (
        load_table(spark, sf_dir, "events").withColumn("d", F.to_date("ts")).schema
    )
    back = spark.read.schema(fact_schema).parquet(path)
    return (
        back.groupBy(
            F.date_format("d", "yyyy-MM-dd").alias("d"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("d", "event_type")
    )
