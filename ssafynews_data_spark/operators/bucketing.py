"""Bucketed-table layout — the shuffle-elimination story for fact-fact
joins (SURVEY.md §4 / docs/SCALE.md "Joins": on a long-lived deployment
both facts would be bucketed by orderkey, removing the shuffle
entirely).  This module makes that claim executable: write both facts
bucketed by the join key, join the bucketed tables, and the physical
plan contains NO Exchange on either side (asserted in
tests/test_scale_shapes.py).

At 100 TB this is the difference between re-shuffling both fact tables
on every join and a pure merge of co-located buckets — the ingest job
pays the partitioning ONCE at write time.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ssafynews_data_spark.caching import scratch_dir
from ssafynews_data_spark.registry import register
from ssafynews_data_spark.sources.readers import load_table

N_BUCKETS = 8


def write_bucketed(
    df: DataFrame, table: str, key: str, path: str, n_buckets: int = N_BUCKETS
) -> None:
    """Persist ``df`` as a bucketed+sorted table at an explicit external
    path.  ``repartition(n, key)`` first so each bucket is one file —
    that makes the per-bucket sort a global per-bucket order, letting the
    join skip its Sort as well as its Exchange."""
    (
        df.repartition(n_buckets, F.col(key))
        .write.mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )


def bucketed_orders_lineitem(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Both fact tables written bucketed by the join key (orderkey) —
    the one-time ingest cost that removes the join shuffle forever.
    Tables are named after their fresh scratch directory, so a later
    call never redefines a table an earlier call's frames resolved."""
    base = scratch_dir("bucketed")
    tag = os.path.basename(base)
    t_orders, t_li = f"{tag}_orders", f"{tag}_lineitem"
    write_bucketed(
        load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
        t_orders,
        "o_orderkey",
        os.path.join(base, "orders"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_extendedprice"
    )
    write_bucketed(li, t_li, "o_orderkey", os.path.join(base, "lineitem"))
    return spark.table(t_orders), spark.table(t_li)


@register(
    "bucketed_join_revenue",
    oracle="""
        SELECT o_orderpriority,
               count(*) AS n_lineitems,
               round(sum(l_extendedprice), 2) AS revenue
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY 1
    """,
    tags=("joins", "bucketing", "layout"),
)
def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join over BUCKETED tables: orders and lineitem are both
    written bucketed(8) + sorted by orderkey, so the join plan reads
    co-located buckets and contains no Exchange on either join leg
    (plan-asserted) — the executable form of "bucket your facts by the
    join key" that every 100 TB deployment standardizes on.  The oracle
    proves bucketing is semantically invisible: same revenue-by-priority
    as the plain join."""
    orders, li = bucketed_orders_lineitem(spark, sf_dir)
    j = orders.join(li, "o_orderkey")
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lineitems"),
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
    )
