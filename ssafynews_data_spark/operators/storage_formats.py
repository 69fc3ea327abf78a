"""Columnar storage-format coverage beyond parquet: ORC (built-in).

The reference's storage story is JSON-on-HDFS + Postgres
(``collect/consumer2.py:190-220``); the engine's default is parquet.
A 100 TB deployment meets ORC the moment it touches a Hive/Trino-era
warehouse, and Spark ships the reader/writer natively — so the format
belongs in the tested surface: same DataFrame in, same rows out, same
predicate pushdown and column pruning at the scan.

Kept to the one built-in extra format on purpose: Avro needs the
external spark-avro package (absent in this image — its availability
gate lives in tests/test_storage_formats.py), and everything else
(csv/json/jsonl two-phase sink) is covered in sources/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ssafynews_data_spark.caching import scratch_dir
from ssafynews_data_spark.registry import register
from ssafynews_data_spark.sources.readers import load_table


def write_orc(spark: SparkSession, sf_dir: str) -> str:
    path = scratch_dir("orc_docs")
    (
        load_table(spark, sf_dir, "documents")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .orc(path)
    )
    return path


@register(
    "orc_roundtrip_stats",
    oracle="""
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(max(length(text)) AS BIGINT) AS max_len
        FROM documents
        WHERE lang IN ('en', 'de')
        GROUP BY source
        ORDER BY source
    """,
    tags=("storage", "orc", "roundtrip"),
)
def orc_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → ORC (zstd) → read back → filtered aggregate,
    hash-checked against the raw table: the format hop loses nothing.
    The lang filter reaches the ORC scan as a pushed filter and the
    aggregate reads only 4 of the 5 columns (pruning) — both asserted
    in tests/test_storage_formats.py, since ORC's stripe stats are the
    skipping machinery a Hive-era warehouse relies on."""
    path = write_orc(spark, sf_dir)
    back = spark.read.orc(path)
    return (
        back.filter(F.col("lang").isin("en", "de"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.max(F.length("text")).cast("long").alias("max_len"),
        )
        .orderBy("source")
    )
