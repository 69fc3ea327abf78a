"""Z-order (Morton-curve) data layout for multi-dimensional skipping.

A 100 TB fact table is usually range-partitioned on ONE dimension
(time), so predicates on any other column scan everything.  The
standard lakehouse answer is Z-ordering: interleave the bits of several
quantized columns into one Morton key, range-partition + sort the
writes by that key, and parquet min/max stats become selective on ALL
interleaved dimensions at once — a box query then touches only the
files whose hypercube cell intersects the box.

The reference archives its articles as one JSON dir per day
(``collect/consumer2.py:200-220``, partitioned by ``year_month_day``
only) — exactly the single-dimension layout this operator generalizes.

Everything is expressed as column arithmetic (quantize → bit
interleave via ``aggregate``/``shiftleft``) + ``repartitionByRange``:
no UDFs, no driver loops.  The min/max used for quantization come from
a 1-row aggregate that is broadcast-joined, not collected.

The registered query proves the layout is semantically invisible (the
box aggregate matches DuckDB on the raw table); the file-skipping
benefit — the actual point — is measured in
tests/test_zorder.py::test_zorder_touches_fewer_files against a
key-shuffled layout of the same file count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ssafynews_data_spark.caching import scratch_dir
from ssafynews_data_spark.registry import register
from ssafynews_data_spark.sources.readers import load_table

BITS = 8  # 256 cells per dimension → 16-bit Morton key
N_FILES = 16

#: the benchmark box: mid-range value band × a 6-day slice.
BOX_VALUE = (100.0, 150.0)
BOX_TS = ("2024-01-10", "2024-01-16")


def morton_key(xq: str, yq: str, bits: int = BITS) -> F.Column:
    """Interleave the low ``bits`` bits of two quantized long columns:
    z = Σᵢ ((x>>i)&1) << 2i  |  ((y>>i)&1) << (2i+1).  Pure codegen —
    a fold over ``sequence(0, bits-1)`` of shift/mask arithmetic."""
    return F.expr(
        f"aggregate(sequence(0, {bits - 1}), 0L, (acc, i) -> acc"
        f" + shiftleft(cast(shiftright({xq}, i) & 1 as long), cast(2*i as int))"
        f" + shiftleft(cast(shiftright({yq}, i) & 1 as long), cast(2*i+1 as int)))"
    )


def quantized_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events + (value, ts) quantized to ``BITS``-bit grid coordinates
    and their Morton key.  Min/max come from a broadcast 1-row frame —
    the scalar-subquery pattern, never a driver collect."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("value").alias("v_lo"),
        F.max("value").alias("v_hi"),
        F.min(F.unix_timestamp("ts")).alias("t_lo"),
        F.max(F.unix_timestamp("ts")).alias("t_hi"),
    )
    cells = F.lit((1 << BITS) - 1)
    vq = F.least(
        cells.cast("long"),
        F.floor(
            (F.col("value") - F.col("v_lo"))
            / ((F.col("v_hi") - F.col("v_lo")) / (1 << BITS) + F.lit(1e-12))
        ),
    )
    tq = F.least(
        cells.cast("long"),
        F.floor(
            (F.unix_timestamp("ts") - F.col("t_lo")).cast("double")
            / ((F.col("t_hi") - F.col("t_lo")).cast("double") / (1 << BITS) + F.lit(1e-12))
        ),
    )
    return (
        ev.crossJoin(F.broadcast(bounds))
        .withColumn("vq", vq)
        .withColumn("tq", tq)
        .withColumn("z", morton_key("vq", "tq"))
        .drop("v_lo", "v_hi", "t_lo", "t_hi")
    )


def write_zordered(spark: SparkSession, sf_dir: str) -> str:
    """Write events range-partitioned + sorted by the Morton key —
    ``N_FILES`` files, each covering a compact Z-curve segment, so each
    file's parquet min/max box on (value, ts) is tight on BOTH
    dimensions."""
    path = scratch_dir("zorder_morton")
    (
        quantized_events(spark, sf_dir)
        .repartitionByRange(N_FILES, "z")
        .sortWithinPartitions("z")
        .drop("vq", "tq", "z")
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


@register(
    "zorder_box_query",
    oracle=f"""
        SELECT event_type,
               count(*) AS n,
               round(sum(value), 2) AS total_value
        FROM events
        WHERE value >= {BOX_VALUE[0]} AND value < {BOX_VALUE[1]}
          AND ts >= TIMESTAMP '{BOX_TS[0]}' AND ts < TIMESTAMP '{BOX_TS[1]}'
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("layout", "zorder", "pruning"),
)
def zorder_box_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rewrite events into a Z-ordered layout, then answer a 2-D box
    query (value band × day slice) FROM THE REWRITTEN FILES.  The
    oracle runs the same box aggregate on the raw table — layout must
    be semantically invisible.  Both box predicates reach the new
    files' parquet scan as PushedFilters, and because the files are
    Morton-clustered their min/max stats prune on value AND ts
    simultaneously (measured in tests/test_zorder.py)."""
    path = write_zordered(spark, sf_dir)
    df = spark.read.parquet(path)
    return (
        df.filter(
            (F.col("value") >= BOX_VALUE[0])
            & (F.col("value") < BOX_VALUE[1])
            & (F.col("ts") >= F.lit(BOX_TS[0]).cast("timestamp"))
            & (F.col("ts") < F.lit(BOX_TS[1]).cast("timestamp"))
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("event_type")
    )
