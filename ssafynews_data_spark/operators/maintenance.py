"""Table maintenance: small-file compaction and column profiling.

Streaming sinks produce one file per micro-batch per partition — the
reference's Flink HDFS sink rolled 128 MB files only under sustained
volume (``collect/consumer2.py:206-207``); a quiet hour writes hundreds
of KB-sized files, and at 100 TB the "small files problem" (NameNode
pressure, per-file open cost, task-per-file scheduling) becomes the top
operational ticket.  Compaction is the answer and it is pure Spark:
read, coalesce to a size-derived file count, rewrite.

Column profiling is the other recurring maintenance job: before
trusting (or dropping) a source, profile every column's null rate,
cardinality, and range in ONE pass — not one query per column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ssafynews_data_spark.caching import scratch_dir
from ssafynews_data_spark.registry import register
from ssafynews_data_spark.sources.readers import load_table

TARGET_FILE_ROWS = 4_000  # stand-in for a byte target at fixture scale


def write_fragmented(spark: SparkSession, sf_dir: str, n_files: int = 64) -> str:
    """Simulate a micro-batch sink's droppings: 64 tiny files."""
    path = scratch_dir("fragmented_events")
    load_table(spark, sf_dir, "events").repartition(n_files).write.mode(
        "overwrite"
    ).parquet(path)
    return path


def compact(spark: SparkSession, src: str, dst: str, target_rows: int) -> int:
    """Rewrite ``src`` with file count derived from actual row count /
    target (at 100 TB: bytes via the file listing, same arithmetic).
    ``coalesce`` not ``repartition``: compaction must not pay a shuffle
    — it only concatenates existing partitions."""
    df = spark.read.parquet(src)
    n = df.count()
    files = max(1, -(-n // target_rows))  # ceil
    df.coalesce(files).write.mode("overwrite").parquet(dst)
    return files


@register(
    "compact_small_files",
    oracle="""
        SELECT event_type,
               count(*) AS n,
               round(sum(value), 2) AS total_value
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("maintenance", "compaction", "small-files"),
)
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fragment events into 64 micro-batch-sized files, compact them to
    a row-count-derived target WITHOUT a shuffle (coalesce), and answer
    the usual aggregate FROM THE COMPACTED FILES — compaction must be
    semantically invisible (the oracle reads the raw table) while
    cutting the file count ~10x (asserted in tests/test_maintenance.py,
    along with the no-Exchange plan)."""
    frag = write_fragmented(spark, sf_dir)
    dst = scratch_dir("compacted_events")
    compact(spark, frag, dst, TARGET_FILE_ROWS)
    return (
        spark.read.parquet(dst)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .orderBy("event_type")
    )


@register(
    "events_column_profile",
    oracle="""
        SELECT 'event_type' AS col,
               CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_null,
               CAST(count(DISTINCT event_type) AS BIGINT) AS n_distinct,
               min(CAST(event_type AS VARCHAR)) AS min_str,
               max(CAST(event_type AS VARCHAR)) AS max_str
        FROM events
        UNION ALL
        SELECT 'user_id',
               CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(count(DISTINCT user_id) AS BIGINT),
               min(CAST(user_id AS VARCHAR)), max(CAST(user_id AS VARCHAR))
        FROM events
        UNION ALL
        SELECT 'value',
               CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(count(DISTINCT value) AS BIGINT),
               min(CAST(round(value, 2) AS VARCHAR)),
               max(CAST(round(value, 2) AS VARCHAR))
        FROM events
        ORDER BY col
    """,
    tags=("maintenance", "profiling", "dq"),
)
def events_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass multi-column profile (null count, cardinality, min/max
    as canonical strings) — the look-before-you-ingest audit, emitted
    as one row per column.  A single wide aggregate computes every
    column's stats in one scan, then unpivots driver-side arithmetic-
    free; the naive one-query-per-column form scans the table N times.
    Values are stringified identically on both engines so one schema
    fits every column type."""
    ev = load_table(spark, sf_dir, "events")
    aggs = []
    for col, expr in [
        ("event_type", F.col("event_type").cast("string")),
        ("user_id", F.col("user_id").cast("string")),
        ("value", F.round(F.col("value"), 2).cast("string")),
    ]:
        aggs += [
            F.sum(F.col(col).isNull().cast("long")).alias(f"{col}__null"),
            F.countDistinct(col).alias(f"{col}__distinct"),
            F.min(expr).alias(f"{col}__min"),
            F.max(expr).alias(f"{col}__max"),
        ]
    wide = ev.agg(*aggs)
    rows = []
    for col in ["event_type", "user_id", "value"]:
        rows.append(
            F.struct(
                F.lit(col).alias("col"),
                F.col(f"{col}__null").cast("long").alias("n_null"),
                F.col(f"{col}__distinct").cast("long").alias("n_distinct"),
                F.col(f"{col}__min").alias("min_str"),
                F.col(f"{col}__max").alias("max_str"),
            )
        )
    return (
        wide.select(F.explode(F.array(*rows)).alias("s"))
        .select("s.col", "s.n_null", "s.n_distinct", "s.min_str", "s.max_str")
        .orderBy("col")
    )


@register(
    "rollup_maintenance",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 2) AS total_value,
               CAST(count(DISTINCT strftime(ts, '%Y-%m-%d')) AS BIGINT)
                   AS n_days
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("maintenance", "rollup", "materialized"),
)
def rollup_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The summary-table pattern: persist DAILY pre-aggregates once,
    then answer the month-level question by re-aggregating ~30 summary
    rows per type instead of re-scanning raw events.  Works because
    count/sum are decomposable (sum of partial sums); the daily layer
    is also what a streaming job would maintain incrementally
    (foreachBatch upsert keyed on (type, day)).  The oracle computes
    the same answer from raw — the rollup layer must be lossless for
    decomposable aggregates.  count(DISTINCT day) comes free as the
    summary row count per type."""
    daily_path = scratch_dir("daily_rollup")
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("d")
    ).agg(F.count("*").alias("n"), F.sum("value").alias("sv"))
    daily.write.mode("overwrite").parquet(daily_path)
    summary = spark.read.schema("event_type string, d string, n long, sv double").parquet(
        daily_path
    )
    return (
        summary.groupBy("event_type")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.round(F.sum("sv"), 2).alias("total_value"),
            F.count("d").cast("long").alias("n_days"),
        )
        .orderBy("event_type")
    )


@register(
    "federated_formats_join",
    oracle="""
        SELECT n_name,
               CAST(count(*) AS BIGINT) AS n_customers,
               round(sum(c_acctbal), 2) AS total_balance
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE c_acctbal > 0
        GROUP BY n_name
        ORDER BY n_name
    """,
    tags=("maintenance", "federation", "formats"),
)
def federated_formats_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One plan across three storage formats: customers re-written as
    zstd ORC, the nation dim as headered CSV, joined against each other
    (the raw parquet is the oracle's source) — the everyday federation
    case where history lives in one format and a dim arrives as a CSV
    drop.  Catalyst treats each scan by its own capabilities: the ORC
    side still pushes the balance filter; the CSV side (no stats, no
    pushdown) is 25 rows and broadcasts."""
    orc_path = scratch_dir("federated_cust_orc")
    csv_path = scratch_dir("federated_nation_csv")
    load_table(spark, sf_dir, "customer").write.mode("overwrite").option(
        "compression", "zstd"
    ).orc(orc_path)
    load_table(spark, sf_dir, "nation").write.mode("overwrite").option(
        "header", "true"
    ).csv(csv_path)
    cust = spark.read.orc(orc_path).filter(F.col("c_acctbal") > 0)
    nation = (
        spark.read.option("header", "true")
        .schema("n_nationkey long, n_name string, n_regionkey long")
        .csv(csv_path)
    )
    return (
        cust.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
        )
        .orderBy("n_name")
    )


#: range-layout file count: enough for a real disjointness check,
#: small enough that every range is non-empty at every fixture SF
#: (boundaries are sampled from observed keys, so each range holds at
#: least its boundary key when the key is dense and distinct).
RANGE_LAYOUT_PARTS = 8


@register(
    "range_layout_audit",
    oracle=f"""
        SELECT CAST(count(*) AS BIGINT) AS rows_total,
               true AS files_within_cap,
               true AS ranges_disjoint,
               true AS rows_sorted
        FROM events
    """,
    tags=("maintenance", "layout", "range-partition", "sorted"),
)
def range_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events as a RANGE-PARTITIONED, WITHIN-FILE-SORTED parquet
    layout (``repartitionByRange(event_id).sortWithinPartitions``) and
    audit the files actually on disk: per-file min/max/count via the
    ``_metadata.file_path`` hidden column, disjointness via a lag over
    files ordered by their min, sortedness via the per-file
    ``_metadata.row_index`` hidden column (exact physical row order —
    unlike ``monotonically_increasing_id``, which only tracks file
    order when each file maps to a single read split; a file larger
    than maxSplitBytes can have its splits scheduled out of offset
    order).  The contract row (total rows conserved, file count within
    the requested cap, disjoint ranges, sorted rows) is what the oracle
    asserts: ``repartitionByRange(N)`` produces AT MOST N non-empty
    files (empty ranges write nothing under skewed or low-cardinality
    keys), so the oracle checks ``1 <= n_files <= N``; the exact-count
    claim lives in tests/test_maintenance.py where the fixture's key
    distribution is known.

    This layout is the prerequisite for every min/max-pruned pattern in
    the engine (zorder.py single-dim case, DPP, bloom pruning): a range
    query then touches ONE file via parquet footer stats instead of
    scanning the table.  100 TB shape: the write is one range shuffle
    (sampled boundaries, so skewed keys still balance); the audit reads
    footer-equivalent stats — at scale you'd read the parquet footers
    directly (as tests/test_maintenance.py does via pyarrow) instead of
    re-scanning rows, making the audit O(files), not O(rows).
    Reference anchor: the reference's HDFS sink writes time-bucketed
    files (`collect/consumer2.py:200-210`) but nothing enforces or
    audits key-disjoint layout; this is that missing maintenance job.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    path = scratch_dir("range_layout_events")
    (
        ev.repartitionByRange(RANGE_LAYOUT_PARTS, "event_id")
        .sortWithinPartitions("event_id")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path).select(
        "event_id",
        F.col("_metadata.file_path").alias("f"),
        F.col("_metadata.row_index").alias("ri"),
    )
    # in-file sortedness: row_index is the row's physical offset within
    # its file regardless of how splits were packed into partitions, so
    # any lag-inversion in row_index order is a true sort violation
    order_w = Window.partitionBy("f").orderBy("ri")
    violations = (
        back.withColumn("prev", F.lag("event_id").over(order_w))
        .filter(F.col("prev") > F.col("event_id"))
        .count()
    )
    per_file = back.groupBy("f").agg(
        F.min("event_id").alias("mn"),
        F.max("event_id").alias("mx"),
        F.count("*").alias("n"),
    )
    lag_w = Window.orderBy("mn")
    audit = per_file.withColumn("prev_mx", F.lag("mx").over(lag_w)).agg(
        F.sum("n").cast("long").alias("rows_total"),
        (
            (F.count("*") >= 1) & (F.count("*") <= RANGE_LAYOUT_PARTS)
        ).alias("files_within_cap"),
        F.min(
            F.when(F.col("prev_mx").isNull(), True).otherwise(
                F.col("prev_mx") < F.col("mn")
            )
        ).alias("ranges_disjoint"),
    )
    return audit.withColumn("rows_sorted", F.lit(violations == 0))
