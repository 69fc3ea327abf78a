"""SparkSession factory.

The reference delegates all execution to Spark 3.5.4 / the Flink planner
and never tunes a session (``dags/daily_report_dag.py:32`` just says
``master local[*]``).  Here the session is configured once, explicitly,
with the settings that matter at 100 TB:

- AQE on (runtime coalesce, skew-join splitting, dynamic join strategy).
- ``spark.sql.shuffle.partitions`` sized to the machine, not the 200
  default (per-cluster this should be ~2-3x total cores).
- Session timezone pinned to UTC so event-time semantics are stable and
  DuckDB-oracle comparisons are exact (DuckDB timestamps are UTC-naive).
- Arrow enabled for every pandas boundary (pandas_udf / toPandas).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ssafynews_data_spark.caching import scratch_dir


def default_driver_mem() -> str:
    """The driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: a
    quarter of physical RAM, at most 16g.  The rest of the machine is
    left to the Python workers, the page cache and whatever else shares
    it (a fixed 16g is more than a 15 GB machine has)."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)
    return f"{min(16 * 1024, phys_mb // 4)}m"


def session_builder(
    app_name: str = "ssafynews_data_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession.Builder:
    """Return a configured builder (callers may add more conf before build).

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores when the
    env var is unset).  On a real cluster, pass ``master=None`` and set
    master via spark-submit; every other setting still applies.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime partition coalescing, skew-join handling, and
        # sort-merge->broadcast demotion. Essential at scale, free locally.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # stage progress bars carriage-return over tool output (the
        # check_oracles PASS lines become unreadable in merged logs)
        .config("spark.ui.showConsoleProgress", "false")
        # Deterministic oracle comparisons + correct event-time semantics.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for all pandas boundaries (pandas_udf, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4 captures the Python call site (inspect.stack + 4-6
        # py4j round-trips) around EVERY Column/function call for error
        # context.  Measured here (guide §7.3 — driver-side cost):
        # 992 -> 382 us per F.lit, 2196 -> 151 us per Column op with it
        # off; expression-heavy serve plans spent ~1 s per pass in this
        # wrapper.  Debug context is for interactive sessions, not an
        # engine — off at any scale, not a local[32] tweak.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Keep scans splittable and right-sized (128 MB is also the
        # rolling-file size the reference's Flink sink used,
        # collect/consumer2.py:206-207).
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # The reference ran Spark 3.5 (pre-ANSI default); our expressions
        # are written ANSI-safe, but disable noisy ANSI cast failures on
        # dirty text data — PERMISSIVE ingest is part of the data model
        # (SURVEY.md §2.1 S9).
        .config("spark.sql.ansi.enabled", "false")
        # testdata's events.parquet carries TIMESTAMP(NANOS) which the
        # vectorized reader rejects; read as long and convert in the
        # loader (sources/readers.py) — micros == what DuckDB sees.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Python DataSource filter pushdown (sources/feed_datasource.py
        # implements pushFilters; loading it requires this on)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
        # any catalog access creates the warehouse directory; keep it out
        # of the caller's working directory
        .config("spark.sql.warehouse.dir", scratch_dir("warehouse"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_driver_mem()))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b


def get_session(**kwargs) -> SparkSession:
    """Build (or fetch the active) SparkSession with engine defaults."""
    spark = session_builder(**kwargs).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
