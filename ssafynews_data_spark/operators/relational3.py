"""Third relational batch: ranking-function family and map-typed ops."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ssafynews_data_spark.caching import scratch_dir
from ssafynews_data_spark.localframe import local_df
from ssafynews_data_spark.registry import register
from ssafynews_data_spark.sources.readers import load_table


@register(
    "event_value_ranks",
    oracle="""
        SELECT event_id, event_type,
               CAST(ntile(4) OVER w AS INT) AS quartile,
               CAST(rank() OVER w AS INT) AS rnk,
               CAST(dense_rank() OVER w AS INT) AS drnk,
               CAST(floor(percent_rank() OVER w * 10000) AS BIGINT) AS pct_rank_q4,
               CAST(floor(cume_dist() OVER w * 10000) AS BIGINT) AS cume_q4
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    """,
    tags=("windows", "rank"),
)
def event_value_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking-function family in one window (rank, dense_rank,
    ntile, percent_rank, cume_dist) — one shuffle on event_type serves
    all five.  Ratio-valued ranks emitted floor-scaled (see
    quality_scores for why round() can't cross engines)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "event_type",
        F.ntile(4).over(w).alias("quartile"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.floor(F.percent_rank().over(w) * 10000).alias("pct_rank_q4"),
        F.floor(F.cume_dist().over(w) * 10000).alias("cume_q4"),
    )


@register(
    "events_unpivot",
    oracle="""
        WITH piv AS (
            SELECT strftime(ts, '%Y-%m-%d') AS d,
                   coalesce(round(sum(CASE WHEN event_type = 'click'    THEN value END), 2), 0.0) AS click,
                   coalesce(round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2), 0.0) AS purchase,
                   coalesce(round(sum(CASE WHEN event_type = 'error'    THEN value END), 2), 0.0) AS error
            FROM events GROUP BY 1
        )
        SELECT d, 'click' AS kind, click AS total FROM piv
        UNION ALL SELECT d, 'purchase', purchase FROM piv
        UNION ALL SELECT d, 'error', error FROM piv
    """,
    tags=("unpivot", "stack"),
)
def events_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot via ``stack`` (guide: 'Pivot / unpivot'): wide daily
    metrics back to long form — a Generate (row-expansion) node, no
    shuffle beyond the feeding aggregate."""
    ev = load_table(spark, sf_dir, "events")
    kinds = ["click", "purchase", "error"]
    piv = (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .pivot("event_type", kinds)
        .sum("value")
    )
    wide = piv.select(
        "d", *[F.coalesce(F.round(F.col(k), 2), F.lit(0.0)).alias(k) for k in kinds]
    )
    stack_expr = "stack(3, " + ", ".join(f"'{k}', {k}" for k in kinds) + ") AS (kind, total)"
    return wide.selectExpr("d", stack_expr)


@register(
    "props_map_stats",
    oracle="""
        WITH kv AS (
            SELECT unnest(json_keys(props)) AS prop_key, props FROM events
        )
        SELECT prop_key,
               count(*) AS n,
               CAST(sum(CAST(json_extract(props, '$.' || prop_key) AS BIGINT))
                    AS BIGINT) AS total
        FROM kv GROUP BY prop_key
    """,
    tags=("map", "F8"),
)
def props_map_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: parse props as map<string,long>, explode entries,
    aggregate per key — the schema-free form of parse_event_props for
    payloads whose keys vary by row."""
    ev = load_table(spark, sf_dir, "events")
    m = F.from_json(F.col("props"), T.MapType(T.StringType(), T.LongType()))
    return (
        ev.select(F.explode(m).alias("prop_key", "v"))
        .groupBy("prop_key")
        .agg(F.count("*").alias("n"), F.sum("v").alias("total"))
    )


@register(
    "variant_props_stats",
    oracle="""
        SELECT event_type,
               count(*) AS n,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
                   AS k_sum,
               CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
                   AS k_min,
               CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
                   AS k_max
        FROM events
        GROUP BY 1
    """,
    tags=("variant", "semi-structured", "F8"),
)
def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through the VARIANT type (Spark 4):
    ``parse_json`` once into a binary variant, then ``try_variant_get``
    path extraction — no schema declaration, unlike the ``from_json``
    form in ``parse_event_props``.  At scale VARIANT beats re-parsing
    JSON strings per field: the shredded binary encoding is parsed once
    at scan/ingest and each path access is an O(path) lookup, not a
    full-document parse.  Oracle: DuckDB's JSON path extraction over the
    same strings."""
    ev = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


@register(
    "session_window_stats",
    oracle="""
        WITH g AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                >= 600000000
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        s AS (
            SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sid
            FROM g
        )
        SELECT user_id,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(max(ts) + INTERVAL 10 MINUTE, '%Y-%m-%d %H:%M:%S')
                   AS session_end,
               count(*) AS n_events,
               min(event_id) AS first_event
        FROM s GROUP BY user_id, sid
    """,
    tags=("windows", "session-window", "ST8"),
)
def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``F.session_window`` in BATCH mode — Spark's dynamic-gap
    session operator (the same expression Structured Streaming uses for
    ST8-style windows), oracle-checked against the lag/cumsum
    gaps-and-islands formulation.  One shuffle on user_id serves the
    whole query; a new session opens when the gap is >= 10 min at
    microsecond precision (``epoch_us`` truncation on both engines, the
    nanos-parquet rule from readers.load_table)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "10 minutes").alias("sw"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_id").alias("first_event"),
        )
        .select(
            "user_id",
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("sw.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "first_event",
        )
    )


@register(
    "robust_value_stats",
    oracle="""
        WITH c AS (
            SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents
            FROM events
        ),
        m AS (SELECT event_type, median(cents) AS med FROM c GROUP BY 1),
        j AS (SELECT c.event_type, c.cents, m.med
              FROM c JOIN m USING (event_type))
        SELECT event_type,
               CAST(2 * min(med) AS BIGINT) AS med_cents_x2,
               CAST(4 * median(abs(cents - med)) AS BIGINT) AS mad_cents_x4,
               count(*) AS n
        FROM j GROUP BY event_type
    """,
    tags=("robust-stats", "median", "mad"),
)
def robust_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier-robust location/scale per event type: exact median and
    MAD (median absolute deviation) via ``F.median``.  All arithmetic
    is on integer cents so every interpolated median lands on an
    exactly-representable half/quarter — scaled (×2/×4) back to BIGINT,
    the comparison is bit-exact across engines with no float rounding.

    Scale shape: two aggregation passes over events, but the per-type
    medians (a handful of rows) come back via a BROADCAST join, so the
    fact table shuffles only for the two groupBys on the same key."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.floor(F.col("value") * 100).cast("long").alias("cents")
    )
    meds = ev.groupBy("event_type").agg(
        (F.median("cents") * 2).cast("long").alias("med2")
    )
    j = ev.join(F.broadcast(meds), "event_type").withColumn(
        "dev2", F.abs(F.col("cents") * 2 - F.col("med2"))
    )
    return j.groupBy("event_type").agg(
        F.min("med2").alias("med_cents_x2"),
        (F.median("dev2") * 2).cast("long").alias("mad_cents_x4"),
        F.count("*").alias("n"),
    )


@register("hll_daily_user_sketches", tags=("sketch", "hll", "approx"))
def hll_daily_user_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches — the 100 TB architecture for
    "distinct users per day AND overall": one ``hll_sketch_agg`` pass
    builds a per-day sketch, and the global figure is ``hll_union_agg``
    over the (tiny) sketches — no second scan of the events table, no
    re-shuffle of raw user ids.  This is how rollup hierarchies keep
    distinct counts incremental: store sketches per partition, union on
    read.  Rows-only check (HLL registers are engine-specific);
    tests/test_relational_sketch.py bounds the estimates against exact
    distinct counts."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(F.to_date("ts").alias("d"), "user_id")
        .groupBy("d")
        .agg(
            F.hll_sketch_agg("user_id").alias("sk"),
            F.countDistinct("user_id").alias("exact_users"),
        )
    )
    per_day = daily.select(
        F.col("d").cast("string").alias("day"),
        F.hll_sketch_estimate("sk").alias("est_users"),
        "exact_users",
    )
    total = daily.agg(
        F.lit("ALL").alias("day"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"),
        F.lit(None).cast("long").alias("exact_users"),
    )
    return per_day.unionByName(total)


@register(
    "observed_write_audit",
    oracle="""
        SELECT count(*) AS n_rows,
               CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS nulls_text,
               count(*) AS n_readback
        FROM documents
    """,
    tags=("sink", "observe", "audit"),
)
def observed_write_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-cost pipeline metrics via ``df.observe``: the write job
    itself reports row count and null counts (no second scan — at
    100 TB a follow-up count() would re-read the whole output), then the
    files are read back and counted.  The driver hash-checks all three
    figures against DuckDB, proving the observed metrics equal the
    ground truth and the write lost nothing."""
    from ssafynews_data_spark.sources.sinks import observed_write

    docs = load_table(spark, sf_dir, "documents")
    path = scratch_dir("observed_audit")
    metrics = observed_write(docs, path, audit_cols=("text",))
    n_back = spark.read.parquet(path).count()
    return local_df(spark, 
        [(metrics["n_rows"], metrics["nulls_text"], n_back)],
        "n_rows LONG, nulls_text LONG, n_readback LONG",
    )


@register(
    "hll_intersection_contract",
    oracle="""
        WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
             p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        SELECT CAST((SELECT count(*) FROM c) AS BIGINT) AS exact_click,
               CAST((SELECT count(*) FROM p) AS BIGINT) AS exact_purchase,
               CAST((SELECT count(*) FROM c JOIN p USING (user_id)) AS BIGINT)
                   AS exact_both,
               true AS est_within_10pct
    """,
    tags=("sketch", "hll", "intersection", "contract"),
)
def hll_intersection_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch set INTERSECTION via inclusion-exclusion: HLL sketches
    support union natively, so |clickers ∩ purchasers| is estimated as
    |A| + |B| − |A ∪ B| from three sketch estimates — no exact distinct
    anywhere in the sketch path.  The contract row carries the exact
    cardinalities (oracle-recomputed in DuckDB) plus a boolean that the
    estimate lands within 10% of exact; inclusion-exclusion compounds
    the error of three estimates, which is why the tolerance is looser
    than the single-sketch 5% used by the daily-sketch queries."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    both = clicks.select("user_id").unionByName(purchases.select("user_id"))
    est = (
        clicks.agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("ea"))
        .crossJoin(
            purchases.agg(
                F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("eb")
            )
        )
        .crossJoin(
            both.agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("eu"))
        )
        .select((F.col("ea") + F.col("eb") - F.col("eu")).alias("est_both"))
    )
    exact = (
        clicks.select("user_id")
        .distinct()
        .agg(F.count("*").cast("long").alias("exact_click"))
        .crossJoin(
            purchases.select("user_id")
            .distinct()
            .agg(F.count("*").cast("long").alias("exact_purchase"))
        )
        .crossJoin(
            clicks.select("user_id")
            .distinct()
            .join(purchases.select("user_id").distinct(), "user_id")
            .agg(F.count("*").cast("long").alias("exact_both"))
        )
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "exact_click",
        "exact_purchase",
        "exact_both",
        (
            F.abs(F.col("est_both") - F.col("exact_both"))
            <= 0.10 * F.col("exact_both")
        ).alias("est_within_10pct"),
    )
