"""Streaming queries registered in the driver contract.

These run a real Structured Streaming query (file source → watermarked
aggregation → memory sink) synchronously to completion and return the
result as a batch DataFrame — so the STREAMING path itself is
oracle-checked against DuckDB, not just unit-tested.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ssafynews_data_spark.caching import scratch_dir
from ssafynews_data_spark.localframe import local_df
from ssafynews_data_spark.registry import register
from ssafynews_data_spark.sources.readers import _ensure_session_conf
from ssafynews_data_spark.streaming.pipeline import daily_tumbling_counts

def _events_physical_schema(ts_type: T.DataType) -> T.StructType:
    """Stream-source schema for events.parquet; ``ts`` varies by fixture
    encoding (long nanos vs TIMESTAMP_NTZ micros — see load_table)."""
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over events.parquet with ``ts`` normalized to
    session-TZ TIMESTAMP.  Streaming readers need an explicit schema, so
    probe the parquet footer via a batch read first and branch on what the
    fixture actually contains (the generator has shipped both
    TIMESTAMP(NANOS)-as-long and timestamp[us]/NTZ encodings)."""
    _ensure_session_conf(spark)
    events_path = os.path.join(sf_dir, "events.parquet")
    physical_ts = spark.read.parquet(events_path).schema["ts"].dataType
    schema = _events_physical_schema(physical_ts)
    if os.path.isdir(events_path):
        # directory-of-part-files layout: stream the directory itself (a
        # name glob would match no part file and silently read nothing)
        raw = spark.readStream.schema(schema).parquet(events_path)
    else:
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    if isinstance(physical_ts, T.LongType):
        # `div` = exact integer division; floor(col/1000) loses precision
        # on nanosecond longs > 2^53 (see sources/readers.py:load_table).
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # NTZ (or already-TZ) micros: cast is wall-clock-preserving under the
    # pinned UTC session timezone.
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


@register(
    "streaming_daily_counts",
    oracle="""
        SELECT strftime(ts, '%Y-%m-%d') AS d,
               event_type,
               count(*) AS n,
               round(sum(value), 2) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    tags=("streaming", "ST8"),
)
def streaming_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST8 tumbling 1-day window agg driven through an actual streaming
    query (complete mode, memory sink, processAllAvailable) — must equal
    the batch daily aggregate bit-for-bit.  In production the source is
    Kafka and the sink is foreachBatch; the query graph is identical."""
    agg = daily_tumbling_counts(_events_stream(spark, sf_dir)).select(
        "d", "event_type", "n", F.round("total_value", 2).alias("total_value")
    )
    name = "sdc_" + uuid.uuid4().hex[:10]
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        # materialize the sink's final state as a plain (non-streaming) DF
        out = local_df(spark, 
            spark.table(name).collect(), spark.table(name).schema
        )
    finally:
        q.stop()
    return out


@register(
    "streaming_session_counts",
    oracle="""
        WITH g AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id,
               CAST(sum(new_session) AS BIGINT) AS n_sessions,
               count(*) AS n_events
        FROM g GROUP BY user_id
    """,
    tags=("streaming", "session_window"),
)
def streaming_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time sessionization as a STREAM: ``session_window(ts, 30
    minutes)`` merges events within the gap into one stateful session.
    The oracle is the batch lag+cumsum formulation — the two different
    algorithms (stateful window merge vs window-function scan) must
    agree on (n_sessions, n_events) per user.

    Boundary note: a gap of exactly 30:00 stays in the same session in
    BOTH formulations (session_window extends through last+gap; the
    batch rule splits only on `> gap`) — verified empirically in
    tests/test_session_boundary.py.
    """
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 days")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n"))
    )
    name = "ssc_" + uuid.uuid4().hex[:10]
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        sessions = local_df(spark, 
            spark.table(name).collect(), spark.table(name).schema
        )
    finally:
        q.stop()
    return sessions.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"), F.sum("n").alias("n_events")
    )


@register(
    "streaming_interval_join",
    oracle="""
        WITH c AS (SELECT user_id, ts AS cts FROM events WHERE event_type = 'click'),
             p AS (SELECT user_id, ts AS pts FROM events WHERE event_type = 'purchase')
        SELECT p.user_id,
               count(*) AS n_pairs,
               CAST(sum(epoch_us(pts) - epoch_us(cts)) AS BIGINT) AS total_gap_us
        FROM p JOIN c ON c.user_id = p.user_id
                     AND cts BETWEEN pts - INTERVAL 30 MINUTE AND pts
        GROUP BY 1
    """,
    tags=("streaming", "stream-stream-join"),
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream INNER join with an event-time range condition:
    purchases matched to every click by the same user in the preceding
    30 minutes.  Both sides are watermarked, so the join state is
    bounded — Spark drops buffered clicks once the watermark passes
    click_ts + 30 minutes; without the time bound a stream-stream join
    would buffer forever (the unbounded-state trap).

    The streaming part is the pure append-mode join; the per-user
    rollup happens on the materialized result (chaining an aggregation
    after a stream-stream join would need another watermark hop and
    tests nothing new).  Oracle: the identical batch interval join in
    DuckDB, inclusive BETWEEN on both engines."""
    stream = _events_stream(spark, sf_dir)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "10 days")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "10 days")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            """
            p_user = user_id AND
            click_ts BETWEEN p_ts - INTERVAL 30 MINUTES AND p_ts
            """
        ),
    )
    name = "sij_" + uuid.uuid4().hex[:10]
    # Stream-stream joins schedule one state-store task per shuffle
    # partition per side per micro-batch; scope the partition count to
    # the data (the driver's plain session defaults to 200 — 400 state
    # stores for a 10k-row fixture).  At scale this knob is sized to
    # state volume, not left at default, exactly as done here.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
            pairs = local_df(spark, 
                spark.table(name).collect(), spark.table(name).schema
            )
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    gap_us = F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("click_ts"))
    return pairs.groupBy(F.col("p_user").alias("user_id")).agg(
        F.count("*").alias("n_pairs"),
        F.sum(gap_us).alias("total_gap_us"),
    )


@register(
    "streaming_static_enrich",
    oracle="""
        SELECT c.c_mktsegment AS mktsegment,
               count(*) AS n,
               round(sum(e.value), 2) AS total_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1
    """,
    tags=("streaming", "stream-static-join", "S4"),
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment: the event stream joins a
    static customer dimension (user_id = c_custkey) and aggregates
    revenue per market segment.  This is the canonical streaming-ETL
    enrich step (reference: consumer rows joined to the news_article
    dim before upsert, collect/consumer2.py) expressed the Spark way:
    the static side is re-read per micro-batch, and because it is small
    it is explicitly ``broadcast()`` — each micro-batch plans a
    BroadcastHashJoin with NO shuffle of the stream side and no state
    store (stream-static inner joins are stateless, unlike
    stream-stream).  At 100 TB/day the dim table is still MBs: the
    broadcast is the right plan at every scale."""
    from ssafynews_data_spark.sources.readers import load_table

    stream = _events_stream(spark, sf_dir)
    dim = F.broadcast(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    enriched = stream.join(dim, stream.user_id == dim.c_custkey)
    agg = enriched.groupBy(F.col("c_mktsegment").alias("mktsegment")).agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value")
    )
    name = "sse_" + uuid.uuid4().hex[:10]
    # scope state-store count to the data (see streaming_interval_join)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
            out = local_df(spark, 
                spark.table(name).collect(), spark.table(name).schema
            )
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return out


@register(
    "streaming_dedup_counts",
    oracle="""
        SELECT event_type, count(*) AS n
        FROM (SELECT DISTINCT ON (event_id) * FROM events)
        GROUP BY event_type
    """,
    tags=("streaming", "D1", "ST1"),
)
def streaming_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 as a stream: watermarked dropDuplicates on the key, then a
    stateful count — the engine form of the producer's dedup deque +
    idempotent sink.  The fixture has unique event_ids, so this must
    reproduce the plain per-type counts (planted-duplicate behavior is
    covered in tests/test_streaming.py)."""
    stream = _events_stream(spark, sf_dir)
    deduped = stream.withWatermark("ts", "1 day").dropDuplicates(["event_id"])
    agg = deduped.groupBy("event_type").agg(F.count("*").alias("n"))
    name = "sdd_" + uuid.uuid4().hex[:10]
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        out = local_df(spark, 
            spark.table(name).collect(), spark.table(name).schema
        )
    finally:
        q.stop()
    return out


@register(
    "streaming_watermark_dedup",
    oracle="""
        SELECT event_type, count(DISTINCT event_id) AS n
        FROM events
        GROUP BY event_type
    """,
    tags=("streaming", "D1", "ST6", "dropDuplicatesWithinWatermark"),
)
def streaming_watermark_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` under REAL duplicate pressure:
    the events stream unioned with a second reader of the same data, so
    every key arrives (at least) twice and the operator must collapse
    the union back to one row per event_id.

    Unlike plain streaming ``dropDuplicates`` (streaming_dedup_counts),
    this operator's state is BOUNDED: keys are evicted once the
    watermark passes their event time + delay — the production choice
    for infinite streams, where exact dedup state would grow without
    limit (the delay is the dedup guarantee window: re-crawls and
    producer retries land within it, archival replays do not).  The
    delay here exceeds the fixture's time span so the check is exact;
    the deduped rows flow append-mode to the sink and are aggregated as
    a batch, keeping ONE stateful operator in the streaming graph."""
    dup = _events_stream(spark, sf_dir).unionByName(_events_stream(spark, sf_dir))
    deduped = dup.withWatermark("ts", "365 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    name = "swd_" + uuid.uuid4().hex[:10]
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        out = (
            spark.table(name)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"))
        )
        out = local_df(spark, out.collect(), out.schema)
    finally:
        q.stop()
    return out


@register(
    "streaming_semi_join",
    oracle="""
        WITH p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
        SELECT p.user_id, count(*) AS n_attributed
        FROM p
        WHERE EXISTS (
            SELECT 1 FROM events c
            WHERE c.event_type = 'click'
              AND c.user_id = p.user_id
              AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
        )
        GROUP BY p.user_id
    """,
    tags=("streaming", "stream-stream-join", "semi"),
)
def streaming_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI join with an event-time range condition:
    purchases that had at least one click by the same user in the
    preceding 30 minutes — attribution EXISTS semantics, each purchase
    emitted AT MOST ONCE no matter how many clicks match (the inner
    join variant multiplies; semi is what funnel attribution wants).
    Both sides watermarked so click state is dropped once the watermark
    passes click_ts + 30 min.  Oracle: the batch EXISTS formulation."""
    stream = _events_stream(spark, sf_dir)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "10 days")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "10 days")
    )
    attributed = purchases.join(
        clicks,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("click_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("click_ts") <= F.col("p_ts")),
        "left_semi",
    )
    name = "ssj_" + uuid.uuid4().hex[:10]
    q = (
        attributed.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        out = (
            spark.table(name)
            .groupBy(F.col("p_user").alias("user_id"))
            .agg(F.count("*").alias("n_attributed"))
        )
        out = local_df(spark, out.collect(), out.schema)
    finally:
        q.stop()
    return out


@register(
    "streaming_file_sink_e2e",
    oracle="""
        SELECT event_id,
               strftime(ts, '%Y%m%d') AS ymd,
               event_type,
               round(value, 2) AS value
        FROM events
    """,
    tags=("streaming", "ST1", "ST3", "ST4", "sink"),
)
def streaming_file_sink_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1+ST3+ST4 through REAL files: stream the events source with an
    AvailableNow trigger into ``foreach_batch_upsert`` writing
    day-partitioned parquet, run the WHOLE stream a second time against
    a fresh checkpoint (total redelivery — the at-least-once worst
    case), and return the read-back files.  The key-idempotent sink must
    leave exactly one row per event_id, so the read-back equals the
    batch projection of the source — previously the file sink was only
    memory-sink/unit tested; this row makes the driver hash-check the
    on-disk result (VERDICT r4 "next" #5; consumer2.py:190-209).
    """
    from ssafynews_data_spark.sources.sinks import foreach_batch_upsert

    base = scratch_dir("stream_sink_e2e")
    data_path = os.path.join(base, "data")
    out_schema = "event_id LONG, ymd STRING, event_type STRING, value DOUBLE"
    # empty-day path: zero batches fire, so no files would exist to read
    # back (and a 0-row append leaves an uninferrable parquet dir)
    if spark.read.parquet(os.path.join(sf_dir, "events.parquet")).isEmpty():
        return local_df(spark, [], out_schema)
    sink = foreach_batch_upsert(data_path, key="event_id", partition_by="ymd")
    # two full passes, separate checkpoints: pass 2 redelivers every
    # record; the upsert must no-op (effectively-once on disk)
    for attempt in range(2):
        events = _events_stream(spark, sf_dir).select(
            "event_id",
            F.date_format("ts", "yyyyMMdd").alias("ymd"),
            "event_type",
            F.round("value", 2).alias("value"),
        )
        q = (
            events.writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(base, f"ck_{attempt}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    back = spark.read.parquet(data_path).select(
        "event_id", F.col("ymd").cast("string").alias("ymd"), "event_type", "value"
    )
    return local_df(spark, back.collect(), back.schema)


def streaming_tws_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running stats through the Spark 4
    ``transformWithStateInPandas`` API (typed ValueState in the state
    store) — the modern successor to ``applyInPandasWithState``, driven
    end-to-end as a real stream.  NOT registered in the driver contract:
    the API's Python runner requires protobuf, which this image doesn't
    ship, so the capability is dependency-gated
    (tests/test_stateful.py::test_tws_running_stats_gated — skips
    cleanly offline, must hash-match the batch aggregate where protobuf
    exists).  Update-mode emissions are monotone in n_events, so the
    final state per user is the max_by row."""
    from ssafynews_data_spark.streaming.stateful import running_user_stats_tws

    out = running_user_stats_tws(_events_stream(spark, sf_dir))
    name = "tws_" + uuid.uuid4().hex[:10]
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        final = (
            spark.table(name)
            .groupBy("user_id")
            .agg(
                F.max("n_events").alias("n_events"),
                F.round(
                    F.max_by("total_value", "n_events"), 2
                ).alias("total_value"),
            )
        )
        res = local_df(spark, final.collect(), final.schema)
    finally:
        q.stop()
    return res


@register(
    "streaming_sketch_maintenance",
    oracle="""
        SELECT strftime(ts, '%Y-%m-%d') AS day,
               count(DISTINCT user_id) AS exact_users,
               TRUE AS est_ok
        FROM events GROUP BY 1
    """,
    tags=("streaming", "sketch", "hll", "contract"),
)
def streaming_sketch_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of MERGEABLE distinct-count sketches: every
    micro-batch appends its per-day HLL user sketches (tiny binaries) to
    a parquet sketch table via foreachBatch; reads union the sketches
    per day — the incremental-rollup architecture where a 100 TB events
    stream keeps "distinct users per day" queryable without ever
    re-scanning raw ids.

    The WHOLE stream runs twice against fresh checkpoints (total
    redelivery): HLL union is a SET operation, so duplicate sketches
    change nothing — sketch algebra gives effectively-once estimates
    under at-least-once delivery with no key-dedup machinery at all.
    The driver hash-checks per-day exact counts (recomputed batch-side,
    DuckDB-matched) plus the contract that every day's estimate lands
    within 5% of exact."""
    base = scratch_dir("stream_sketches")
    data_path = os.path.join(base, "sketches")
    out_schema = "day STRING, exact_users LONG, est_ok BOOLEAN"
    from ssafynews_data_spark.sources.readers import load_table

    events_batch = load_table(spark, sf_dir, "events")
    if events_batch.isEmpty():
        return local_df(spark, [], out_schema)

    def append_sketches(batch_df, batch_id: int) -> None:
        (
            batch_df.select(F.to_date("ts").alias("d"), "user_id")
            .groupBy("d")
            .agg(F.hll_sketch_agg("user_id").alias("sk"))
            .write.mode("append")
            .parquet(data_path)
        )

    for attempt in range(2):  # redelivery: sketch union must not drift
        q = (
            _events_stream(spark, sf_dir)
            .writeStream.foreachBatch(append_sketches)
            .option("checkpointLocation", os.path.join(base, f"ck_{attempt}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    est = (
        spark.read.parquet(data_path)
        .groupBy("d")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    )
    exact = (
        events_batch.select(F.to_date("ts").alias("d"), "user_id")
        .groupBy("d")
        .agg(F.count_distinct("user_id").alias("exact_users"))
    )
    out = exact.join(est, "d").select(
        F.col("d").cast("string").alias("day"),
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("est_ok"),
    )
    return local_df(spark, out.collect(), out.schema)


@register(
    "streaming_outer_interval_join",
    oracle="""
        WITH mx AS (SELECT least(
                       max(ts) FILTER (WHERE event_type = 'click'),
                       max(ts) FILTER (WHERE event_type = 'purchase'))
                   AS max_ts FROM events),
             c AS (SELECT user_id, ts AS cts FROM events
                   WHERE event_type = 'click'),
             p AS (SELECT user_id AS p_user, ts AS pts FROM events, mx
                   WHERE event_type = 'purchase'
                     AND ts < max_ts - INTERVAL 35 MINUTE)
        SELECT p_user AS user_id,
               count(*) AS n_purchases,
               CAST(count(cts) AS BIGINT) AS n_matched,
               CAST(sum(CASE WHEN cts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_unmatched
        FROM p LEFT JOIN c
          ON c.user_id = p_user
         AND cts BETWEEN pts - INTERVAL 30 MINUTE AND pts
        GROUP BY 1
    """,
    tags=("streaming", "stream-stream-join", "outer"),
)
def streaming_outer_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the semantics the inner
    form can't test: a purchase with NO click in its preceding 30
    minutes must still emit, with nulls.  In Structured Streaming the
    null row for an unmatched purchase is only emitted once the
    watermark passes the point where a matching click can no longer
    arrive (here: past the purchase's own timestamp); the no-data
    micro-batches after the file source drains advance the watermark to
    max(ts) - delay and flush them.  Eviction is conservative: a
    purchase emits its null row only once the watermark clears
    p_ts + the 30-minute join interval, so purchases inside the final
    (interval + delay) window are still buffered when the query stops —
    BOTH engines exclude that tail (ts < max_ts - 35 min) so the
    comparison is exact, and the exclusion is computed from the data,
    not hardcoded.  A short 1-minute delay is safe here because the file
    source delivers the fixture as one ordered micro-batch (no
    intra-batch late drops); a production feed sizes the delay to its
    real disorder bound."""
    stream = _events_stream(spark, sf_dir)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 minute")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 minute")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            """
            p_user = user_id AND
            click_ts BETWEEN p_ts - INTERVAL 30 MINUTES AND p_ts
            """
        ),
        "left_outer",
    )
    name = "soj_" + uuid.uuid4().hex[:10]
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
            pairs = local_df(spark, 
                spark.table(name).collect(), spark.table(name).schema
            )
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    from ssafynews_data_spark.sources.readers import load_table

    # the global watermark is the MIN across both branch watermarks:
    # each side's max event time advances independently (the fixture's
    # last click can trail the last purchase by hours), so the safe
    # tail cutoff keys off the SLOWER branch.
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.least(
            F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
            F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
        ).alias("max_ts")
    )
    return (
        pairs.crossJoin(F.broadcast(bounds))
        .filter(F.col("p_ts") < F.col("max_ts") - F.expr("INTERVAL 35 MINUTES"))
        .groupBy(F.col("p_user").alias("user_id"))
        .agg(
            F.count("*").alias("n_purchases"),
            F.count("click_ts").alias("n_matched"),
            F.sum(F.when(F.col("click_ts").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_unmatched"),
        )
    )


@register(
    "streaming_sliding_counts",
    oracle="""
        WITH w AS (
            SELECT unnest(generate_series(
                       date_trunc('day', ts) - INTERVAL 2 DAY,
                       date_trunc('day', ts),
                       INTERVAL 1 DAY)) AS w_start,
                   event_type, value
            FROM events
        )
        SELECT strftime(w_start, '%Y-%m-%d') AS w_start,
               event_type,
               count(*) AS n,
               round(sum(value), 2) AS total_value
        FROM w
        GROUP BY 1, 2
    """,
    tags=("streaming", "ST8", "sliding-window"),
)
def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING event-time window (3-day length, 1-day slide) through a
    real streaming query: every event lands in exactly 3 overlapping
    windows, so totals across windows triple-count by design — the
    window assignment itself is what's under test (tumbling is the
    degenerate slide == length case already covered by
    streaming_daily_counts).  The oracle replicates each row into its 3
    windows with generate_series and aggregates identically.  Complete
    mode + memory sink, drained synchronously; state is |windows| ×
    |types| rows — bounded by the slide ratio, not the event count."""
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 days")
        .groupBy(F.window("ts", "3 days", "1 day"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd").alias("w_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    name = "ssl_" + uuid.uuid4().hex[:10]
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        out = local_df(spark, 
            spark.table(name).collect(), spark.table(name).schema
        )
    finally:
        q.stop()
    return out


@register(
    "streaming_state_inspection",
    oracle="""
        SELECT DISTINCT user_id FROM events
    """,
    tags=("streaming", "statestore", "observability"),
)
def streaming_state_inspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query the STATE STORE itself (Spark 4 ``statestore`` data
    source): run a streaming dropDuplicates(user_id) to completion with
    a real checkpoint, then read the operator's keyed state back from
    that checkpoint as a DataFrame.  For an unwatermarked dedup the
    state is exactly the distinct-key set, so the read-back state is
    oracle-checkable against ``SELECT DISTINCT user_id`` — turning
    "what is my streaming job remembering?" (the debugging question
    every stateful pipeline eventually asks) into a verifiable query.
    At scale this reader is how you audit state growth without
    restarting the job."""
    ckpt = scratch_dir("state_inspect")
    dedup = (
        _events_stream(spark, sf_dir)
        .select("user_id")
        .dropDuplicates(["user_id"])
    )
    name = "ssi_" + uuid.uuid4().hex[:10]
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            dedup.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    state = spark.read.format("statestore").load(ckpt)
    return state.select(F.col("key.user_id").alias("user_id"))


@register(
    "streaming_union_dedup",
    oracle="""
        WITH u AS (
            SELECT event_id, user_id FROM events WHERE event_type = 'click'
            UNION ALL
            SELECT event_id, user_id FROM events WHERE value > 200
        )
        SELECT user_id,
               CAST(count(DISTINCT event_id) AS BIGINT) AS n_events
        FROM u
        GROUP BY user_id
    """,
    tags=("streaming", "union", "dedup"),
)
def streaming_union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION of two streaming branches with overlapping membership
    (clicks ∪ high-value events — a high-value click is in BOTH), then
    stateful dropDuplicates on event_id: the multi-source ingestion
    pattern where the same record can arrive via several feeds and
    must count once.  The union of streams is itself a streaming
    DataFrame; dedup state is keyed on event_id.  Oracle: batch union +
    count(DISTINCT event_id) per user."""
    stream = _events_stream(spark, sf_dir)
    a = stream.filter(F.col("event_type") == "click").select("event_id", "user_id")
    b = stream.filter(F.col("value") > 200).select("event_id", "user_id")
    deduped = a.unionByName(b).dropDuplicates(["event_id"])
    name = "sud_" + uuid.uuid4().hex[:10]
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            deduped.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
            rows = local_df(spark, 
                spark.table(name).collect(), spark.table(name).schema
            )
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return rows.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events")
    )
