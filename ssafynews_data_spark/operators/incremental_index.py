"""Incremental near-dup: a persisted MinHash band index + delta joins.

Every production dedup system ends up here: the corpus is deduped once
(the expensive nightly build), and each new crawl batch must be checked
against it WITHOUT recomputing the old corpus's signatures.  The
reference's incremental story is a per-link Postgres existence check
(``collect/consumer.py:137-150``); this operator is the content-level
generalization — the reusable artifact is the banded MinHash index:

1. **Build** (once): base docs → shingle hashes → MinHash signatures →
   (doc_id, band_idx, band_hash) rows, written to parquet partitioned
   by ``band_idx``.  This is the index; at 100 TB it is additionally
   bucketed by ``band_hash`` so the delta join below is shuffle-free on
   the index side.
2. **Delta** (per batch): ONLY the new docs pay signature cost; their
   band rows equi-join the on-disk index to produce candidates, and
   only candidates pay the exact shingle verify.  (The join probes
   every band, so ``band_idx`` partitioning is NOT pruning here — it
   enables band-at-a-time processing when a batch must fit in a memory
   budget, and at 100 TB the index is additionally bucketed by
   ``band_hash`` so the delta join shuffles only the delta side.)

Cost per batch: O(delta size + candidates), independent of the base
corpus size — the property that makes daily dedup of a 100 TB corpus a
minutes job instead of a re-run.

The registered query runs build + delta in one call (the driver's
correctness gate needs a self-contained query) with a deterministic
80/20 split.  Its guarantee is stated honestly (round 8): every
verified pair is in the exact cross-set pair list (precision 1.0), and
aggregate recall clears a floor — banding is PROBABILISTIC at the
Jaccard boundary, so exact-equality with the quadratic ground truth is
not a claim an LSH index can make (a reseeded fixture proved it).
Both halves are the oracled ``incremental_index_recall_contract``;
the full-corpus twin is ``minhash_chain_recall_contract``
(operators/dedup.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ssafynews_data_spark.caching import pin, scratch_dir
from ssafynews_data_spark.operators.dedup import (
    _DUCK_SHINGLES,
    JACCARD_THRESHOLD,
    MINHASH_CHAIN_CONFIDENT_Q4,
    _doc_shingle_hashes,
    _doc_shingles,
    band_rows,
    minhash_signatures,
)
from ssafynews_data_spark.localframe import local_df
from ssafynews_data_spark.registry import register

DELTA_MOD = 5  # doc_id % 5 == 0 → the "new batch" (20%)


def build_index(spark: SparkSession, sf_dir: str) -> str:
    """The nightly build: base-corpus band rows, partitioned by band."""
    path = scratch_dir("minhash_index")
    base_h = _doc_shingle_hashes(spark, sf_dir).filter(
        F.col("doc_id") % DELTA_MOD != 0
    )
    rows = band_rows(minhash_signatures(base_h))
    rows.write.mode("overwrite").partitionBy("band_idx").parquet(path)
    return path


#: exact cross-set (delta vs base) pair facts, shared by the recall
#: contract's oracle.
_CROSS_EXACT_SQL = f"""
        WITH sh AS (
            SELECT doc_id, unnest({_DUCK_SHINGLES}) AS sh
            FROM documents
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        pairs AS (
            SELECT d.doc_id AS doc_delta, b.doc_id AS doc_base,
                   count(*) AS common
            FROM sh d JOIN sh b ON d.sh = b.sh
            WHERE d.doc_id % {DELTA_MOD} = 0 AND b.doc_id % {DELTA_MOD} != 0
            GROUP BY 1, 2
        )
        SELECT doc_delta, doc_base,
               CAST(floor(common / (sd.n + sb.n - common) * 10000) AS BIGINT)
                   AS jaccard_q4
        FROM pairs
        JOIN sizes sd ON sd.doc_id = doc_delta
        JOIN sizes sb ON sb.doc_id = doc_base
        WHERE common / (sd.n + sb.n - common) >= {JACCARD_THRESHOLD}
"""


@register(
    "minhash_incremental_index",
    # Rows-only BY DESIGN (round 8, same finding as minhash_verified_
    # pairs): the index is BANDED, so a cross-set pair at Jaccard
    # exactly 0.5 is missed with prob (1-0.5^4)^8 ≈ 0.60 — the old
    # exact-equality oracle held on seed-42 by margin and a third-seed
    # reseeded fixture (tools/reseed_fixture.py) caught it one pair
    # short.  The honest guarantee — verified output ⊆ exact cross-set
    # pairs, recall ≥ floor — is the oracled
    # ``incremental_index_recall_contract`` below.
    tags=("dedup", "minhash", "incremental", "index"),
)
def minhash_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the base index on disk, then dedup the delta batch against
    it: delta docs compute their own signatures only, join the stored
    band rows, and exact-verify the candidates.  Every emitted pair is
    exact-verified (precision 1.0); recall is the banding S-curve
    1-(1-s^4)^8 — ~1.0 for the near-identical pairs dedup targets,
    permissive at the 0.5 boundary (see
    ``incremental_index_recall_contract``)."""
    path = build_index(spark, sf_dir)
    # explicit schema: an empty base corpus writes zero files and the
    # read can't infer one (band_idx is the partition column)
    index = spark.read.schema("doc_id long, band_hash bigint, band_idx int").parquet(
        path
    ).select(F.col("doc_id").alias("doc_base"), "band_idx", "band_hash")
    delta_h = _doc_shingle_hashes(spark, sf_dir).filter(
        F.col("doc_id") % DELTA_MOD == 0
    )
    delta_bands = band_rows(minhash_signatures(delta_h)).select(
        F.col("doc_id").alias("doc_delta"), "band_idx", "band_hash"
    )
    cands = (
        delta_bands.join(index, ["band_idx", "band_hash"])
        .select("doc_delta", "doc_base")
        .distinct()
    )
    sh = pin(_doc_shingles(spark, sf_dir))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    d = sh.select(F.col("doc_id").alias("doc_delta"), "sh")
    b = sh.select(F.col("doc_id").alias("doc_base"), "sh")
    common = (
        cands.join(d, "doc_delta")
        .join(b, ["doc_base", "sh"])
        .groupBy("doc_delta", "doc_base")
        .agg(F.count("*").alias("common"))
    )
    sd = sizes.select(F.col("doc_id").alias("doc_delta"), F.col("n").alias("nd"))
    sb = sizes.select(F.col("doc_id").alias("doc_base"), F.col("n").alias("nb"))
    jac = F.col("common") / (F.col("nd") + F.col("nb") - F.col("common"))
    return (
        common.join(F.broadcast(sd), "doc_delta")
        .join(F.broadcast(sb), "doc_base")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_delta", "doc_base", F.floor(jac * 10000).alias("jaccard_q4"))
    )


@register(
    "incremental_index_recall_contract",
    # recall is scoped to CONFIDENT pairs (quantized Jaccard >=
    # MINHASH_CHAIN_CONFIDENT_Q4) exactly like the full-corpus chain's
    # contract: an all-pairs floor is a fixture-shape bet — virgin
    # seed 246813 (round 9) planted enough boundary-Jaccard cross-set
    # pairs to sink it legitimately (catch prob ~0.40 per pair at
    # s=0.5), the same class the r8 reseeds retired elsewhere.
    oracle=f"""
        SELECT CAST(count(*) AS BIGINT) AS n_exact_cross_pairs,
               -- coalesce: sum() over an EMPTY exact cross-set is NULL
               -- in SQL but the engine counts 0 — virgin sf0.001-scale
               -- seed 102938 (50 docs, zero cross-set pairs) caught
               -- the bare sum
               CAST(coalesce(sum(CASE WHEN jaccard_q4 >= {MINHASH_CHAIN_CONFIDENT_Q4}
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS n_confident_cross_pairs,
               true AS index_subset_of_exact,
               true AS recall_ok
        FROM ({_CROSS_EXACT_SQL})
    """,
    tags=("dedup", "minhash", "incremental", "contract"),
)
def incremental_index_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable contract for the incremental index (r8): DuckDB
    recomputes the exact cross-set (delta vs base) pair count; Spark
    asserts (a) every index-found pair is in the exact set with the
    identical quantized Jaccard (precision 1.0 — the verify step is
    exact) and (b) recall over CONFIDENT pairs (quantized Jaccard >=
    MINHASH_CHAIN_CONFIDENT_Q4) >= MINHASH_CHAIN_RECALL_MIN_PCT — the
    shared floor with the full-corpus chain, scoped to where the
    S-curve actually delivers (>= 0.985 per pair at s >= 0.8; at the
    0.5 boundary catch prob is ~0.40, so an all-pairs floor is a
    fixture bet — virgin seed 246813 proved it).  Exact side computed once at contract scale; at 100 TB
    the contract runs on a sampled slice while the production delta
    path (`minhash_incremental_index`) never pays the quadratic cost."""
    from ssafynews_data_spark.operators.dedup import MINHASH_CHAIN_RECALL_MIN_PCT

    found = pin(minhash_incremental_index(spark, sf_dir))
    sh = pin(_doc_shingles(spark, sf_dir))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    d = sh.filter(F.col("doc_id") % DELTA_MOD == 0).select(
        F.col("doc_id").alias("doc_delta"), "sh"
    )
    b = sh.filter(F.col("doc_id") % DELTA_MOD != 0).select(
        F.col("doc_id").alias("doc_base"), "sh"
    )
    exact_common = (
        d.join(b, "sh")
        .groupBy("doc_delta", "doc_base")
        .agg(F.count("*").alias("common"))
    )
    sd = sizes.select(F.col("doc_id").alias("doc_delta"), F.col("n").alias("nd"))
    sb = sizes.select(F.col("doc_id").alias("doc_base"), F.col("n").alias("nb"))
    jac = F.col("common") / (F.col("nd") + F.col("nb") - F.col("common"))
    exact = pin(
        exact_common.join(F.broadcast(sd), "doc_delta")
        .join(F.broadcast(sb), "doc_base")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_delta", "doc_base", F.floor(jac * 10000).alias("jaccard_q4"))
    )
    cols = ["doc_delta", "doc_base", "jaccard_q4"]
    confident = exact.filter(F.col("jaccard_q4") >= MINHASH_CHAIN_CONFIDENT_Q4)
    n_exact = exact.count()
    n_confident = confident.count()
    n_found = found.count()
    n_common = found.join(exact, cols, "left_semi").count()
    n_conf_caught = found.join(confident, cols, "left_semi").count()
    return local_df(spark, 
        [
            (
                n_exact,
                n_confident,
                n_common == n_found,
                n_conf_caught * 100 >= n_confident * MINHASH_CHAIN_RECALL_MIN_PCT,
            )
        ],
        "n_exact_cross_pairs long, n_confident_cross_pairs long,"
        " index_subset_of_exact boolean, recall_ok boolean",
    )


# ---------------------------------------------------------------------------
# Streaming ingest → incremental index, end-to-end (round 11).
# ---------------------------------------------------------------------------

#: stage the delta as this many parquet files; with maxFilesPerTrigger=1
#: each file is its own micro-batch, so the ingest is genuinely
#: incremental (>= 2 batches), not one big swallow.
INGEST_STAGE_FILES = 3


@register(
    "streaming_index_ingest_contract",
    oracle=f"""
        SELECT CAST(count(*) AS BIGINT) AS n_delta_docs,
               true AS multi_batch_ingest,
               true AS index_matches_batch_build,
               true AS redelivery_idempotent
        FROM documents WHERE doc_id % {DELTA_MOD} = 0
    """,
    tags=("streaming", "dedup", "minhash", "incremental", "contract"),
)
def streaming_index_ingest_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production serving loop for the incremental dedup index,
    driven END-TO-END as a real Structured Streaming query (ties
    S3/ST1 to the index): the delta corpus arrives as micro-batches
    (file source, maxFilesPerTrigger=1), each batch pays ONLY its own
    signature cost inside ``foreachBatch`` and appends its band rows
    through the key-idempotent sink; then the WHOLE stream replays
    against a fresh checkpoint (total redelivery — the at-least-once
    worst case).  Asserts

    - ``multi_batch_ingest``: the first pass ran >= 2 micro-batches
      (the contract exercised incrementality, not one big swallow);
    - ``index_matches_batch_build``: the streamed index's (doc_id,
      band_idx, band_hash) rows equal the batch-built delta band rows
      EXACTLY (set equality via both anti-joins plus count equality) —
      batch/stream parity of the signature pipeline, which implies
      identical downstream candidate joins;
    - ``redelivery_idempotent``: the full replay left the index row
      count unchanged (effectively-once on disk).

    100 TB shape: per-batch cost is O(batch + candidates) independent
    of index size (the delta side shuffles, the index side is bucketed
    by band_hash — see module header); the replay guarantee is what
    lets a crashed ingest job restart from its checkpoint without
    poisoning the index.  Reference scope: the reference's incremental
    story is a per-link Postgres existence check inside its Kafka
    consumer loop (collect/consumer.py:137-150); this is the
    content-level equivalent with exactly-once semantics the
    reference cannot offer."""
    from ssafynews_data_spark.operators.dedup import (
        LSH_BANDS,
        shingle_hashes_from_toks,
    )
    from ssafynews_data_spark.operators.text import tokens_col
    from ssafynews_data_spark.sources.readers import load_table
    from ssafynews_data_spark.sources.sinks import foreach_batch_upsert

    out_schema = (
        "n_delta_docs long, multi_batch_ingest boolean,"
        " index_matches_batch_build boolean, redelivery_idempotent boolean"
    )
    docs = load_table(spark, sf_dir, "documents")
    delta_docs = pin(
        docs.filter(F.col("doc_id") % DELTA_MOD == 0).select("doc_id", "text")
    )
    n_delta = delta_docs.count()
    if n_delta == 0:
        return local_df(spark, [(0, True, True, True)], out_schema)

    base = scratch_dir("minhash_stream_ingest")
    stage = os.path.join(base, "stage")
    delta_docs.repartition(INGEST_STAGE_FILES).write.mode("overwrite").parquet(stage)
    idx_path = os.path.join(base, "index")
    sink = foreach_batch_upsert(idx_path, key="band_key")
    batch_log: list[tuple[int, int]] = []  # (pass_no, batch_id), driver-side

    def make_ingest(pass_no: int):
        def ingest(batch_df: DataFrame, batch_id: int) -> None:
            batch_log.append((pass_no, batch_id))
            toks = batch_df.select(
                "doc_id", tokens_col(F.col("text")).alias("toks")
            )
            rows = band_rows(minhash_signatures(shingle_hashes_from_toks(toks)))
            # band rows are unique per (doc_id, band_idx) by construction,
            # so this synthetic key makes the upsert sink key-idempotent
            sink(
                rows.withColumn(
                    "band_key",
                    F.col("doc_id") * LSH_BANDS + F.col("band_idx"),
                ),
                batch_id,
            )

        return ingest

    n_after_first = None
    for attempt in range(2):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        q = (
            stream.writeStream.foreachBatch(make_ingest(attempt))
            .option("checkpointLocation", os.path.join(base, f"ck_{attempt}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if attempt == 0:
            n_after_first = spark.read.parquet(idx_path).count()

    cols = ["doc_id", "band_idx", "band_hash"]
    streamed = pin(spark.read.parquet(idx_path).select(*cols))
    batch_built = pin(
        band_rows(
            minhash_signatures(
                shingle_hashes_from_toks(
                    delta_docs.select(
                        "doc_id", tokens_col(F.col("text")).alias("toks")
                    )
                )
            )
        )
    )
    n_streamed = streamed.count()
    n_batch = batch_built.count()
    only_s = streamed.join(batch_built, cols, "left_anti").count()
    only_b = batch_built.join(streamed, cols, "left_anti").count()
    first_pass_batches = len({b for p, b in batch_log if p == 0})
    return local_df(spark, 
        [
            (
                int(n_delta),
                first_pass_batches >= 2,
                only_s == 0 and only_b == 0 and n_streamed == n_batch,
                n_streamed == n_after_first,
            )
        ],
        out_schema,
    )

# ---------------------------------------------------------------------------
# Round 14: LSM compaction plan for the incremental index.
# ---------------------------------------------------------------------------

from ssafynews_data_spark.operators.text import _DUCK_TOKENS  # noqa: E402

#: delta batches per compaction epoch — doc_id % N_COMPACT_BATCHES is
#: the arrival-order stand-in (batch b = the b-th nightly delta feeding
#: build_index/delta_pairs above).  Deliberately NOT a power of the
#: fanout so the end state is ragged: with 13 batches at fanout 3,
#: batches 0-8 compact twice (two full level-ups), 9-11 once, 12 never
#: — all three write-amplification classes appear in every run.
N_COMPACT_BATCHES = 13
#: size-tiered fanout: FANOUT level-L segments merge into one level-
#: L+1 segment the moment the group completes (the RocksDB / Lucene
#: tiered policy, public).
COMPACT_FANOUT = 3


def _merge_done_sql(level: int) -> str:
    """1 iff the level-``level`` merge containing ``batch_id`` completes
    within the epoch: group g = batch_id div F^L is merged when its
    last member (batch (g+1)·F^L − 1) arrives, i.e. iff
    (g+1)·F^L <= N.  Pure integers, same text both engines."""
    f = COMPACT_FANOUT**level
    return (
        f"(CASE WHEN ((batch_id // {f}) + 1) * {f} <= {N_COMPACT_BATCHES} "
        "THEN 1 ELSE 0 END)"
    )


_SEG_DIVISOR_SQL = (
    "(CASE n_merges WHEN 0 THEN 1 WHEN 1 THEN "
    f"{COMPACT_FANOUT} WHEN 2 THEN {COMPACT_FANOUT**2} "
    f"ELSE {COMPACT_FANOUT**3} END)"
)


@register(
    "index_compaction_plan",
    # pure integers end-to-end: per-batch doc/token counts are ONE
    # corpus aggregate; the merge schedule is a CLOSED FORM in the
    # batch id (base-FANOUT group completion), so both engines derive
    # the identical plan without simulating arrivals row-by-row.
    oracle=f"""
        WITH ids AS (
            SELECT CAST(unnest(range(0, {N_COMPACT_BATCHES})) AS BIGINT)
                       AS batch_id
        ),
        counts AS (
            SELECT CAST(doc_id % {N_COMPACT_BATCHES} AS BIGINT) AS batch_id,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len({_DUCK_TOKENS})) AS BIGINT) AS n_tokens
            FROM documents
            GROUP BY 1
        ),
        base AS (
            SELECT i.batch_id,
                   CAST(coalesce(c.n_docs, 0) AS BIGINT) AS n_docs,
                   CAST(coalesce(c.n_tokens, 0) AS BIGINT) AS n_tokens,
                   CAST({_merge_done_sql(1)} + {_merge_done_sql(2)}
                        + {_merge_done_sql(3)} AS BIGINT) AS n_merges
            FROM ids i LEFT JOIN counts c USING (batch_id)
        ),
        seg AS (
            SELECT *,
                   CAST(n_tokens * (1 + n_merges) AS BIGINT) AS tokens_written,
                   n_merges * 1000 + batch_id // {_SEG_DIVISOR_SQL} AS seg_key
            FROM base
        ),
        g_tot AS (
            SELECT CAST(count(DISTINCT seg_key) AS BIGINT) AS n_final_segments,
                   CAST(sum(tokens_written) AS BIGINT) AS total_written,
                   CAST(sum(n_tokens) AS BIGINT) AS total_ingested
            FROM seg
        )
        SELECT s.batch_id, s.n_docs, s.n_tokens, s.n_merges,
               s.tokens_written, g.n_final_segments,
               CAST(CASE WHEN g.total_ingested = 0 THEN 0
                         ELSE g.total_written * 10000 // g.total_ingested END
                    AS BIGINT) AS write_amp_q4
        FROM seg s CROSS JOIN g_tot g
    """,
    tags=("dedup", "index", "compaction", "serving-ops", "north-star"),
)
def index_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSM compaction audit for the incremental MinHash index: the
    index above absorbs one delta segment per ingest batch (the L0
    write), and a size-tiered policy (COMPACT_FANOUT segments at level
    L merge into one at L+1 as soon as the group completes — the
    RocksDB/Lucene tiering) keeps the segment count, and therefore the
    per-probe fan-in of ``delta_pairs``, logarithmic.  This operator
    emits the exact merge schedule and write-amplification accounting
    for one N_COMPACT_BATCHES-batch epoch — the serving-ops table that
    decides whether the compaction budget is paying for itself.

    Per batch (all integers): ``n_docs``/``n_tokens`` ingested (tokens
    proxy the segment's band-row bytes — both engines count the same
    tokenizer), ``n_merges`` the batch's rows are rewritten by (closed
    form: the level-L merge over group b div F^L completes iff
    (g+1)·F^L <= N — no arrival simulation), ``tokens_written`` =
    n_tokens·(1 + n_merges) (the L0 write plus each rewrite), and two
    epoch-global columns: ``n_final_segments`` (distinct end-state
    segments — count of (level, group) survivors) and ``write_amp_q4``
    (total written / total ingested, floor-quantized).  All 13 batch
    rows emit even when a tiny draw leaves a batch empty (ids come
    from range(), not from the data).

    Scale shape: ONE map-side-combining corpus aggregate reduces
    everything to N_COMPACT_BATCHES rows; the schedule arithmetic and
    the global rollup run on that 13-row frame (broadcast crossJoin —
    driver-trivial at any corpus size).  The plan is what an external
    compactor executes against the parquet segment files; executing a
    merge is ``build_index``'s write path over the union of the
    group's segments."""
    from ssafynews_data_spark.operators.text import tokens_col
    from ssafynews_data_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    ids = spark.range(N_COMPACT_BATCHES).select(F.col("id").alias("batch_id"))
    counts = docs.groupBy(
        (F.col("doc_id") % N_COMPACT_BATCHES).cast("long").alias("batch_id")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens_col(F.col("text"))).cast("long")).alias("n_tokens"),
    )
    base = (
        # counts is <= N_COMPACT_BATCHES rows — broadcast so the plan
        # never shuffle-joins two 13-row frames
        ids.join(F.broadcast(counts), "batch_id", "left")
        .select(
            "batch_id",
            F.coalesce(F.col("n_docs"), F.lit(0)).cast("long").alias("n_docs"),
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
        )
        .withColumn(
            "n_merges",
            F.expr(
                # `//` is DuckDB spelling; Spark uses div — same
                # closed form, batch ids are non-negative so the two
                # agree anyway, but spell it natively:
                _merge_done_sql(1).replace("//", "div")
                + " + "
                + _merge_done_sql(2).replace("//", "div")
                + " + "
                + _merge_done_sql(3).replace("//", "div")
            ).cast("long"),
        )
    )
    # seg is read twice (per-batch rows + the epoch-global rollup);
    # pin it so the corpus-scale aggregate physically runs ONCE
    seg = pin(base.select(
        "*",
        (F.col("n_tokens") * (1 + F.col("n_merges"))).cast("long").alias(
            "tokens_written"
        ),
        F.expr(
            f"n_merges * 1000 + batch_id div {_SEG_DIVISOR_SQL}"
        ).alias("seg_key"),
    ))
    glob = seg.agg(
        F.countDistinct("seg_key").cast("long").alias("n_final_segments"),
        F.sum("tokens_written").cast("long").alias("total_written"),
        F.sum("n_tokens").cast("long").alias("total_ingested"),
    )
    return seg.crossJoin(F.broadcast(glob)).select(
        "batch_id",
        "n_docs",
        "n_tokens",
        "n_merges",
        "tokens_written",
        "n_final_segments",
        F.when(F.col("total_ingested") == 0, F.lit(0))
        .otherwise(F.expr("total_written * 10000 div total_ingested"))
        .cast("long")
        .alias("write_amp_q4"),
    )
