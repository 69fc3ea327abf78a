"""Similarity search over the ``embeddings`` table (north-star M6).

The reference stores a pgvector ``Vector(768)`` column for ANN serving
(collect/ollama_consumer.py:234) but never implements search.  Engine
ladder:

1. brute-force cosine top-k — exact baseline, broadcast the query set so
   the corpus is scanned once with no shuffle (oracle-checked against
   DuckDB ``list_cosine_similarity``);
2. embedding near-dup pairs — cosine >= threshold over all pairs, the
   ONE exact kernel ``_exact_pairs`` (quadratic → correctness oracle);
3. SRP-banded LSH — sign-random-projection bit bands (Charikar '02),
   bits-per-band derived from corpus size (scale path; both
   ``near_dup_auto`` and the query-side ANN ``ann_lsh_topk`` moved
   onto SRP banding in round 6, replacing MLlib's
   BucketedRandomProjectionLSH — BRP's scalar buckets degenerate on
   unit vectors, see ``near_dup_auto``).  ``near_dup_auto`` verifies
   inside each (band, key) bucket; ``ann_lsh_topk`` probes the buckets
   by a broadcast equality join;
3b. PQ-ANN (ladder item 5) keeps the O(q·n) scoring remark instead:
   ADC scores every (query, code) pair, so its cost is q·n map lookups
   regardless of codebook quality — linear in the corpus, pruned
   further only by pairing with the IVF layout;
4. IVF-Flat — a seeded k-means coarse quantizer (``_ivf_fit``, the ONE
   coarse fit: numpy Lloyd's on a bounded driver sample, cells assigned
   by ``_nearest``, the one JVM nearest-centre projection), probe the
   ``NPROBE`` nearest centroids only and rank exactly within them: the
   ``"ivf"`` kind of the index stack (item 6) with no codec, so its
   centroid-partitioned ``_flat`` store is the whole index and a query
   reads nprobe partitions (served from the artifact, or from an
   in-memory fitted frame by the same ``_serve``);
5. PQ — product quantization (Jegou et al. 2011): per-subspace
   codebooks (seeded Lloyd's on a bounded md5-ordered sample, r7)
   compress each vector to PQ_M 4-bit codes (``_nearest`` again, one
   book per subspace, so no index build starts a Python worker),
   queries score by ADC with the lookup tables as ONE broadcast row
   (plan size independent of the batch; ``adc_batch_parity_contract`` pins it bit-exact
   against a numpy ADC over the same tables), deep candidate list
   exact-re-ranked;
6. the IVF × codec index stack — faiss ``index_factory`` compositions
   "IVF8,Flat" (``"ivf"``: IVF-Flat, item 4), "IVF8,PQ8x4" (``ivfpq_*``:
   RESIDUAL PQ codes, ``by_residual=true``, r8 — recall at the nprobe
   coverage cap), "SQ8" (``sq8_*``) and "IVF8,SQ8" (``ivfsq8_*``) share
   ONE build, meta format, serve and round-trip body (``_build_index`` /
   ``_write_meta`` / ``_serve`` / ``_serve_roundtrip``).  Under IVF the
   stores are written PARTITIONED BY coarse centroid, so a query reads
   nprobe/IVF_K of the index (PartitionFilters plan-asserted); the one
   probe is ``_probe_cells``.  A codec scores the probed codes (residual
   ADC: one extra (centroid, code) cross-dot lookup per subspace; SQ8:
   affine dequant + centroid) and refines the deep candidate list
   against the flat store by id; IVF-Flat ranks the probed flat rows
   directly.  The 100 TB serving layout.

Every top-k ends in the ONE exact-rank step, ``_exact_rerank_topk``:
rank by the raw cosine (then neighbor_id, the DuckDB oracles' order)
and round to 4 places only in the emitted column.

Every contract that grades a served top-k grades it one way (section
7): ``_exact_side`` pins the exact top-k of the contract's own corpus
and collects its DuckDB-recomputable facts, ``_hits`` counts the served
pairs in it, ``_floor_ok`` applies each floor on the driver, and the
contract returns one literal row whose oracle ``_graded_oracle`` builds
from the claim names.

Exact math is built-in array expressions (``zip_with`` + ``aggregate``),
computed in double, JVM-side — except where whole blocks of vectors
meet: every near-dup pair set (``_exact_pairs``, the LSH bucket verify
and SemDeDup's cluster step, all through the one pair mask
``_near_pairs``) and the IVF probe run ``_cosine_matrix``, the in-order
numpy twin of the JVM fold, so every double is bitwise identical and
per-pair row machinery disappears (~60x at sf0.1).
"""

from __future__ import annotations

import json
import math
import os
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ssafynews_data_spark.caching import pin, scratch_dir
from ssafynews_data_spark.localframe import local_df
from ssafynews_data_spark.parallel import run_parallel
from ssafynews_data_spark.registry import register
from ssafynews_data_spark.sources.readers import load_table

TOP_K = 5
N_QUERIES = 10  # vec_id < 10 form the query set
NEAR_DUP_COS = 0.35  # max pairwise cos in the fixture blobs is ~0.48
NPROBE = 2
IVF_K = 8
_TOPK_SCHEMA = "query_id long, neighbor_id long, sim double, rank int"
#: hard ceiling for the exact (driver-materialized) near-dup verify form —
#: above this the quadratic GEMM and the toPandas() both stop being "small
#: by contract"; callers must switch to ``near_dup_auto`` / LSH.  This is
#: the SINGLE cap for every exact-quadratic form (VERDICT r6 item 5):
#: ``near_dup_auto`` clamps any caller-passed ``exact_limit`` to it, so
#: no code path can take a quadratic plan past this row count.
EXACT_NEAR_DUP_MAX_ROWS = 50_000

#: default router crossover (perf, not safety): below this the exact
#: kernel measured faster than the LSH branch (``near_dup_auto``); far
#: below the hard cap.
EXACT_NEAR_DUP_ROUTE_ROWS = 5_000
assert EXACT_NEAR_DUP_ROUTE_ROWS <= EXACT_NEAR_DUP_MAX_ROWS


def as_double(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


# -- SQL-string twins of the array helpers above (guide §7.3) ----------------
# Building deep expression trees through the Column API pays py4j
# round-trips per operator (measured ~180 us each on this box, ~40
# round-trips per zip_with once PySpark's per-call debug capture is
# off); one residual-ADC serve construction spent ~1 s in pure driver
# socket chatter.  These emit the SAME operations in the SAME
# association order as their Column twins through ONE parser call
# (F.expr / selectExpr), so every computed double is bit-identical —
# asserted by the ADC literal-vs-batch parity tests and the oracle.


def _dot_sql(a: str, b: str) -> str:
    """SQL twin of :func:`dot` — identical fold, one parse."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
        f" 0.0D, (acc, x) -> acc + x)"
    )


def _cosine_sql(a: str, b: str) -> str:
    """SQL twin of :func:`cosine` — dot/(sqrt·sqrt), same tree."""
    return f"{_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)}))"


def _cosine_matrix(A: "np.ndarray", B: "np.ndarray") -> "np.ndarray":
    """All-pairs cosine of the rows of ``A`` against the rows of ``B``.
    Dots and squared norms accumulate dimension by dimension in order,
    so every double is bit-identical to the JVM fold of
    ``_cosine_sql``: vectorization changes the speed, not the math."""
    acc = np.zeros((len(A), len(B)))
    na2, nb2 = np.zeros(len(A)), np.zeros(len(B))
    for i in range(A.shape[1]):
        acc = acc + A[:, i][:, None] * B[:, i][None, :]
        na2 = na2 + A[:, i] * A[:, i]
        nb2 = nb2 + B[:, i] * B[:, i]
    return acc / (np.sqrt(na2)[:, None] * np.sqrt(nb2)[None, :])


def _index_path(name: str) -> str:
    """A fresh index location: ``_build_index`` writes ``index`` and its
    ``index_flat`` / ``index_meta`` siblings inside one new scratch
    directory."""
    return os.path.join(scratch_dir(name), "index")


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select("vec_id", as_double(F.col("embedding")).alias("emb"))


# ---------------------------------------------------------------------------
# 1. Brute-force cosine top-k (exact baseline).
# ---------------------------------------------------------------------------


@register(
    "cosine_topk",
    oracle=f"""
        WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                   FROM embeddings WHERE vec_id < {N_QUERIES}),
             c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
             sims AS (
                 SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                        list_cosine_similarity(q.emb, c.emb) AS sim
                 FROM q CROSS JOIN c
                 WHERE q.vec_id <> c.vec_id
             )
        SELECT query_id, neighbor_id, round(sim, 4) AS sim, CAST(rank AS INT) AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY sim DESC, neighbor_id) AS rank
              FROM sims)
        WHERE rank <= {TOP_K}
    """,
    tags=("similarity", "knn"),
    bench=True,
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus — the corpus streams through once, no shuffle until the final
    per-query top-k (which AQE keeps tiny).  This is the correct shape
    at 100 TB whenever |queries| ≪ |corpus|."""
    return _exact_topk(_corpus(spark, sf_dir))


def _exact_topk(corpus: DataFrame, raw: bool = False) -> DataFrame:
    """``cosine_topk``'s exact body over an arbitrary (vec_id, emb)
    frame — factored so the serving contracts that already hold the
    PINNED (or rotated) corpus reuse it for their exact-baseline leg
    instead of re-scanning parquet and re-running the cast lineage
    (guide §2.4).  The renaming projection collapses into the join's,
    so the plan is the pre-factoring ``cosine_topk``'s."""
    queries = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    cand = corpus.join(
        F.broadcast(queries), F.col("vec_id") != F.col("query_id")
    ).selectExpr("query_id", "vec_id AS neighbor_id", "q_emb AS emb_q", "emb AS emb_n")
    return _exact_rerank_topk(cand, raw)


def _exact_rerank_topk(cand: DataFrame, raw: bool = False) -> DataFrame:
    """THE exact-rank step of every top-k here: the exact cosine of each
    (query_id, neighbor_id, emb_q, emb_n) candidate (one parsed string —
    see _cosine_sql), ranked by the RAW double descending, then
    neighbor_id — the order of ``cosine_topk``'s DuckDB oracle — and cut
    to TOP_K.  The sim is rounded to 4 places only in the emitted
    column: ranking on the rounded value would break a 4-place tie by
    id even where the higher id has the larger cosine.  ``raw`` keeps
    the unrounded sim for comparisons finer than the rounding."""
    sims = cand.selectExpr(
        "query_id", "neighbor_id", f"{_cosine_sql('emb_q', 'emb_n')} AS sim"
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("sim") if raw else F.round("sim", 4).alias("sim"),
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# 2. Embedding near-dup pairs (exact).
# ---------------------------------------------------------------------------


@register(
    "embedding_near_dup",
    oracle=f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.emb, b.emb), 4) AS cos_sim
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.emb, b.emb) >= {NEAR_DUP_COS}
    """,
    tags=("dedup", "similarity"),
    # NOT benched: this is the driver-materialized exact form; the
    # benched near-dup headline is near_dup_lsh_verified (the scale path).
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine near-dup pairs (the embedding analog of
    ``ngram_jaccard_pairs``): the exact all-pairs kernel
    ``_exact_pairs`` over the whole corpus.  Quadratic — the
    oracle/verify form; ``near_dup_auto`` routes larger corpora onto
    SRP-LSH buckets."""
    pairs = _exact_pairs(_corpus(spark, sf_dir), NEAR_DUP_COS)
    # round JVM-side so the rounding rule matches every other query
    return pairs.select("id_a", "id_b", F.round("cos_sim", 4).alias("cos_sim"))


#: rows per side of one ``_near_pairs`` cosine tile: a 2,048 × 2,048
#: float64 matrix is 32 MB whatever the corpus, block or bucket size
PAIR_TILE = 2048
_PAIRS_SCHEMA = "id_a LONG, id_b LONG, cos_sim DOUBLE"


def _near_pairs(a_ids, A, b_ids, B, threshold: float):
    """THE near-dup pair mask: yields ``(i, j, cos)`` index arrays for
    every row i of ``A`` and j of ``B`` with ``a_ids[i] < b_ids[j]`` and
    cosine >= ``threshold``, one PAIR_TILE × PAIR_TILE ``_cosine_matrix``
    tile at a time (each element is computed on its own, so tiling
    changes no double).  A tile whose smallest ``a_id`` is not below its
    largest ``b_id`` holds no pair and is skipped.  The comparison is
    numpy's: a vector with zero norm or a non-finite component has a
    NaN cosine and is never paired."""
    for r in range(0, len(A), PAIR_TILE):
        a_tile = a_ids[r : r + PAIR_TILE]
        for c in range(0, len(B), PAIR_TILE):
            b_tile = b_ids[c : c + PAIR_TILE]
            if a_tile.min() >= b_tile.max():
                continue
            sim = _cosine_matrix(A[r : r + PAIR_TILE], B[c : c + PAIR_TILE])
            ii, jj = np.nonzero((a_tile[:, None] < b_tile[None, :]) & (sim >= threshold))
            yield ii + r, jj + c, sim[ii, jj]


def _triangle_cuts(n: int, parts: int) -> list[int]:
    """Row offsets ``[0, ..., n]`` that cut the upper triangle of an
    n × n pair matrix into ``parts`` row blocks of equal area: block k
    (rows ``cuts[k]:cuts[k+1]``) pairs with the rows from ``cuts[k]``
    on, so early blocks are short and late ones tall."""
    return [round(n * (1 - math.sqrt(1 - k / parts))) for k in range(parts)] + [n]


def _triangle_block(ids, M, lo: int, hi: int, threshold: float):
    """``_near_pairs`` of rows ``lo:hi`` of the id-sorted ``(ids, M)``
    against rows ``lo:`` — every pair whose smaller id lies in the
    block, each pair's cosine computed once — as absolute row
    indices."""
    for ii, jj, sim in _near_pairs(ids[lo:hi], M[lo:hi], ids[lo:], M[lo:], threshold):
        yield ii + lo, jj + lo, sim


def _exact_pairs(corpus: DataFrame, threshold: float) -> DataFrame:
    """THE exact all-pairs near-dup kernel: ``(id_a, id_b, cos_sim)``
    for every pair of ``corpus`` ``(vec_id, emb)`` rows with id_a < id_b
    and cosine >= ``threshold``, cos_sim unrounded.

    Physical strategy: the corpus matrix is materialized on the driver,
    sorted by ``vec_id``, and shipped into one ``mapInPandas`` task per
    row block of ``_triangle_cuts``; each task pairs its block with the
    rows at or after it through ``_near_pairs``, so every pair's cosine
    is computed once, and emits only surviving pairs through Arrow.
    Every double is bitwise identical to the JVM
    ``aggregate(zip_with(...))`` fold (and to the DuckDB oracle at the
    rounded precision).  Measured 64 s → ~1 s at sf0.1 vs the
    row-at-a-time nested-loop join.  ``corpus`` is read once, by the
    collect."""
    # the one capped collect is the cap check: past the cap the matrix
    # would OOM the driver and every Python worker it is shipped to
    pdf = corpus.limit(EXACT_NEAR_DUP_MAX_ROWS + 1).toPandas()
    if len(pdf) > EXACT_NEAR_DUP_MAX_ROWS:
        raise ValueError(
            f"the exact near-dup kernel (quadratic, driver-materialized) "
            f"is capped at {EXACT_NEAR_DUP_MAX_ROWS} rows; the corpus has "
            f"more. Use near_dup_auto (SRP-LSH buckets) at scale."
        )
    spark = corpus.sparkSession
    if pdf.empty:
        return local_df(spark, [], _PAIRS_SCHEMA)

    pdf = pdf.sort_values("vec_id", kind="stable")
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    M = np.array(pdf["emb"].tolist(), dtype=np.float64)
    # Right-size the fan-out: one block per ~2k rows.  With a tiny corpus,
    # 32 Python workers would each pay interpreter+numpy startup for
    # microseconds of matmul; at scale the same formula spreads blocks
    # across the cluster.
    parts = max(1, min(spark.sparkContext.defaultParallelism, len(ids) // PAIR_TILE + 1))
    cuts = _triangle_cuts(len(ids), parts)

    def gemm_block(batches):
        for batch in batches:
            for k in batch["id"]:
                for ii, jj, sim in _triangle_block(ids, M, cuts[k], cuts[k + 1], threshold):
                    yield pd.DataFrame({"id_a": ids[ii], "id_b": ids[jj], "cos_sim": sim})

    return spark.range(0, parts, 1, parts).mapInPandas(gemm_block, _PAIRS_SCHEMA)


# ---------------------------------------------------------------------------
# 3. LSH-bucketed ANN (MLlib random projection — scale path).
# ---------------------------------------------------------------------------


@register("ann_lsh_topk", tags=("similarity", "lsh"), bench=True)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via SRP band candidates (round 6: replaced
    MLlib's ``BucketedRandomProjectionLSH``, whose scalar buckets
    degenerate on unit vectors — every probe was silently brute-force;
    see ``near_dup_auto`` for the geometry).

    The corpus is banded once (seeded numpy GEMM per Arrow batch, no
    model fit); the ``N_QUERIES``-row probe side reuses the same banded
    frame and is BROADCAST into the (band, key) equi-join, so the
    corpus is never shuffled for the probe — candidates stream out of
    the scan, exact cosine ranks them, and the per-query top-k is a
    window group limit.  Pruning factor 2^rbits / bands grows with
    log n via ``srp_band_params``.  Rows-only driver check (band keys
    are hash-specific); the recall floor is driver-certified by
    ``ann_lsh_recall_contract`` and pytest-asserted vs exact."""
    corpus = pin(_corpus(spark, sf_dir))
    n = corpus.count()
    rbits, bands = srp_band_params(max(n, 16), NEAR_DUP_COS)
    keys = _srp_band_keys(rbits, bands)
    banded = corpus.select(
        "vec_id", F.posexplode(keys(F.col("emb"))).alias("_band", "_key")
    )
    q_banded = banded.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "_band", "_key"
    )
    cand = (
        banded.join(F.broadcast(q_banded), ["_band", "_key"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    q_emb = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("emb_q")
    )
    return _exact_rerank_topk(
        cand.join(
            corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("emb_n")),
            "neighbor_id",
        ).join(F.broadcast(q_emb), "query_id")
    )


def srp_band_params(
    n: int, threshold: float, target_recall: float = 0.9, band_cap: int = 48
) -> tuple[int, int]:
    """(bits_per_band, n_bands) for SRP banding, derived from corpus
    size and threshold — the standard SimHash/SRP AND-OR composition
    (Charikar '02): P(bit agrees) = 1 - acos(cos) / pi, a band is an
    AND of ``rbits`` bits, tables are an OR.

    Two competing constraints, resolved in this order:

    - pruning wants MORE bits: background collisions per random pair
      per band are 0.5^rbits, so rbits ~ log2(n / 8) keeps a vector's
      expected background bucket-mates roughly constant as n grows —
      the knob that keeps the bucket verify near-linear at 100 TB;
    - recall wants FEWER bits: hitting ``target_recall`` at exactly
      ``threshold`` needs ln(1-R) / ln(1 - p_bit^rbits) bands, and the
      band budget is capped (each band is one exploded row per vector
      through the bucket exchange), so rbits is clamped to the largest
      value whose band requirement fits the cap.

    At aggressive thresholds (>= ~0.8, the realistic near-dup regime)
    the recall clamp never binds and pruning scales with log n.  At
    permissive thresholds (the 0.35 fixture regime, inside the tail of
    the RANDOM-pair cosine distribution at dim 64) p_bit is 0.614, the
    clamp binds at (6 bits, 42 bands) for every n from 500 to 200,000,
    and about half of all pairs share some band (977,698 of 1,999,000
    at sf0.1), although the true result is 0.2% of all pairs (4,137 of
    1,999,000 at sf0.1; 425,773 of 199,990,000 at sf1).  So the
    candidate pairs are never materialized: ``near_dup_auto`` verifies
    inside each bucket and emits only the result."""
    # threshold == 1.0 would make p_bit exactly 1 and the recall-clamp
    # log below divide by zero; 0.999 keeps the math finite and an
    # exact-duplicate caller still gets the tightest bands
    p_bit = 1.0 - math.acos(max(-1.0, min(0.999, threshold))) / math.pi
    # largest rbits whose recall-mandated band count fits the cap
    p_band_min = 1.0 - (1.0 - target_recall) ** (1.0 / band_cap)
    rbits_recall_max = max(1, int(math.log(p_band_min) / math.log(p_bit)))
    # the pruning floor of 4 yields to, never overrides, the recall
    # clamp: if the clamp sits below 4 (only possible at threshold < 0,
    # where p_bit < 1/2) recall wins and target_recall stays guaranteed
    rbits = min(max(4, math.ceil(math.log2(max(n, 16) / 8.0))), rbits_recall_max)
    p_band = p_bit**rbits
    bands = min(band_cap, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p_band)))
    return rbits, bands


def _srp_band_keys(rbits: int, bands: int, seed: int = 42):
    """Arrow UDF: embedding array -> array<long> of per-band SRP keys.
    One numpy GEMM per batch against a seeded Gaussian direction matrix
    (regenerated identically in every worker — cheaper than shipping
    it), sign bits packed per band.  Row-local, no state."""

    @F.pandas_udf("array<long>")
    def band_keys(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        X = np.stack(emb.to_numpy())
        D = np.random.RandomState(seed).standard_normal((bands * rbits, X.shape[1]))
        bits = (X @ D.T) > 0
        w = 1 << np.arange(rbits, dtype=np.int64)
        keys = bits.reshape(len(X), bands, rbits).astype(np.int64) @ w
        return pd.Series(list(keys))

    return band_keys


def near_dup_auto(
    corpus: DataFrame,
    threshold: float = NEAR_DUP_COS,
    exact_limit: int = EXACT_NEAR_DUP_ROUTE_ROWS,
) -> DataFrame:
    """Adaptive near-dup over a ``(vec_id, emb)`` corpus: the
    library-level rewrite SURVEY.md §4 calls out (no custom Catalyst
    rule needed).  Small corpora get the exact all-pairs kernel
    (``_exact_pairs``); above ``exact_limit`` rows the plan verifies
    inside SRP-LSH buckets.  Same output contract either way (id_a <
    id_b, cos_sim >= threshold, rounded to 4 places), and every cosine
    is compared by ``_near_pairs``: a vector with zero norm or a
    non-finite component is never paired, and a duplicate vector always
    is (it shares every band key with its twin).

    The default ``exact_limit`` (EXACT_NEAR_DUP_ROUTE_ROWS, 5k) sits
    below the measured crossover.  Warm wall time on 4 cores, first n
    vectors of an sf1 fixture (dim 64, threshold 0.35), exact against
    LSH: 1.0 vs 3.5 s at 1k, 1.8 vs 3.6 s at 2k, 3.3 vs 5.0 s at 5k,
    9.6 vs 7.5 s at 10k.  At this threshold SRP prunes little (see
    ``srp_band_params``), so both branches run ~n² cosines, and the
    exact one also has full recall.

    The LSH is sign-random-projection banding (rbits-bit AND within a
    band, OR across bands — parameters derived per corpus by
    ``srp_band_params``), NOT MLlib's BucketedRandomProjectionLSH: BRP
    buckets by floor(projection / bucketLength), but projections of
    unit vectors concentrate in ±~3/sqrt(dim) (±0.38 at dim 64), so
    any bucketLength coarse enough for recall puts nearly the whole
    corpus in a couple of buckets per table and the "candidates" are
    all pairs — invisible at 2k vectors, a 60x blow-up at 20k (caught
    by tools/scale_sweep.py round 6).  BRP also cannot AND-compose
    projections within a table, so narrowing the buckets just trades
    the blow-up for recall loss.  SRP bands AND-compose by
    construction.

    The LSH branch is ONE exchange on (band, key) with the verify inside
    each bucket (SemDeDup's per-cluster GEMM; REPOSE's prune before
    verify): one row per vector and band, carrying the vector and its
    keys of the earlier bands, and ``_first_band_pairs`` per bucket.
    Each pair leaves once, from the lowest band its keys share, so no
    candidate pair, global distinct or embedding re-join exists and the
    shuffle is n × bands rows (a banded self-join emits 1.4×10⁸
    candidate rows for 3.9×10⁵ pairs at 20k vectors).

    The count() here is a cheap planning action (count-star over
    parquet metadata / cached input), the moral equivalent of AQE
    choosing a join strategy from runtime stats.
    """
    # pin: the routing count, then the exact kernel's collect or the
    # banding, read one materialization (guide §2.4)
    corpus = pin(corpus)
    n = corpus.count()
    # the hard cap overrides any caller preference: past it the exact
    # branch is a driver/executor memory hazard, not a strategy choice
    if n <= min(exact_limit, EXACT_NEAR_DUP_MAX_ROWS):
        pairs = _exact_pairs(corpus, threshold)
    else:
        keys = _srp_band_keys(*srp_band_params(n, threshold))
        # posexplode_OUTER emits the same rows (every key array holds
        # ``bands`` keys) but infers no size(_keys) > 0 filter, which
        # would be pushed below the projection and run the band-key
        # UDF twice
        banded = (
            corpus.select("vec_id", "emb", keys(F.col("emb")).alias("_keys"))
            .select("vec_id", "emb", "_keys", F.posexplode_outer("_keys").alias("_band", "_key"))
            .select(
                "vec_id", "emb", "_band", "_key",
                F.slice("_keys", 1, F.col("_band")).alias("_earlier"),
            )
        )
        pairs = banded.groupBy("_band", "_key").applyInPandas(
            lambda bucket: _first_band_pairs(bucket, threshold), _PAIRS_SCHEMA
        )
    return pairs.select("id_a", "id_b", F.round("cos_sim", 4).alias("cos_sim"))


def _first_band_pairs(bucket: pd.DataFrame, threshold: float) -> pd.DataFrame:
    """One (band, key) bucket's verified pairs: ``_near_pairs`` over its
    members, less every pair whose keys already agree in an earlier
    band (``_earlier`` holds each member's keys of bands 0 .. band-1),
    so a pair that collides in several bands leaves once, from the
    lowest."""
    ids = bucket["vec_id"].to_numpy(dtype=np.int64)
    X = np.array(bucket["emb"].tolist(), dtype=np.float64)
    K = np.stack(bucket["_earlier"].to_numpy())
    out = []
    for ii, jj, sim in _near_pairs(ids, X, ids, X, threshold):
        first = ~(K[ii] == K[jj]).any(axis=1)
        out.append(
            pd.DataFrame({"id_a": ids[ii[first]], "id_b": ids[jj[first]], "cos_sim": sim[first]})
        )
    # a one-member bucket's only tile holds no a_id < b_id and is skipped
    return pd.concat(out) if out else pd.DataFrame(
        {"id_a": ids[:0], "id_b": ids[:0], "cos_sim": np.empty(0)}
    )


# ---------------------------------------------------------------------------
# 4. IVF coarse-quantizer ANN (k-means cells + nprobe).
# ---------------------------------------------------------------------------


def _query_rows(corpus: DataFrame, n_queries: int = N_QUERIES) -> list:
    """The query set (vec_id < ``n_queries``) as sorted driver-side
    (vec_id, emb) rows — the request batch every serve takes; a capped
    fetch (``n_queries`` rows by contract)."""
    return sorted(
        corpus.filter(F.col("vec_id") < n_queries).select("vec_id", "emb").collect()
    )


def _ivf_fit(
    fit_on: DataFrame, assign: DataFrame | None = None, k: int = IVF_K
) -> tuple[DataFrame, "np.ndarray"]:
    """THE coarse-quantizer fit of every IVF index, audit and cluster
    step: seeded Lloyd's (``_np_kmeans``, MLlib's default 20 iterations)
    on the bounded driver sample of ``fit_on`` (``_fit_sample``, by md5
    of ``vec_id`` — so the centers never depend on row order), then the
    lazy ``_ivf_assign`` of ``assign`` (default ``fit_on``; the
    staleness audit fits a prefix and assigns the grown corpus),
    returned with the k × dim centers.  An empty or non-finite sample
    is a ValueError naming the fit.  Callers pin the assignment when it
    forks."""
    X = _fit_sample(fit_on)
    _check_sample(f"k-means({k}) coarse fit", X)
    centers = _np_kmeans(X, k, seed=42, iters=20)
    return _ivf_assign(fit_on if assign is None else assign, centers), centers


def _check_sample(what: str, X: "np.ndarray") -> None:
    """A driver-side k-means sample must hold at least one vector and
    only finite elements: otherwise a ValueError naming the fit (a NaN
    sample element drags its cell's mean, and every later distance to
    it, to NaN)."""
    if not len(X):
        raise ValueError(f"{what}: no emb vectors to fit")
    _check_finite(what, "emb", X, "k-means needs finite vectors")


def _nearest(
    df: DataFrame, books, src: str = "emb", code: str = "codes", what: str = "encode"
) -> DataFrame:
    """THE nearest-centre rule of every quantizer, one JVM projection
    (no Python worker): ``df`` plus ``code`` ARRAY<INT> and
    ``<code>_d2`` ARRAY<DOUBLE>.  ``books`` holds M books of K centres,
    each ``sub`` dims wide, and book m sees elements [m·sub, (m+1)·sub)
    of ``src``.  Per book, each squared distance folds left to right
    from 0 in ``argmin_assignment_mismatches``' order, the code is the
    argmin (ties go to the lowest id, so a centre that repeats an
    earlier one is never chosen) and ``_d2`` keeps the minimum.  One
    dim-wide book is a coarse cell (``_ivf_assign``, ``pca_kmeans``);
    PQ_M books are the PQ codes, whose minima sum to the vector's
    reconstruction error (``opq_rotation_contract``).  The books ride
    as one typed literal (``_arr_sql``): a broadcast row of them costs
    one Spark job per use, a literal none.  A ``src`` that is
    NULL, holds a NULL or non-finite element or is not M·sub-dim is a
    runtime error, never a code.  Replaces any ``code`` column."""
    books = np.asarray(books, dtype=float)
    sub = books.shape[2]
    dim = len(books) * sub
    carry = [f"`{c}`" for c in df.columns if c not in (code, f"{code}_d2")]
    # each book's slice of src is cut once per row, not once per centre
    parts = f"transform(sequence(0, {len(books) - 1}), m -> slice(`{src}`, m * {sub} + 1, {sub}))"
    d2 = "aggregate(zip_with(s, c, (x, y) -> (x - y) * (x - y)), 0D, (a, v) -> a + v)"
    # x - x = 0 is false for NaN and ±Inf, and NULL for a NULL element
    ok = f"size(`{src}`) = {dim} AND forall(`{src}`, x -> x - x = 0)"
    bad = f"{what}: {src} is NULL, holds a NULL or non-finite element or is not {dim}-dim"
    return df.selectExpr(
        *carry,
        f"IF({ok}, zip_with({_arr_sql(books)}, {parts}, (b, s) -> transform(b, c -> {d2})),"
        f" raise_error('{bad}')) AS _d2",
    ).selectExpr(
        *carry,
        f"transform(_d2, d -> CAST(array_position(d, array_min(d)) - 1 AS INT)) AS `{code}`",
        f"transform(_d2, d -> array_min(d)) AS `{code}_d2`",
    )


def _ivf_assign(df: DataFrame, centers: "np.ndarray") -> DataFrame:
    """``df`` plus ``centroid`` INT, the nearest of ``centers`` by
    squared Euclidean distance: ``_nearest`` with the centers as its one
    book, so a bad ``emb`` is a runtime error, never a cell, and a
    surplus center that repeats an earlier one stays empty.  Replaces
    any ``centroid``."""
    carry = [f"`{c}`" for c in df.columns if c != "centroid"]
    return _nearest(df, [centers], code="_cell", what="coarse assign").selectExpr(
        *carry, "_cell[0] AS centroid"
    )


@register("ann_ivf_topk", tags=("similarity", "ivf"))
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat: k-means(IVF_K, seed 42) coarse centroids (``_ivf_fit``);
    each query probes its NPROBE nearest centroids and ranks exactly
    within them — the ``"ivf"`` kind's ``_serve`` over the in-memory
    fitted frame.

    At scale the corpus is written partitioned by ``centroid`` so a
    query reads nprobe/k of the data (partition pruning, the artifact
    form of ``ivf_partition_pruning``); here the pruning happens via the
    broadcast equi-join on centroid id.  No query ids (an empty corpus
    included) is an empty top-k, with no fit.
    """
    corpus = pin(_corpus(spark, sf_dir))
    qrows = _query_rows(corpus)
    if not qrows:
        return local_df(spark, [], _TOPK_SCHEMA)
    assigned, centers = _ivf_fit(corpus)
    return _serve(spark, assigned, "ivf", {"center": centers}, qrows)


# ---------------------------------------------------------------------------
# 5. Semantic dedup (SemDeDup-style: cluster, then pairwise within cluster).
# ---------------------------------------------------------------------------


SEMDEDUP_K = 8
SEMDEDUP_EPS = NEAR_DUP_COS


@register("semantic_dedup", tags=("dedup", "similarity", "semdedup"), bench=True)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means the
    embeddings into coarse clusters (``_ivf_fit``), then drop any vector
    that has a smaller-id neighbor in the SAME cluster with cosine >= eps
    (greedy keep-lowest-id).  Returns (vec_id, centroid) of the keepers
    plus the per-cluster drop count.

    100 TB shape: the pairwise step is confined within clusters — cost
    Σ|cluster|² instead of |corpus|², and each cluster's pairs build
    from an equi-join on the centroid id, so the shuffle is one
    hash-partition of the corpus by centroid.  Skewed/giant clusters are
    the known failure mode: cap them by re-clustering recursively or
    salting the within-cluster join (docs/SCALE.md).  Rows-only check
    (KMeans isn't SQL-expressible); semantics vs the exact pair set are
    pytest-gated (tests/test_similarity.py)."""
    corpus = _corpus(spark, sf_dir)
    if corpus.isEmpty():
        return local_df(spark, [], "vec_id LONG, centroid INT, n_dropped_in_cluster LONG")
    assigned, _ = _ivf_fit(corpus, k=SEMDEDUP_K)

    def keepers_in_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        # the near-dup pair mask within one cluster (_near_pairs),
        # bitwise-identical to the JVM cosine, so comparisons can't flip
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        A = np.array(pdf["emb"].tolist(), dtype=np.float64)
        # the group knows its whole answer: kept rows AND the drop count
        # (every id with a smaller-id near-dup drops; the smallest id of
        # a cluster can never drop, so a cluster is never empty).  A
        # one-member cluster's only tile is skipped: no tile, no drop.
        dropped = np.unique(
            np.concatenate(
                [ids[jj] for _, jj, _ in _near_pairs(ids, A, ids, A, SEMDEDUP_EPS)] or [ids[:0]]
            )
        )
        keep = ~np.isin(ids, dropped)
        return pd.DataFrame(
            {
                "vec_id": ids[keep],
                "centroid": pdf["centroid"].to_numpy()[keep],
                "n_dropped_in_cluster": np.int64(len(dropped)),
            }
        )

    # groupBy(centroid).applyInPandas = ONE hash-partition of the corpus
    # by centroid; each cluster is a dense numpy block — the per-pair
    # JVM lambda join form was 5x slower at sf0.1 (1.5M pairs x 768-dim
    # aggregate per pair vs 8 cluster-local matrix products).  The
    # grouped map emits the FINAL rows (kept ids + the cluster's drop
    # count) directly: the previous keeper anti-join + drop-count
    # semi-join + per-centroid aggregate + left join re-ran the GEMM
    # subtree per consumer (FlatMapGroupsInPandas twice in the r13
    # before-plan) and added three joins the group already knew the
    # answer to.  One exchange, one Python stage, zero joins.
    return assigned.groupBy("centroid").applyInPandas(
        keepers_in_cluster,
        "vec_id LONG, centroid INT, n_dropped_in_cluster LONG",
    )


def assign_capped_clusters(
    corpus: DataFrame,
    k: int = SEMDEDUP_K,
    cap: int = 10_000,
    max_depth: int = 3,
) -> DataFrame:
    """Cluster assignment with a SIZE CAP — the giant-cluster mitigation
    ``semantic_dedup`` documents: any cluster larger than ``cap`` is
    re-clustered recursively (k' = ceil(size / cap), capped at k), so
    the downstream within-cluster pairwise work is bounded by cap² per
    group no matter how skewed the embedding space is.

    Returns (input columns…, cluster STRING) where cluster is the
    hierarchy path ("3", "3/1", …) — stable keys for groupBy (an input
    ``centroid`` column is not kept).  The driver loop runs one
    ``_ivf_fit`` per oversized cluster per level (one bounded sample
    collect each, ordered by the md5 of ``vec_id``, which ``corpus``
    must carry); splitting CAN separate a
    borderline pair — acceptable because SemDeDup is already
    cluster-approximate by construction.
    """

    def _assign(df: DataFrame, kk: int, prefix: str) -> DataFrame:
        out, _ = _ivf_fit(df, k=kk)
        label = F.concat(F.lit(prefix), F.col("centroid").cast("string"))
        return out.withColumn("cluster", label).drop("centroid")

    result = pin(_assign(corpus, k, ""))
    for _ in range(max_depth):
        sizes = result.groupBy("cluster").agg(F.count("*").alias("n"))
        big = [(r.cluster, r.n) for r in sizes.filter(F.col("n") > cap).collect()]
        if not big:
            break
        keep = result.filter(~F.col("cluster").isin([c for c, _ in big]))
        pieces = [keep]
        for c, n in big:
            sub = result.filter(F.col("cluster") == c).drop("cluster")
            kk = min(k, max(2, -(-n // cap)))  # ceil div, >=2 to make progress
            pieces.append(_assign(sub, kk, c + "/"))
        acc = pieces[0]
        for p in pieces[1:]:
            acc = acc.unionByName(p)
        result = pin(acc)
    return result


# ---------------------------------------------------------------------------
# 6. IVF write path — partitioned-by-centroid layout with partition pruning.
# ---------------------------------------------------------------------------


@register("ivf_partition_pruning", tags=("similarity", "ivf", "layout"))
def ivf_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end IVF-Flat with the REAL storage layout, for the first
    three query ids: build the ``"ivf"`` index (the corpus written
    partitioned by centroid) → probe → partition-pruned read of the
    probed cells only → exact rank within them (``_build_serve``).
    Rows-only check (KMeans is not SQL-expressible); recall vs exact
    top-k is pytest-gated."""
    return _build_serve(
        spark, _corpus(spark, sf_dir), _index_path("ivf_index"), "ivf", 3
    )


# ---------------------------------------------------------------------------
# 5. Hybrid retrieval — dense + sparse rankings fused by RRF.
# ---------------------------------------------------------------------------

RRF_K = 60  # the standard reciprocal-rank-fusion damping constant


@register(
    "hybrid_rrf_retrieval",
    oracle=f"""
        WITH items AS (
            SELECT e.vec_id AS id,
                   CAST(e.embedding AS DOUBLE[]) AS emb,
                   list_distinct(list_filter(string_split_regex(lower(d.text),
                       '[^\\p{{L}}\\p{{N}}]+'), x -> x <> '')) AS toks
            FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
        ),
        pairs AS (
            SELECT q.id AS query_id, c.id AS id,
                   list_cosine_similarity(q.emb, c.emb) AS sim,
                   len(list_filter(q.toks, x -> list_contains(c.toks, x))) AS inter,
                   len(q.toks) + len(c.toks)
                     - len(list_filter(q.toks, x -> list_contains(c.toks, x))) AS uni
            FROM items q JOIN items c ON q.id < {N_QUERIES} AND q.id <> c.id
        ),
        ranked AS (
            SELECT query_id, id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, id) AS rank_dense,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY CASE WHEN uni = 0 THEN 0.0
                                               ELSE CAST(inter AS DOUBLE) / uni END DESC,
                                               id) AS rank_sparse
            FROM pairs
        ),
        fused AS (
            SELECT query_id, id,
                   1.0 / ({RRF_K} + rank_dense) + 1.0 / ({RRF_K} + rank_sparse)
                       AS rrf
            FROM ranked
        )
        SELECT query_id, id AS doc_id, round(rrf, 6) AS rrf_score,
               CAST(rank AS INT) AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY rrf DESC, id) AS rank
              FROM fused)
        WHERE rank <= {TOP_K}
    """,
    tags=("similarity", "hybrid", "rrf", "retrieval"),
    bench=True,
)
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid dense+sparse retrieval with reciprocal rank fusion: each
    query document ranks the corpus twice — by embedding cosine and by
    distinct-token Jaccard — and the two rank lists fuse as
    ``1/(60+r_dense) + 1/(60+r_sparse)`` (Cormack et al.'s RRF, the
    standard fusion in production RAG stacks).

    Physical shape: ONE pair frame computes both signals (the broadcast
    query side carries its embedding AND token set, so the corpus
    streams once), then two window ranks over the same frame and a
    final per-query top-k.  At 100 TB the shape is unchanged: |queries|
    ≪ |corpus| keeps the join broadcast, and the windows partition by
    query_id — parallel across queries, linear per query."""
    from ssafynews_data_spark.operators.text import tokens_col

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.array_distinct(tokens_col(F.col("text"))).alias("toks")
    )
    items = _corpus(spark, sf_dir).join(
        docs, F.col("vec_id") == F.col("doc_id")
    ).select(F.col("vec_id").alias("id"), "emb", "toks")
    queries = items.select(
        F.col("id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("toks").alias("q_toks"),
    ).filter(F.col("query_id") < N_QUERIES)

    inter = F.size(F.array_intersect(F.col("q_toks"), F.col("toks")))
    uni = F.size(F.col("q_toks")) + F.size(F.col("toks")) - inter
    jac = F.when(uni == 0, F.lit(0.0)).otherwise(
        inter.cast("double") / uni
    )
    pairs = items.join(
        F.broadcast(queries), F.col("id") != F.col("query_id")
    ).select(
        "query_id",
        "id",
        cosine(F.col("q_emb"), F.col("emb")).alias("sim"),
        jac.alias("jac"),
    )
    w_dense = W.partitionBy("query_id").orderBy(F.desc("sim"), "id")
    w_sparse = W.partitionBy("query_id").orderBy(F.desc("jac"), "id")
    fused = pairs.select(
        "query_id",
        "id",
        (
            1.0 / (RRF_K + F.row_number().over(w_dense))
            + 1.0 / (RRF_K + F.row_number().over(w_sparse))
        ).alias("rrf"),
    )
    w_final = W.partitionBy("query_id").orderBy(F.desc("rrf"), "id")
    return (
        fused.withColumn("rank", F.row_number().over(w_final))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            F.col("id").alias("doc_id"),
            F.round("rrf", 6).alias("rrf_score"),
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# 7. Oracle-checkable contracts for the approximate family.
#
# The ANN algorithms themselves aren't SQL-expressible (bucket layouts and
# KMeans labels are engine-specific), but their CONTRACTS are: the exact
# top-k reference is DuckDB-computable, and the recall / containment /
# accounting guarantees are deterministic facts the driver can hash-check.
# Each contract row mixes genuinely-DuckDB-computed columns (exact-side
# counts and similarity sums) with spec columns (recall_ok=TRUE): if the
# approximate side ever degrades, the Spark row diverges and FAILS.
#
# Every contract that grades a served top-k grades it ONE way:
# ``_exact_side`` pins the exact top-k of the contract's own corpus once
# and collects its facts, ``_hits`` counts served pairs in it,
# ``_floor_ok`` applies each floor on the driver, and ``_graded_row``
# returns the one literal row whose oracle ``_graded_oracle`` builds from
# the same claim names.
# ---------------------------------------------------------------------------

#: aggregate-recall floors, identical to tests/test_similarity.py.
#: The IVF floor must hold across EMBEDDING DRAWS, not just seed 42:
#: with nprobe=2 of 8 cells on near-random unit vectors, per-neighbor
#: cell-hit probability is ~0.5, so 50-row recall is binomial with
#: sd ~7 points — a seven-seed survey (42/777/1234/555/31337/99/2468)
#: measured 36-60%.  30 sits ~3 sd under the mean (a fixture draw
#: cannot sink it) while a real probe regression reads ~0-12%.  The
#: earlier 40 was set on the seed-42 draw alone and seed 99 (36%)
#: legitimately broke it — the same lesson as the minhash chain floor.
LSH_RECALL_MIN_PCT = 60
IVF_RECALL_MIN_PCT = 30

_EXACT_TOPK_CTE = f"""
        WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                   FROM embeddings WHERE vec_id < {N_QUERIES}),
             c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
             sims AS (
                 SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                        list_cosine_similarity(q.emb, c.emb) AS sim
                 FROM q CROSS JOIN c
                 WHERE q.vec_id <> c.vec_id
             ),
             topk AS (
                 SELECT query_id, neighbor_id, round(sim, 4) AS sim
                 FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                                    ORDER BY sim DESC, neighbor_id)
                                 AS rank
                       FROM sims)
                 WHERE rank <= {TOP_K}
             )
"""


class _Exact(NamedTuple):
    """The exact side of a graded contract: the pinned exact top-k at
    raw precision (``topk``; None when there are no query ids) and its
    DuckDB-recomputable facts."""

    topk: DataFrame | None
    n_queries: int
    n_exact_rows: int
    exact_sim_sum_q4: int | None  # NULL on an empty exact top-k, as in SQL


#: the exact side of a corpus without query ids: the oracle's vacuous row
_NO_EXACT = _Exact(None, 0, 0, None)


def _exact_side(corpus: DataFrame) -> _Exact:
    """Pin ``corpus``'s exact top-k once, at raw precision (``_exact_topk``;
    the ranking is the same as the rounded form's), and collect its facts:
    query and row counts plus the q4 similarity sum.  Each sim is rounded
    to 4 places as the oracle's top-k is, then quantized to an integer
    and summed as integers — round(sum(<rounded doubles>), 3) lands on a
    half-thousandth tie ~1/10 draws (caught by the pytest reseed gate,
    seed 8675309: 16.181 vs 16.18) and tie-breaks per engine.  One
    driver action, so it runs as a ``run_parallel`` leg or a
    ``_serve_roundtrip`` ``beside_build`` thunk."""
    topk = pin(_exact_topk(corpus, raw=True))
    facts = topk.agg(
        F.count_distinct("query_id"),
        F.count("*"),
        F.sum(F.round(F.round("sim", 4) * 10000).cast("long")),
    ).first()
    return _Exact(topk, *facts)


def _hits(served: DataFrame, exact: _Exact) -> int:
    """How many (query_id, neighbor_id) pairs of ``served`` are in the
    exact top-k — THE hit count of every graded contract."""
    ids = ["query_id", "neighbor_id"]
    return served.select(*ids).join(exact.topk.select(*ids), ids).count()


def _floor_ok(hits: int, of: int, min_pct: int) -> bool:
    """A recall or retention floor: ``hits`` is at least ``min_pct``
    percent of ``of`` (vacuously true when ``of`` is 0)."""
    return hits * 100 >= of * min_pct


def _graded_row(spark: SparkSession, exact: _Exact, **claims: bool) -> DataFrame:
    """The one row of a graded contract: the exact-side facts, then each
    claim as a BOOLEAN column, in ``_graded_oracle``'s order."""
    schema = "n_queries long, n_exact_rows long, exact_sim_sum_q4 long" + "".join(
        f", {c} boolean" for c in claims
    )
    return local_df(spark, [(*exact[1:], *claims.values())], schema)


_EXACT_FACTS_SQL = """count(DISTINCT query_id) AS n_queries,
               count(*) AS n_exact_rows,
               CAST(sum(CAST(round(sim * 10000) AS BIGINT)) AS BIGINT)
                   AS exact_sim_sum_q4"""


def _graded_oracle(*claims: str) -> str:
    """The oracle of a graded contract: DuckDB recomputes the exact-side
    facts and asserts every claim TRUE.  The floors themselves are
    applied Spark-side (a violated one emits FALSE, which then
    hash-mismatches the oracle's TRUE), so no floor constant appears in
    the SQL."""
    trues = "".join(f",\n               TRUE AS {c}" for c in claims)
    return f"""{_EXACT_TOPK_CTE}
        SELECT {_EXACT_FACTS_SQL}{trues}
        FROM topk
    """


def _ann_recall_contract(
    spark: SparkSession, sf_dir: str, approx_fn, min_pct: int
) -> DataFrame:
    """The graded row of a registered ANN top-k: exact-side facts plus
    the aggregate-recall floor of ``approx_fn``'s top-k.  ``approx_fn``
    runs only when the exact top-k has rows, so a corpus without query
    ids never touches the (unfittable-on-zero-rows) LSH/KMeans models;
    with no exact rows every hit count is 0 and the floor holds
    vacuously."""
    exact = _exact_side(pin(_corpus(spark, sf_dir)))
    hits = _hits(approx_fn(), exact) if exact.n_exact_rows else 0
    return _graded_row(spark, exact, recall_ok=_floor_ok(hits, exact.n_exact_rows, min_pct))


@register(
    "ann_lsh_recall_contract",
    oracle=_graded_oracle("recall_ok"),
    tags=("similarity", "lsh", "contract"),
)
def ann_lsh_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable contract for ``ann_lsh_topk``: DuckDB recomputes
    the exact top-k (count + rounded similarity mass) and the frame
    asserts LSH aggregate recall >= 60% against that exact set — the
    containment check VERDICT r4 asked for, expressed as a hashable
    row."""
    return _ann_recall_contract(
        spark, sf_dir, lambda: ann_lsh_topk(spark, sf_dir), LSH_RECALL_MIN_PCT
    )


@register(
    "ann_ivf_recall_contract",
    oracle=_graded_oracle("recall_ok"),
    tags=("similarity", "ivf", "contract"),
)
def ann_ivf_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable contract for ``ann_ivf_topk`` (see
    ``ann_lsh_recall_contract``); the IVF floor is lower because nprobe=2
    of 8 centroids legitimately misses cross-centroid neighbors."""
    return _ann_recall_contract(
        spark, sf_dir, lambda: ann_ivf_topk(spark, sf_dir), IVF_RECALL_MIN_PCT
    )


@register(
    "semantic_dedup_contract",
    oracle=f"""
        SELECT (SELECT count(*) FROM embeddings) AS n_total,
               (SELECT count(*) FROM embeddings) AS n_accounted,
               CAST(0 AS BIGINT) AS orphan_drops,
               CAST(0 AS BIGINT) AS both_kept_incluster_pairs
    """,
    tags=("dedup", "semdedup", "contract"),
)
def semantic_dedup_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable contract for ``semantic_dedup``: (a) keeper count
    plus the query's own reported drop counts accounts for every vector;
    (b) no dropped vector lacks a smaller-id near-dup (cluster pairs are
    a subset of global pairs, so every drop must be globally justified);
    (c) no near-dup pair survives with both endpoints kept IN THE SAME
    cluster — the greedy-within-cluster guarantee, decided from the
    output's own centroid column (cross-cluster survivors are
    SemDeDup-legitimate and excluded).  The global pair set is the SAME
    exact kernel (``_exact_pairs``, capped at EXACT_NEAR_DUP_MAX_ROWS)
    the driver hash-checks via ``near_dup_auto_pairs``, so the reference
    side is itself verified."""
    kept = pin(semantic_dedup(spark, sf_dir))
    corpus = pin(_corpus(spark, sf_dir))
    pairs = pin(_exact_pairs(corpus, SEMDEDUP_EPS).select("id_a", "id_b"))
    # every count runs in the body over the pinned keepers, so the
    # Python cluster step runs once however many counts read it
    n_kept = kept.count()
    n_drop = (
        kept.select("centroid", "n_dropped_in_cluster")
        .distinct()
        .agg(F.coalesce(F.sum("n_dropped_in_cluster"), F.lit(0)))
        .first()[0]
    )
    dropped = corpus.select("vec_id").join(kept.select("vec_id"), "vec_id", "left_anti")
    orphans = dropped.join(pairs, dropped["vec_id"] == pairs["id_b"], "left_anti").count()
    ka = kept.select(F.col("vec_id").alias("id_a"), F.col("centroid").alias("cent_a"))
    kb = kept.select(F.col("vec_id").alias("id_b"), F.col("centroid").alias("cent_b"))
    both_kept = (
        pairs.join(ka, "id_a").join(kb, "id_b").filter(F.col("cent_a") == F.col("cent_b")).count()
    )
    return local_df(
        spark,
        [(corpus.count(), n_kept + n_drop, orphans, both_kept)],
        "n_total long, n_accounted long, orphan_drops long, both_kept_incluster_pairs long",
    )


@register(
    "near_dup_auto_pairs",
    oracle=f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.emb, b.emb), 4) AS cos_sim
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.emb, b.emb) >= {NEAR_DUP_COS}
    """,
    tags=("dedup", "similarity", "adaptive"),
)
def near_dup_auto_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The adaptive router as a registered query, with ``exact_limit``
    raised to 6 000 so EVERY plausible fixture (sf0.001/0.01/0.1 at
    500-2 000 vectors, plus headroom for a regenerated fixture — a
    mis-scaled 5 000-vector reseed once routed onto the ~92%-recall
    LSH branch and broke the hash check) stays on the exact branch,
    where the exact-pair oracle holds by construction.  The library
    default is 5k.  The exact branch is ``embedding_near_dup``'s kernel,
    so it collects the corpus on the driver.  The benched scale-path
    headline is ``near_dup_lsh_verified`` below."""
    return near_dup_auto(_corpus(spark, sf_dir), exact_limit=6_000)


@register(
    "near_dup_lsh_verified",
    tags=("dedup", "similarity", "lsh"),
    bench=True,  # the near-dup HEADLINE: the scale path, forced LSH branch
)
def near_dup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup SCALE path as the benched headline: the router with
    ``exact_limit=0`` always takes the SRP-LSH branch, one exchange on
    (band, key) and the exact verify inside each bucket — n × bands
    shuffled rows at any corpus size.  Rows-only driver check
    (bucket collisions are engine-specific); the containment/recall
    contract (output ⊆ exact pairs, recall ≥ 80%) is pytest-gated in
    tests/test_similarity.py, and the exact twin
    (``near_dup_auto_pairs``) carries the full hash oracle."""
    return near_dup_auto(_corpus(spark, sf_dir), exact_limit=0)


@register(
    "near_dup_containment_contract",
    oracle=f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
             exact AS (
                 SELECT a.vec_id AS id_a, b.vec_id AS id_b
                 FROM e a JOIN e b ON a.vec_id < b.vec_id
                 WHERE list_cosine_similarity(a.emb, b.emb) >= {NEAR_DUP_COS}
             )
        SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
               true AS lsh_subset_of_exact,
               true AS recall_ok
        FROM exact
    """,
    tags=("dedup", "similarity", "lsh", "contract"),
)
def near_dup_containment_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The benched LSH near-dup headline held to its guarantees in a
    driver-hashable row: every pair it emits is a true >= threshold
    pair (containment — the exact verify step makes this structural),
    and it recovers >= 80% of the exact pair set (recall — the banding
    bound for these LSH parameters on normalized vectors).  The exact
    side is recomputed independently on BOTH engines (DuckDB in the
    oracle, the exact-branch router here); the LSH pair count itself is
    engine-specific and deliberately not emitted."""
    corpus = pin(_corpus(spark, sf_dir))
    # pin both pair sets: each feeds its own count AND the semi-join —
    # unpinned, the LSH banding and the quadratic verify each ran twice
    # (guide §2.4); the two materializations are independent jobs and
    # overlap (guide §2.6).  No cache race on the shared corpus pin
    # (ADVICE r13): near_dup_auto's routing count() below runs EAGERLY
    # at construction time, sequentially, so the corpus is fully
    # materialized before the two legs fork.
    lsh = pin(near_dup_auto(corpus, exact_limit=0).select("id_a", "id_b"))
    exact = pin(
        near_dup_auto(corpus, exact_limit=2_000_000_000).select("id_a", "id_b")
    )
    n_lsh, n_exact = run_parallel(lambda: lsh.count(), lambda: exact.count())
    n_common = lsh.join(exact, ["id_a", "id_b"], "left_semi").count()
    return local_df(spark, 
        [(n_exact, n_common == n_lsh, n_common >= 0.8 * n_exact)],
        "n_exact_pairs long, lsh_subset_of_exact boolean, recall_ok boolean",
    )


# ---------------------------------------------------------------------------
# 5. Product quantization (PQ) ANN — compressed codes + ADC scoring.
# ---------------------------------------------------------------------------

#: 8 subspaces of dim/8, 16 centroids each: 8 4-bit codes per vector
#: (4 bytes vs 256 for raw float64x8... the 64:1 compression PQ exists
#: for).  The fixture blobs are near-random unit vectors (max pairwise
#: cos ~0.48), the hardest PQ regime — quantization noise is comparable
#: to the similarity signal — so the re-rank list is deep (PQ_RERANK) and the
#: recall floor deliberately modest; on real embedding corpora
#: (neighbors at cos >= 0.8) the same codebooks separate sharply.
#: Measured fixture recall@5 (sampled-fit codebooks, r7): 0.90 at
#: sf0.01, 0.74 at sf0.1.
PQ_M = 8  # subspaces
PQ_K = 16  # centroids per subspace (codes fit in 4 bits each)
#: ADC candidates per query before the exact re-rank.  Constant-depth
#: (the faiss convention — serving cost does NOT scale with the
#: corpus); 256 instead of the earlier 100 because on the near-random
#: fixtures ADC noise ~ similarity signal and depth 100 (top 5% at 2k
#: vectors) left per-hit retention a coin-flip binomial: two hard
#: sf0.1-scale draws measured IVF-PQ retention 83-95% of flat IVF at
#: depth 100 and 100% at depth 256.  At 1e9 vectors the re-rank join
#: still touches only 256 ids per query.
PQ_RERANK = 256
PQ_RECALL_MIN_PCT = 50


#: codebook training sample cap.  PQ codebooks are routinely trained on
#: ~50-100k vectors regardless of corpus size (faiss does exactly this);
#: quality saturates long before the corpus does.  The cap bounds BOTH
#: the one collect and the fit.  The collect is Arrow float32, 50k * dim
#: * 4 bytes (13 MB at the fixture's dim 64, 154 MB at 768); the fit
#: matrix is float64, twice that (26 MB; 307 MB at 768).
PQ_FIT_SAMPLE = 50_000


def _np_kmeans(X: "np.ndarray", k: int, seed: int, iters: int = 10) -> "np.ndarray":
    """Seeded Lloyd's k-means on a driver-resident sample (numpy, GEMM
    assignment step).  Rough Voronoi cells are all PQ needs — the exact
    re-rank absorbs the slack — so 10 iterations, no convergence test.
    Returns exactly k centroids; when the sample has fewer than k rows
    the surplus centroids repeat sample rows (harmless: argmax scoring
    just never prefers a duplicate)."""
    rng = np.random.RandomState(seed)
    if len(X) >= k:
        C = X[rng.choice(len(X), size=k, replace=False)].copy()
    else:
        C = X[np.arange(k) % len(X)].copy()
    for _ in range(iters):
        a = _np_nearest(X, C)
        for j in range(k):
            mem = X[a == j]
            if len(mem):
                C[j] = mem.mean(0)
    return C


def _np_nearest(X: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
    """The driver-side nearest-centre step of the sample fits: per row of
    X, the argmin of ||x - c||^2 == argmax (x.c - ||c||^2 / 2) over the
    rows of C, one GEMM (ties to the lowest id).  Executors assign with
    ``_nearest``'s summed squared differences instead, which can pick a
    different centre only where two distances tie to rounding."""
    return np.argmax(X @ C.T - (C * C).sum(1) / 2.0, axis=1)


def _fit_sample(
    frame: DataFrame,
    emb_col: str = "emb",
    id_col: str = "vec_id",
    order: "list[Column] | None" = None,
) -> "np.ndarray":
    """The bounded training sample of a driver-side fit as a (n, dim)
    matrix — deterministic and order-free: the top-PQ_FIT_SAMPLE rows by
    md5 of the id, or by the ``order`` keys (TakeOrderedAndProject: one
    pass over the corpus, no full shuffle, no partition-order bias).  It
    arrives as Arrow and is reshaped from the flat float buffer, so no
    Python object is made per element.  No rows is a (0, 0) matrix."""
    keys = order if order is not None else [F.md5(F.col(id_col).cast("string"))]
    t = (
        frame.select(F.col(emb_col).alias("e"), *(k.alias(f"_o{i}") for i, k in enumerate(keys)))
        .sort(*(f"_o{i}" for i in range(len(keys))))
        .limit(PQ_FIT_SAMPLE)
        .select("e")
        .toArrow()
    )
    if t.num_rows == 0:
        return np.empty((0, 0))
    e = t.column("e").combine_chunks()
    lens = e.value_lengths().to_numpy(zero_copy_only=False)
    if lens.min() != lens.max():
        raise ValueError(
            f"{emb_col}: vectors of {lens.min()} and {lens.max()} dims in one fit sample"
        )
    return e.flatten().to_numpy(zero_copy_only=False).astype(float).reshape(len(e), -1)


def _pq_books(X: "np.ndarray") -> list:
    """THE PQ codebook fit: one seeded k-means(PQ_K) per subspace of a
    driver sample, the M centroid matrices (K x dim/M).  An empty or
    non-finite sample is a ValueError naming the fit."""
    _check_sample(f"PQ({PQ_M}x{PQ_K}) codebook fit", X)
    sub = X.shape[1] // PQ_M
    return [
        _np_kmeans(X[:, m * sub : (m + 1) * sub], PQ_K, seed=42 + m)
        for m in range(PQ_M)
    ]


def _pq_codebooks(frame: DataFrame, emb_col: str = "emb", id_col: str = "vec_id") -> list:
    """Train PQ codebooks on the bounded sample of ``emb_col``
    (``_fit_sample``; under IVF the build passes the ``res`` column, the
    RESIDUAL sample of faiss ``by_residual=true``: residuals concentrate
    near the origin, so the codebooks spend their resolution on the
    within-cell displacement instead of re-describing the coarse
    structure IVF already captured).  Train-once-on-a-sample,
    encode-the-world is the standard PQ pipeline (Jegou et al. 2011;
    faiss trains on sampled vectors): the 8 fits run driver-side
    (seeded numpy Lloyd's, milliseconds), so fit cost is flat in corpus
    size BY CONSTRUCTION; the encode stays distributed and in the JVM
    (``_nearest``, one projection against the books as a literal)."""
    return _pq_books(_fit_sample(frame, emb_col, id_col))


def _adc_tables(books: list, Q: "np.ndarray") -> tuple[list, list]:
    """The ADC lookup tables: per subspace m, the (|Q|, K) partial dots
    Q_m · C_mᵀ and the K squared centroid norms ‖C_m[k]‖².  Shared by
    the Spark lookup row and the numpy reference of
    ``adc_batch_parity_contract``, so both read the same doubles."""
    sub = books[0].shape[1]
    dots = [Q[:, m * sub : (m + 1) * sub] @ C.T for m, C in enumerate(books)]
    norms = [[float((C[k] * C[k]).sum()) for k in range(PQ_K)] for C in books]
    return dots, norms


def _adc_lut_row(
    spark: SparkSession,
    books: list,
    Q: "np.ndarray",
    qids: list,
    qnorm: "np.ndarray",
    centers: "np.ndarray | None" = None,
) -> DataFrame:
    """The ADC lookup table as ONE broadcastable ``local_df`` row whose
    maps are built on the driver (data, not plan literals — the literal
    form's plan compile cost exceeded the whole execution, r13), so the
    serving plan stays constant-size no matter how many queries are
    batched and the row costs no job of its own:

    - ``_adc_lut[m·K + code]`` = (pd: partial dots over queries,
      cn2: ||c||²), a ``map<int, struct<pd, cn2>>``;
    - ``_adc_qids`` and ``_adc_qn``, the query ids and query norms;
      the ids stay ``array<int>`` (``bigint`` only for ids past 2³¹),
      since they become the served ``query_id``.

    With ``centers`` (residual ADC) it also carries the centroid-keyed
    terms — ``_adc_qc[c]`` = per-query dot(q, c) array, ``_adc_ccn2[c]``
    = ‖c‖², and ``_adc_cross[m·IVF_K·K + c·K + k]`` = dot(c_m, C_m[k]):
    M·IVF_K·K + IVF_K·(Q + 2) doubles ≈ tens of KB."""
    dots, norms = _adc_tables(books, Q)
    row = [
        {
            m * PQ_K + k: ([float(x) for x in pd_mk[:, k]], norms[m][k])
            for m, pd_mk in enumerate(dots)
            for k in range(PQ_K)
        },
        [int(q) for q in qids],
        [float(x) for x in qnorm],
    ]
    # int unless an id needs 64 bits — the type F.lit gave this array
    qid_t = "int" if all(-(2**31) <= q < 2**31 for q in row[1]) else "bigint"
    schema = (
        "_adc_lut map<int, struct<pd: array<double>, cn2: double>>,"
        f" _adc_qids array<{qid_t}>, _adc_qn array<double>"
    )
    if centers is not None:
        sub = books[0].shape[1]
        n_cells = centers.shape[0]
        qc = Q @ centers.T  # (Q, IVF_K)
        cn2 = (centers * centers).sum(1)  # (IVF_K,)
        cross = {}
        for m, C in enumerate(books):
            cc_mk = centers[:, m * sub : (m + 1) * sub] @ C.T  # (IVF_K, K)
            for c in range(n_cells):
                for k in range(PQ_K):
                    cross[m * n_cells * PQ_K + c * PQ_K + k] = float(cc_mk[c, k])
        row += [
            {c: [float(x) for x in qc[:, c]] for c in range(n_cells)},
            {c: float(cn2[c]) for c in range(n_cells)},
            cross,
        ]
        schema += (
            ", _adc_qc map<int, array<double>>, _adc_ccn2 map<int, double>,"
            " _adc_cross map<int, double>"
        )
    return local_df(spark, [tuple(row)], schema)


#: columns the ADC machinery injects; never part of the caller's carry
_ADC_HELPER_COLS = frozenset(
    {"codes", "_adc_lut", "_adc_qids", "_adc_qn", "_adc_qc", "_adc_ccn2", "_adc_cross"}
)


def _adc_explode(
    df: DataFrame,
    books: list,
    Q: "np.ndarray",
    qids: list,
    qnorm: "np.ndarray",
    centers: "np.ndarray | None" = None,
) -> DataFrame:
    """Explode a coded frame (``neighbor_id``, ``codes``, any carry
    columns) into per-(query, neighbor) ADC cosine rows: (query_id,
    <carry>, adc_sim), self-pairs dropped.  Shared by the flat PQ path
    and IVF-PQ so the ADC normalization/tiebreak lives in ONE place;
    the lookups arrive as the one broadcast row of ``_adc_lut_row``.

    With ``centers`` the frame also carries ``centroid`` and the codes
    are RESIDUAL codes; the reconstruction is x̂ = c + r̂, so

    - dot(q, x̂)  = dot(q, c)          [centroid lookup, per query]
                  + Σ_m dot(q_m, C_m[k_m])   [the shared residual maps]
    - ‖x̂‖²      = ‖c‖² + 2·Σ_m dot(c_m, C_m[k_m]) + Σ_m ‖C_m[k_m]‖²

    i.e. exactly ONE extra lookup per subspace vs the flat form (the
    (centroid, code) cross-dot), plus two centroid-keyed scalars.
    Without ``centers`` no centroid term is emitted: the flat plan is
    the flat sums alone."""
    carry = [c for c in df.columns if c not in _ADC_HELPER_COLS]
    df = df.crossJoin(
        F.broadcast(_adc_lut_row(df.sparkSession, books, Q, qids, qnorm, centers))
    )
    # the whole scoring expression as ONE parsed SQL string (guide §7.3)
    # — the Column-API form paid ~40 py4j round-trips per
    # zip_with/element_at while building the identical tree
    ent = lambda m: f"element_at(_adc_lut, {m * PQ_K} + codes[{m}])"  # noqa: E731
    dots_s = f"{ent(0)}.pd"
    norm2_s = f"{ent(0)}.cn2"
    for m in range(1, len(books)):
        dots_s = f"zip_with({dots_s}, {ent(m)}.pd, (a, b) -> a + b)"
        norm2_s = f"{norm2_s} + {ent(m)}.cn2"
    if centers is not None:
        cross_s = " + ".join(
            f"element_at(_adc_cross, {m * centers.shape[0] * PQ_K}"
            f" + centroid * {PQ_K} + codes[{m}])"
            for m in range(len(books))
        )
        dots_s = f"zip_with({dots_s}, element_at(_adc_qc, centroid), (r, c) -> r + c)"
        norm2_s = f"element_at(_adc_ccn2, centroid) + ({cross_s}) * 2.0D + ({norm2_s})"
    sim_s = f"zip_with({dots_s}, _adc_qn, (d, qn) -> d / (qn * sqrt({norm2_s})))"
    return (
        df.selectExpr(
            *[f"`{c}`" for c in carry],
            "_adc_qids",
            f"posexplode({sim_s}) AS (qpos, adc_sim)",
        )
        .selectExpr(
            "element_at(_adc_qids, qpos + 1) AS query_id",
            *[f"`{c}`" for c in carry],
            "adc_sim",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )


def _adc_candidate_cut(scored: DataFrame, depth: int = PQ_RERANK) -> DataFrame:
    """Keep the ``depth`` best ``adc_sim`` rows per query (deterministic
    neighbor_id tiebreak) — the candidate list of the exact refine."""
    w = W.partitionBy("query_id").orderBy(F.desc("adc_sim"), "neighbor_id")
    return scored.withColumn("r0", F.row_number().over(w)).filter(
        F.col("r0") <= depth
    )


def ann_pq_topk_frame(
    spark: SparkSession, corpus: DataFrame, id_col: str = "vec_id", emb_col: str = "emb"
) -> DataFrame:
    """PQ-ANN top-k: encode the corpus into M 4-bit codes, score every
    (query, code) pair by asymmetric distance computation (ADC), take
    the PQ_RERANK best per query, then exact-cosine re-rank to TOP_K —
    the standard PQ serving pipeline (Jegou et al. 2011, public).

    Spark shape: the per-(subspace, code) partial dot products against
    ALL queries travel as ONE broadcast lookup row (M·K entries, each
    an array of Q doubles — a few KB), so ADC is map lookups + one
    zip_with sum per subspace, pure codegen, no shuffles until the
    per-query group limit; only the PQ_RERANK x Q
    candidate rows join back for exact re-rank.  At 100 TB the codes
    table (M bytes/vector vs 4·dim) is the stored index — encode once,
    serve many — and pairs with the IVF layout (``ivfpq``) for
    partition-pruned PQ scans."""
    corpus = pin(corpus)
    qrows = sorted(
        corpus.filter(F.col(id_col) < N_QUERIES).select(id_col, emb_col).collect()
    )  # Q rows by contract (N_QUERIES=10) — a capped query-set fetch
    if not qrows:
        # empty corpus / no queries: nothing to train or serve (KMeans
        # cannot fit on zero rows — same guard as the ANN contracts)
        return local_df(spark, [], _TOPK_SCHEMA)
    books = _pq_codebooks(corpus, emb_col=emb_col, id_col=id_col)
    Q = np.stack([np.asarray(r[1], dtype=float) for r in qrows])
    qids = [int(r[0]) for r in qrows]
    qnorm = np.sqrt((Q * Q).sum(1))

    coded = _nearest(corpus, books, emb_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("emb_n"), "codes"
    )
    cand = _adc_candidate_cut(_adc_explode(coded, books, Q, qids, qnorm))
    q_emb = corpus.filter(F.col(id_col) < N_QUERIES).select(
        F.col(id_col).alias("query_id"), F.col(emb_col).alias("emb_q")
    )
    return _exact_rerank_topk(cand.join(F.broadcast(q_emb), "query_id"))


@register("ann_pq_topk", tags=("similarity", "pq"))
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered PQ-ANN top-k (see ``ann_pq_topk_frame``).  Rows-only
    driver check (codes depend on KMeans initialization); the recall
    floor is the oracle-bearing ``pq_ann_recall_contract``."""
    return ann_pq_topk_frame(spark, _corpus(spark, sf_dir))


@register(
    "pq_ann_recall_contract",
    oracle=_graded_oracle("recall_ok"),
    tags=("similarity", "pq", "contract"),
)
def pq_ann_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable contract for ``ann_pq_topk`` (same frame as the
    LSH/IVF contracts): DuckDB recomputes the exact top-k facts, Spark
    asserts PQ aggregate recall >= PQ_RECALL_MIN_PCT against them.  The
    floor is below the LSH one: 4x16 codebooks quantize dim-64 vectors
    hard, and the exact re-rank can only recover what ADC's candidate
    list retains."""
    return _ann_recall_contract(
        spark, sf_dir, lambda: ann_pq_topk(spark, sf_dir), PQ_RECALL_MIN_PCT
    )


# ---------------------------------------------------------------------------
# IVF-PQ — the faiss-standard composite index: coarse centroids prune
# WHICH cells a query reads (partition pruning), PQ codes compress WHAT
# it reads (M bytes/vector), ADC scores it without decompressing.
# ---------------------------------------------------------------------------

#: nprobe=2 of IVF_K=8 cells caps ATTAINABLE recall at the fraction of
#: true neighbors living in probed cells — measured cap 0.52 at sf0.01,
#: 0.62 at sf0.1.  With residual encoding (r8) the served recall@5 is
#: 0.52 / 0.60 (deterministic: seeded KMeans + seeded sampled
#: codebooks) — 100% / 97% of the cap, i.e. quantization loss is gone
#: and what remains is pure probe coverage (raw-vector encoding left
#: sf0.1 at 0.54 = 87% of cap).  The floor matches IVF_RECALL_MIN_PCT:
#: residual encoding closed the gap to the probe-coverage cap, so the
#: binding constraint is the same cell-hit binomial as flat IVF — the
#: seven-seed survey (36-60%, sd ~7 points) applies verbatim, and the
#: seed-42-calibrated 45 broke on seed 99's draw exactly like IVF's 40.
IVFPQ_RECALL_MIN_PCT = 30


def ivfpq_build_index(
    spark: SparkSession, corpus: DataFrame, path: str
) -> tuple[list, "np.ndarray"]:
    """The corpus-sized, run-once half of IVF-PQ (``_build_index``):
    IVF fit, residual codebooks (sample-bounded fit), then the
    centroid-partitioned (vec_id, codes) index every probe scans, the
    ``_flat`` (vec_id, emb) refine companion and the ``_meta``
    quantizer.  Returns the driver-resident serving state (codebooks +
    centroid matrix, KB)."""
    state = _build_index(spark, corpus, path, "ivfpq")
    return state["book"], state["center"]


def ivfpq_load_meta(spark: SparkSession, path: str) -> tuple[list, "np.ndarray"]:
    """Reload the IVF-PQ serving state (cold start: no corpus scan, no
    KMeans, just the KB-sized quantizer parquet)."""
    state = _read_meta(spark, path)
    return list(state["book"]), state["center"]


def _serve_expected(idx: DataFrame, centers: "np.ndarray", qrows: list) -> int:
    """Exact expected serve row count from the index's OWN cell sizes:
    each query yields min(TOP_K, vectors in its probed cells minus
    itself when its own cell is probed).  Draw-robust — never bets on
    a fixture's KMeans/cell shape — and cheap: two IVF_K-sized
    aggregates plus the driver-side probe GEMM.  An empty batch
    expects 0 rows."""
    if not qrows:
        return 0
    Q = np.stack([np.asarray(r[1], dtype=float) for r in qrows])
    qids = [int(r[0]) for r in qrows]
    probes = _probe_cells(centers, Q, qids)
    # ONE IVF_K-sized aggregate instead of two separate jobs: per cell,
    # the size plus the query ids living in it (collect_list skips the
    # non-query NULLs; membership only — order is irrelevant)
    cells = idx.groupBy("centroid").agg(
        F.count("*").alias("n"),
        F.collect_list(
            F.when(F.col("vec_id").isin(qids), F.col("vec_id"))
        ).alias("qv"),
    ).collect()
    cell_sizes = {r.centroid: r.n for r in cells}
    own_cell = {int(q): r.centroid for r in cells for q in r.qv}
    return sum(
        min(
            TOP_K,
            sum(cell_sizes.get(c, 0) for c in probes[q])
            - (1 if own_cell.get(q) in probes[q] else 0),
        )
        for q in qids
    )


def _probe_cells(
    centers: "np.ndarray", Q: "np.ndarray", qids: list, nprobe: int = NPROBE
) -> dict[int, list[int]]:
    """Per-query ``nprobe`` nearest coarse cells by centroid cosine,
    descending, ties to the lower centroid id — THE probe of every IVF
    kind (one tiny driver GEMM against the KB matrix), shared by serving
    and by the append contract's coverage expectation.  Each cosine is
    bit-identical to the JVM fold of ``_cosine_sql``
    (``_cosine_matrix``) and the order is a Spark window's over (c_sim
    DESC, centroid)."""
    csim = _cosine_matrix(Q, centers)
    return {
        q: [int(c) for c in np.argsort(-csim[i], kind="stable")[:nprobe]]
        for i, q in enumerate(qids)
    }


def ivfpq_serve(
    spark: SparkSession,
    path: str,
    books: list,
    centers: "np.ndarray",
    qrows: list,
) -> DataFrame:
    """The per-batch IVF-PQ serving half (``_serve``): probe → pruned
    codes read → residual ADC → candidate cut → pruned flat refine."""
    return _serve(spark, path, "ivfpq", {"center": centers, "book": books}, qrows)


@register("ivfpq_index_topk", tags=("similarity", "ivf", "pq", "layout"))
def ivfpq_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered IVF-PQ end-to-end (Jegou et al. 2011; the faiss IVFPQ
    + refine pipeline, public) through ``_build_serve``:

    - WRITE (``ivfpq_build_index``): assign each vector to its
      KMeans(IVF_K) centroid, PQ-encode the RESIDUAL emb − center
      (faiss ``by_residual=true``: residuals concentrate near the
      origin, so the codebooks spend their resolution on within-cell
      displacement — measured recall@5 sits AT the nprobe coverage cap,
      0.52/0.52 at sf0.01 and 0.60/0.62 at sf0.1, vs 0.54 = 87% of cap
      raw) and write (vec_id, codes) PARTITIONED BY centroid: PQ_M small
      ints per vector instead of 4·dim bytes, clustered so a probe reads
      ``nprobe/IVF_K`` of the files.
    - SERVE (``ivfpq_serve``): the KB centroid matrix is the driver-
      resident probe index; the probed cells are read back partition-
      pruned, residual ADC scores the codes, and the deep candidate list
      joins back to the flat store BY ID for the exact re-rank.

    At 100 TB: scan cost per query = nprobe/IVF_K of an M-bytes-per-
    vector table, fit cost sample-bounded (``_pq_codebooks``), re-rank
    cost output-sized.  Rows-only driver check (KMeans is not
    SQL-expressible); the recall floor is the oracle-bearing
    ``ivfpq_recall_contract``."""
    return _build_serve(spark, _corpus(spark, sf_dir), _index_path("ivfpq_index"), "ivfpq")


#: residual-encoding retention: IVF-PQ must keep at least this share
#: of flat-IVF's hits ON THE SAME probes.  Unlike an absolute recall
#: floor (cell-hit binomial, varies 36-60% across embedding draws —
#: see IVF_RECALL_MIN_PCT), the RATIO isolates quantization loss from
#: probe coverage.  Measured with residual codes at PQ_RERANK=256:
#: 100% on all seven sf0.01-scale survey seeds, 100% on seed-42 sf0.1,
#: 100% on BOTH hard reseeded 2000-vector draws (at the earlier depth
#: 100 those two read 94.7% and 83.3% — per-hit retention was a
#: binomial at top-5% rerank depth, which is why the floor briefly
#: dropped to 85; deepening the constant re-rank list was the right
#: fix, not loosening the contract).  90 leaves a couple-of-losses
#: margin while a residual-encoding regression (a broken encode reads
#: ~0-50%) still trips it.  This is the draw-robust form of the r7
#: directive "raise the floor to the measured residual recall" — an
#: absolute recall floor high enough to certify residual encoding (45)
#: is sunk by a legitimate draw (seed 99: 36%), so the certification
#: lives in the ratio.
IVFPQ_RETENTION_MIN_PCT = 90

@register(
    "ivfpq_recall_contract",
    oracle=_graded_oracle("recall_ok", "retention_ok"),
    tags=("similarity", "ivf", "pq", "contract"),
)
def ivfpq_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable contract for ``ivfpq_index_topk``: DuckDB
    recomputes the exact top-k facts; Spark asserts (a) aggregate
    recall >= IVFPQ_RECALL_MIN_PCT (the probe-coverage floor shared
    with flat IVF) and (b) the residual-encoding guarantee — IVF-PQ
    retains >= IVFPQ_RETENTION_MIN_PCT of flat IVF's hits on the same
    nprobe/IVF_K probes, so quantization loss is certified ~zero
    independent of the embedding draw (see the constant's ladder)."""
    # ONE pinned corpus; the query-slice fetch also materializes the pin
    # before anything forks on it
    corpus = pin(_corpus(spark, sf_dir))
    qrows = _query_rows(corpus)
    if not qrows:
        # no query ids (an empty corpus included): nothing is built and
        # both floors hold vacuously — the oracle's row
        return _graded_row(spark, _NO_EXACT, recall_ok=True, retention_ok=True)
    path = _index_path("ivfpq_recall")
    # the exact side is fit-independent: it overlaps the eager build
    pq_frame, exact = run_parallel(
        lambda: _build_serve(spark, corpus, path, "ivfpq"),
        lambda: _exact_side(corpus),
    )
    # flat-IVF retention baseline: the "ivf" kind served from the index's
    # OWN flat store (partition-pruned) and persisted centers — no re-fit
    # of the identical KMeans, no corpus re-scan.  Same assignment, same
    # probe, identical hits.
    ivf = _serve(spark, path, "ivf", _read_meta(spark, path), qrows)
    pq_hits, ivf_hits = run_parallel(lambda: _hits(pq_frame, exact), lambda: _hits(ivf, exact))
    return _graded_row(
        spark,
        exact,
        recall_ok=_floor_ok(pq_hits, exact.n_exact_rows, IVFPQ_RECALL_MIN_PCT),
        retention_ok=_floor_ok(pq_hits, ivf_hits, IVFPQ_RETENTION_MIN_PCT),
    )


# ---------------------------------------------------------------------------
# 7. Round-8 contracts: ADC exactness + incremental index append.
# ---------------------------------------------------------------------------


def _adc_reference(
    ids: list, codes: "np.ndarray", books: list, Q: "np.ndarray", qids: list,
    qnorm: "np.ndarray",
) -> list[tuple]:
    """numpy twin of flat ``_adc_explode`` over (ids, codes (n, M)):
    the SAME ``_adc_tables`` doubles, summed over subspaces left to
    right exactly like the Spark fold, then d / (qn · sqrt(norm2)) —
    every step one correctly rounded IEEE op, so the (query_id,
    neighbor_id, adc_sim) rows are bit-identical by construction."""
    dots, norms = _adc_tables(books, Q)
    acc = dots[0][:, codes[:, 0]]  # (Q, n)
    norm2 = np.asarray(norms[0])[codes[:, 0]]
    for m in range(1, len(books)):
        acc = acc + dots[m][:, codes[:, m]]
        norm2 = norm2 + np.asarray(norms[m])[codes[:, m]]
    sim = acc / (qnorm[:, None] * np.sqrt(norm2)[None, :])
    return [
        (int(q), int(n), float(sim[j, i]))
        for j, q in enumerate(qids)
        for i, n in enumerate(ids)
        if q != n
    ]


@register(
    "adc_batch_parity_contract",
    oracle=f"""
        SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < {N_QUERIES})
                    * (count(*) - 1) AS BIGINT) AS n_scored,
               true AS paths_identical
        FROM embeddings
    """,
    tags=("similarity", "pq", "adc", "contract"),
)
def adc_batch_parity_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable exactness contract for flat ADC: Spark's
    broadcast-lookup scoring (``_adc_explode``) and a numpy ADC over
    the SAME lookup tables in the SAME accumulation order
    (``_adc_reference``) must score every (query, neighbor) pair
    BIT-identically.  Output: (n_scored, paths_identical); n_scored =
    |Q|·(n−1) (self-pairs dropped) is what DuckDB recomputes.  The
    equality is checked with one anti-join in each direction on the
    full scored row (query, neighbor, sim), so ANY diverging double
    fails the contract — the cross-engine twin of
    tests/test_similarity.py::test_adc_matches_numpy_reference."""
    corpus = pin(_corpus(spark, sf_dir))
    qrows = _query_rows(corpus)
    if not qrows:
        return local_df(spark, 
            [(0, True)], "n_scored long, paths_identical boolean"
        )
    books = _pq_codebooks(corpus)
    Q = np.stack([np.asarray(r[1], dtype=float) for r in qrows])
    qids = [int(r[0]) for r in qrows]
    qnorm = np.sqrt((Q * Q).sum(1))
    coded = pin(_nearest(corpus, books).select(F.col("vec_id").alias("neighbor_id"), "codes"))
    code_rows = coded.collect()
    ref = local_df(
        spark,
        _adc_reference(
            [r.neighbor_id for r in code_rows],
            np.array([r.codes for r in code_rows], dtype=np.int64).reshape(-1, PQ_M),
            books, Q, qids, qnorm,
        ),
        "query_id long, neighbor_id long, adc_sim double",
    )
    # pin both scored frames: each feeds two anti-join counts (and got
    # a third count) — without the barrier the ADC scoring pipeline
    # re-ran per consumer
    got = pin(_adc_explode(coded, books, Q, qids, qnorm))
    ref = pin(ref)
    cols = ["query_id", "neighbor_id", "adc_sim"]
    only_got = got.join(ref, cols, "left_anti").count()
    only_ref = ref.join(got, cols, "left_anti").count()
    n = got.count()
    return local_df(spark, 
        [(n, only_got == 0 and only_ref == 0)],
        "n_scored long, paths_identical boolean",
    )


#: holdout appended incrementally in ``ivfpq_index_append`` — the
#: newest IVFPQ_APPEND_N vec_ids arrive AFTER the index is built.
IVFPQ_APPEND_N = 20


@register(
    "ivfpq_index_append",
    # serve coverage is a Spark-computed BOOLEAN, not a pinned
    # |Q|·TOP_K product: the exact expected row count is
    # Σ_q min(TOP_K, non-self vectors in q's probed cells), which a
    # skewed KMeans/cell draw legitimately moves — pinning the product
    # in SQL was the same fixture-draw-shape bet the r8 reseeds retired
    # for the recall floors.
    oracle=f"""
        WITH m AS (SELECT max(vec_id) AS mx, count(*) AS n FROM embeddings)
        SELECT CAST(n - (SELECT count(*) FROM embeddings, m
                         WHERE vec_id > mx - {IVFPQ_APPEND_N}) AS BIGINT)
                   AS n_base,
               CAST((SELECT count(*) FROM embeddings, m
                     WHERE vec_id > mx - {IVFPQ_APPEND_N}) AS BIGINT)
                   AS n_appended,
               CAST(n AS BIGINT) AS n_index,
               true AS serve_complete,
               true AS codes_valid
        FROM m
    """,
    tags=("similarity", "ivf", "pq", "maintenance", "incremental"),
)
def ivfpq_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF-PQ maintenance (the faiss ``add()``-after-
    ``train()`` lifecycle): build the index on the corpus MINUS the
    newest IVFPQ_APPEND_N vectors, then append those by encoding with
    the EXISTING codebooks/centroids — assign each new vector to its
    nearest coarse cell (``_ivf_assign``), residual-encode with the
    build's own codes write (``_write_codes``, one JVM projection), and
    ``mode("append")`` into the centroid-partitioned codes + flat
    tables.  No re-fit, no rewrite of existing partitions: at 100 TB
    this is how a live index absorbs a day's new embeddings — append
    cost is sized by the DELTA only.

    Contract row: base/appended/total index row counts (DuckDB-
    recomputable) plus serve_complete — a post-append serve returns
    EXACTLY Σ_q min(TOP_K, non-self vectors in q's probed cells) rows,
    the draw-robust form of "the appended rows are visible to the
    probe path" (expected count computed from the index's own cell
    sizes, never pinned in SQL) — and codes_valid
    (every stored code array is PQ_M codes in [0, PQ_K)).  Quantization
    drift is the known cost of append-without-refit (codebooks were fit
    pre-append); the recall story stays with ``ivfpq_recall_contract``.
    Reference scope: the reference re-embeds into pgvector row by row
    (ollama_consumer.py:234) with no index lifecycle at all."""
    corpus = pin(_corpus(spark, sf_dir))
    stats = corpus.agg(
        F.max("vec_id").alias("mx"), F.count("*").alias("n")
    ).collect()[0]
    if stats.n == 0:
        return local_df(spark, 
            [(0, 0, 0, True, True)],
            "n_base long, n_appended long, n_index long,"
            " serve_complete boolean, codes_valid boolean",
        )
    cut = int(stats.mx) - IVFPQ_APPEND_N  # newest N ids are the delta
    base = corpus.filter(F.col("vec_id") <= cut)
    delta = corpus.filter(F.col("vec_id") > cut)
    path = _index_path("ivfpq_append")
    books, centers = ivfpq_build_index(spark, base, path)
    cells = _residual(_ivf_assign(delta, centers), centers, "ivfpq append")
    _write_codes(cells, path, "ivfpq", {"book": books, "center": centers}, "append")
    _write_store(cells.select("vec_id", "emb", "centroid"), path + "_flat", ["centroid"], "append")

    idx = spark.read.parquet(path)
    ok = idx.agg(
        F.min(
            (F.size("codes") == PQ_M)
            & F.forall("codes", lambda c: (c >= 0) & (c < PQ_K))
        ).alias("ok")
    ).collect()[0].ok
    qrows = _query_rows(corpus)
    serve_rows = ivfpq_serve(spark, path, books, centers, qrows).count()
    expected = _serve_expected(idx, centers, qrows)
    return local_df(spark, 
        [
            (
                int(base.count()),
                int(delta.count()),
                int(idx.count()),
                bool(serve_rows == expected),
                bool(ok),
            )
        ],
        "n_base long, n_appended long, n_index long,"
        " serve_complete boolean, codes_valid boolean",
    )


@register(
    "ivfpq_serve_contract",
    # all three guarantees are engine-computed booleans (the serve
    # output itself is KMeans-shaped and not SQL-derivable); n_queries
    # anchors the row to the data.  This is VERDICT r8 item 6: the
    # serving layout driver-certified as its own query, not only as a
    # leg of ivfpq_index_topk.
    oracle=f"""
        SELECT CAST(count(*) AS BIGINT) AS n_queries,
               true AS state_roundtrip_ok,
               true AS serve_complete
        FROM embeddings WHERE vec_id < {N_QUERIES}
    """,
    tags=("similarity", "ivf", "pq", "serving", "contract"),
    bench2=True,
)
def ivfpq_serve_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving layer certified end-to-end as a lifecycle: build the
    index artifact (codes + flat + persisted quantizer meta), COLD-START
    a second server by reloading the quantizer state from disk
    (``ivfpq_load_meta`` — no corpus scan, no KMeans), and assert

    - state_roundtrip_ok: the reloaded server's (query_id, neighbor_id,
      rank, sim) rows are IDENTICAL to the builder's — doubles
      roundtrip parquet bit-exactly, so any divergence means the
      serving state is not self-contained;
    - serve_complete: the serve returns exactly
      Σ_q min(TOP_K, non-self vectors in q's probed cells) rows,
      computed from the index's own cell sizes (draw-robust).

    At 100 TB this is the property that matters operationally: the
    query tier restarts from the stored artifact alone, while the
    recall story stays with ``ivfpq_recall_contract`` and the
    sub-linear serve cost with the scale sweep's ``ivfpq_serve`` row
    (alpha 0.33).  Reference scope: the reference has no index
    lifecycle at all (pgvector column writes, ollama_consumer.py:234).
    """
    corpus = pin(_corpus(spark, sf_dir))
    qrows = _query_rows(corpus)
    schema = "n_queries long, state_roundtrip_ok boolean, serve_complete boolean"
    if not qrows:
        return local_df(spark, [(0, True, True)], schema)
    path = _index_path("ivfpq_serve")
    ok, n_loaded, _, (expected,), _ = _serve_roundtrip(
        spark, "ivfpq", corpus, path, qrows,
        beside_serve=lambda built, loaded: _serve_expected(
            spark.read.parquet(path), loaded["center"], qrows
        ),
    )
    return local_df(spark, [(len(qrows), ok, n_loaded == expected)], schema)


@register(
    "hard_negative_mining",
    oracle=f"""
        WITH a AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label
                   FROM embeddings WHERE vec_id < {N_QUERIES}),
             c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label
                   FROM embeddings),
             sims AS (
                 SELECT a.vec_id AS anchor_id, c.vec_id AS neighbor_id,
                        list_cosine_similarity(a.emb, c.emb) AS sim
                 FROM a JOIN c
                   ON a.vec_id <> c.vec_id AND a.label <> c.label
             )
        SELECT anchor_id, neighbor_id,
               CAST(round(sim * 10000) AS BIGINT) AS sim_q4,
               CAST(rank AS INT) AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
                                           ORDER BY sim DESC, neighbor_id) AS rank
              FROM sims)
        WHERE rank <= {TOP_K}
    """,
    tags=("similarity", "contrastive", "training-data"),
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR / SimCSE
    data-prep step, public): for each anchor vector, the TOP_K most
    similar vectors whose LABEL DIFFERS — the negatives that sit
    closest to the decision boundary and therefore carry the gradient
    signal in-batch random negatives lack.

    Scale shape (the cosine_topk pattern, label-aware): anchors
    broadcast with their labels, the corpus streams through ONCE, and
    the label-mismatch predicate lives in the join condition so
    same-label rows are dropped before any scoring or shuffle; the
    per-anchor top-k is the only exchange.  At 100 TB with a large
    anchor set, swap the broadcast for the IVF-PQ index route
    (``ivfpq_serve``) and post-filter probed candidates by label —
    same contract, sub-linear scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        "vec_id", as_double(F.col("embedding")).alias("emb"), "label"
    )
    anchors = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("emb").alias("a_emb"),
        F.col("label").alias("a_label"),
    )
    sims = corpus.join(
        F.broadcast(anchors),
        (F.col("vec_id") != F.col("anchor_id"))
        & (F.col("label") != F.col("a_label")),
    ).select(
        "anchor_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine(F.col("a_emb"), F.col("emb")).alias("sim"),
    )
    w = W.partitionBy("anchor_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        # emit the similarity on the q4 INTEGER lattice (VERDICT r9
        # item 3): round(double, 4) emits a decimal-lattice double and
        # that whole class half-tie-breaks per engine (finding 13);
        # round(sim*10000) as BIGINT is tie-free — ordering still uses
        # the raw double, bit-identical cross-engine
        .select(
            "anchor_id",
            "neighbor_id",
            F.round(F.col("sim") * 10000).cast("long").alias("sim_q4"),
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# OPQ — Optimized Product Quantization (Ge, He, Ke, Sun, CVPR 2013).
# Learn an ORTHOGONAL rotation R that re-mixes dimensions before the
# PQ subspace split so each subspace carries balanced variance, then
# quantize the rotated vectors.  Training alternates two exact steps
# on a bounded sample (the faiss OPQMatrix recipe, public):
#   (a) fixed R: train PQ codebooks on X·R (seeded Lloyd's per
#       subspace) and encode — reconstruction X̂ in rotated space;
#   (b) fixed codes: orthogonal Procrustes — R ← U·Vᵀ from the SVD of
#       Xᵀ·X̂ minimizes ‖X·R − X̂‖_F over orthogonal matrices exactly.
# Reference parity anchor: the reference stores raw pgvector
# embeddings (ollama_consumer.py:234) — rotation-optimized codes are
# engine-side capability beyond it, same class as the PQ/IVF-PQ path.
# ---------------------------------------------------------------------------

#: alternations of (re-fit codebooks, Procrustes re-rotate).  Iteration
#: 0 runs with R = I and IS plain PQ, so best-so-far tracking makes
#: the trained OPQ sample-SSE <= plain PQ sample-SSE BY CONSTRUCTION
#: (a later iteration only replaces the incumbent when strictly
#: better); Lloyd's-from-scratch per iteration does not guarantee
#: monotone descent, so the guarantee lives in the tracking, not in
#: hope.  5 alternations is the knee on every fixture draw measured.
OPQ_ITERS = 5

#: corpus-SSE slack for the distributed audit boolean.  At every test
#: SF the training sample (PQ_FIT_SAMPLE = 50k) CONTAINS the whole
#: embeddings table, so corpus SSE == sample SSE and the OPQ <= plain
#: inequality is exact; at real scale (sample < corpus) the encode
#: generalizes statistically and 5% slack is the honest bound — a
#: broken rotation (non-orthogonal R, mis-sliced subspace) blows SSE
#: up by orders of magnitude, which this still trips loudly.
OPQ_CORPUS_SSE_SLACK = 1.05


def _opq_fit(X: "np.ndarray") -> tuple:
    """Alternating OPQ fit on a driver-resident sample.  Returns
    ``(R, opq_books, plain_books, plain_sse, opq_sse)`` where the
    plain pair is iteration 0 (R = I, i.e. ordinary PQ with this
    module's seeded codebook fit) and the OPQ pair is the best
    (R, books) over OPQ_ITERS alternations; ``opq_sse <= plain_sse``
    always (best-so-far includes iteration 0).  SSE is measured in
    rotated space, which equals original-space SSE because R is
    orthogonal: ‖X·R − X̂‖² = ‖X − X̂·Rᵀ‖²."""
    d = X.shape[1]
    sub = d // PQ_M

    def reconstruct(Xr, books):
        # copy, not empty_like: if d were ever not divisible by PQ_M,
        # the tail columns beyond PQ_M*sub must reconstruct as identity
        # (zero residual), not uninitialized memory feeding the SSE and
        # the Procrustes SVD (ADVICE r10)
        recon = Xr.copy()
        for m, C in enumerate(books):
            recon[:, m * sub : (m + 1) * sub] = C[_np_nearest(Xr[:, m * sub : (m + 1) * sub], C)]
        return recon

    R = np.eye(d)
    best = None
    plain_books = None
    plain_sse = None
    for it in range(OPQ_ITERS):
        Xr = X @ R
        books = _pq_books(Xr)
        recon = reconstruct(Xr, books)
        sse = float(((Xr - recon) ** 2).sum())
        if it == 0:
            plain_books, plain_sse = books, sse
        if best is None or sse < best[2]:
            best = (R.copy(), books, sse)
        # orthogonal Procrustes: argmin_R ||X R - recon||_F = U Vt
        # from SVD(X^T recon) — exact, no step size, no line search
        U, _s, Vt = np.linalg.svd(X.T @ recon)
        R = U @ Vt
    R_best, books_best, opq_sse = best
    return R_best, books_best, plain_books, plain_sse, opq_sse


@register(
    "opq_rotation_contract",
    oracle=f"""
        SELECT count(*) AS n_vectors,
               CAST({PQ_M} AS INT) AS n_subspaces,
               TRUE AS rotation_orthogonal_ok,
               TRUE AS opq_train_sse_le_plain,
               TRUE AS opq_corpus_sse_ok
        FROM embeddings
    """,
    tags=("similarity", "pq", "opq", "contract"),
)
def opq_rotation_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable OPQ contract (VERDICT r9 item 4's named
    candidate): DuckDB recomputes the corpus count; Spark asserts

    - ``rotation_orthogonal_ok``: ‖RᵀR − I‖_max < 1e-8 (Procrustes
      returns U·Vᵀ, orthogonal by construction — a regression here
      means the SVD update got mangled);
    - ``opq_train_sse_le_plain``: trained OPQ sample-SSE <= plain PQ
      sample-SSE, EXACT by best-so-far tracking (iteration 0 is plain
      PQ), draw-independent — no floor calibration needed;
    - ``opq_corpus_sse_ok``: the DISTRIBUTED corpus audit — every
      vector rotated once (``_rotate_embeddings``), then both encoders
      applied in one JVM projection each (``_nearest``, whose per-book
      minimum distances sum to the squared reconstruction error; zero
      joins, one 1-row aggregate), OPQ SSE within OPQ_CORPUS_SSE_SLACK
      of plain (exact <= at test SFs where the training sample
      contains the corpus; see the constant).

    100 TB shape: fit is flat-cost on the bounded PQ_FIT_SAMPLE
    (sample-train is the published OPQ practice — faiss OPQMatrix),
    the rotation is a d×d broadcast into the rotation UDF (32 KB at
    dim 64), and encode/audit stream the corpus once with map-side
    partial aggregation; nothing scales with corpus size but the
    linear scan itself."""
    corpus = _corpus(spark, sf_dir)
    if corpus.isEmpty():
        return local_df(spark, 
            [(0, PQ_M, True, True, True)],
            "n_vectors long, n_subspaces int, rotation_orthogonal_ok boolean,"
            " opq_train_sse_le_plain boolean, opq_corpus_sse_ok boolean",
        )
    X = _fit_sample(corpus)
    R, opq_books, plain_books, plain_sse, opq_sse = _opq_fit(X)
    d = X.shape[1]
    orthogonal = bool(np.abs(R.T @ R - np.eye(d)).max() < 1e-8)
    rotated = corpus.select("emb", _rotate_embeddings(R)(F.col("emb")).alias("emb_r"))
    coded = _nearest(_nearest(rotated, plain_books, code="plain"), opq_books, "emb_r", "opq")

    def sse(code: str) -> Column:
        return F.sum(F.aggregate(f"{code}_d2", F.lit(0.0), lambda a, v: a + v))

    return (
        coded.agg(
            F.count("*").alias("n"), sse("plain").alias("sse_plain"), sse("opq").alias("sse_opq")
        )
        .select(
            F.col("n").alias("n_vectors"),
            F.lit(PQ_M).alias("n_subspaces"),
            F.lit(orthogonal).alias("rotation_orthogonal_ok"),
            F.lit(bool(opq_sse <= plain_sse)).alias("opq_train_sse_le_plain"),
            (F.col("sse_opq") <= F.col("sse_plain") * OPQ_CORPUS_SSE_SLACK).alias(
                "opq_corpus_sse_ok"
            ),
        )
    )


def _rotate_embeddings(R: "np.ndarray"):
    """Arrow UDF: embedding -> embedding · R (one GEMM per batch; R is
    a d×d closure broadcast — 32 KB at dim 64).  The OPQ pre-transform
    applied corpus-wide, the faiss ``OPQMatrix`` chain position.  It
    stays numpy, like ``_srp_band_keys``: d dot products of d terms per
    vector is 8x the PQ encode's work, and a JVM ``transform`` form,
    bit-identical, took 0.92-1.10 s against this UDF's 0.20-0.28 s
    (sf0.1, 2,000 vectors, warm, 4 vCPUs)."""

    @F.pandas_udf("array<double>")
    def rot(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        X = np.stack(emb.to_numpy())
        return pd.Series(list(X @ R))

    return rot


#: Benign boundary band for rotation-preservation checks: an orthogonal
#: rotation preserves inner products only up to float round-off
#: (~1e-15/term, d=64 → well under 1e-12 per cosine), so a rank-K/K+1
#: pair whose margin falls below round-off may legitimately swap sides.
#: 1e-9 is three orders above worst-case noise yet six below any real
#: fixture margin (~1e-3); a mangled rotation perturbs sims at O(1) and
#: still fires the detector (pytest-proven on a rank-deficient fake).
ROTATION_TIE_EPS = 1e-9


def _rotation_mismatches(exact: DataFrame, exact_rot: DataFrame) -> DataFrame:
    """Symmetric difference of two exact top-k sets, excluding pairs
    within ROTATION_TIE_EPS of the per-query rank-K sim (draw-dependent
    degenerate margins must not flip the contract — ADVICE r10).  Side
    markers, NOT null key columns: a USING-style full outer join
    coalesces the join keys, so key-null filtering would never fire."""
    kth = exact.groupBy("query_id").agg(F.min("sim").alias("kth_sim"))
    return (
        exact.select("query_id", "neighbor_id", F.col("sim").alias("sim_orig"))
        .withColumn("in_orig", F.lit(1))
        .join(
            exact_rot.select(
                "query_id", "neighbor_id", F.col("sim").alias("sim_rot")
            ).withColumn("in_rot", F.lit(1)),
            ["query_id", "neighbor_id"],
            "full_outer",
        )
        .filter(F.col("in_orig").isNull() | F.col("in_rot").isNull())
        .join(kth, "query_id")
        .filter(
            F.abs(F.coalesce("sim_orig", "sim_rot") - F.col("kth_sim"))
            > ROTATION_TIE_EPS
        )
    )


@register(
    "opq_ivfpq_serve_contract",
    oracle=_graded_oracle("rotation_preserves_exact_topk", "recall_ok"),
    tags=("similarity", "ivf", "pq", "opq", "contract"),
)
def opq_ivfpq_serve_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ composed with IVF-PQ serving — the faiss ``OPQ<M>,IVF<K>,
    PQ<M>`` index-factory chain (public): learn the Procrustes rotation
    on the bounded sample, rotate the corpus (one Arrow GEMM pass),
    build the residual IVF-PQ index IN ROTATED SPACE, and serve the
    rotated queries against it.  DuckDB recomputes the exact top-k
    facts in ORIGINAL space; Spark asserts

    - ``rotation_preserves_exact_topk``: the exact top-k SETS in
      rotated space equal the original-space sets per query — the
      orthogonality guarantee AT THE SERVING LAYER (R preserves every
      inner product up to last-ulp float noise; the fixture's top-k
      margins are ~1e-3, nine orders above it).  A mangled rotation
      (non-orthogonal, wrong transpose) fails this exactly.
    - ``recall_ok``: the OPQ-IVFPQ chain's served hits clear the same
      IVFPQ_RECALL_MIN_PCT floor as the unrotated index — rotation
      re-mixes the draw but the cell-hit binomial is distributionally
      identical (the multi-seed survey behind the floor applies
      verbatim).

    100 TB shape: identical to ``ivfpq_index_topk`` plus one flat
    rotate pass at build and a d×d GEMM per query batch at serve; the
    rotation changes NO cost term (same pruned probe reads, same ADC,
    same bounded re-rank).  The exact passes here are contract
    apparatus, not the serving path."""
    corpus = pin(_corpus(spark, sf_dir))
    if not _query_rows(corpus):
        # no query ids (an empty corpus included): both exact top-k sets
        # are empty and nothing is served, so both claims hold vacuously
        return _graded_row(
            spark, _NO_EXACT, rotation_preserves_exact_topk=True, recall_ok=True
        )
    R = _opq_fit(_fit_sample(corpus))[0]
    rotated = pin(corpus.select("vec_id", _rotate_embeddings(R)(F.col("emb")).alias("emb")))
    exact, served = run_parallel(
        lambda: _exact_side(corpus),
        lambda: _build_serve(spark, rotated, _index_path("ivfpq_opq"), "ivfpq"),
    )
    # set equality per query == symmetric difference is empty (both
    # sides are exactly N_QUERIES * TOP_K rows by construction), with
    # sub-round-off boundary pairs excluded (see _rotation_mismatches).
    # Both sides of the tie band are at RAW precision: a rounded kth sim
    # would sit up to 5e-5 from a raw boundary sim and never inside
    # ROTATION_TIE_EPS.
    n_mismatch, hits = run_parallel(
        lambda: _rotation_mismatches(exact.topk, _exact_topk(rotated, raw=True)).count(),
        lambda: _hits(served, exact),
    )
    return _graded_row(
        spark,
        exact,
        rotation_preserves_exact_topk=n_mismatch == 0,
        recall_ok=_floor_ok(hits, exact.n_exact_rows, IVFPQ_RECALL_MIN_PCT),
    )


# ---------------------------------------------------------------------------
# 11. SQ8 scalar quantization serving — the faiss "SQ8" codec (public:
#     faiss ScalarQuantizer QT_8bit; per-dim affine min/max codec),
#     completing the quantizer family beside Flat / SRP-LSH / IVF / PQ /
#     residual IVF-PQ / OPQ.  Unlike PQ (codebook kmeans on subspaces),
#     SQ8 is training-trivial — a per-DIMENSION (min, max) pair — which
#     makes it the quantizer of choice when refit cadence matters more
#     than compression ratio (4x vs PQ's 32x here).
# ---------------------------------------------------------------------------

SQ_LEVELS = 255  # 8-bit affine codes 0..255
SQ_RERANK = 64  # exact re-rank depth per query (same refine shape as PQ)

#: aggregate-recall floor for the SQ8+refine chain.  With 8 bits/dim
#: the per-cosine quantization error is O(range/255) ~ 1e-3 while the
#: rank-SQ_RERANK→rank-TOP_K margin on the fixture family is ~5e-2, so
#: the refine step recovers the exact top-k on every surveyed draw
#: (100% at seeds 42/777/1234/555/31337 and the virgin gate seed); 90
#: sits far under the surveyed band while a real codec regression
#: (wrong scale, transposed dims) reads ~0-20%.
SQ8_RECALL_MIN_PCT = 90


def sq8_train(corpus: DataFrame) -> tuple["np.ndarray", "np.ndarray"]:
    """Per-dimension (min, max) over the corpus — ONE posexplode
    aggregation whose output is d rows regardless of corpus size (the
    map-side partial combine reduces each task to d rows before the
    shuffle), then a d-row collect.  Deterministic: min/max need no
    sample and no seed."""
    stats = (
        corpus.select(F.posexplode("emb").alias("dim", "x"))
        .groupBy("dim")
        .agg(F.min("x").alias("vmin"), F.max("x").alias("vmax"))
        .collect()
    )
    vmin = np.array([r.vmin for r in sorted(stats, key=lambda r: r.dim)])
    vmax = np.array([r.vmax for r in sorted(stats, key=lambda r: r.dim)])
    return vmin, vmax


def _sq8_lit(arr: "np.ndarray") -> Column:
    return F.array(*[F.lit(float(v)) for v in arr])


def _arr_sql(arr) -> str:
    """A double array literal of any rank as SQL text: ``from_json`` of
    its JSON, which the optimizer folds into one typed literal.  JSON
    writes each double as its ``repr``, which round-trips exactly, and
    Spark's JSON reader is correctly rounded, so the literal holds the
    same bits as ``arr``.  One string token to parse costs 0.04-0.05 s
    of driver time for a 1,024-double PQ codebook, where nested
    ``array(...)`` text, one node per element, cost 0.14-0.23 s.  A
    non-finite element raises ``_check_finite``'s ValueError."""
    arr = np.asarray(arr, dtype=float)
    _check_finite("SQL array literal", "element", arr)
    typ = "array<" * arr.ndim + "double" + ">" * arr.ndim
    return f"from_json('{json.dumps(arr.tolist())}', '{typ}')"


def _sq8_encode_sql(vmin: "np.ndarray", vmax: "np.ndarray", col: str = "emb") -> str:
    """SQL twin of :func:`_sq8_encode` — same affine round-to-nearest
    expression on the same literal doubles, one parse instead of ~130
    per-element F.lit calls.  Bit-identity with the Column form is
    pinned by test_sq8_sql_twins_match_column_forms."""
    lo, rng = _arr_sql(vmin), _arr_sql(vmax - vmin)
    return (
        f"transform({col}, (x, i) -> CASE WHEN element_at({rng}, i + 1) > 0.0D"
        f" THEN CAST(round((x - element_at({lo}, i + 1))"
        f" * {SQ_LEVELS} / element_at({rng}, i + 1)) AS INT)"
        f" ELSE 0 END)"
    )


def _sq8_encode(
    vmin: "np.ndarray", vmax: "np.ndarray", col: Column | None = None
) -> Column:
    """codes[i] = round(SQ_LEVELS * (x[i]-vmin[i]) / (vmax[i]-vmin[i])),
    constant dims encode as 0 — row-local whole-stage-codegen array
    math (transform with index), no UDF."""
    lo, rng = _sq8_lit(vmin), _sq8_lit(vmax - vmin)
    return F.transform(
        F.col("emb") if col is None else col,
        lambda x, i: F.when(
            F.element_at(rng, i + 1) > 0.0,
            F.round(
                (x - F.element_at(lo, i + 1))
                * SQ_LEVELS
                / F.element_at(rng, i + 1)
            ).cast("int"),
        ).otherwise(F.lit(0)),
    )


def _sq8_const_row(
    spark: SparkSession,
    vmin: "np.ndarray",
    vmax: "np.ndarray",
    centers: "np.ndarray | None" = None,
) -> DataFrame:
    """The SQ8 quantizer constants as ONE broadcastable row — data, not
    plan literals (the ADC-router move, F11/r13): at dim 64 the literal
    arrays made a serve plan cost more to analyze/codegen than to
    execute (measured 1.14 → 0.83 s per ivf-sq8 serve pass, identical
    rows).  Columns: ``_lo``, ``_rng`` (+ ``_cent`` when the centroid
    matrix is needed).  Same doubles as the literal form, so every
    downstream value is bit-identical; the literal helpers remain for
    the one-pass build/encode paths where plan cost is paid once."""
    row: tuple = (
        [float(x) for x in vmin],
        [float(x) for x in (vmax - vmin)],
    )
    schema = "_lo array<double>, _rng array<double>"
    if centers is not None:
        row = row + (
            [[float(x) for x in centers[c]] for c in range(centers.shape[0])],
        )
        schema += ", _cent array<array<double>>"
    return local_df(spark, [row], schema)


def _sq8_dequant_col(col: Column | None = None) -> Column:
    """The SQ8 affine dequant (the inverse of ``_sq8_encode``) against
    the ``_sq8_const_row`` columns instead of plan literals — identical
    arithmetic on identical doubles."""
    return F.transform(
        F.col("codes") if col is None else col,
        lambda c, i: F.element_at(F.col("_lo"), i + 1)
        + c.cast("double") * F.element_at(F.col("_rng"), i + 1) / SQ_LEVELS,
    )


def _sq8_dequant_sql(col: str = "codes") -> str:
    """SQL twin of :func:`_sq8_dequant_col` — same affine expression
    (lo[i] + c·rng[i]/SQ_LEVELS, identical association), one parse
    instead of a transform-with-index Column build (guide §7.3)."""
    return (
        f"transform({col}, (c, i) -> element_at(_lo, i + 1)"
        f" + CAST(c AS DOUBLE) * element_at(_rng, i + 1) / {SQ_LEVELS})"
    )


# ---------------------------------------------------------------------------
# The IVF × codec index stack — the faiss ``index_factory`` composition
# ("IVF8,Flat", "IVF8,PQ8x4", "SQ8", "IVF8,SQ8"; Jegou et al., TPAMI
# 2011): an optional IVF coarse quantizer in front of a codec (none, PQ
# or affine SQ8, the last two residual under IVF).  ONE build, ONE meta
# format, ONE serve and ONE build → reload → serve round-trip body; the
# per-kind entry points (``ivfpq_*``, ``sq8_*``, ``ivfsq8_*``) are thin
# calls into it.
# ---------------------------------------------------------------------------


class _Kind(NamedTuple):
    ivf: bool  # IVF coarse quantizer in front of the codec
    codec: str  # "flat" (exact within the probed cells), "pq" or "sq8"
    depth: int  # approximate candidates per query before the exact refine


_KINDS = {
    "ivf": _Kind(True, "flat", 0),
    "ivfpq": _Kind(True, "pq", PQ_RERANK),
    "sq8": _Kind(False, "sq8", SQ_RERANK),
    "ivfsq8": _Kind(True, "sq8", PQ_RERANK),
}


def _check_finite(
    what: str, name: str, arr, why: str = "a NaN/Inf constant poisons every row it meets"
) -> None:
    """Doubles rendered as SQL literals (``_arr_sql``) must be finite: a
    NaN or Inf bound or centre turns every distance and code computed
    against it to NaN or to a wrong code, with no error.  Fail HERE with
    a ValueError naming ``what`` and the first bad element.  The builds
    call it up front on their SQ8 constants so the error names the index
    kind and the bound; driver-side fits call it on their sample with
    their own ``why``."""
    arr = np.asarray(arr, dtype=float)
    bad = np.argwhere(~np.isfinite(arr))
    if len(bad):
        at = tuple(int(i) for i in bad[0])
        raise ValueError(
            f"{what}: non-finite {name}{''.join(f'[{i}]' for i in at)}"
            f" = {arr[at]!r} ({why})"
        )


def _build_index(spark: SparkSession, corpus: DataFrame, path: str, kind: str) -> dict:
    """Build one index kind from a (vec_id, emb) corpus: optional IVF
    fit → codec training CONCURRENT with the flat-companion write (the
    refine store never consumes the codec; guide §2.6) → the codes
    write CONCURRENT with the meta write.  Three sibling artifacts, the
    faiss layout: ``path`` (vec_id, codes) — the compressed scan set —,
    ``path + "_flat"`` (vec_id, emb) read only for the refine candidates,
    and ``path + "_meta"`` (``_write_meta``); under IVF the first two are
    partitioned by ``centroid`` so a probe reads nprobe/IVF_K of them.
    IVF-Flat has no codec: its ``_flat`` store, written concurrently
    with the meta, is the whole index.  Returns the driver-resident
    serving state: ``center`` (IVF) plus ``book`` (PQ codebooks) or
    ``sq`` (the SQ8 vmin/vmax rows)."""
    k = _KINDS[kind]
    state: dict = {}
    frame, part = corpus, []
    if k.ivf:
        assigned, state["center"] = _ivf_fit(corpus)
        frame = pin(assigned)
        frame.count()  # materialize once before the consumers fork
        part = ["centroid"]

    def flat() -> None:
        _write_store(frame.select("vec_id", "emb", *part), path + "_flat", part)

    if k.codec == "flat":
        run_parallel(flat, lambda: _write_meta(spark, path, state))
        return state
    cells, src = frame, "emb"
    if k.ivf:
        cells, src = _residual(frame, state["center"], f"{kind} index"), "res"

    def train() -> dict:
        if k.codec == "pq":
            return {"book": _pq_codebooks(cells, src)}
        vmin, vmax = sq8_train(cells.select(F.col(src).alias("emb")))
        _check_finite(f"{kind} index", "vmin", vmin)
        _check_finite(f"{kind} index", "vmax", vmax)
        return {"sq": np.stack([vmin, vmax])}

    codec, _ = run_parallel(train, flat)
    state.update(codec)
    run_parallel(
        lambda: _write_codes(cells, path, kind, state), lambda: _write_meta(spark, path, state)
    )
    return state


def _residual(cells: DataFrame, centers: "np.ndarray", what: str) -> DataFrame:
    """``cells`` (with ``emb`` and ``centroid``) plus ``res`` = emb −
    centers[centroid], what a codec under IVF quantizes (faiss
    ``by_residual``).  The centroid matrix is inlined as one typed
    literal (``_arr_sql``), so a non-finite center is a ValueError
    naming ``what``."""
    _check_finite(what, "centroid", centers)
    return cells.withColumn("res", F.expr(
        f"zip_with(emb, element_at({_arr_sql(centers)}, centroid + 1), (x, c) -> x - c)"
    ))


def _write_store(df: DataFrame, path: str, part: list, mode: str = "overwrite") -> None:
    """Write one index store as parquet, partitioned by ``part`` (the
    ``centroid`` of an IVF kind, or nothing)."""
    w = df.write.mode(mode)
    (w.partitionBy(*part) if part else w).parquet(path)


def _write_codes(
    frame: DataFrame, path: str, kind: str, state: dict, mode: str = "overwrite"
) -> None:
    """Encode ``frame`` (``vec_id``, ``emb``; under IVF also ``centroid``
    and its ``res``) with ``kind``'s trained codec in ``state`` and write
    the (vec_id, codes) store at ``path`` — the build's codes write and
    ``ivfpq_index_append``'s delta write.  Both codecs are one JVM
    projection: PQ codes are ``_nearest`` over the codebooks, SQ8 codes
    the affine ``_sq8_encode_sql``."""
    k = _KINDS[kind]
    part, src = (["centroid"], "res") if k.ivf else ([], "emb")
    if k.codec == "pq":
        coded = _nearest(frame, state["book"], src, what=f"{kind} encode")
    else:
        coded = frame.withColumn("codes", F.expr(_sq8_encode_sql(*state["sq"], src)))
    _write_store(coded.select("vec_id", *part, "codes"), path, part, mode)


def _write_meta(spark: SparkSession, path: str, state: dict) -> None:
    """THE meta format of every kind: the KB-sized serving state as
    (kind, m, k, vec) rows beside the index — row m of a matrix as
    (name, m, -1, row), entry [m][k] of a stack of matrices (the PQ
    codebooks) as (name, m, k, vec).  Doubles roundtrip parquet
    bit-exactly, so a reloaded server computes the SAME scores
    (certified by ``_serve_roundtrip``)."""
    rows = []
    for name, arr in state.items():
        arr = np.asarray(arr, dtype=float)
        for m, a in enumerate(arr):
            if arr.ndim == 2:
                rows.append((name, m, -1, [float(x) for x in a]))
            else:
                rows += [(name, m, k, [float(x) for x in v]) for k, v in enumerate(a)]
    local_df(spark, rows, "kind string, m int, k int, vec array<double>").write.mode(
        "overwrite"
    ).parquet(path + "_meta")


def _read_meta(spark: SparkSession, path: str) -> dict:
    """Reload ``_write_meta``'s state — the cold-start path of a serving
    tier: no corpus scan, no KMeans, just the KB-sized meta parquet."""
    by_name: dict[str, list] = {}
    for r in spark.read.parquet(path + "_meta").collect():
        by_name.setdefault(r.kind, []).append((r.m, r.k, r.vec))
    state = {}
    for name, rows in by_name.items():
        rows.sort(key=lambda t: t[:2])
        arr = np.asarray([v for _, _, v in rows], dtype=float)
        if rows[0][1] >= 0:  # a stack of matrices
            arr = arr.reshape(rows[-1][0] + 1, -1, arr.shape[1])
        state[name] = arr
    return state


def _sq8_adc(
    coded: DataFrame,
    q_emb: DataFrame,
    vmin: "np.ndarray",
    vmax: "np.ndarray",
    centers: "np.ndarray | None" = None,
) -> DataFrame:
    """SQ8 asymmetric score of a (neighbor_id, [centroid,] codes) frame:
    float queries (broadcast) against the affine dequant of the codes —
    plus the cell centroid when ``centers`` (IVF-SQ8 residual codes) —
    as (query_id, neighbor_id, [centroid,] adc_sim).  The quantizer
    (and centroid) constants ride as one broadcast row
    (``_sq8_const_row``) and the projections are parsed strings."""
    carry = ["centroid"] if centers is not None else []
    emb_hat = _sq8_dequant_sql()
    if centers is not None:
        emb_hat = f"zip_with({emb_hat}, element_at(_cent, centroid + 1), (r, c) -> r + c)"
    const = _sq8_const_row(coded.sparkSession, vmin, vmax, centers)
    return (
        coded.crossJoin(F.broadcast(const))
        .selectExpr("neighbor_id", *carry, f"{emb_hat} AS emb_hat")
        .join(F.broadcast(q_emb), F.col("neighbor_id") != F.col("query_id"))
        .selectExpr(
            "query_id", "neighbor_id", *carry,
            f"{_cosine_sql('emb_q', 'emb_hat')} AS adc_sim",
        )
    )


def _serve(
    spark: SparkSession,
    path: "str | DataFrame",
    kind: str,
    state: dict,
    qrows: list,
    nprobe: int = NPROBE,
) -> DataFrame:
    """Serve one query batch (``qrows``: (id, embedding) pairs arriving
    with the request) from a built index: under IVF, probe each query's
    ``nprobe`` nearest cells (``_probe_cells``) and read the stores
    partition-pruned.  IVF-Flat then ranks each query exactly against
    the flat rows of ITS probed cells (a broadcast of the |Q|·nprobe
    (query, cell) pairs).  A codec scores the codes approximately (ADC
    lookups or SQ8 dequant) → under IVF, keeps each query's rows from
    ITS probed cells → cuts per query to the kind's depth → re-ranks
    exactly against the flat store, fetched for the candidates only
    (the faiss ``...,Refine`` shape).  NOTHING here scans the corpus
    beyond the probed cells, so serve cost scales with the probed
    fraction, not the table.  IVF-Flat also serves an in-memory fitted
    (vec_id, emb, centroid) frame passed as ``path``: the same serve,
    with no artifact.  An empty batch is an empty top-k."""
    if not qrows:
        return local_df(spark, [], _TOPK_SCHEMA)
    k = _KINDS[kind]
    Q = np.stack([np.asarray(r[1], dtype=float) for r in qrows])
    qids = [int(r[0]) for r in qrows]
    embs = [[float(x) for x in r[1]] for r in qrows]
    centers = state.get("center")
    flat = spark.read.parquet(path + "_flat") if isinstance(path, str) else path
    part = []
    if k.ivf:
        probes = _probe_cells(centers, Q, qids, nprobe)
        cells = sorted({c for cs in probes.values() for c in cs})
        flat = flat.filter(F.col("centroid").isin(cells))
        part = ["centroid"]
    if k.codec == "flat":
        probe = local_df(
            spark,
            [(q, c, e) for q, e in zip(qids, embs) for c in probes[q]],
            "query_id long, centroid int, emb_q array<double>",
        )
        cand = flat.join(F.broadcast(probe), "centroid").filter(
            F.col("vec_id") != F.col("query_id")
        )
        return _exact_rerank_topk(
            cand.selectExpr("query_id", "vec_id AS neighbor_id", "emb_q", "emb AS emb_n")
        )
    q_emb = local_df(spark, list(zip(qids, embs)), "query_id long, emb_q array<double>")
    codes = spark.read.parquet(path)
    if k.ivf:
        codes = codes.filter(F.col("centroid").isin(cells))
    coded = codes.select(F.col("vec_id").alias("neighbor_id"), *part, "codes")
    if k.codec == "pq":
        qnorm = np.sqrt((Q * Q).sum(1))
        scored = _adc_explode(coded, state["book"], Q, qids, qnorm, centers)
    else:
        scored = _sq8_adc(coded, q_emb, *state["sq"], centers)
    if k.ivf:
        # per-query allowed-cell map as one parsed literal string —
        # integer membership logic, so only plan-construction cost changes
        allow_s = "map(" + ", ".join(
            f"{q}, array({', '.join(str(c) for c in probes[q])})" for q in qids
        ) + ")"
        scored = scored.filter(f"array_contains(element_at({allow_s}, query_id), centroid)")
    cand = _adc_candidate_cut(scored, k.depth).select("query_id", "neighbor_id")
    # every candidate came from a probed cell, so its raw vector lives
    # in a probed partition of the flat companion by construction
    flat = flat.select(F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("emb_n"))
    return _exact_rerank_topk(
        flat.join(F.broadcast(cand), "neighbor_id")  # candidates: Q×depth rows
        .join(F.broadcast(q_emb), "query_id")
    )


def _build_serve(
    spark: SparkSession, corpus: DataFrame, path: str, kind: str, n_queries: int = N_QUERIES
) -> DataFrame:
    """Build ``kind`` over ``corpus`` at ``path`` and serve its first
    ``n_queries`` query ids from the artifact — the end-to-end form of
    ``ivfpq_index_topk``, ``ivf_partition_pruning`` and the contracts
    that grade a freshly built index.  No query ids (an empty corpus
    included) is an empty top-k, with nothing built."""
    corpus = pin(corpus)
    qrows = _query_rows(corpus, n_queries)
    if not qrows:
        return local_df(spark, [], _TOPK_SCHEMA)
    return _serve(spark, path, kind, _build_index(spark, corpus, path, kind), qrows)


def _serve_roundtrip(
    spark: SparkSession,
    kind: str,
    corpus: DataFrame,
    path: str,
    qrows: list,
    beside_build=None,
    beside_serve=None,
    beside_diff: tuple = (),
) -> tuple:
    """The serving lifecycle every ``*_serve_contract`` certifies: build
    the artifact at a fresh ``path``, COLD-START a second server from
    the meta parquet alone (``_read_meta``), serve the batch from both,
    and anti-join the two (query_id, neighbor_id, sim, rank) row sets
    both ways — doubles roundtrip parquet bit-exactly, so any difference
    means the serving state is not self-contained.  The contract's own checks
    ride along in the same driver actions: ``beside_build()`` overlaps
    the build, ``beside_serve(built_state, loaded_state)`` the two
    serves, ``beside_diff[i](loaded_frame, built_state[, beside_build
    result])`` the anti-joins.  Returns
    (roundtrip_ok, n_loaded_rows, [beside_build], [beside_serve],
    [beside_diff...])."""
    state, *pre = run_parallel(
        lambda: _build_index(spark, corpus, path, kind),
        *([beside_build] if beside_build else []),
    )
    loaded_state = _read_meta(spark, path)

    # pin both serve outputs: each feeds several counts, and without
    # the barrier every count re-ran the whole serve pipeline.
    # CONSTRUCTION lives inside the legs: building a serve frame is
    # ~0.5 s of driver-side py4j/analysis that overlaps the other legs'
    # cluster work when run from the pool threads (guide §2.6)
    def leg(st: dict):
        def run() -> tuple[DataFrame, int]:
            df = pin(_serve(spark, path, kind, st, qrows))
            return df, df.count()

        return run

    (built, _), (loaded, n_loaded), *side = run_parallel(
        leg(state),
        leg(loaded_state),
        *([lambda: beside_serve(state, loaded_state)] if beside_serve else []),
    )
    cols = built.columns
    only_built, only_loaded, *diff = run_parallel(
        lambda: built.join(loaded, cols, "left_anti").count(),
        lambda: loaded.join(built, cols, "left_anti").count(),
        *[(lambda f=f: f(loaded, state, *pre)) for f in beside_diff],
    )
    return only_built == 0 and only_loaded == 0, n_loaded, pre, side, diff


def sq8_build_index(
    spark: SparkSession, corpus: DataFrame, path: str
) -> tuple["np.ndarray", "np.ndarray"]:
    """SQ8 build (``_build_index``): train (one d-row agg) → encode the
    corpus row-locally into (vec_id, codes) plus the flat refine
    companion and the d-wide quantizer meta.  At 100 TB the codes file
    is the 4x-smaller scan set; the flat file is touched only for
    SQ_RERANK candidates per query."""
    vmin, vmax = _build_index(spark, corpus, path, "sq8")["sq"]
    return vmin, vmax


def sq8_load_meta(spark: SparkSession, path: str) -> tuple["np.ndarray", "np.ndarray"]:
    vmin, vmax = _read_meta(spark, path)["sq"]
    return vmin, vmax


def sq8_serve(
    spark: SparkSession,
    path: str,
    vmin: "np.ndarray",
    vmax: "np.ndarray",
    qrows: list,
) -> DataFrame:
    """Asymmetric SQ8 serve (``_serve``): float queries against the
    dequantized codes (one compressed-scan pass), cut to SQ_RERANK
    candidates per query, exact re-rank — the faiss ``SQ8,Refine``
    shape."""
    return _serve(spark, path, "sq8", {"sq": np.stack([vmin, vmax])}, qrows)


def _sq8_recon_ok(
    codes: DataFrame, corpus: DataFrame, vmin: "np.ndarray", vmax: "np.ndarray"
) -> bool:
    """Round-to-nearest reconstruction bound, checked corpus-wide in
    ONE codegen'd pass: per dim, |x − dequant(code)| ≤ step/2 with
    step = range/SQ_LEVELS (+1 ulp headroom).  Exact by construction
    for a correct codec trained on this corpus; a truncating or
    mis-scaled codec fails it (pytest-proven to fire)."""
    # constants as one broadcast row (see _sq8_const_row); step_i =
    # rng_i / SQ_LEVELS computed element-wise — the same IEEE division
    # the literal form baked in, so the bound is bit-identical
    const = _sq8_const_row(codes.sparkSession, vmin, vmax)
    # whole fold as one parsed string (guide §7.3); float literals are
    # repr-round-tripped so the bound constants are the same doubles
    # the Column form folded in
    slack, eps = (1.0 + 1e-9), 1e-15
    row_ok = (
        f"aggregate("
        f"zip_with("
        f"zip_with(emb, {_sq8_dequant_sql()}, (x, xh) -> abs(x - xh)),"
        f" transform(_rng, r -> r / {SQ_LEVELS}),"
        f" (e, s) -> e <= s / 2.0D * {slack!r}D + {eps!r}D),"
        f" true, (acc, ok) -> acc AND ok)"
    )
    return bool(
        codes.join(corpus, "vec_id")
        .crossJoin(F.broadcast(const))
        .selectExpr(f"{row_ok} AS row_ok")
        .agg(F.min("row_ok").alias("ok"))
        .collect()[0]
        .ok
    )


@register(
    "sq8_serve_contract",
    oracle=_graded_oracle("state_roundtrip_ok", "recon_err_bounded", "recall_ok"),
    tags=("similarity", "sq8", "quantization", "serving", "contract"),
    bench2=True,
)
def sq8_serve_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 codec + serving lifecycle, driver-certified: build the codes
    + flat + quantizer-meta artifact, COLD-START a second server from
    the meta parquet alone, and assert

    - ``state_roundtrip_ok``: the reloaded server's top-k rows are
      IDENTICAL to the builder's (doubles roundtrip parquet
      bit-exactly; any divergence means serving state isn't
      self-contained);
    - ``recon_err_bounded``: max per-dim |x − dequant(encode(x))| over
      the WHOLE corpus ≤ (vmax−vmin)/SQ_LEVELS/2 (+1 ulp headroom) —
      the round-to-nearest guarantee, exact by construction since the
      codec is trained on the same corpus (no clamping is possible),
      so this boolean is draw-INDEPENDENT: it fails only on a real
      codec bug (wrong scale, swapped dims, truncation-vs-round);
    - ``recall_ok``: the served top-k hits ≥ SQ8_RECALL_MIN_PCT of the
      exact top-k (multi-seed surveyed 100%; see floor comment).

    DuckDB recomputes the exact-side facts (query/row counts, the q4
    integer sim sum).  Reference scope: certifies the quantized-serving
    guarantee behind the reference's pgvector column
    (ollama_consumer.py:234) at a 4x-compressed scan footprint.
    100 TB shape: train is one d-row agg, encode is row-local codegen,
    serve scans codes only (broadcast queries) and touches the flat
    store for Q×SQ_RERANK candidate rows."""
    corpus = pin(_corpus(spark, sf_dir))
    qrows = _query_rows(corpus)
    if not qrows:
        return _graded_row(
            spark, _NO_EXACT, state_roundtrip_ok=True, recon_err_bounded=True, recall_ok=True
        )
    path = _index_path("sq8_index")
    # the exact side is build-independent: it runs CONCURRENTLY with the
    # build, and the served hits count beside the roundtrip's anti-joins
    ok, _, (exact,), (recon,), (hits,) = _serve_roundtrip(
        spark, "sq8", corpus, path, qrows,
        beside_build=lambda: _exact_side(corpus),
        beside_serve=lambda built, _: _sq8_recon_ok(
            spark.read.parquet(path), corpus, *built["sq"]
        ),
        beside_diff=(lambda served, _, exact: _hits(served, exact),),
    )
    return _graded_row(
        spark,
        exact,
        state_roundtrip_ok=ok,
        recon_err_bounded=recon,
        recall_ok=_floor_ok(hits, exact.n_exact_rows, SQ8_RECALL_MIN_PCT),
    )


# ---------------------------------------------------------------------------
# 12. Contrastive triplet mining (round 11) — the training-data
#     complement of hard_negative_mining: (anchor, positive, negative)
#     triplets with integer-lattice margins, the input shape for
#     triplet/InfoNCE losses (public: FaceNet Schroff et al. 2015;
#     SBERT hard-triplet batching).
# ---------------------------------------------------------------------------


@register(
    "contrastive_triplet_mining",
    oracle=f"""
        WITH a AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label
                   FROM embeddings WHERE vec_id < {N_QUERIES}),
             c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label
                   FROM embeddings),
             sims AS (
                 SELECT a.vec_id AS anchor_id, c.vec_id AS other_id,
                        a.label = c.label AS same_label,
                        list_cosine_similarity(a.emb, c.emb) AS sim
                 FROM a JOIN c ON a.vec_id <> c.vec_id
             ),
             ranked AS (
                 SELECT *, row_number() OVER (
                            PARTITION BY anchor_id, same_label
                            ORDER BY sim DESC, other_id) AS r
                 FROM sims
             ),
             pos AS (
                 SELECT anchor_id, other_id AS positive_id,
                        CAST(round(sim * 10000) AS BIGINT) AS pos_sim_q4
                 FROM ranked WHERE same_label AND r = 1
             ),
             neg AS (
                 SELECT anchor_id, other_id AS negative_id,
                        CAST(round(sim * 10000) AS BIGINT) AS neg_sim_q4,
                        CAST(r AS INT) AS neg_rank
                 FROM ranked WHERE NOT same_label AND r <= {TOP_K}
             )
        SELECT p.anchor_id, positive_id, negative_id,
               pos_sim_q4, neg_sim_q4,
               pos_sim_q4 - neg_sim_q4 AS margin_q4,
               neg_rank
        FROM pos p JOIN neg n ON p.anchor_id = n.anchor_id
    """,
    tags=("similarity", "contrastive", "training-data"),
)
def contrastive_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(anchor, positive, negative) triplets for contrastive training:
    per anchor, the top-1 SAME-label neighbor (the positive) crossed
    with the TOP_K hardest DIFFERENT-label neighbors (the negatives of
    ``hard_negative_mining``), with similarities and the pos−neg margin
    on the tie-free q4 integer lattice (ordering still uses the raw
    double; the margin is an exact integer difference of already-
    quantized values, so no new rounding class is introduced).

    Plan shape: ONE corpus pass (anchors broadcast into the scan), ONE
    window shuffle keyed (anchor_id, same_label) — both rankings come
    from the same exchange — and a broadcast-sized pos⋈neg join.  At
    100 TB the corpus streams once; everything downstream of the window
    is |anchors|-sized.  Anchors with no same-label sibling drop out of
    the inner join identically in both engines.  Reference scope: the
    reference stores raw pgvector embeddings (ollama_consumer.py:234)
    with no training-pair mining at all."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        "vec_id", as_double(F.col("embedding")).alias("emb"), "label"
    )
    anchors = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("emb").alias("a_emb"),
        F.col("label").alias("a_label"),
    )
    sims = corpus.join(
        F.broadcast(anchors), F.col("vec_id") != F.col("anchor_id")
    ).select(
        "anchor_id",
        F.col("vec_id").alias("other_id"),
        (F.col("label") == F.col("a_label")).alias("same_label"),
        cosine(F.col("a_emb"), F.col("emb")).alias("sim"),
    )
    w = W.partitionBy("anchor_id", "same_label").orderBy(F.desc("sim"), "other_id")
    ranked = sims.withColumn("r", F.row_number().over(w))
    q4 = F.round(F.col("sim") * 10000).cast("long")
    pos = ranked.filter(F.col("same_label") & (F.col("r") == 1)).select(
        "anchor_id",
        F.col("other_id").alias("positive_id"),
        q4.alias("pos_sim_q4"),
    )
    neg = ranked.filter(~F.col("same_label") & (F.col("r") <= TOP_K)).select(
        "anchor_id",
        F.col("other_id").alias("negative_id"),
        q4.alias("neg_sim_q4"),
        F.col("r").cast("int").alias("neg_rank"),
    )
    # broadcast: pos is ≤ |anchors| rows but sat behind a window +
    # filter, so the planner fell back to sort-merge (guide §3.1)
    return F.broadcast(pos).join(neg, "anchor_id").select(
        "anchor_id",
        "positive_id",
        "negative_id",
        "pos_sim_q4",
        "neg_sim_q4",
        (F.col("pos_sim_q4") - F.col("neg_sim_q4")).alias("margin_q4"),
        "neg_rank",
    )


# ---------------------------------------------------------------------------
# 13. IVF ∘ SQ8 — the faiss "IVF<K>,SQ8" index-factory composition
#     (public): coarse KMeans cells + per-dim affine SQ8 codec over the
#     RESIDUALS, completing the composition matrix beside residual
#     IVF-PQ and OPQ∘IVF-PQ.  Trades PQ's 32x compression for SQ8's 4x
#     in exchange for a training-trivial, refit-friendly codec (a
#     residual min/max pair per dim instead of per-subspace Lloyd's).
# ---------------------------------------------------------------------------


def ivfsq8_build_index(
    spark: SparkSession, corpus: DataFrame, path: str
) -> tuple["np.ndarray", "np.ndarray", "np.ndarray"]:
    """IVF-SQ8 build (``_build_index``): the same IVF fit as IVF-PQ,
    the residual SQ8 codec trained in ONE d-row aggregation over the
    residuals, then the same three-artifact layout — codes partitioned
    by centroid, the flat refine companion, and the KB-sized quantizer
    meta (centers + residual vmin/vmax).  Returns the driver-resident
    serving state."""
    state = _build_index(spark, corpus, path, "ivfsq8")
    vmin, vmax = state["sq"]
    return state["center"], vmin, vmax


def ivfsq8_load_meta(
    spark: SparkSession, path: str
) -> tuple["np.ndarray", "np.ndarray", "np.ndarray"]:
    state = _read_meta(spark, path)
    vmin, vmax = state["sq"]
    return state["center"], vmin, vmax


def ivfsq8_serve(
    spark: SparkSession,
    path: str,
    centers: "np.ndarray",
    vmin: "np.ndarray",
    vmax: "np.ndarray",
    qrows: list,
) -> DataFrame:
    """IVF-SQ8 serve (``_serve``): identical pruning shape to
    ``ivfpq_serve``; only the scoring swaps ADC lookups for the SQ8
    affine reconstruction of residual + cell centroid."""
    state = {"center": centers, "sq": np.stack([vmin, vmax])}
    return _serve(spark, path, "ivfsq8", state, qrows)


@register(
    "ivf_sq8_serve_contract",
    oracle=_graded_oracle(
        "state_roundtrip_ok", "recon_err_bounded", "recall_ok", "retention_ok"
    ),
    tags=("similarity", "ivf", "sq8", "serving", "contract"),
    bench2=True,
)
def ivf_sq8_serve_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The faiss ``IVF<K>,SQ8`` chain certified end-to-end: build the
    three-artifact index, COLD-START a second server from the meta
    parquet alone, serve both, and assert

    - ``state_roundtrip_ok``: reloaded-server rows identical to the
      builder's (centers and the residual codec roundtrip parquet
      bit-exactly);
    - ``recon_err_bounded``: the SQ8 round-to-nearest bound holds over
      every RESIDUAL corpus-wide — |r − dequant(encode(r))| ≤ step/2
      per dim, draw-independent (reuses ``_sq8_recon_ok``);
    - ``recall_ok``: served hits clear IVFPQ_RECALL_MIN_PCT, the probe-
      coverage floor shared by every nprobe/IVF_K variant (recall here
      is probe-limited, not codec-limited — the multi-seed survey
      behind the floor applies verbatim);
    - ``retention_ok``: the chain retains ≥ IVFPQ_RETENTION_MIN_PCT of
      flat IVF's hits on the same probes — the residual-codec
      guarantee, draw-robust at PQ_RERANK depth exactly as the IVF-PQ
      ladder measured (SQ8's per-cosine error is ~10x smaller than
      residual PQ's, so the 90 floor is strictly easier here).

    100 TB shape: identical pruned reads to ``ivfpq_serve`` (probe →
    nprobe partitions of codes, candidates-only flat refine); the codec
    swap changes bytes-per-vector (4x vs 32x compression) but no cost
    TERM.  Reference scope: same pgvector anchor as the rest of the
    serving family (ollama_consumer.py:234)."""
    corpus = pin(_corpus(spark, sf_dir))
    qrows = _query_rows(corpus)
    if not qrows:
        return _graded_row(
            spark, _NO_EXACT, state_roundtrip_ok=True, recon_err_bounded=True,
            recall_ok=True, retention_ok=True,
        )
    path = _index_path("ivfsq8_index")

    def recon(built: dict, _) -> bool:
        # residual recon bound: the residual frame named for
        # _sq8_recon_ok's (vec_id, emb)/(vec_id, codes); centroid
        # constants ride as one broadcast row (see _sq8_const_row)
        resid = spark.read.parquet(path + "_flat").crossJoin(
            F.broadcast(_sq8_const_row(spark, *built["sq"], built["center"]))
        ).selectExpr(
            "vec_id", "zip_with(emb, element_at(_cent, centroid + 1), (x, c) -> x - c) AS emb"
        )
        codes = spark.read.parquet(path).select("vec_id", "codes")
        return _sq8_recon_ok(codes, resid, *built["sq"])

    # flat-IVF retention baseline: the "ivf" kind served from the
    # index's OWN flat store (partition-pruned) and centers — a fresh
    # ann_ivf_topk would re-fit the identical KMeans (same corpus, k,
    # seed) and re-scan the corpus for nothing.  Same assignment, same
    # probe, identical hits.
    def ivf_hits(_, built: dict, exact: _Exact) -> int:
        return _hits(_serve(spark, path, "ivf", built, qrows), exact)

    # the exact side never consumes KMeans centers or the codec, so it
    # runs CONCURRENTLY with the build: the exact-topk pass hides behind
    # the contract's one mandatory KMeans fit
    ok, _, (exact,), (recon_ok,), (sq8_hits, ivf_n) = _serve_roundtrip(
        spark, "ivfsq8", corpus, path, qrows,
        beside_build=lambda: _exact_side(corpus),
        beside_serve=recon,
        beside_diff=(lambda served, _, exact: _hits(served, exact), ivf_hits),
    )
    return _graded_row(
        spark,
        exact,
        state_roundtrip_ok=ok,
        recon_err_bounded=recon_ok,
        recall_ok=_floor_ok(sq8_hits, exact.n_exact_rows, IVFPQ_RECALL_MIN_PCT),
        retention_ok=_floor_ok(sq8_hits, ivf_n, IVFPQ_RETENTION_MIN_PCT),
    )


# ---------------------------------------------------------------------------
# Round 12: index-staleness audit — the re-training-cadence number.
# ---------------------------------------------------------------------------

#: the corpus "grows" by its newest 1/STALE_DELTA_DEN of vec_ids AFTER
#: the coarse quantizer is frozen — a 20% post-freeze delta, an
#: aggressive staleness scenario (ivfpq_index_append's fixed 20-row
#: delta tests visibility; this tests RECALL under drift).
STALE_DELTA_DEN = 5
#: recall floor for the STALE index on the GROWN corpus.  The fixture's
#: embeddings are i.i.d. draws (no distribution shift between base and
#: delta), so freezing centroids on an 80% prefix is statistically a
#: subsample fit — the recall distribution matches fresh IVF's
#: seven-seed 36-60% band and shares its floor.  Round-12 survey
#: (shipped sf0.01 + sf0.1 + six virgin sf0.01 reseeds 123321/456654/
#: 987123/135791/246802/369258): stale recall 42-56%, fresh 42-76% on
#: the same draws — 30 keeps the shared ~3 sd margin.
STALE_RECALL_MIN_PCT = IVF_RECALL_MIN_PCT
#: stale hits >= this pct of FRESH-fit hits on the same corpus.  Both
#: hit counts are ~Binomial(50, ~0.5) and the ratio is the noisy part:
#: the same eight-draw survey measured retention 71-122% (mean ~89,
#: sd ~16; stale occasionally BEATS fresh — KMeans on the 80% prefix
#: can land a better local optimum).  50 sits > 2 sd under the mean
#: and 21 points under the observed min, while a real regression
#: (delta rows invisible to probing, probe off frozen cells) reads
#: ~0-20%.
STALE_RETENTION_MIN_PCT = 50


def argmin_assignment_mismatches(assigned: DataFrame, cent_df: DataFrame) -> int:
    """Count of rows in ``assigned`` (vec_id, emb, centroid) whose stored
    ``centroid`` differs from the independent argmin over ``cent_df``
    (centroid INT, c_emb ARRAY<DOUBLE>).

    k-means assigns by EUCLIDEAN distance (not cosine — centroids are
    means of unit vectors and are NOT unit-norm), so the check uses the
    same metric; the min-id tie-break matches ``_ivf_assign``'s choice
    on exact ties.  Cost: |assigned| × |centroids| rows with the
    centroid side broadcast.  Trip-wire proven in
    tests/test_round12.py: a single corrupted cell makes it non-zero."""
    d2 = F.aggregate(
        F.zip_with(
            as_double(F.col("emb")), F.col("c_emb"), lambda x, c: (x - c) * (x - c)
        ),
        F.lit(0.0),
        lambda acc, el: acc + el,
    )
    wd = W.partitionBy("vec_id").orderBy("d2", "cand_centroid")
    own = (
        assigned.crossJoin(
            F.broadcast(
                cent_df.select(F.col("centroid").alias("cand_centroid"), "c_emb")
            )
        )
        .select("vec_id", "centroid", "cand_centroid", d2.alias("d2"))
        .withColumn("r", F.row_number().over(wd))
        .filter(F.col("r") == 1)
    )
    return own.filter(F.col("centroid") != F.col("cand_centroid")).count()


@register(
    "ivf_staleness_audit",
    oracle=f"""{_EXACT_TOPK_CTE},
             m AS (SELECT max(vec_id) AS mx, count(*) AS n FROM embeddings)
        SELECT CAST((SELECT count(*) FROM embeddings, m
                     WHERE vec_id < mx + 1 - n // {STALE_DELTA_DEN}) AS BIGINT)
                   AS n_base,
               CAST((SELECT count(*) FROM embeddings, m
                     WHERE vec_id >= mx + 1 - n // {STALE_DELTA_DEN}) AS BIGINT)
                   AS n_delta,
               CAST(count(*) AS BIGINT) AS n_exact_rows,
               CAST(sum(CAST(round(sim * 10000) AS BIGINT)) AS BIGINT)
                   AS exact_sim_sum_q4,
               TRUE AS delta_visible_ok,
               TRUE AS stale_recall_ok,
               TRUE AS retention_ok
        FROM topk
    """,
    tags=("similarity", "ivf", "serving", "staleness", "contract"),
    bench2=True,
)
def ivf_staleness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-ops staleness audit — the number that decides re-training
    cadence: freeze IVF coarse centroids on the corpus as it stood
    BEFORE the newest 1/``STALE_DELTA_DEN`` of vec_ids arrived, ingest
    the delta by assigning it to the FROZEN centroids (append-without-
    refit, exactly what ``ivfpq_index_append`` does to the codes), then
    measure the stale index's recall against the exact top-k of the
    GROWN corpus, and its hit retention vs a fresh full-corpus fit.

    - ``n_base`` / ``n_delta``: the freeze-cut accounting, DuckDB-
      recomputed from the same ``mx + 1 - n // den`` formula;
    - ``delta_visible_ok``: every DELTA row's stored cell equals the
      independent Euclidean argmin against the frozen centroid list —
      the append-without-refit property stated falsifiably (a refit or
      a metric drift in the ingest path flips it);
    - ``stale_recall_ok``: stale recall clears the shared probe-
      coverage floor (see STALE_RECALL_MIN_PCT's survey note);
    - ``retention_ok``: stale hits >= STALE_RETENTION_MIN_PCT% of a
      fresh fit's hits — the drift cost stays bounded, so the audit
      passing means "don't re-train yet".

    100 TB shape: the freeze-fit is ``_ivf_fit`` on the base (one
    bounded driver sample); delta ingest is one broadcast-centroid
    argmin map over the DELTA only; serving touches nprobe/IVF_K of
    the data exactly as ``ann_ivf_topk`` — the audit adds one exact
    top-k pass (the ground-truth cost every recall measurement pays)
    and a second sample fit for the fresh baseline, both query-side-
    bounded.  Reference scope: the pgvector serving column
    (ollama_consumer.py:234) re-indexed on a cadence this number
    justifies."""
    out_schema = (
        "n_base long, n_delta long, n_exact_rows long, exact_sim_sum_q4 long,"
        " delta_visible_ok boolean, stale_recall_ok boolean, retention_ok boolean"
    )
    corpus = pin(_corpus(spark, sf_dir))
    stats = corpus.agg(F.max("vec_id").alias("mx"), F.count("*").alias("n")).first()
    if not stats.n:
        return local_df(spark, [(0, 0, 0, None, True, True, True)], out_schema)
    cut = int(stats.mx) + 1 - int(stats.n) // STALE_DELTA_DEN

    # the exact side is materialized BEFORE forking the legs so neither
    # leg races to build the shared cache
    exact = _exact_side(corpus)
    qrows = _query_rows(corpus)

    def serve_hits(assigned: DataFrame, centers: "np.ndarray") -> int:
        # the "ivf" kind's serve over the in-memory fitted frame — the
        # SAME serve for the frozen and the fresh fit, so retention
        # compares serving paths, never code paths (no query ids: an
        # empty serve, nothing hit)
        return _hits(_serve(spark, assigned, "ivf", {"center": centers}, qrows), exact)

    def stale_leg() -> tuple[int, int]:
        # fit on the base, then the frozen-centroid assignment of the
        # GROWN corpus (base + delta) — ``_ivf_assign`` is the
        # broadcast-argmin map; in production only the delta runs
        # through it, appending to the existing layout
        assigned, centers = _ivf_fit(corpus.filter(F.col("vec_id") < cut), corpus)
        assigned = pin(assigned)
        assigned.count()  # materialize once before the two consumers fork

        # delta_visible_ok, the FALSIFIABLE form: every DELTA row's stored
        # cell must equal the independent Euclidean argmin against the
        # FROZEN centroid list — the append-without-refit property itself,
        # not a row-count identity (the assignment is row-preserving, so
        # n_index == n is a tautology; a count check could never fail).
        # The check and the serve on the frozen cells are independent
        # consumers of the cached assignment — overlap them (guide §2.6).
        cent_df = local_df(
            spark,
            [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
            "centroid INT, c_emb ARRAY<DOUBLE>",
        )
        return run_parallel(
            lambda: argmin_assignment_mismatches(
                assigned.filter(F.col("vec_id") >= cut), cent_df
            ),
            lambda: serve_hits(assigned, centers),
        )

    def fresh_leg() -> int:
        # fresh baseline over the ALREADY-pinned corpus (ann_ivf_topk
        # would re-scan parquet and re-run the cast lineage)
        return serve_hits(*_ivf_fit(corpus))

    # the stale and fresh legs (each a sample fit, then its serve) and
    # the n_base count are independent job chains over the cached
    # corpus; running them concurrently overlaps their per-job
    # scheduling latency
    (delta_misassigned, stale_hits), fresh_hits, n_base = run_parallel(
        stale_leg,
        fresh_leg,
        lambda: corpus.filter(F.col("vec_id") < cut).count(),
    )
    n_delta = int(stats.n) - n_base
    # a corpus with rows but no vec_id < N_QUERIES has an EMPTY exact
    # top-k: the sum aggregates to NULL (the oracle emits NULL too) and
    # the recall floors hold vacuously
    return local_df(spark, 
        [
            (
                n_base,
                n_delta,
                exact.n_exact_rows,
                exact.exact_sim_sum_q4,
                delta_misassigned == 0,
                _floor_ok(stale_hits, exact.n_exact_rows, STALE_RECALL_MIN_PCT),
                _floor_ok(stale_hits, fresh_hits, STALE_RETENTION_MIN_PCT),
            )
        ],
        out_schema,
    )


# ---------------------------------------------------------------------------
# Round 14: margin-based bitext mining (Artetxe & Schwenk, ACL 2019).
# Score a candidate pair by its cosine RELATIVE to each side's average
# top-k neighborhood — the ratio margin that made mined bitext usable
# (absolute cosine thresholds fail because hubness inflates some
# vectors' similarities across the board).  The two "languages" are the
# standing even/odd vec_id split; the engine certifies the exact-top-k
# margin CONTRACT — at 100 TB the candidate generator swaps to the
# IVF/SQ8 serving route, same scoring.
# ---------------------------------------------------------------------------

#: mined queries: even vec_ids below this (the N_QUERIES convention,
#: sized so tiny sf0.001-SCALE draws still have a query set).
MARGIN_QUERY_MAX = 40
#: neighborhood size for the margin denominator (A&S use k = 4).
MARGIN_K = 4
#: acceptance threshold on the q3-quantized ratio margin (A&S report
#: ~1.06 for LASER bitext; 1000 = margin 1.0 — "the pair beats its
#: neighborhoods' average" — which is the natural zero point).  A
#: per-row FACT column, not an asserted floor: acceptance counts are
#: draw-dependent and both engines compute the flag from identical
#: integers.
MARGIN_ACCEPT_Q3 = 1000


@register(
    "margin_bitext_mine",
    # per-pair cosines are bit-identical cross-engine (the established
    # guarantee every ANN contract leans on) and quantize to the q4
    # integer lattice; neighborhood sums, the ratio margin, and the
    # mutual-best flag are then pure integer arithmetic with guarded
    # div (numerator and denominator both proven non-negative before
    # dividing, so truncating div == floor div on both engines).
    oracle=f"""
        WITH a AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                   FROM embeddings WHERE vec_id % 2 = 0),
        b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
              FROM embeddings WHERE vec_id % 2 = 1),
        q AS (SELECT * FROM a WHERE vec_id < {MARGIN_QUERY_MAX}),
        fwd AS (
            SELECT q.vec_id AS query_id, b.vec_id AS cand_id,
                   list_cosine_similarity(q.emb, b.emb) AS sim,
                   CAST(round(list_cosine_similarity(q.emb, b.emb) * 10000)
                        AS BIGINT) AS sim_q4,
                   row_number() OVER (PARTITION BY q.vec_id
                                      ORDER BY list_cosine_similarity(q.emb, b.emb)
                                                   DESC, b.vec_id) AS rnk
            FROM q CROSS JOIN b
        ),
        fden AS (
            SELECT query_id, CAST(sum(sim_q4) AS BIGINT) AS denom_fwd_q4
            FROM fwd WHERE rnk <= {MARGIN_K} GROUP BY 1
        ),
        best AS (
            SELECT query_id, cand_id AS best_id, sim_q4
            FROM fwd WHERE rnk = 1
        ),
        ys AS (SELECT DISTINCT best_id FROM best),
        bwd AS (
            SELECT y.best_id, a.vec_id AS back_id,
                   CAST(round(list_cosine_similarity(be.emb, a.emb) * 10000)
                        AS BIGINT) AS sim_q4,
                   row_number() OVER (PARTITION BY y.best_id
                                      ORDER BY list_cosine_similarity(be.emb, a.emb)
                                                   DESC, a.vec_id) AS rnk
            FROM ys y JOIN b be ON be.vec_id = y.best_id CROSS JOIN a
        ),
        bden AS (
            SELECT best_id, CAST(sum(sim_q4) AS BIGINT) AS denom_bwd_q4,
                   CAST(min(CASE WHEN rnk = 1 THEN back_id END) AS BIGINT)
                       AS back_best
            FROM bwd WHERE rnk <= {MARGIN_K} GROUP BY 1
        )
        SELECT be.query_id, be.best_id, be.sim_q4,
               f.denom_fwd_q4, bd.denom_bwd_q4,
               CAST(CASE WHEN f.denom_fwd_q4 + bd.denom_bwd_q4 > 0
                              AND be.sim_q4 >= 0
                         THEN (2 * {MARGIN_K} * be.sim_q4 * 1000)
                              // (f.denom_fwd_q4 + bd.denom_bwd_q4)
                         ELSE -1 END AS BIGINT) AS margin_q3,
               bd.back_best = be.query_id AS mutual,
               (bd.back_best = be.query_id)
                   AND (CASE WHEN f.denom_fwd_q4 + bd.denom_bwd_q4 > 0
                                  AND be.sim_q4 >= 0
                             THEN (2 * {MARGIN_K} * be.sim_q4 * 1000)
                                  // (f.denom_fwd_q4 + bd.denom_bwd_q4)
                             ELSE -1 END) >= {MARGIN_ACCEPT_Q3} AS accepted
        FROM best be
        JOIN fden f USING (query_id)
        JOIN bden bd USING (best_id)
    """,
    tags=("similarity", "bitext", "mining", "training-data", "north-star"),
)
def margin_bitext_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019, the LASER /
    CCMatrix pipeline): for each query vector on side A (even vec_ids,
    capped at MARGIN_QUERY_MAX), find its best candidate on side B
    (odd vec_ids) and score the pair by the RATIO margin —
    ``2k·cos(x,y) / (Σ topk-sims(x→B) + Σ topk-sims(y→A))`` — the
    hubness-corrected criterion that replaced absolute cosine
    thresholds for mined parallel data.  ``mutual`` flags pairs that
    are each other's argmax (the "max" mining strategy); ``accepted``
    combines mutuality with the margin threshold.

    Integer contract: per-pair cosines are bit-identical cross-engine
    and quantize to the q4 lattice (round(sim·10000) as BIGINT — the
    finding-13 idiom); neighborhood denominators are integer sums over
    the top-MARGIN_K rows (ranked by the RAW double, tie-break on
    vec_id); the margin divides only when the numerator is proven
    non-negative and the denominator positive (else −1), so truncating
    div and floor div agree.

    Scale shape: the query side (and later the mined best-y set, both
    ≤ MARGIN_QUERY_MAX rows) is **broadcast**; each corpus side streams
    ONCE per direction and the per-query top-k is the only exchange —
    the cosine_topk/hard_negative_mining shape, run twice.  At 100 TB
    the exact scan swaps for the IVF-SQ8 serving route (probed cells
    only) with this module's identical scoring — this contract pins
    the scoring layer those candidates feed."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("emb")
    )
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    q = a.filter(F.col("vec_id") < MARGIN_QUERY_MAX).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    sim_q4 = lambda c: F.round(c * 10000).cast("long")  # noqa: E731
    fwd = b.join(F.broadcast(q)).select(
        "query_id",
        F.col("vec_id").alias("cand_id"),
        cosine(F.col("q_emb"), F.col("emb")).alias("sim"),
    )
    wf = W.partitionBy("query_id").orderBy(F.desc("sim"), "cand_id")
    fwd_topk = pin(
        fwd.withColumn("rnk", F.row_number().over(wf))
        .filter(F.col("rnk") <= MARGIN_K)
        .select("query_id", "cand_id", sim_q4(F.col("sim")).alias("sim_q4"), "rnk")
    )
    fden = fwd_topk.groupBy("query_id").agg(
        F.sum("sim_q4").cast("long").alias("denom_fwd_q4")
    )
    best = fwd_topk.filter(F.col("rnk") == 1).select(
        "query_id", F.col("cand_id").alias("best_id"), "sim_q4"
    )
    ys = best.select("best_id").distinct().join(
        b.select(F.col("vec_id").alias("best_id"), F.col("emb").alias("y_emb")),
        "best_id",
    )
    bwd = a.join(F.broadcast(ys)).select(
        "best_id",
        F.col("vec_id").alias("back_id"),
        cosine(F.col("y_emb"), F.col("emb")).alias("sim"),
    )
    wb = W.partitionBy("best_id").orderBy(F.desc("sim"), "back_id")
    bden = (
        bwd.withColumn("rnk", F.row_number().over(wb))
        .filter(F.col("rnk") <= MARGIN_K)
        .groupBy("best_id")
        .agg(
            F.sum(sim_q4(F.col("sim"))).cast("long").alias("denom_bwd_q4"),
            F.min(F.when(F.col("rnk") == 1, F.col("back_id")))
            .cast("long")
            .alias("back_best"),
        )
    )
    # every frame here is <= MARGIN_QUERY_MAX rows — broadcast both
    # sides' denominators so no exchange after the two top-k windows
    joined = best.join(F.broadcast(fden), "query_id").join(
        F.broadcast(bden), "best_id"
    )
    denom = F.col("denom_fwd_q4") + F.col("denom_bwd_q4")
    margin = (
        F.when(
            (denom > 0) & (F.col("sim_q4") >= 0),
            F.expr(
                f"(2 * {MARGIN_K} * sim_q4 * 1000) div (denom_fwd_q4 + denom_bwd_q4)"
            ),
        )
        .otherwise(F.lit(-1))
        .cast("long")
    )
    mutual = F.col("back_best") == F.col("query_id")
    return joined.select(
        "query_id",
        "best_id",
        "sim_q4",
        "denom_fwd_q4",
        "denom_bwd_q4",
        margin.alias("margin_q3"),
        mutual.alias("mutual"),
        (mutual & (margin >= MARGIN_ACCEPT_Q3)).alias("accepted"),
    )


# ---------------------------------------------------------------------------
# 16. IVF recall curve — recall@k vs nprobe, the serving-knob design table.
# ---------------------------------------------------------------------------

#: swept probe counts; the last one equals IVF_K, where probing every
#: cell makes the IVF serve IDENTICAL to brute force — a theorem the
#: oracle asserts as a hard equality, not a floor.
IVF_CURVE_NPROBES: tuple[int, ...] = (1, 2, 4, IVF_K)


@register(
    "ivf_recall_curve",
    oracle=f"""{_EXACT_TOPK_CTE},
        facts AS (SELECT {_EXACT_FACTS_SQL} FROM topk)
        SELECT CAST(p.nprobe AS INT) AS nprobe,
               n_queries, n_exact_rows, exact_sim_sum_q4,
               CAST(CASE WHEN p.nprobe = {IVF_K} THEN n_exact_rows END AS BIGINT)
                   AS hits_at_full,
               TRUE AS monotone_ok,
               TRUE AS recall_floor_ok
        FROM (VALUES {", ".join(f"({n})" for n in IVF_CURVE_NPROBES)}) p(nprobe)
        CROSS JOIN facts
    """,
    tags=("similarity", "ivf", "tuning", "contract"),
)
def ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nprobe design table for IVF serving: one k-means(IVF_K, seed
    42) fit, then the SAME ``"ivf"`` kind ``_serve`` over the fitted
    frame swept over nprobe in {1, 2, 4, 8}, each row carrying the
    DuckDB-recomputed exact-side
    facts plus three engine-asserted claims:

    - ``monotone_ok`` — recall is non-decreasing in nprobe.  This is a
      THEOREM, not a tuned floor: the probe ranking (centroid sim
      desc, centroid id) is deterministic, so cell sets are nested
      across nprobe, and under the global candidate order (sim desc,
      neighbor_id) an added candidate can only displace a non-exact
      member of the top-k — hits never drop.  A violation means the
      serve path broke (probe ranking nondeterminism, tie-break
      drift), which is exactly what this row exists to catch.
    - ``hits_at_full`` — at nprobe = IVF_K every cell is probed, so the
      IVF serve IS brute force: the oracle pins hits == n_exact_rows as
      a hard equality (NULL at partial probes, where hits are engine
      facts no SQL oracle can know).
    - ``recall_floor_ok`` — the shared IVF_RECALL_MIN_PCT floor,
      asserted for nprobe >= NPROBE (the contract-surveyed operating
      point; monotonicity then extends it upward for free) and
      vacuously true below it, where single-cell probing legitimately
      misses cross-centroid neighbors.

    100 TB shape: one fit + one exact-top-k ground-truth pass (the
    price every recall measurement pays, query-side-bounded); each
    curve point touches nprobe/IVF_K of the corpus via the broadcast
    probe join of ``ann_ivf_topk``, and the per-point reduction is a
    TOP_K·|queries|-row join + count.  The curve is the artifact that
    justifies the NPROBE constant the serving ops hard-code."""
    corpus = pin(_corpus(spark, sf_dir))
    qrows = _query_rows(corpus)
    # no query ids (an empty corpus included): the oracle's rows — an
    # empty exact top-k, 0 hits everywhere, vacuous claims
    exact, hits = _NO_EXACT, [0] * len(IVF_CURVE_NPROBES)
    if qrows:
        (assigned, centers), exact = run_parallel(
            lambda: _ivf_fit(corpus), lambda: _exact_side(corpus)
        )
        assigned = pin(assigned)
        hits = run_parallel(*[
            lambda n=n: _hits(_serve(spark, assigned, "ivf", {"center": centers}, qrows, n), exact)
            for n in IVF_CURVE_NPROBES
        ])
    return local_df(
        spark,
        [
            (
                n,
                *exact[1:],
                h if n == IVF_K else None,
                i == 0 or h >= hits[i - 1],
                n < NPROBE or _floor_ok(h, exact.n_exact_rows, IVF_RECALL_MIN_PCT),
            )
            for i, (n, h) in enumerate(zip(IVF_CURVE_NPROBES, hits))
        ],
        "nprobe int, n_queries long, n_exact_rows long, exact_sim_sum_q4 long,"
        " hits_at_full long, monotone_ok boolean, recall_floor_ok boolean",
    )
