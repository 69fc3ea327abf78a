"""Scale sweep for the top-5 headline queries (VERDICT r5 item 7).

Shuffle-count pins (tests/test_shuffle_budget.py) prove the PLAN can't
silently regress, but they cannot catch data-dependent blow-up — LSH
bucket skew, candidate-pair explosion, a per-cluster GEMM whose cluster
grew super-linearly.  This sweep measures wall-time at three row scales
and reports the scaling exponent alpha = log(t2/t1) / log(n2/n1) per
query; alpha <= ~1.3 is the "still linear-ish" bar (fixed overhead
deflates alpha at these sizes, so an exponent NEAR 1 at toy scale means
the data-dependent terms are not super-linear — a quadratic candidate
blow-up would read alpha >= ~1.7 between the two larger scales).

Dataset construction (why not just replicate 10x): byte-identical
copies make every copy-group an all-pairs near-dup clique, so pair
OUTPUT — and verify cost — would grow quadratically in the replication
factor by construction, telling us nothing about the operator.  Instead
each copy is deterministically perturbed so that copies of one doc are
NOT near-dups of each other while genuine near-dup pairs WITHIN a copy
survive:

- documents: copy 0 is the corpus verbatim; copy i >= 1 suffixes every
  token with ``x<i>`` (``regexp_replace(text, '(\\S+)', '$1x<i>')``) —
  every shingle of copy i differs from every other copy's, so shingle
  sets across copies are disjoint while within-copy Jaccard structure,
  token counts, and the repetition profile are preserved (an earlier
  filler-token-between-words scheme tripped the bigram-repetition
  Gopher gate and emptied the curation pipeline).  x1 scales are the
  untransformed corpus, so their per-row shape is exactly real data.
- embeddings: copy 0 verbatim; copy i >= 1 applies a copy-specific
  ORTHOGONAL transform (seeded signed permutation of the dimensions).
  Orthogonality preserves every within-copy inner product exactly, so
  each copy reproduces the original near-dup pair structure and output
  scales exactly linearly in copies; cross-copy cosines are ~0 for
  generic vectors, so copies of one vector are neither near-dups nor
  LSH bucket collisions.  (An earlier additive-common-shift scheme put
  the 10 copies of each vector at Euclidean distance ~0.85 from each
  other — below the LSH bucket width — which made CANDIDATE pairs grow
  quadratically in the replication factor by construction and falsely
  read as operator blow-up.)

Scales: S1 = sf0.01 x1 (500 docs / 500 vecs), S2 = sf0.1 x1
(5 000 / 2 000), S3 = sf0.1 x10 (50 000 / 20 000).  S2->S3 is the
exponent that matters (x10 rows on both tables, least
overhead-dominated).

Usage: python tools/scale_sweep.py [--rebuild]
Writes the table to stdout (paste into docs/SCALE.md) and the raw JSON
to .scale_sweep/sweep_results.json.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ssafynews_data_spark import get_session

SWEEP_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale_sweep"
)

#: the five most expensive BENCH_r05 queries (VERDICT r5 plan audit)
#: plus the round-6 corpus-scale addition (exact-substring spans) and,
#: round 7, the PQ serving path — its codebook fit is sample-bounded
#: (flat in corpus size by construction), so this row guards that the
#: remaining cost (JVM encode + ADC scoring + re-rank) stays ~linear
#: and a future regression to corpus-sized fitting (or a quadratic
#: ADC) is caught the way the BRP-LSH blow-up was.
HEADLINERS = (
    "near_dup_lsh_verified",
    "bigram_lm_perplexity",
    "semantic_dedup",
    "minhash_lsh_pairs",
    "llm_corpus_pipeline",
    "exact_substring_spans",
    "ann_pq_topk",
    # round 7: the novelty curve's gram-keyed min-aggregate is the
    # heaviest new shuffle of the round — the sweep proves the distinct
    # n-gram hash-agg stays ~linear as the corpus replicates (dup grams
    # across copies collapse in the combiner, fresh grams grow the map)
    "ngram_novelty_curve",
    # round 8 (VERDICT r7 item 5): IVF-PQ measured as its two real
    # costs — the end-to-end row (KMeans fit + residual encode + two
    # partitioned writes; corpus-sized, run once, expected ~linear) and
    # the serve-only row (probe → pruned codes read → residual ADC →
    # pruned flat re-rank; expected SUB-linear, alpha well under 1,
    # because both reads touch nprobe/IVF_K partitions only and the
    # query embeddings arrive with the request).  The serve row reuses
    # the index + driver state the e2e row just built at the same
    # scale (order in this tuple is load-bearing).
    "ivfpq_index_topk",
    "ivfpq_serve",
    # round 8: Ed-Join — candidate generation exposes a CONSTANT k·q+1
    # gram rows per doc, so the sweep proves candidates (and the
    # verify) stay work-linear as the corpus replicates; a regression
    # to an unfiltered gram self-join would read as quadratic here.
    "edit_distance_pairs",
    # round 9: hard-negative mining is the cosine_topk broadcast-scan
    # shape with a label predicate in the join condition; the sweep
    # guards that scoring stays one linear pass (a regression that
    # drops the broadcast or scores same-label rows reads super-linear
    # here, and output is constant |anchors|*k so WORK ~ input).
    "hard_negative_mining",
    # round 9: the partial-Gramian pass — per-batch GEMM partials, one
    # d²-row hash-agg; expected ~linear in corpus rows with a constant
    # shuffle (a regression to a per-row d² explode reads super-linear)
    "embedding_isotropy_stats",
    # round 9: greedy packing — one exchange on the shard key, then a
    # per-shard integer loop over docs; linear by construction, and the
    # sweep guards the grouped-map stays doc-loop (not token-loop)
    "greedy_pack_layout",
    # round 10: OPQ — the fit is sample-bounded (flat by construction,
    # like the PQ row), so this row guards the distributed audit pass
    # (two encode-error UDF columns in one scan) stays ~linear and a
    # regression to corpus-sized fitting is caught
    "opq_rotation_contract",
    # round 10: the packing audit rides the packer's exchange plus two
    # partial-agg rollups that move O(blocks)/O(buckets) rows — the
    # sweep guards those stay aggregation-shaped (a regression that
    # re-runs the packer per branch would read as a step in absolute
    # time; super-linear would mean the rollup lost its partials)
    "pack_efficiency_audit",
    # round 10: exact apportionment — ONE corpus-reducing hash agg,
    # then |sources|-row windows; expected alpha ~ the scan itself
    "token_budget_allocation",
    # round 11: SQ8 lifecycle — train is a d-row agg, encode row-local,
    # serve one compressed scan + candidate-only refine; expected
    # ~linear build cost, and the sweep guards the serve side never
    # regresses to scanning the flat store corpus-wide
    "sq8_serve_contract",
    # round 11: streaming ingest — per-batch signature cost only; the
    # sweep guards the foreachBatch path stays O(delta) (a regression
    # that rescans the index per batch reads super-linear)
    "streaming_index_ingest_contract",
    # round 11: one broadcast-anchor corpus pass + one window keyed
    # (anchor, same_label); constant |anchors|*(k+1) output so WORK ~
    # input — a regression that loses the broadcast reads super-linear
    "contrastive_triplet_mining",
    # round 11: fingerprint hash-agg + join-back + source rollup —
    # aggregation-shaped throughout, expected alpha ~ the scan
    "dedup_token_accounting",
    # round 11: IVF-SQ8 — same pruned-read serving shape as ivfpq;
    # the sweep guards the residual-codec swap didn't reintroduce a
    # corpus-wide serve scan (build is KMeans + one d-row agg,
    # ~linear; serve touches probed partitions only)
    "ivf_sq8_serve_contract",
    # round 12: PII accounting is row-local codegen regex + one
    # |sources|-row agg — expected alpha ~ the scan; a regression that
    # loses the single-pass chain (re-scrubbing per class) reads as a
    # constant-factor step, super-linear would mean the agg lost its
    # map-side partials
    "pii_scrub_accounting",
    # round 12: two bounded windows ((source,shard) then source over
    # <= shards*cap rows) — the sweep guards phase 2 stays bounded (a
    # regression to the naive per-source window reads as skew-bound
    # time at the replicated scale)
    "domain_cap_sample",
    # round 12: rides the packer's exchange + O(blocks) rollup + a
    # broadcast probe join — super-linear would mean the probe join
    # stopped broadcasting or the rollup re-ran the packer
    "pack_provenance_lookup",
    # round 12: row-local integer score + one (bin,shard) window —
    # alpha ~ the scan; output rows = input rows by construction
    "curriculum_schedule",
    # round 12: two KMeans fits dominate (fixed-ish at these scales,
    # like the ivf_sq8 row); the sweep guards serving stays
    # probe-pruned and the audit never becomes all-pairs
    "ivf_staleness_audit",
    # round 13: corpus side reduces once to distinct (source, shingle);
    # output is the fixed |sources|² matrix, so WORK ~ the distinct —
    # a regression that recomputes the corpus distinct per axis (or
    # stops broadcasting the eval side) reads super-linear here
    "eval_overlap_matrix",
    # round 13: rides the packer's exchange; span rows ≈ tokens·15%/3,
    # linear by construction — super-linear would mean the lattice
    # stopped being row-local (e.g. a join back to the corpus)
    "span_corruption_masks",
    # round 13: one (bin, shard) exchange + per-group doc loop — the
    # curriculum twin of greedy_pack_layout's row; guards the compose
    # never added a second corpus exchange
    "curriculum_pack_compose",
    # round 13: the cap's two bounded windows + group-count aggregates;
    # phase 2 frames stay ≤ shards·cap rows per source, so alpha ~ the
    # scan — a regression to the naive single-source window reads as
    # skew-bound time at the replicated scale
    "capped_mixture_pipeline",
    # round 13: two vocabulary-sized histogram aggs + one Arrow audit
    # pass over the delta with both rank tables in-closure; merge
    # learning is histogram-sized (flat as the corpus replicates —
    # copies suffix tokens, growing vocab ~linearly, so learning cost
    # is bounded by vocab, not corpus) — a regression that collects
    # corpus-sized state reads as a step here
    "tokenizer_staleness_audit",
    # round 14: ONE corpus agg to |sources| rows, Hamilton windows on
    # that tiny frame — alpha ~ the scan, a second corpus pass reads
    # as a step (the token_budget_allocation row's twin)
    "source_epoch_plan",
    # round 14: row-local banding + one (band, shard) window — a
    # regression to a global sort reads as skew-bound time at S3
    "length_bucket_batches",
    # round 14: rides the packer's bucket exchange; lattice rows are
    # <= 3 per doc, so output (and alpha) is input-linear by
    # construction — the floor, like span_corruption_masks' row
    "chat_turn_mask_spans",
    # round 14: ONE corpus agg to 13 batch rows + driver-trivial
    # schedule arithmetic — alpha ~ the scan exactly
    "index_compaction_plan",
    # round 14: two broadcast-query scoring passes (corpus streams
    # once per direction) + |Q|-sized margin math — alpha ~ the two
    # scans; a candidate blow-up or a lost broadcast reads as a step
    "margin_bitext_mine",
)

#: serve-only pseudo-query: not a registry name (the registry serves
#: end-to-end); the e2e row at the same scale dir captures the built
#: index path with its serving state (books, centres, query rows).
_IVFPQ_STATE: dict[str, tuple] = {}


def _ivfpq_e2e(spark, sf_dir: str):
    from pyspark.sql import functions as SF

    from ssafynews_data_spark.operators import similarity as S

    corpus = S.pin(S._corpus(spark, sf_dir))
    path = S._index_path("ivfpq_index")
    books, centers = S.ivfpq_build_index(spark, corpus, path)
    qrows = sorted(
        corpus.filter(SF.col("vec_id") < S.N_QUERIES)
        .select("vec_id", "emb")
        .collect()
    )
    _IVFPQ_STATE[sf_dir] = (path, books, centers, qrows)
    return S.ivfpq_serve(spark, path, books, centers, qrows)


def _ivfpq_serve_only(spark, sf_dir: str):
    from ssafynews_data_spark.operators import similarity as S

    if sf_dir not in _IVFPQ_STATE:  # standalone use (pytest guard)
        _ivfpq_e2e(spark, sf_dir)
    path, books, centers, qrows = _IVFPQ_STATE[sf_dir]
    return S.ivfpq_serve(spark, path, books, centers, qrows)


def query_fn(qs, name: str):
    """Registry fn, or the IVF-PQ build/serve split pseudo-queries."""
    if name == "ivfpq_index_topk":
        return _ivfpq_e2e
    if name == "ivfpq_serve":
        return _ivfpq_serve_only
    return qs[name].fn

#: (name, source sf dir, replication factor)
SCALES = (
    ("S1", "/root/testdata/sf0.01", 1),
    ("S2", "/root/testdata/sf0.1", 1),
    ("S3", "/root/testdata/sf0.1", 10),
)

def _one_copy_docs(docs, copy: int):
    if copy == 0:
        text = F.col("text")
    else:
        text = F.regexp_replace(F.col("text"), r"(\S+)", f"$1x{copy}")
    return docs.select(
        (F.col("doc_id") * 16 + copy).alias("doc_id"),
        text.alias("text"),
        "lang",
        "source",
        F.length(text).cast("long").alias("n_chars"),
    )


def _one_copy_emb(emb, copy: int, dim: int = 64):
    """Copy 0 keeps vec_id VERBATIM so the ANN query set (vec_id <
    N_QUERIES) is IDENTICAL at every scale; copies >= 1 offset far past
    any real id.  An earlier vec_id*16+copy remap left 1 query at x1
    scales but 10 at x10, so the PQ sweep row's exponent conflated
    query-set growth (ADC work is O(Q) per corpus row) with corpus
    growth — the replicated corpus must grow ONLY the non-query mass."""
    if copy == 0:
        out = F.col("embedding")
        vid = F.col("vec_id")
    else:
        import random

        rng = random.Random(copy)
        perm = list(range(dim))
        rng.shuffle(perm)
        signs = [rng.choice((-1.0, 1.0)) for _ in range(dim)]
        out = F.array(
            *[
                (F.lit(signs[j]) * F.col("embedding")[perm[j]]).cast("float")
                for j in range(dim)
            ]
        )
        vid = F.col("vec_id") + copy * 10_000_000
    return emb.select(vid.alias("vec_id"), out.alias("embedding"), "label")


def force_full(df) -> int:
    """count + per-column checksums in ONE pass: a bare .count() on a
    frame ending in a left join on a provably-unique key lets Catalyst
    eliminate the join (and everything feeding it) — the
    exact_substring sweep row read 0.5 s at 50k docs because the whole
    dup-detection pipeline was optimized away.  Referencing every
    output column defeats join elimination and column pruning without
    a driver-side materialization.  Returns the row count."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.max(F.xxhash64(F.col(c).cast("string"))).alias(f"h{i}")
            for i, c in enumerate(df.columns)
        ],
    ).collect()[0]
    return row["n"]


def build_scale(spark: SparkSession, out_dir: str, src_dir: str, copies: int) -> None:
    docs = spark.read.parquet(f"{src_dir}/documents.parquet")
    emb = spark.read.parquet(f"{src_dir}/embeddings.parquet")
    d = _one_copy_docs(docs, 0)
    e = _one_copy_emb(emb, 0)
    for i in range(1, copies):
        d = d.unionByName(_one_copy_docs(docs, i))
        e = e.unionByName(_one_copy_emb(emb, i))
    # 32 files per table so local[32] keeps full scan parallelism even
    # on the replicated slice (matches the testdata layout intent)
    d.repartition(32).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")
    e.repartition(32).write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")


def main() -> int:
    rebuild = "--rebuild" in sys.argv[1:]
    # --only=name1,name2 sweeps a subset (e.g. a query registered after
    # the round's full sweep ran) without re-paying the whole table;
    # the JSON artifact goes to a side file so the full-run record and
    # its alphas are never partially overwritten.
    only = [a.split("=", 1)[1] for a in sys.argv[1:] if a.startswith("--only=")]
    if len(only) > 1:
        print(f"error: --only given {len(only)} times", file=sys.stderr)
        return 2
    if only:
        unknown = set(only[0].split(",")) - set(HEADLINERS)
        if unknown:
            # a typo must not produce an empty sweep that prints
            # "super-linear: none" and exits 0 — that reads as a green
            # certification artifact while measuring nothing
            print(f"error: not in HEADLINERS: {sorted(unknown)}", file=sys.stderr)
            return 2
    headliners = tuple(
        n for n in HEADLINERS if not only or n in set(only[0].split(","))
    )
    spark = get_session(app_name="scale_sweep")
    from ssafynews_data_spark import registry
    from ssafynews_data_spark.caching import release_pins

    qs = registry.load_all()

    dirs: dict[str, str] = {}
    rows: dict[str, dict[str, int]] = {}
    for name, src, copies in SCALES:
        out = os.path.join(SWEEP_ROOT, name)
        if rebuild or not os.path.isdir(f"{out}/documents.parquet"):
            print(f"# building {name} from {src} x{copies}", file=sys.stderr)
            build_scale(spark, out, src, copies)
        dirs[name] = out
        rows[name] = {
            "docs": spark.read.parquet(f"{out}/documents.parquet").count(),
            "emb": spark.read.parquet(f"{out}/embeddings.parquet").count(),
        }
        print(f"# {name}: {rows[name]}", file=sys.stderr)

    # warmup (same rationale as bench.py)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(64).repartition(4).mapInPandas(lambda it: it, "id long").count()

    results: dict[str, dict[str, float]] = {q: {} for q in headliners}
    out_rows: dict[str, dict[str, int]] = {q: {} for q in headliners}
    for sname, _, _ in SCALES:
        for q in headliners:
            t0 = time.perf_counter()
            n = force_full(query_fn(qs, q)(spark, dirs[sname]))
            dt = time.perf_counter() - t0
            release_pins()
            results[q][sname] = round(dt, 3)
            out_rows[q][sname] = n
            print(f"# {q} @{sname}: {dt:.2f}s ({n} rows)", file=sys.stderr)

    # embeddings-driven queries scale on emb rows, text ones on docs
    table_of = {
        "near_dup_lsh_verified": "emb",
        "semantic_dedup": "emb",
        "bigram_lm_perplexity": "docs",
        "minhash_lsh_pairs": "docs",
        "llm_corpus_pipeline": "docs",
        "exact_substring_spans": "docs",
        "ann_pq_topk": "emb",
        "ngram_novelty_curve": "docs",
        "ivfpq_index_topk": "emb",
        "ivfpq_serve": "emb",
        "edit_distance_pairs": "docs",
        "hard_negative_mining": "emb",
        "embedding_isotropy_stats": "emb",
        "greedy_pack_layout": "docs",
        "opq_rotation_contract": "emb",
        "pack_efficiency_audit": "docs",
        "token_budget_allocation": "docs",
        "sq8_serve_contract": "emb",
        "streaming_index_ingest_contract": "docs",
        "contrastive_triplet_mining": "emb",
        "dedup_token_accounting": "docs",
        "ivf_sq8_serve_contract": "emb",
        "pii_scrub_accounting": "docs",
        "domain_cap_sample": "docs",
        "pack_provenance_lookup": "docs",
        "curriculum_schedule": "docs",
        "ivf_staleness_audit": "emb",
        "eval_overlap_matrix": "docs",
        "span_corruption_masks": "docs",
        "curriculum_pack_compose": "docs",
        "capped_mixture_pipeline": "docs",
        "tokenizer_staleness_audit": "docs",
        "source_epoch_plan": "docs",
        "length_bucket_batches": "docs",
        "chat_turn_mask_spans": "docs",
        "index_compaction_plan": "docs",
        "margin_bitext_mine": "emb",
    }

    def alpha(q: str, a: str, b: str) -> float:
        """Exponent of wall-time vs WORK = input rows + output rows.
        Normalizing by output matters for join-like operators: when the
        true result set itself grows super-linearly (e.g. near-dup at a
        threshold inside the random-cosine tail), time proportional to
        input+output is the best any algorithm can do — an operator is
        only flagged when it burns time BEYOND the work it was asked
        to produce."""
        t = table_of[q]
        w_a = rows[a][t] + out_rows[q][a]
        w_b = rows[b][t] + out_rows[q][b]
        t_ratio = results[q][b] / results[q][a]
        return round(math.log(t_ratio) / math.log(w_b / w_a), 2)

    print(
        "\n| query | rows S1/S2/S3 | out S1/S2/S3 | t(S1) | t(S2) | t(S3) "
        "| alpha S1->S2 | alpha S2->S3 |"
    )
    print("|---|---|---|---|---|---|---|---|")
    for q in headliners:
        t = table_of[q]
        r = f"{rows['S1'][t]}/{rows['S2'][t]}/{rows['S3'][t]} ({t})"
        o = f"{out_rows[q]['S1']}/{out_rows[q]['S2']}/{out_rows[q]['S3']}"
        print(
            f"| {q} | {r} | {o} | {results[q]['S1']:.2f}s | {results[q]['S2']:.2f}s "
            f"| {results[q]['S3']:.2f}s | {alpha(q, 'S1', 'S2')} "
            f"| {alpha(q, 'S2', 'S3')} |"
        )

    out_json = "sweep_results_only.json" if only else "sweep_results.json"
    with open(os.path.join(SWEEP_ROOT, out_json), "w") as f:
        json.dump(
            {
                "rows": rows,
                "seconds": results,
                "output_rows": out_rows,
                "loadavg": list(os.getloadavg()),
            },
            f,
            indent=2,
        )
    bad = [
        q
        for q in headliners
        if alpha(q, "S2", "S3") > 1.5  # quadratic blow-up reads ~2.0
    ]
    print(f"\n# super-linear (alpha S2->S3 > 1.5): {bad or 'none'}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
