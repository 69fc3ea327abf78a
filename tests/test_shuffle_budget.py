"""Shuffle-budget regression pins for every benched headline query.

Local wall-clock is noisy (docs/SCALE.md "Known local-vs-cluster
deltas"); shuffle COUNT is the portable cost model — each Exchange is a
full materialize-and-redistribute of its input on a cluster.  This test
pins the current number of shuffle exchanges (hash/range partitioning;
broadcast exchanges excluded — they move only the small side) in each
benched query's executed plan, so any future edit that silently doubles
a query's shuffles fails CI instead of surfacing as a 2× cluster
regression.

If an edit legitimately changes a plan (e.g. trades a shuffle for a
broadcast), update the budget in the same commit and say why.
"""

from __future__ import annotations

import re

import pytest

from ssafynews_data_spark import registry
from ssafynews_data_spark.caching import release_pins

#: max allowed "Exchange hash/rangepartitioning" nodes per executed plan.
#: Values are the measured counts at the time of pinning (slack 0 — a
#: new shuffle must be justified, not absorbed).
SHUFFLE_BUDGET: dict[str, int] = {
    "ann_lsh_topk": 2,
    "bigram_lm_perplexity": 4,
    "boilerplate_block_removal": 3,
    "cosine_topk": 1,
    "curate_corpus": 2,
    "daily_event_counts": 2,
    "decontaminate_docs": 3,
    "dsir_importance_weights": 3,
    "hybrid_rrf_retrieval": 1,
    "llm_corpus_pipeline": 4,
    "minhash_lsh_pairs": 5,
    "mock_enrich_documents": 0,
    # the one (band, key) exchange: each pair leaves its lowest shared
    # band's bucket only, so no distinct follows
    "near_dup_lsh_verified": 1,
    "pca_kmeans_clusters": 0,
    "q1_pricing_summary": 1,
    "q3_shipping_priority": 1,
    "q5_regional_revenue": 1,
    # r13 optimization: keeper/drop-count logic folded into the grouped
    # map (one exchange, zero joins; was 3)
    "semantic_dedup": 1,
    "sessionization": 1,
    # r13 optimization: the signature pass is pinned and shared across
    # both band self-join sides (was unpinned, fed to both); its single
    # sig-agg exchange (plan node 6) is textually re-printed under each
    # InMemoryTableScan reader, so the textual count reads 3 while the
    # physical shuffles are 2 (cache build + final pairs exchange) and
    # one join side is a BroadcastExchange — plans/r13/simhash_pairs_after.txt
    "simhash_pairs": 3,
    "word_freq_topk": 1,
    "zscore_grouped_pandas": 1,
}

#: non-benched queries worth pinning anyway — round-7 additions and the
#: new TPC-H shapes.  Note the textual count includes the build plan of
#: a pinned (persisted) subtree once per InMemoryTableScan reference,
#: so a pinned aggregate read by two branches still counts its one
#: physical exchange twice here; the pin is what keeps it physical-once.
EXTRA_SHUFFLE_BUDGET: dict[str, int] = {
    "exact_substring_spans": 2,
    "substring_span_removal": 2,
    "q6_forecast_revenue": 0,
    "q9_product_profit": 2,
    "q11_important_parts": 3,
    "q12_priority_shipping": 2,
    "q15_top_supplier": 3,
    "q17_small_quantity_revenue": 1,
    "q20_excess_shippers": 5,
    "q21_waiting_suppliers": 3,
    "ann_pq_topk": 1,
    "ivfpq_index_topk": 2,
    "snapshot_diff_orders": 4,
    "bpe_training_contract": 0,
    # round-8 (Pass-Join): candidate signature equi-join + pair
    # distinct; the probe-side distinct and both verify joins ride the
    # same two exchanges under AQE
    "edit_distance_pairs": 2,
    # round-9 (serving lifecycle): the heavy lifting (build + two
    # serves) happens inside the contract body; the returned row is a
    # literal frame — the pin guards against someone moving real work
    # into the returned plan
    "ivfpq_serve_contract": 0,
    # round-9: broadcast-anchor scoring, the only exchange is the
    # per-anchor top-k window (the cosine_topk shape, label-aware)
    "hard_negative_mining": 1,
    # round-9: partial Gramians (one per Arrow batch) -> one hash-agg
    # by cell index; the pinned partials frame is read by both the
    # Gramian and the count branch (textual count sees the build once)
    "embedding_isotropy_stats": 1,
    # round-9: one hash exchange on the shard key feeds the grouped-map
    # packer; everything else is row-local token counting
    "greedy_pack_layout": 1,
    # round-10 (OPQ): fit is driver-side on the bounded sample; the
    # corpus audit is one Arrow pass into a global aggregate — the
    # only exchange is the 1-row final-agg single partition (not hash)
    "opq_rotation_contract": 0,
    # round-10: the packer's bucket exchange + two tiny aggregation
    # exchanges (FlatMapGroupsInPandas does not advertise its output
    # partitioning, so the (bucket, block) and (bucket) rollups each
    # re-exchange — but map-side partials mean they move O(blocks) and
    # O(buckets) rows respectively, independent of corpus size)
    "pack_efficiency_audit": 3,
    # round-10: the packer's bucket exchange; span math is row-local
    "pack_mask_spans": 1,
    # round-10: ONE corpus-reducing hash agg on source; the windows
    # after it run over |sources| rows (single-partition by design)
    "token_budget_allocation": 1,
    # round-10 (OPQ∘IVF-PQ): build, serve, the exact top-k sets and
    # the rotation and hit checks run inside the contract body; literal
    # row out (was 14 while the checks were the returned plan)
    "opq_ivfpq_serve_contract": 0,
    # round-11 (SQ8 lifecycle): build + both serves run inside the
    # contract body; the returned row is a literal frame
    "sq8_serve_contract": 0,
    # round-11 (streaming ingest): the stream, the replay and the
    # parity anti-joins all run inside the body; literal row out
    "streaming_index_ingest_contract": 0,
    # round-11: one window exchange on (anchor_id, same_label) per
    # branch (pos and neg re-derive the ranked frame) plus the
    # |anchors|-sized pos⋈neg join's exchanges under AQE
    # r13 optimization: pos side broadcast into the pos-neg join (was 4)
    "contrastive_triplet_mining": 2,
    # round-11: fingerprint hash-agg + join-back exchange; the
    # per-source rollup rides the same exchanges (map-side combined)
    "dedup_token_accounting": 2,
    # round-11 (IVF-SQ8 lifecycle): build + both serves + the recon
    # audit run inside the body; literal row out
    "ivf_sq8_serve_contract": 0,
    # round-12: row-local regex chain -> ONE |sources|-row hash agg
    "pii_scrub_accounting": 1,
    # round-12: the exact two-phase cap — (source,shard) window +
    # source window over <= shards*cap rows + the totals agg; the
    # totals⋈kept join is broadcast (tiny both sides)
    "domain_cap_sample": 3,
    # round-12: the packer's bucket exchange + the O(blocks) stats
    # rollup + its |buckets|-row probe window; the probe⋈packed lookup
    # itself is a BroadcastExchange (excluded here by design — the
    # corpus is never reshuffled, which is the point of the pin)
    "pack_provenance_lookup": 4,
    # round-12: row-local integer score -> ONE (bin, shard) window
    # exchange; never a global sort
    "curriculum_schedule": 1,
    # round-12: both coarse fits (driver-side, from one sample each),
    # serving, and the hit joins run inside the contract body; literal
    # row out
    "ivf_staleness_audit": 0,
    # round-13: ONE corpus-scale (source, shingle) distinct consumed by
    # one join; the matrix axes are narrow-column distincts and the
    # pinned eval set's build is textually re-printed per reader (the
    # InMemoryTableScan note above) — physically the corpus shuffles
    # once
    # r13 optimization: hit side broadcast into the matrix join (was 7)
    "eval_overlap_matrix": 6,
    # round-13: the packer's bucket exchange; the span lattice is
    # row-local generate+explode
    "span_corruption_masks": 1,
    # round-13: ONE (bin, shard) exchange serves both the schedule
    # order and the grouped-map packer
    "curriculum_pack_compose": 1,
    # round-13: physically the two-phase cap's two windows + three
    # group-count-sized aggregates; the pinned capped/counts frames are
    # each textually re-printed per reader, inflating the count the
    # same way opq_ivfpq_serve_contract's apparatus does
    "capped_mixture_pipeline": 17,
    # round-13: histograms are collected driver-side (not in the
    # returned plan); the plan is the delta audit agg + the pinned
    # delta-vocabulary distinct printed per its two readers
    "tokenizer_staleness_audit": 3,
    # round-14: ONE corpus-reducing hash agg on source; the Hamilton
    # windows after it run over |sources| rows (single-partition by
    # design — the token_budget_allocation shape)
    "source_epoch_plan": 1,
    # round-14: row-local band/padding math -> ONE (band, shard)
    # window exchange; never a global sort
    "length_bucket_batches": 1,
    # round-14: the packer's bucket exchange; the turn lattice is
    # row-local generate+explode (the span_corruption_masks shape)
    "chat_turn_mask_spans": 1,
    # round-14: ONE corpus agg to 13 batch rows (pinned for its two
    # readers — textually re-printed, the InMemoryTableScan note
    # above) + the 13-row distinct-segment rollup
    "index_compaction_plan": 3,
    # round-14: two top-k window exchanges (fwd over side B, bwd over
    # side A — the corpus streams once per direction) + the pinned
    # fwd-topk frame and the <=|Q|-row distinct/joins re-printed per
    # reader; denominator joins are broadcast (excluded by design)
    "margin_bitext_mine": 6,
    # IVF-Flat on the index stack: the probe is a driver GEMM and the
    # (query, cell) pairs a broadcast LocalRelation, so the only
    # exchange is the exact-rank window (the Spark probe window made 2)
    "ann_ivf_topk": 1,
    # the same serve from the partition-pruned "ivf" artifact
    "ivf_partition_pruning": 1,
    # the exact all-pairs kernel: one mapInPandas over a range of block
    # ids against the driver-collected, id-sorted corpus matrix
    "near_dup_auto_pairs": 0,
    # every count runs inside the body over the pinned keepers; literal
    # row out (was 6 while the five readers of semantic_dedup's output,
    # each re-running its cluster step, were the returned plan)
    "semantic_dedup_contract": 0,
    # the fit, the exact top-k and every nprobe point's hit count run
    # inside the body; literal rows out (was 18 while the hit joins were
    # the returned plan)
    "ivf_recall_curve": 0,
}


def _shuffles(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"Exchange (?:hash|range)partitioning", plan))


@pytest.mark.parametrize(
    "name", sorted({**SHUFFLE_BUDGET, **EXTRA_SHUFFLE_BUDGET})
)
def test_benched_query_within_shuffle_budget(spark, sf_dir, name):
    budget = {**SHUFFLE_BUDGET, **EXTRA_SHUFFLE_BUDGET}[name]
    q = registry.load_all()[name]
    try:
        got = _shuffles(q.fn(spark, sf_dir))
    finally:
        release_pins()
    assert got <= budget, (
        f"{name}: {got} shuffles > budget {budget} — "
        "a plan regression, or update the budget with justification"
    )


def test_budget_covers_every_benched_query(spark):
    benched = {n for n, q in registry.load_all().items() if q.bench}
    assert benched == set(SHUFFLE_BUDGET), (
        "bench set and shuffle budget drifted apart: "
        f"missing={benched - set(SHUFFLE_BUDGET)}, "
        f"stale={set(SHUFFLE_BUDGET) - benched}"
    )
