"""Round-15 operator invariants: soft dedup weights, MinHash band
tuning, the IVF recall curve, the dataset card, and the mixture epoch
interleave.

Oracles prove cross-engine parity; these tests prove the properties the
hash can't see — cluster math against brute-force union-find, the exact
S-curve against an independent float evaluation and its two
monotonicity theorems, full-probe == brute-force set equality, the
card's cross-operator reconciliations, and the interleave schedule
against a pure-Python re-derivation (md5 keys, shard split, greedy
token prefixes).
"""

from __future__ import annotations

import hashlib
from collections import defaultdict

from pyspark.sql import functions as F

from ssafynews_data_spark.operators.datacard import dataset_card_stats
from ssafynews_data_spark.operators.dedup import (
    BAND_TUNE_CANDIDATES,
    BAND_TUNE_JQ_T,
    BAND_TUNE_LATTICE,
    JACCARD_THRESHOLD,
    band_detect_ppm,
    dedup_token_accounting,
    minhash_band_tuning,
    ngram_jaccard_pairs,
    soft_dedup_weights,
)
from ssafynews_data_spark.operators.sampling import (
    EPOCH_SHARDS,
    MIX_SEED,
    mixture_epoch_interleave,
    source_epoch_plan,
)
from ssafynews_data_spark.operators.similarity import (
    IVF_CURVE_NPROBES,
    IVF_K,
    ivf_recall_curve,
)
from ssafynews_data_spark.operators.text import tokens_col
from ssafynews_data_spark.sources.readers import load_table


# ---------------------------------------------------------------------------
# soft_dedup_weights
# ---------------------------------------------------------------------------


def test_soft_dedup_covers_corpus_once_with_floor_weights(spark, sf_dir):
    rows = soft_dedup_weights(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    assert len({r.doc_id for r in rows}) == n_docs
    for r in rows:
        assert r.cluster_size >= 1
        assert r.weight_ppm == 1_000_000 // r.cluster_size
        assert (r.weight_ppm == 1_000_000) == (r.cluster_size == 1)
    # a cluster of k docs contributes at most one doc's expected mass
    per_cluster = defaultdict(list)
    for r in rows:
        per_cluster[r.cluster_id].append(r)
    for cid, members in per_cluster.items():
        sizes = {m.cluster_size for m in members}
        assert sizes == {len(members)}, f"cluster {cid} size mismatch"
        total = sum(m.weight_ppm for m in members)
        assert total <= 1_000_000
        # floor loses < 1 unit per member
        assert total > 1_000_000 - len(members)


def test_soft_dedup_clusters_match_bruteforce_union_find(spark, sf_dir):
    """Independent ground truth: union-find over the exact-Jaccard
    pair list must reproduce the cluster partition (ids are min-label,
    so compare the PARTITION, not the labels)."""
    pairs = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b").collect()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for p in pairs:
        union(p.doc_a, p.doc_b)
    expected = defaultdict(set)
    for x in list(parent):
        expected[find(x)].add(x)

    rows = soft_dedup_weights(spark, sf_dir).collect()
    got = defaultdict(set)
    for r in rows:
        if r.cluster_size > 1:
            got[r.cluster_id].add(r.doc_id)
    assert sorted(map(sorted, got.values())) == sorted(map(sorted, expected.values()))
    # min-label convention: cluster_id is the smallest member id
    for cid, members in got.items():
        assert cid == min(members)


# ---------------------------------------------------------------------------
# minhash_band_tuning
# ---------------------------------------------------------------------------


def test_band_curve_matches_float_evaluation():
    for b, r in BAND_TUNE_CANDIDATES:
        for jq in range(BAND_TUNE_LATTICE + 1):
            j = jq / BAND_TUNE_LATTICE
            p_float = 1.0 - (1.0 - j**r) ** b
            p = band_detect_ppm(b, r, jq)
            assert abs(p - p_float * 1_000_000) <= 2, (b, r, jq)
            assert 0 <= p <= 1_000_000
        assert band_detect_ppm(b, r, 0) == 0
        assert band_detect_ppm(b, r, BAND_TUNE_LATTICE) == 1_000_000


def test_band_curve_monotonicity_theorems():
    """(a) p is non-decreasing in j for every candidate; (b) at fixed
    k = b*r, MORE bands (fewer rows each) can only increase detection
    probability at every lattice point."""
    for b, r in BAND_TUNE_CANDIDATES:
        curve = [band_detect_ppm(b, r, jq) for jq in range(BAND_TUNE_LATTICE + 1)]
        assert curve == sorted(curve), (b, r)
    by_bands = sorted(BAND_TUNE_CANDIDATES)  # increasing bands
    for jq in range(BAND_TUNE_LATTICE + 1):
        col = [band_detect_ppm(b, r, jq) for b, r in by_bands]
        assert col == sorted(col), jq


def test_band_tuning_masses_reconcile(spark, sf_dir):
    rows = minhash_band_tuning(spark, sf_dir).collect()
    assert len(rows) == len(BAND_TUNE_CANDIDATES)
    assert {(r.bands, r.rows_per_band) for r in rows} == set(BAND_TUNE_CANDIDATES)
    n_pairs = {r.n_pairs for r in rows}
    assert len(n_pairs) == 1  # same observed histogram for every candidate
    for r in rows:
        assert r.bands * r.rows_per_band == 32
        assert r.p_at_threshold_ppm == band_detect_ppm(
            r.bands, r.rows_per_band, BAND_TUNE_JQ_T
        )
        assert 0 <= r.n_above_threshold <= r.n_pairs
        # Σ p over all pairs == (mass above thr) - fn + fp, exactly
        assert (
            r.expected_detected_ppm
            == r.n_above_threshold * 1_000_000 - r.fn_mass_ppm + r.fp_mass_ppm
        )
        assert 0 <= r.fn_mass_ppm <= r.n_above_threshold * 1_000_000
        assert 0 <= r.expected_detected_ppm <= r.n_pairs * 1_000_000


def test_band_tuning_observed_pairs_match_exact_join(spark, sf_dir):
    """n_above_threshold must equal the ngram_jaccard_pairs row count:
    the jq >= 5 decile cut is exactly the jac >= 0.5 threshold."""
    exact_above = ngram_jaccard_pairs(spark, sf_dir).count()
    row = minhash_band_tuning(spark, sf_dir).collect()[0]
    assert row.n_above_threshold == exact_above
    assert int(BAND_TUNE_JQ_T) == int(JACCARD_THRESHOLD * BAND_TUNE_LATTICE)


# ---------------------------------------------------------------------------
# ivf_recall_curve
# ---------------------------------------------------------------------------


def test_ivf_curve_shape_and_theorems(spark, sf_dir):
    rows = sorted(ivf_recall_curve(spark, sf_dir).collect(), key=lambda r: r.nprobe)
    assert [r.nprobe for r in rows] == list(IVF_CURVE_NPROBES)
    for r in rows:
        assert r.monotone_ok
        assert r.recall_floor_ok
        if r.nprobe == IVF_K:
            assert r.hits_at_full == r.n_exact_rows
        else:
            assert r.hits_at_full is None
    facts = {(r.n_queries, r.n_exact_rows, r.exact_sim_sum_q4) for r in rows}
    assert len(facts) == 1  # exact side identical on every row


def test_ivf_full_probe_serve_equals_brute_force(spark, sf_dir):
    """At nprobe = IVF_K the IVF serve must be SET-identical to
    cosine_topk (ids, ranks, rounded sims) — the theorem behind
    hits_at_full, checked at row granularity, not just counts."""
    from ssafynews_data_spark.operators.similarity import (
        _corpus,
        _ivf_fit,
        _query_rows,
        _serve,
        cosine_topk,
    )

    corpus = _corpus(spark, sf_dir)
    assigned, centers = _ivf_fit(corpus)
    served = {
        (r.query_id, r.neighbor_id, r.sim, r.rank)
        for r in _serve(
            spark, assigned, "ivf", {"center": centers}, _query_rows(corpus), IVF_K
        ).collect()
    }
    exact = {
        (r.query_id, r.neighbor_id, r.sim, r.rank)
        for r in cosine_topk(spark, sf_dir).collect()
    }
    assert served == exact


# ---------------------------------------------------------------------------
# dataset_card_stats
# ---------------------------------------------------------------------------


def test_dataset_card_reconciles_with_standing_operators(spark, sf_dir):
    card = {r.source: r for r in dataset_card_stats(spark, sf_dir).collect()}
    acct = {r.source: r for r in dedup_token_accounting(spark, sf_dir).collect()}
    assert set(card) == set(acct)
    for src, r in card.items():
        # same tokenizer, same corpus: sizes must agree exactly
        assert r.n_docs == acct[src].n_docs
        assert r.n_tokens == acct[src].tokens_total
        assert r.mean_doc_tokens == r.n_tokens // r.n_docs
        assert r.dup_doc_ppm == r.exact_dup_docs * 1_000_000 // r.n_docs
        assert r.gopher_pass_ppm == r.gopher_pass_docs * 1_000_000 // r.n_docs
        assert 0 <= r.top_lang_docs <= r.n_docs
    total = sum(r.n_tokens for r in card.values())
    share_sum = sum(r.token_share_ppm for r in card.values())
    # floor-quantized shares: within |sources| ppm below 1e6
    assert 1_000_000 - len(card) < share_sum <= 1_000_000
    assert total == sum(r.n_tokens for r in card.values())


def test_dataset_card_dup_and_lang_match_bruteforce(spark, sf_dir):
    import re

    docs = load_table(spark, sf_dir, "documents").collect()
    fp_count: dict[str, int] = defaultdict(int)
    norm = {
        d.doc_id: re.sub(r"[\s\x0b]+", " ", d.text.lower()).strip(" ")
        for d in docs
    }
    for did, t in norm.items():
        fp_count[t] += 1
    dup_by_src: dict[str, int] = defaultdict(int)
    lang_by_src: dict[str, dict] = defaultdict(lambda: defaultdict(int))
    for d in docs:
        if fp_count[norm[d.doc_id]] > 1:
            dup_by_src[d.source] += 1
        lang_by_src[d.source][d.lang or "und"] += 1
    card = {r.source: r for r in dataset_card_stats(spark, sf_dir).collect()}
    for src, r in card.items():
        assert r.exact_dup_docs == dup_by_src.get(src, 0)
        counts = lang_by_src[src]
        best = min(counts, key=lambda L: (-counts[L], L))
        assert (r.top_lang, r.top_lang_docs) == (best, counts[best])


# ---------------------------------------------------------------------------
# mixture_epoch_interleave
# ---------------------------------------------------------------------------


def _mix_key_py(epoch: int, doc_id: int) -> str:
    return hashlib.md5(f"{MIX_SEED}:{epoch}:{doc_id}".encode()).hexdigest()


def _shard_py(k: str) -> int:
    return int(k[:4], 16) % EPOCH_SHARDS


def test_interleave_executes_the_plan_exactly(spark, sf_dir):
    """Pure-Python re-derivation of the whole schedule from the plan +
    per-doc token counts: full-epoch multiplicity, partial-pass greedy
    prefixes per (source, shard), truncation, and coordinates."""
    plan = {r.source: r for r in source_epoch_plan(spark, sf_dir).collect()}
    dt = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id", "source", F.size(tokens_col(F.col("text"))).alias("nt")
        )
        .collect()
    )
    expected: dict[tuple, int] = {}  # (doc_id, epoch) -> tokens_taken
    by_source = defaultdict(list)
    for d in dt:
        by_source[d.source].append(d)
    for src, docs in by_source.items():
        p = plan[src]
        for d in docs:
            for e in range(p.n_full_epochs):
                expected[(d.doc_id, e)] = d.nt
        if p.partial_tokens > 0:
            e = p.n_full_epochs
            shards = defaultdict(list)
            for d in docs:
                k = _mix_key_py(e, d.doc_id)
                shards[_shard_py(k)].append((k, d.doc_id, d.nt))
            base, rem = divmod(p.partial_tokens, EPOCH_SHARDS)
            for sh, items in shards.items():
                quota = base + (1 if sh < rem else 0)
                cum = 0
                for k, did, nt in sorted(items):
                    if cum >= quota:
                        break
                    expected[(did, e)] = min(nt, quota - cum)
                    cum += nt
    rows = mixture_epoch_interleave(spark, sf_dir).collect()
    got = {(r.doc_id, r.epoch): r.tokens_taken for r in rows}
    assert len(rows) == len(got), "duplicate (doc, epoch) occurrence"
    assert got == expected
    # coordinates: shard from the md5 key; pos contiguous per (epoch, shard)
    by_cell = defaultdict(list)
    for r in rows:
        assert r.shard == _shard_py(_mix_key_py(r.epoch, r.doc_id))
        by_cell[(r.epoch, r.shard)].append(r.pos)
    for cell, poss in by_cell.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), cell


def test_interleave_partial_pass_token_budget(spark, sf_dir):
    """Per source: the partial pass never exceeds partial_tokens, and
    the only shortfall is quota stranded in supply-starved shards."""
    plan = {r.source: r for r in source_epoch_plan(spark, sf_dir).collect()}
    rows = mixture_epoch_interleave(spark, sf_dir).collect()
    partial_taken = defaultdict(int)
    full_rows = defaultdict(int)
    for r in rows:
        p = plan[r.source]
        if r.epoch == p.n_full_epochs:
            partial_taken[r.source] += r.tokens_taken
        else:
            assert r.epoch < p.n_full_epochs
            full_rows[r.source] += 1
    for src, p in plan.items():
        assert full_rows[src] == p.n_docs * p.n_full_epochs
        assert 0 <= partial_taken[src] <= p.partial_tokens
