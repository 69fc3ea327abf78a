"""Prefix-filter set-similarity join: completeness is structural, not
fixture luck — these tests pin the lemma's moving parts."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from ssafynews_data_spark.operators import setjoin
from ssafynews_data_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    _doc_shingles,
    ngram_jaccard_pairs,
)


def test_prefix_lengths_follow_lemma(spark, sf_dir):
    sh = _doc_shingles(spark, sf_dir)
    pref = setjoin.prefix_rows(sh, JACCARD_THRESHOLD)
    got = {r.doc_id: r.cnt for r in pref.groupBy("doc_id").agg(F.count("*").alias("cnt")).collect()}
    sizes = {r.doc_id: r.n for r in sh.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    for doc_id, n in sizes.items():
        expect = n - math.ceil(JACCARD_THRESHOLD * n) + 1
        assert got.get(doc_id, 0) == expect, (doc_id, n)


def test_matches_exact_pairs(spark, sf_dir):
    """The whole point: verified prefix-filter candidates EQUAL the
    exact quadratic join's output."""
    got = {
        (r.doc_a, r.doc_b, r.jaccard_q4)
        for r in setjoin.prefix_filter_jaccard_pairs(spark, sf_dir).collect()
    }
    exact = {
        (r.doc_a, r.doc_b, r.jaccard_q4)
        for r in ngram_jaccard_pairs(spark, sf_dir).collect()
    }
    assert got == exact


def test_prefix_join_is_smaller_than_full_join(spark, sf_dir):
    """Candidate economy: the prefix join must touch fewer rows than
    the all-shingles self-join would."""
    sh = _doc_shingles(spark, sf_dir)
    pref = setjoin.prefix_rows(sh, JACCARD_THRESHOLD)
    assert pref.count() < sh.count()


# ---------------------------------------------------------------------------
# Ed-Join (edit_distance_pairs)
# ---------------------------------------------------------------------------


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _brute(keys: dict[int, str], k: int) -> set[tuple[int, int, int]]:
    ids = sorted(keys)
    out = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = _lev(keys[a], keys[b])
            if d <= k:
                out.add((a, b, d))
    return out


def test_edjoin_matches_bruteforce_on_fixture(spark, sf_dir):
    """Engine output == quadratic DP over the same keys (the property
    the DuckDB oracle hash-checks at the driver, re-proven locally)."""
    keys = {
        r.doc_id: r.key for r in setjoin._edjoin_keys(spark, sf_dir).collect()
    }
    got = {
        (r.doc_a, r.doc_b, r.edit_dist)
        for r in setjoin.edit_distance_pairs(spark, sf_dir).collect()
    }
    assert got == _brute(keys, setjoin.EDIT_DISTANCE_MAX)


def test_edjoin_degenerate_small_block(spark):
    """Keys with < q·k+1 distinct grams (repetitive or tiny, incl. the
    empty string) are exactly the pairs the prefix lemma can't see; the
    guarded small×small block must still find them all."""
    corpus = {
        1: "aaaaaaaaaaaa",  # 1 distinct trigram
        2: "aaaaaaaaaaab",  # ed 1 from doc 1, 3 distinct trigrams
        3: "ab",            # shorter than q: zero grams
        4: "ba",            # ed 2 from doc 3
        5: "",              # empty key
        6: "zz",            # ed 2 from doc 5
        # one "normal" key so small and large docs coexist
        7: "the quick brown fox jumps over the lazy dog once more",
        8: "the quick brown fox jumps over the lazy dog once mare",  # ed 1
    }
    df = spark.createDataFrame(
        [(i, s) for i, s in corpus.items()], "doc_id long, key string"
    )
    got = {
        (r.doc_a, r.doc_b, r.edit_dist)
        for r in setjoin.edjoin_pairs(df).collect()
    }
    expect = _brute(corpus, setjoin.EDIT_DISTANCE_MAX)
    assert got == expect
    assert (1, 2, 1) in got and (3, 4, 2) in got and (7, 8, 1) in got


def test_edjoin_randomized_completeness(spark):
    """Adversarial random corpora over a 3-letter alphabet (maximally
    colliding grams, many borderline distances): engine == DP brute
    force for several k."""
    import random

    rng = random.Random(20260815)
    alphabet = "abc"
    corpus = {}
    base = "".join(rng.choice(alphabet) for _ in range(30))
    for i in range(40):
        s = list(base)
        for _ in range(rng.randrange(0, 8)):
            op = rng.randrange(3)
            p = rng.randrange(len(s)) if s else 0
            if op == 0 and s:
                s[p] = rng.choice(alphabet)
            elif op == 1:
                s.insert(p, rng.choice(alphabet))
            elif s:
                del s[p]
        corpus[i] = "".join(s)
    df = spark.createDataFrame(
        list(corpus.items()), "doc_id long, key string"
    )
    for k in (1, 3):
        got = {
            (r.doc_a, r.doc_b, r.edit_dist)
            for r in setjoin.edjoin_pairs(df, k=k).collect()
        }
        assert got == _brute(corpus, k), f"k={k}"


def test_edjoin_small_block_cap_raises(spark, monkeypatch):
    monkeypatch.setattr(setjoin, "EDJOIN_SMALL_MAX_DOCS", 3)
    df = spark.createDataFrame(
        [(i, "xy") for i in range(10)], "doc_id long, key string"
    )
    import pytest

    with pytest.raises(ValueError, match="degenerate all-pairs block"):
        setjoin.edjoin_pairs(df).collect()


def test_edjoin_signature_economy(spark, sf_dir):
    """Candidate-side economy — the whole scale argument: both
    signature sides are a CONSTANT number of rows per document
    (chunks: exactly k+1; probes: <= (k+1)(2k+1)² before dedup),
    so the candidate join shuffles O(rows) at any corpus size."""
    k = setjoin.EDIT_DISTANCE_MAX
    keys = setjoin._edjoin_keys(spark, sf_dir)
    n_docs = keys.count()
    chunks = setjoin._chunk_rows(keys, k)
    per_doc = {r.doc_a: r.n for r in chunks.groupBy("doc_a").agg(
        F.count("*").alias("n")).collect()}
    assert all(n == k + 1 for n in per_doc.values())
    probes = setjoin._probe_rows(keys, k, setjoin.EDJOIN_KEY_CHARS)
    assert probes.count() <= n_docs * (k + 1) * (2 * k + 1) ** 2


def test_edjoin_keys_longer_than_module_cap(spark):
    """Completeness must not depend on EDJOIN_KEY_CHARS: the public
    helper accepts any (doc_id, key) frame, so the probe-side length
    enumeration has to reach the frame's true max key length.  Before
    the fix, two identical 70-char keys were silently missed (the La
    window [66, 74] ∩ [5, 64] is empty)."""
    long_key = "the quick brown fox jumps over the lazy dog and keeps on running!"
    assert len(long_key) > setjoin.EDJOIN_KEY_CHARS
    corpus = {
        1: long_key,
        2: long_key,                      # ed 0, both sides > module cap
        3: long_key[:-1] + "?",           # ed 1 from 1/2
        4: "something entirely different that also exceeds the module cap!!!!!",
    }
    df = spark.createDataFrame(
        list(corpus.items()), "doc_id long, key string"
    )
    got = {
        (r.doc_a, r.doc_b, r.edit_dist)
        for r in setjoin.edjoin_pairs(df).collect()
    }
    assert got == _brute(corpus, setjoin.EDIT_DISTANCE_MAX)
    assert (1, 2, 0) in got and (1, 3, 1) in got


def test_edjoin_explicit_max_len_skips_discovery_job(spark):
    """ADVICE r9: callers with a known key-length cap pass ``max_len``
    and the builder skips the eager max(length) discovery job (the
    degenerate-block count guard remains — blessed as shipped); an
    over-estimated cap is safe (extra probe rows join to nothing)."""
    corpus = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "the quick brown fox jumps over the lazy cog",  # ed 1
        3: "completely unrelated sentence about spark plans",
    }
    df = spark.createDataFrame(list(corpus.items()), "doc_id long, key string")

    sc = spark.sparkContext

    def jobs_of(phase: str, build):
        # each phase's jobs under its own job group: the ungrouped job
        # list is trimmed by spark.ui.retainedJobs in a long session,
        # so a before/after difference of it can go negative
        group = f"edjoin_max_len_{phase}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            plan = build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return plan, len(sc.statusTracker().getJobIdsForGroup(group))

    # an over-estimated cap, then the call that runs the max() pass
    plan_explicit, explicit_jobs = jobs_of(
        "explicit", lambda: setjoin.edjoin_pairs(df, max_len=128)
    )
    plan_discovery, discovery_jobs = jobs_of(
        "discovery", lambda: setjoin.edjoin_pairs(df)
    )

    assert explicit_jobs < discovery_jobs, (
        f"explicit max_len must skip the discovery job "
        f"({explicit_jobs} vs {discovery_jobs})"
    )

    expected = _brute(corpus, setjoin.EDIT_DISTANCE_MAX)
    for plan in (plan_explicit, plan_discovery):
        got = {(r.doc_a, r.doc_b, r.edit_dist) for r in plan.collect()}
        assert got == expected
