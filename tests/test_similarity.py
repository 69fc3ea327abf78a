"""Similarity-search invariants: ANN variants vs the exact baseline."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ssafynews_data_spark.operators import similarity


def _topk_sets(df):
    out: dict[int, set[int]] = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def test_exact_topk_shape(spark, sf_dir):
    df = similarity.cosine_topk(spark, sf_dir)
    rows = df.collect()
    assert len(rows) == similarity.N_QUERIES * similarity.TOP_K
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        sims = [r.sim for r in sorted(rs, key=lambda r: r.rank)]
        assert sims == sorted(sims, reverse=True)
        assert all(r.neighbor_id != q for r in rs)


def test_exact_rank_orders_by_raw_cosine(spark):
    """The one exact-rank step ranks by the RAW cosine and rounds only
    the emitted sim: two candidates that tie at 4 places on the rank-5/6
    boundary keep the higher-cosine one, even when it has the higher id
    (cosine_topk's DuckDB oracle orders by the raw double, then id)."""
    import math

    def at(c: float) -> list[float]:  # unit vector at cosine c to e0
        return [c, math.sqrt(1.0 - c * c)]

    sims = {1: 0.9, 2: 0.8, 3: 0.7, 4: 0.6, 5: 0.300001, 6: 0.300004}
    cand = spark.createDataFrame(
        [(0, n, [1.0, 0.0], at(c)) for n, c in sims.items()],
        "query_id long, neighbor_id long, emb_q array<double>, emb_n array<double>",
    )
    rows = {r.rank: r for r in similarity._exact_rerank_topk(cand).collect()}
    assert sorted(rows) == list(range(1, similarity.TOP_K + 1))
    assert rows[5].neighbor_id == 6, "the larger raw cosine must win the 4-place tie"
    assert rows[5].sim == 0.3
    assert [rows[k].neighbor_id for k in range(1, 5)] == [1, 2, 3, 4]


def test_lsh_recall_vs_exact(spark, sf_dir):
    exact = _topk_sets(similarity.cosine_topk(spark, sf_dir))
    approx = _topk_sets(similarity.ann_lsh_topk(spark, sf_dir))
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.6, (hits, total)


def test_ivf_recall_vs_exact(spark, sf_dir):
    exact = _topk_sets(similarity.cosine_topk(spark, sf_dir))
    approx = _topk_sets(similarity.ann_ivf_topk(spark, sf_dir))
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.4, (hits, total)


def test_near_dup_pairs_ordered(spark, sf_dir):
    rows = similarity.embedding_near_dup(spark, sf_dir).collect()
    assert rows, "threshold should catch within-blob pairs"
    assert all(r.id_a < r.id_b for r in rows)
    assert all(r.cos_sim >= similarity.NEAR_DUP_COS for r in rows)


def test_exact_pairs_computes_each_cosine_once(monkeypatch):
    """The exact kernel's blocks cover the upper triangle once: over
    n = 5,000 id-sorted rows, every block of ``_triangle_cuts`` paired
    with the rows after it computes at most n²/2 cosine elements plus
    the diagonal tiles' other halves (n · PAIR_TILE / 2), where a
    block paired with the whole corpus computes n².  The blocks emit
    exactly the pairs of one all-pairs mask, bit for bit."""
    import numpy as np

    n = 5_000
    rng = np.random.default_rng(7)
    M = rng.standard_normal((n, 8))
    M[n // 2 :] = M[: n - n // 2] + 0.2 * rng.standard_normal((n - n // 2, 8))
    ids = np.arange(n, dtype=np.int64) * 3
    ref = {
        (ids[i], ids[j]): c
        for ii, jj, cs in similarity._near_pairs(ids, M, ids, M, 0.9)
        for i, j, c in zip(ii, jj, cs)
    }
    assert len(ref) > 1000
    computed = []
    cosine = similarity._cosine_matrix
    monkeypatch.setattr(
        similarity, "_cosine_matrix",
        lambda A, B: computed.append(len(A) * len(B)) or cosine(A, B),
    )
    for parts in (1, 2, 3, 4):
        computed.clear()
        cuts = similarity._triangle_cuts(n, parts)
        got = {
            (ids[i], ids[j]): c
            for k in range(parts)
            for ii, jj, cs in similarity._triangle_block(ids, M, cuts[k], cuts[k + 1], 0.9)
            for i, j, c in zip(ii, jj, cs)
        }
        assert got == ref, parts
        assert sum(computed) <= n * n / 2 + n * similarity.PAIR_TILE / 2, (parts, sum(computed))


def test_near_dup_guard_rejects_large_corpus(spark, sf_dir, monkeypatch):
    """The exact verify form materializes the corpus on the driver; above
    the cap it must refuse loudly (pointing at near_dup_auto), not OOM."""
    import pytest

    monkeypatch.setattr(similarity, "EXACT_NEAR_DUP_MAX_ROWS", 10)
    with pytest.raises(ValueError, match="near_dup_auto"):
        similarity.embedding_near_dup(spark, sf_dir)


def test_router_never_exceeds_exact_hard_cap(spark, sf_dir, monkeypatch):
    """The ONE shared cap (VERDICT r6 item 5): even a caller demanding
    the exact branch (exact_limit=maxint) is clamped to
    EXACT_NEAR_DUP_MAX_ROWS — above it the router must take the SRP-LSH
    plan (band posexplode + one grouped verify per (band, key) bucket),
    never a quadratic join."""
    corpus = similarity._corpus(spark, sf_dir)
    assert similarity.EXACT_NEAR_DUP_ROUTE_ROWS <= similarity.EXACT_NEAR_DUP_MAX_ROWS
    monkeypatch.setattr(similarity, "EXACT_NEAR_DUP_MAX_ROWS", 10)
    routed = similarity.near_dup_auto(corpus, exact_limit=2_000_000_000)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan


def _plan_nodes(plan):
    """Every node of an executed plan, through its adaptive and query
    stages (not into cached relations)."""
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            stack.append(node.plan())
        else:
            yield node
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))


def test_lsh_near_dup_emits_pairs_in_proportion_to_its_output(spark, sf_dir):
    """At sf0.1 the LSH branch produces pairs only inside the (band,
    key) buckets, once each: the rows of every pair-producing node (a
    join or a Python map) stay within 3x the emitted pairs, and no join
    runs on the band keys.  A banded self-join emits ~1.4M candidate
    rows here for 3,799 pairs."""
    import os

    df = similarity.near_dup_lsh_verified(spark, os.path.join(os.path.dirname(sf_dir), "sf0.1"))
    n_pairs = len(df.collect())
    produced, band_joins = [], []
    for node in _plan_nodes(df._jdf.queryExecution().executedPlan()):
        name = node.nodeName()
        if "Join" not in name and "InPandas" not in name:
            continue
        # a Python node counts its rows as the ones it hands back
        for metric in ("numOutputRows", "pythonNumRowsReceived"):
            rows = node.metrics().get(metric)
            if rows.isDefined():
                produced.append((name, rows.get().value()))
        if "Join" in name and "_band" in node.toString():
            band_joins.append(node.toString())
    assert n_pairs > 0 and produced
    assert max(r for _, r in produced) <= 3 * n_pairs, (n_pairs, produced)
    assert not band_joins, band_joins


_DIM = 6
_vectors = st.lists(st.floats(-1.0, 1.0), min_size=_DIM, max_size=_DIM)


@given(
    base=st.lists(_vectors, min_size=2, max_size=12),
    twin=_vectors.filter(lambda v: sum(x * x for x in v) > 1e-2),
)
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_near_dup_entry_points_agree_on_degenerate_vectors(spark, tmp_path_factory, base, twin):
    """``embedding_near_dup`` and both ``near_dup_auto`` branches give
    the documented result on a corpus holding a zero vector, a NaN
    vector and a duplicate vector: the duplicate pair is emitted, the
    zero and NaN vectors are never paired, the exact forms agree pair
    for pair and the LSH branch emits a subset of them."""
    import math

    from ssafynews_data_spark.schemas import TESTDATA_SCHEMAS

    zero, nan, dup_a, dup_b = 100, 101, 102, 103
    vecs = {i: v for i, v in enumerate(base)}
    vecs.update({zero: [0.0] * _DIM, nan: [math.nan] + [0.5] * (_DIM - 1), dup_a: twin, dup_b: twin})
    d = tmp_path_factory.mktemp("degenerate")
    spark.createDataFrame(
        [(i, v, i % 3) for i, v in vecs.items()], TESTDATA_SCHEMAS["embeddings"]
    ).coalesce(1).write.parquet(str(d / "embeddings.parquet"))
    corpus = similarity._corpus(spark, str(d))

    def pairs(df):
        return {(r.id_a, r.id_b): r.cos_sim for r in df.collect()}

    gemm = pairs(similarity.embedding_near_dup(spark, str(d)))
    exact = pairs(similarity.near_dup_auto(corpus, exact_limit=10**9))
    lsh = pairs(similarity.near_dup_auto(corpus, exact_limit=0))
    assert gemm == exact
    assert lsh.items() <= exact.items()
    for got in (gemm, exact, lsh):
        assert (dup_a, dup_b) in got
        assert not {zero, nan} & {i for pair in got for i in pair}


def test_ivfpq_recall_and_pruned_read(spark, sf_dir, tmp_path):
    """IVF-PQ composite: recall@k vs exact must clear the contract
    floor, the codes index must be centroid-partitioned with ONLY
    (vec_id, codes) payload (PQ_M small ints, not vectors), and the
    probe read must reach the scan as PartitionFilters."""
    from pyspark.sql import functions as F

    corpus = similarity._corpus(spark, sf_dir)
    path = str(tmp_path / "ivfpq")
    out = similarity._build_serve(spark, corpus, path, "ivfpq")
    approx = _topk_sets(out)
    exact = _topk_sets(similarity.cosine_topk(spark, sf_dir))
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert hits * 100 >= total * similarity.IVFPQ_RECALL_MIN_PCT, (hits, total)

    back = spark.read.parquet(path)
    assert set(back.columns) == {"vec_id", "codes", "centroid"}
    row = back.first()
    assert len(row.codes) == similarity.PQ_M
    assert all(0 <= c < similarity.PQ_K for c in row.codes)
    probe = back.filter(F.col("centroid").isin([0, 1]))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "centroid" in pf  # pruning predicate reached the scan

    # the r8 flat companion (inverted-list raw vectors for the refine
    # step) must be centroid-partitioned and prune identically — serve
    # never scans the corpus
    flat = spark.read.parquet(path + "_flat")
    assert set(flat.columns) == {"vec_id", "emb", "centroid"}
    fprobe = flat.filter(F.col("centroid").isin([0, 1]))
    fplan = fprobe._jdf.queryExecution().executedPlan().toString()
    fpf = fplan.split("PartitionFilters: [")[1].split("]")[0]
    assert "centroid" in fpf


def test_ivfpq_contract_row(spark, sf_dir):
    r = similarity.ivfpq_recall_contract(spark, sf_dir).collect()[0]
    assert r.recall_ok
    # the residual-encoding guarantee: quantized serving keeps >=95% of
    # flat IVF's hits on the same probes, independent of embedding draw
    assert r.retention_ok
    assert r.n_queries == similarity.N_QUERIES
    assert r.n_exact_rows == similarity.N_QUERIES * similarity.TOP_K


def test_semantic_dedup_keepers_have_no_smaller_dup_in_cluster(spark, sf_dir):
    """A kept vector may not have a smaller-id kept neighbor >= eps in
    its own cluster; every dropped vector must have SOME smaller-id
    in-cluster neighbor >= eps (greedy keep-lowest-id semantics)."""
    from pyspark.sql import functions as F

    out = similarity.semantic_dedup(spark, sf_dir)
    kept = {r.vec_id: r.centroid for r in out.collect()}
    assert kept

    # rebuild the same clustering (the one coarse fit) and the exact
    # pair set independently of the grouped-map GEMM
    assigned, _ = similarity._ivf_fit(
        similarity._corpus(spark, sf_dir), k=similarity.SEMDEDUP_K
    )
    a = assigned.select("centroid", F.col("vec_id").alias("id_a"), F.col("emb").alias("emb_a"))
    b = assigned.select("centroid", F.col("vec_id").alias("id_b"), F.col("emb").alias("emb_b"))
    pairs = [
        (r.id_a, r.id_b)
        for r in a.join(b, "centroid")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            similarity.cosine(F.col("emb_a"), F.col("emb_b")) >= similarity.SEMDEDUP_EPS
        )
        .select("id_a", "id_b")
        .collect()
    ]
    all_ids = {r.vec_id for r in assigned.select("vec_id").collect()}
    dropped = all_ids - set(kept)
    assert dropped, "fixture blobs should contain in-cluster near-dups"
    has_smaller = {ib for (ia, ib) in pairs}
    for d in dropped:
        assert d in has_smaller
    for ia, ib in pairs:
        # both endpoints kept would violate the dedup contract
        assert not (ia in kept and ib in kept)


def test_capped_clusters_respect_cap(spark, sf_dir):
    """With a small cap, every cluster ends at or under the cap (up to
    max_depth), the hierarchy labels nest properly, and no vector is
    lost or duplicated."""
    corpus = similarity._corpus(spark, sf_dir)
    n_total = corpus.count()
    out = similarity.assign_capped_clusters(corpus, k=4, cap=60, max_depth=4)
    rows = out.select("vec_id", "cluster").collect()
    assert len(rows) == n_total
    assert len({r.vec_id for r in rows}) == n_total
    from collections import Counter

    sizes = Counter(r.cluster for r in rows)
    assert max(sizes.values()) <= 60
    # hierarchy labels: child labels extend a parent path with "/"
    assert any("/" in c for c in sizes), "cap should force at least one split"


def test_ivf_fit_is_row_order_free(spark, sf_dir):
    """The coarse fit trains on a sample chosen by a hash of the id, so a
    repartitioned corpus gives bit-identical centres and the same cell
    for every vector."""
    import numpy as np

    corpus = similarity._corpus(spark, sf_dir)
    a1, c1 = similarity._ivf_fit(corpus)
    a2, c2 = similarity._ivf_fit(corpus.repartition(7))
    assert np.array_equal(c1, c2)

    def cells(a):
        return sorted((r.vec_id, r.centroid) for r in a.select("vec_id", "centroid").collect())

    assert cells(a1) == cells(a2)


@pytest.mark.parametrize(
    "bad",
    [
        None,
        [0.5] * 7,
        [0.5] * 9,
        [0.5] * 7 + [None],
        [0.5] * 7 + [float("nan")],
        [0.5] * 7 + [float("inf")],
        [float("-inf")] + [0.5] * 7,
    ],
    ids=["null", "short", "long", "null_elem", "nan", "inf", "neg_inf"],
)
def test_ivf_assign_rejects_bad_vectors(spark, bad):
    """A vector assigned to the frozen cells (the append delta, or a
    corpus row outside the fit sample) or PQ-encoded with frozen
    codebooks that is NULL, holds a NULL or non-finite element or has
    the wrong dimension is an error, not a row written under a cell or
    code that hides it (by distance alone, a NaN or Inf vector would
    land in cell 0)."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    rows = [(i, [float(i + j) / 8.0 for j in range(8)]) for i in range(30)]
    schema = "vec_id long, emb array<double>"
    fit_on = spark.createDataFrame(rows, schema)
    delta = spark.createDataFrame([(100, [0.25] * 8), (101, bad)], schema)
    assigned, _ = similarity._ivf_fit(fit_on, delta)
    encoded = similarity._nearest(delta, similarity._pq_codebooks(fit_on))
    for out in (assigned, encoded):
        with pytest.raises((Py4JJavaError, PySparkException)):
            out.collect()


def test_pq_codes_match_numpy_nearest_codeword(spark):
    """PQ codes equal a numpy nearest-codeword reference (the first
    argmin of the squared distance, summed in the same order) on random
    vectors, with codebooks that repeat codewords: every vector nearest
    a repeated codeword ties exactly and must take the lower id."""
    import numpy as np

    rng = np.random.default_rng(7)
    M, K, sub = 4, 6, 3
    books = rng.normal(size=(M, K, sub))
    books[0, 4] = books[0, 1]  # surplus codewords repeating earlier ones
    books[2, 5] = books[2, 0]
    books[3, 3] = books[3, 2]
    X = rng.normal(size=(200, M * sub))
    X[:10, :sub] = books[0, 1] + rng.normal(scale=1e-3, size=(10, sub))
    X[10, 2 * sub : 3 * sub] = books[2, 0]  # exactly on a repeated codeword
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(X)], "vec_id long, emb array<double>"
    )
    got = {r.vec_id: list(r.codes) for r in similarity._nearest(df, books).collect()}

    def d2(x, c) -> float:
        return sum((float(a) - float(b)) * (float(a) - float(b)) for a, b in zip(x, c))

    want = {
        i: [int(np.argmin([d2(v[m * sub : (m + 1) * sub], c) for c in books[m]])) for m in range(M)]
        for i, v in enumerate(X)
    }
    assert got == want
    assert all(got[i][0] == 1 for i in range(10)) and got[10][2] == 0
    # the later id of a repeated codeword is never chosen
    assert all(c[0] != 4 and c[2] != 5 and c[3] != 3 for c in got.values())


def test_flat_pq_rejects_non_finite_vector(spark):
    """Flat PQ runs the one PQ codebook fit, which rejects a NaN sample
    element up front instead of fitting codebooks that hand every vector
    the same code in that subspace."""
    corpus = spark.createDataFrame(_rows_with_nan(), "vec_id long, emb array<double>")
    with pytest.raises(ValueError, match=r"PQ\(8x16\) codebook fit: non-finite emb\[\d+\]\[3\]"):
        similarity.ann_pq_topk_frame(spark, corpus)


def _rows_with_nan() -> list:
    """30 (vec_id, 8-dim vector) rows; vector 7 holds a NaN at index 3."""
    import math

    rows = [(i, [float(i + j) / 8.0 for j in range(8)]) for i in range(30)]
    rows[7][1][3] = math.nan
    return rows


def test_ivf_build_rejects_empty_corpus(spark, tmp_path):
    """No vectors to fit is a ValueError naming the fit, not an index
    built over nothing."""
    empty = spark.createDataFrame([], "vec_id long, emb array<double>")
    with pytest.raises(ValueError, match=r"k-means\(8\) coarse fit: no emb vectors"):
        similarity._build_index(spark, empty, str(tmp_path / "empty"), "ivfpq")


def test_ivfpq_build_rejects_non_finite_vector(spark, tmp_path):
    """One NaN component in the fit sample is a ValueError naming the fit
    and the element."""
    corpus = spark.createDataFrame(_rows_with_nan(), "vec_id long, emb array<double>")
    with pytest.raises(ValueError, match=r"k-means\(8\) coarse fit: non-finite emb\[\d+\]\[3\]"):
        similarity.ivfpq_build_index(spark, corpus, str(tmp_path / "nan"))


def test_semantic_dedup_rejects_non_finite_vector(spark, tmp_path):
    """``semantic_dedup`` runs the same coarse fit, so a NaN embedding in
    the fixture fails the same way."""
    from ssafynews_data_spark.schemas import TESTDATA_SCHEMAS

    d = tmp_path / "nan_sf"
    rows = [(i, v, i % 3) for i, v in _rows_with_nan()]
    spark.createDataFrame(rows, TESTDATA_SCHEMAS["embeddings"]).coalesce(1).write.parquet(
        str(d / "embeddings.parquet")
    )
    with pytest.raises(ValueError, match=r"k-means\(8\) coarse fit: non-finite emb\[\d+\]\[3\]"):
        similarity.semantic_dedup(spark, str(d))


@pytest.mark.parametrize("n", [1, 3])
def test_semantic_dedup_keeps_one_member_clusters(spark, tmp_path, n):
    """Fewer vectors than SEMDEDUP_K: every cluster holds one vector,
    whose only pair tile holds no pair and is skipped.  Each vector is
    kept with a drop count of 0, and the contract accounts for all."""
    from ssafynews_data_spark.schemas import TESTDATA_SCHEMAS

    d = tmp_path / f"one_member_sf{n}"
    rows = [(i, [float(j == i) for j in range(8)], i % 3) for i in range(n)]
    spark.createDataFrame(rows, TESTDATA_SCHEMAS["embeddings"]).coalesce(1).write.parquet(
        str(d / "embeddings.parquet")
    )
    out = similarity.semantic_dedup(spark, str(d)).collect()
    assert sorted(r.vec_id for r in out) == list(range(n))
    assert len({r.centroid for r in out}) == n
    assert all(r.n_dropped_in_cluster == 0 for r in out)
    r = similarity.semantic_dedup_contract(spark, str(d)).collect()[0]
    assert (r.n_total, r.n_accounted, r.orphan_drops, r.both_kept_incluster_pairs) == (n, n, 0, 0)


@pytest.mark.parametrize("kind", ["ivf", "ivfpq", "ivfsq8"])
def test_ivf_kinds_build_and_serve_below_ivf_k(spark, tmp_path, kind):
    """Fewer vectors than IVF_K: the fit still returns IVF_K centroids,
    the surplus ones repeat sample rows and stay empty (ties go to the
    lowest id), and a full-probe serve finds every other vector."""
    import math

    import numpy as np

    n = 5
    rows = [(i, [math.cos(7.0 * i + j) for j in range(8)]) for i in range(n)]
    corpus = spark.createDataFrame(rows, "vec_id long, emb array<double>")
    path = str(tmp_path / kind)
    state = similarity._build_index(spark, corpus, path, kind)
    C = state["center"]
    assert C.shape == (similarity.IVF_K, 8)
    X = np.array([v for _, v in rows])
    assert all(any(np.array_equal(c, x) for x in X) for c in C[n:])
    flat = spark.read.parquet(path + "_flat")
    assert {r.centroid for r in flat.select("centroid").distinct().collect()} == set(range(n))
    out = similarity._serve(spark, path, kind, state, rows, nprobe=similarity.IVF_K)
    got = {(r.query_id, r.neighbor_id) for r in out.collect()}
    assert got == {(q, m) for q in range(n) for m in range(n) if q != m}


def test_contract_queries_hold(spark, sf_dir):
    """The driver-facing contract frames must report their guarantees as
    satisfied on the fixture (the driver hash-checks the same facts
    against DuckDB; this pins them in-repo)."""
    from ssafynews_data_spark.operators import vectors

    r = similarity.ann_lsh_recall_contract(spark, sf_dir).collect()[0]
    assert r.recall_ok and r.n_exact_rows == r.n_queries * similarity.TOP_K
    r = similarity.ann_ivf_recall_contract(spark, sf_dir).collect()[0]
    assert r.recall_ok
    r = similarity.semantic_dedup_contract(spark, sf_dir).collect()[0]
    assert r.orphan_drops == 0
    assert r.both_kept_incluster_pairs == 0
    assert r.n_accounted == r.n_total
    r = vectors.pca_kmeans_summary(spark, sf_dir).collect()[0]
    assert r.cluster_min == 0 and r.cluster_max == r.n_clusters - 1
    assert r.n_pc_complete == r.n_rows


def test_near_dup_lsh_verified_containment_and_recall(spark, sf_dir):
    """The benched LSH headline must emit a SUBSET of the exact pair set
    (every emitted pair is exact-verified) with recall >= 0.8, and the
    oracle twin (exact_limit=2500) must equal the exact set."""
    exact = {
        (r.id_a, r.id_b): r.cos_sim
        for r in similarity.near_dup_auto_pairs(spark, sf_dir).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.cos_sim
        for r in similarity.near_dup_lsh_verified(spark, sf_dir).collect()
    }
    assert exact
    assert set(lsh) <= set(exact)
    for pair, sim in lsh.items():
        assert sim == exact[pair]
    assert len(lsh) / len(exact) >= 0.8, (len(lsh), len(exact))


def test_pq_recall_vs_exact(spark, sf_dir):
    """PQ-ANN (codes + ADC + exact re-rank) must keep the contract
    floor's aggregate recall against exact top-k, and its output must
    be well-formed per query (<= TOP_K rows, exact sims, rank order)."""
    exact = _topk_sets(similarity.cosine_topk(spark, sf_dir))
    rows = similarity.ann_pq_topk(spark, sf_dir).collect()
    approx = {}
    for r in rows:
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
        assert 1 <= r.rank <= similarity.TOP_K
        assert r.neighbor_id != r.query_id
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= similarity.PQ_RECALL_MIN_PCT / 100, (hits, total)
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        assert len(rs) <= similarity.TOP_K
        sims = [r.sim for r in sorted(rs, key=lambda r: r.rank)]
        assert sims == sorted(sims, reverse=True)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_adc_matches_numpy_reference(spark, sf_dir):
    """Flat ADC is exact over its lookup tables: Spark's broadcast-row
    scoring must produce the SAME (query_id, neighbor_id, adc_sim) rows
    as the numpy ADC over the same tables in the same accumulation
    order (bit-identical, not approx), and the tables must reach the
    plan as ONE broadcast row, never as plan literals."""
    import numpy as np
    from pyspark.sql import functions as F

    corpus = similarity.pin(similarity._corpus(spark, sf_dir))
    qrows = sorted(
        corpus.filter(F.col("vec_id") < similarity.N_QUERIES)
        .select("vec_id", "emb")
        .collect()
    )
    books = similarity._pq_codebooks(corpus)
    Q = np.stack([np.asarray(r[1], dtype=float) for r in qrows])
    qids = [int(r[0]) for r in qrows]
    qnorm = np.sqrt((Q * Q).sum(1))
    coded = similarity._nearest(corpus, books).select(
        F.col("vec_id").alias("neighbor_id"), "codes"
    )
    scored = similarity._adc_explode(coded, books, Q, qids, qnorm)
    got = sorted((r.query_id, r.neighbor_id, r.adc_sim) for r in scored.collect())
    code_rows = coded.collect()
    want = sorted(
        similarity._adc_reference(
            [r.neighbor_id for r in code_rows],
            np.array([r.codes for r in code_rows]),
            books, Q, qids, qnorm,
        )
    )
    assert got == want  # bit-identical, not approx
    assert len(got) == len(qids) * (len(code_rows) - 1)

    plan = _plan(scored)
    assert "_adc_lut" in plan and "Broadcast" in plan
    assert "_adc_cross" not in plan  # flat: no centroid terms


def test_residual_adc_matches_numpy_reconstruction(spark, sf_dir, tmp_path):
    """Residual-ADC is exact over the RECONSTRUCTION: for every scored
    (query, neighbor) row, adc_sim must equal the numpy cosine between
    the query and center[centroid] + decode(codes) — the cross-term and
    norm bookkeeping of by_residual has no approximation of its own —
    and the centroid-keyed terms reach the plan as the broadcast row."""
    import numpy as np
    from pyspark.sql import functions as F

    corpus = similarity.pin(similarity._corpus(spark, sf_dir).limit(300))
    assigned, centers = similarity._ivf_fit(corpus)
    cells = similarity._residual(assigned, centers, "test")
    books = similarity._pq_codebooks(cells, "res")

    qrows = sorted(
        corpus.filter(F.col("vec_id") < similarity.N_QUERIES)
        .select("vec_id", "emb")
        .collect()
    )
    Q = np.stack([np.asarray(r[1], dtype=float) for r in qrows])
    qids = [int(r[0]) for r in qrows]
    qnorm = np.sqrt((Q * Q).sum(1))

    coded = similarity._nearest(cells, books, "res").select(
        F.col("vec_id").alias("neighbor_id"), "centroid", "codes"
    )
    scored = similarity._adc_explode(coded, books, Q, qids, qnorm, centers)
    plan = _plan(scored)
    assert "_adc_cross" in plan and "Broadcast" in plan
    rows = scored.collect()
    assert rows

    qpos = {q: i for i, q in enumerate(qids)}
    code_rows = {r.neighbor_id: (r.centroid, list(r.codes)) for r in coded.collect()}
    sub = books[0].shape[1]
    checked = 0
    for r in rows[:500]:
        cent, codes = code_rows[r.neighbor_id]
        recon = centers[cent].copy()
        for m, k in enumerate(codes):
            recon[m * sub : (m + 1) * sub] += books[m][k]
        q = Q[qpos[r.query_id]]
        expect = float(q @ recon / (np.linalg.norm(q) * np.linalg.norm(recon)))
        assert abs(r.adc_sim - expect) < 1e-9, (r, expect)
        checked += 1
    assert checked > 0


def test_ivfpq_append_visible_to_serve(spark, sf_dir, tmp_path):
    """Incremental append correctness: a vector appended AFTER the index
    build (a near-copy of an existing one) must be found by the probe
    path — appended rows land in the right centroid partition and serve
    reads them with no re-fit."""
    from pyspark.sql import functions as F

    corpus = similarity.pin(similarity._corpus(spark, sf_dir).limit(300))
    path = str(tmp_path / "ivfpq_append")
    books, centers = similarity.ivfpq_build_index(spark, corpus, path)

    # the appended twin: vec_id 9_000_000, almost identical to vec 0
    twin_src = corpus.filter(F.col("vec_id") == 0).collect()[0].emb
    twin = [float(x) + 1e-4 for x in twin_src]
    delta = spark.createDataFrame(
        [(9_000_000, twin)], "vec_id long, emb array<double>"
    )
    cells = similarity._residual(similarity._ivf_assign(delta, centers), centers, "test")
    similarity._write_codes(cells, path, "ivfpq", {"book": books, "center": centers}, "append")
    similarity._write_store(
        cells.select("vec_id", "emb", "centroid"), path + "_flat", ["centroid"], "append"
    )

    qrows = [(0, list(twin_src))]
    out = similarity.ivfpq_serve(spark, path, books, centers, qrows).collect()
    got = {r.neighbor_id: r.rank for r in out}
    # the twin is ~cos 1.0 with the query: it must be the top neighbor
    assert got.get(9_000_000) == 1, got


def test_ivfpq_meta_roundtrips_serving_state(spark, sf_dir, tmp_path):
    """The persisted quantizer meta (ivfpq_build_index's third file)
    must reload to numerically IDENTICAL codebooks and centroids —
    the cold-start requirement ivfpq_serve_contract certifies
    end-to-end at the serve level."""
    import numpy as np
    from pyspark.sql import functions as F

    corpus = similarity.pin(similarity._corpus(spark, sf_dir).limit(300))
    path = str(tmp_path / "ivfpq_meta_rt")
    books, centers = similarity.ivfpq_build_index(spark, corpus, path)
    books2, centers2 = similarity.ivfpq_load_meta(spark, path)
    assert np.array_equal(centers, centers2)
    assert len(books) == len(books2)
    for b, b2 in zip(books, books2):
        assert np.array_equal(b, b2)


def test_hard_negatives_are_cross_label_and_hardest(spark, sf_dir):
    """Every mined negative has a label different from its anchor's,
    each anchor gets exactly TOP_K rows, and no skipped same-label row
    outranks a kept negative (the 'hard' in hard negative)."""
    from pyspark.sql import functions as F

    out = similarity.hard_negative_mining(spark, sf_dir).collect()
    labels = {
        r.vec_id: r.label
        for r in similarity.load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label")
        .collect()
    }
    by_anchor: dict[int, list] = {}
    for r in out:
        assert labels[r.neighbor_id] != labels[r.anchor_id]
        by_anchor.setdefault(r.anchor_id, []).append(r)
    for a, rs in by_anchor.items():
        assert len(rs) == similarity.TOP_K
        # sim_q4 = round(sim*10000) as integer (the q4 lattice, tie-free
        # cross-engine); rank order is by the raw double, so quantized
        # values are non-increasing (ties possible on the lattice)
        sims = [r.sim_q4 for r in sorted(rs, key=lambda r: r.rank)]
        assert sims == sorted(sims, reverse=True)
        assert all(isinstance(s, int) for s in sims)


def test_isotropy_participation_ratio_bounds(spark, sf_dir):
    """1 <= participation ratio <= d always; the fixture's near-random
    unit vectors should use most of the space (PR well above d/2), and
    trace(G) must equal the vector count (unit norms)."""
    from ssafynews_data_spark.operators import vectors

    r = vectors.embedding_isotropy_stats(spark, sf_dir).collect()[0]
    assert 1.0 <= r.participation_ratio <= vectors.EMB_DIM
    assert r.participation_ratio > vectors.EMB_DIM / 2
    assert abs(r.trace_g - r.n_vectors) < 0.01 * r.n_vectors


def test_opq_fit_invariants(spark, sf_dir):
    """OPQ (Ge et al. 2013) invariants that hold on ANY draw: the
    Procrustes rotation is orthogonal to machine precision, trained
    sample-SSE never exceeds plain PQ's (best-so-far includes the
    R = I iteration), and the contract's booleans are all true."""
    import numpy as np

    corpus = similarity._corpus(spark, sf_dir)
    X = np.stack(
        [np.asarray(r.emb, dtype=float) for r in corpus.limit(600).collect()]
    )
    R, opq_books, plain_books, plain_sse, opq_sse = similarity._opq_fit(X)
    d = X.shape[1]
    assert np.abs(R.T @ R - np.eye(d)).max() < 1e-10
    assert opq_sse <= plain_sse
    assert len(opq_books) == similarity.PQ_M
    assert all(b.shape == (similarity.PQ_K, d // similarity.PQ_M) for b in opq_books)

    row = similarity.opq_rotation_contract(spark, sf_dir).collect()[0]
    assert row.rotation_orthogonal_ok
    assert row.opq_train_sse_le_plain
    assert row.opq_corpus_sse_ok
    assert row.n_vectors == corpus.count()


def test_opq_ivfpq_contract_and_mismatch_detector_fires(spark, sf_dir, tmp_path):
    """The composed OPQ→IVF-PQ contract holds on the fixture, and the
    rotation-preservation detector is NOT vacuous: a deliberately
    non-orthogonal 'rotation' (a projection that zeroes half the
    dimensions) must change the exact top-k sets and be caught."""
    import numpy as np
    from pyspark.sql import functions as F

    row = similarity.opq_ivfpq_serve_contract(spark, sf_dir).collect()[0]
    assert row.rotation_preserves_exact_topk
    assert row.recall_ok
    assert row.n_queries == similarity.N_QUERIES
    assert row.n_exact_rows == similarity.N_QUERIES * similarity.TOP_K

    corpus = similarity._corpus(spark, sf_dir)
    d = len(corpus.first().emb)
    bad = np.eye(d)
    bad[d // 2 :, d // 2 :] = 0.0  # rank-deficient: kills half the space
    broken = corpus.select(
        "vec_id", similarity._rotate_embeddings(bad)(F.col("emb")).alias("emb")
    )
    orig = similarity._exact_topk(corpus, raw=True)
    rot = similarity._exact_topk(broken, raw=True)
    # the PRODUCTION detector (boundary-banded symmetric difference)
    # must fire — a broken rotation perturbs sims at O(1), far beyond
    # the ROTATION_TIE_EPS exclusion band
    n_mismatch = similarity._rotation_mismatches(orig, rot).count()
    assert n_mismatch > 0, "projection must perturb exact top-k sets"
    # and the band must be a no-op on the identity "rotation"
    assert similarity._rotation_mismatches(orig, orig).count() == 0


def test_opq_tie_band_compares_raw_sims(spark, tmp_path, monkeypatch):
    """A rank-5/6 swap far below ROTATION_TIE_EPS is benign round-off,
    and the contract's own wiring must see it so: a crafted corpus
    whose rank-5/6 pair for query 0 is an exact tie (ids 20 and 21, the
    same vector), "rotated" into a twin where id 21 is nudged ~7e-13
    ahead.  Both sides of the tie band must be compared at raw
    precision; a rounded kth sim sits ~4e-5 from the raw one and would
    count the swap as a mismatch."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    d, c5 = 8, 0.523456
    rng = np.random.RandomState(5)
    X = np.zeros((48, d), dtype=np.float32)
    X[:, 1:] = rng.standard_normal((48, d - 1))
    X[:, 0] = 0.05 * rng.standard_normal(48)  # cos to e0 well below c5
    X[0] = np.eye(d)[0]  # query 0
    for j, c in enumerate((0.9, 0.8, 0.7, 0.6)):  # ranks 1-4 of query 0
        X[30 + j] = 0.0
        X[30 + j, 0], X[30 + j, 1 + j] = c, np.sqrt(1 - c * c)
    X[20] = 0.0
    X[20, 0], X[20, d - 1] = c5, np.sqrt(1 - c5 * c5)
    X[21] = X[20]  # exact tie: id 20 ranks 5, id 21 ranks 6
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(48), pa.int64()),
            "embedding": pa.array([list(v) for v in X], pa.list_(pa.float32())),
            "label": pa.array([i % 3 for i in range(48)], pa.int32()),
        }),
        str(tmp_path / "embeddings.parquet"),
    )
    twin = X[21].astype(float)
    twin[0] += 1e-12
    cos = lambda v: float(v[0] / np.sqrt(v @ v))  # noqa: E731
    gap = cos(twin) - cos(X[20].astype(float))
    assert 0 < gap < similarity.ROTATION_TIE_EPS

    def nudge(_R):
        return lambda emb: F.when(
            F.col("vec_id") == 21, F.array(*[F.lit(float(x)) for x in twin])
        ).otherwise(emb)

    monkeypatch.setattr(similarity, "_rotate_embeddings", nudge)
    row = similarity.opq_ivfpq_serve_contract(spark, str(tmp_path)).collect()[0]
    assert row.rotation_preserves_exact_topk
    top = {
        r.rank: r.neighbor_id
        for r in similarity.cosine_topk(spark, str(tmp_path)).collect()
        if r.query_id == 0
    }
    assert top == {1: 30, 2: 31, 3: 32, 4: 33, 5: 20}  # the crafted order


def test_sq8_codec_roundtrip_and_detector_fires(spark, sf_dir, tmp_path):
    """The SQ8 round-to-nearest bound holds for the real codec and the
    corpus-wide bound check is NOT vacuous: a truncating encoder
    (floor instead of round) must violate step/2 and be caught."""
    from pyspark.sql import functions as F

    corpus = similarity._corpus(spark, sf_dir)
    if corpus.isEmpty():
        pytest.skip("empty corpus")
    path = str(tmp_path / "sq8")
    vmin, vmax = similarity.sq8_build_index(spark, corpus, path)
    codes = spark.read.parquet(path)
    assert similarity._sq8_recon_ok(codes, corpus, vmin, vmax)

    # truncating codec: codes systematically one level low for ~half
    # the entries -> reconstruction error up to a full step
    lo, rng = similarity._sq8_lit(vmin), similarity._sq8_lit(vmax - vmin)
    floor_codes = corpus.select(
        "vec_id",
        F.transform(
            F.col("emb"),
            lambda x, i: F.when(
                F.element_at(rng, i + 1) > 0.0,
                F.floor(
                    (x - F.element_at(lo, i + 1))
                    * similarity.SQ_LEVELS
                    / F.element_at(rng, i + 1)
                ).cast("int"),
            ).otherwise(F.lit(0)),
        ).alias("codes"),
    )
    assert not similarity._sq8_recon_ok(floor_codes, corpus, vmin, vmax)


def test_sq8_serve_contract_row(spark, sf_dir):
    row = similarity.sq8_serve_contract(spark, sf_dir).collect()[0]
    assert row.state_roundtrip_ok
    assert row.recon_err_bounded
    assert row.recall_ok
    assert row.n_queries == similarity.N_QUERIES
    assert row.n_exact_rows == similarity.N_QUERIES * similarity.TOP_K


def test_sq8_meta_cold_start_matches_train(spark, sf_dir, tmp_path):
    """The persisted quantizer meta reloads to the exact trained
    arrays (doubles roundtrip parquet bit-exactly)."""
    import numpy as np

    corpus = similarity._corpus(spark, sf_dir)
    if corpus.isEmpty():
        pytest.skip("empty corpus")
    path = str(tmp_path / "sq8meta")
    vmin, vmax = similarity.sq8_build_index(spark, corpus, path)
    vmin2, vmax2 = similarity.sq8_load_meta(spark, path)
    assert np.array_equal(vmin, vmin2)
    assert np.array_equal(vmax, vmax2)


def test_sq8_build_rejects_non_finite_bounds(spark, tmp_path):
    """One NaN embedding component makes an SQ8 bound non-finite; the
    bounds are rendered as SQL literals, which must be finite, so the
    build must fail with a ValueError naming the index kind and the
    bound — not with an error from deep inside the build, or none."""
    corpus = spark.createDataFrame(_rows_with_nan(), "vec_id long, emb array<double>")
    with pytest.raises(ValueError, match=r"sq8 index: non-finite vmax\[3\]"):
        similarity.sq8_build_index(spark, corpus, str(tmp_path / "sq8nan"))


@pytest.mark.parametrize(
    "contract", ["ivfpq_serve_contract", "sq8_serve_contract", "ivf_sq8_serve_contract"]
)
def test_serve_roundtrip_detects_perturbed_state(spark, sf_dir, monkeypatch, contract):
    """The shared build → reload → serve → anti-join body can FAIL: a
    cold-started server whose reloaded state differs from the built one
    in a single double must report state_roundtrip_ok = False."""
    import numpy as np

    q0 = np.asarray(similarity._corpus(spark, sf_dir).filter("vec_id = 0").first().emb)
    read = similarity._read_meta

    def perturbed(spark, path):
        state = read(spark, path)
        if "center" in state:
            # one coordinate of query 0's nearest cell turns NaN: the
            # probe never picks that cell again, so query 0's probed
            # cells (and with them its neighbours) change
            arr = state["center"].copy()
            arr[similarity._probe_cells(arr, q0[None, :], [0])[0][0], 0] = np.nan
            state["center"] = arr
        else:
            # vmin[0] turns NaN: every approximate score is NaN, so the
            # candidate cut no longer follows similarity
            arr = state["sq"].copy()
            arr[0, 0] = np.nan
            state["sq"] = arr
        return state

    monkeypatch.setattr(similarity, "_read_meta", perturbed)
    row = getattr(similarity, contract)(spark, sf_dir).collect()[0]
    assert row.state_roundtrip_ok is False


def test_contrastive_triplet_invariants(spark, sf_dir):
    """Triplets: the positive shares the anchor's label, every negative
    differs, neg ranks are 1..TOP_K dense per anchor, and margin_q4 is
    the exact integer difference."""
    from collections import defaultdict

    labels = {
        r.vec_id: r.label
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "label")
        .collect()
    }
    rows = similarity.contrastive_triplet_mining(spark, sf_dir).collect()
    if not labels:
        assert rows == []
        return
    assert rows
    per_anchor = defaultdict(set)
    for t in rows:
        assert labels[t.positive_id] == labels[t.anchor_id]
        assert labels[t.negative_id] != labels[t.anchor_id]
        assert t.margin_q4 == t.pos_sim_q4 - t.neg_sim_q4
        per_anchor[t.anchor_id].add(t.neg_rank)
    for a, ranks in per_anchor.items():
        assert ranks == set(range(1, len(ranks) + 1))
        assert len(ranks) <= similarity.TOP_K


def test_ivf_sq8_serve_contract_row(spark, sf_dir):
    row = similarity.ivf_sq8_serve_contract(spark, sf_dir).collect()[0]
    assert row.state_roundtrip_ok
    assert row.recon_err_bounded
    assert row.recall_ok
    assert row.retention_ok
    assert row.n_queries == similarity.N_QUERIES
    assert row.n_exact_rows == similarity.N_QUERIES * similarity.TOP_K


def test_ivf_sq8_pruned_reads(spark, sf_dir, tmp_path):
    """The IVF-SQ8 codes and flat tables are centroid-partitioned and a
    probe read prunes to the probed partitions (PartitionFilters), the
    same serving guarantee the IVF-PQ family pins."""
    from pyspark.sql import functions as F

    corpus = similarity._corpus(spark, sf_dir)
    if corpus.isEmpty():
        pytest.skip("empty corpus")
    path = str(tmp_path / "ivfsq8")
    centers, vmin, vmax = similarity.ivfsq8_build_index(spark, corpus, path)
    back = spark.read.parquet(path)
    assert set(back.columns) == {"vec_id", "codes", "centroid"}
    row = back.first()
    assert len(row.codes) == len(vmin)
    assert all(0 <= c <= similarity.SQ_LEVELS for c in row.codes)
    for suffix in ("", "_flat"):
        probe = spark.read.parquet(path + suffix).filter(
            F.col("centroid").isin([0, 1])
        )
        plan = probe._jdf.queryExecution().executedPlan().toString()
        pf = plan.split("PartitionFilters: [")[1].split("]")[0]
        assert "centroid" in pf


@pytest.fixture(scope="module")
def no_query_ids_sf(spark, tmp_path_factory) -> str:
    """Rows but no vec_id < N_QUERIES (a shape tiny reseeds can draw)."""
    from ssafynews_data_spark.schemas import TESTDATA_SCHEMAS

    d = tmp_path_factory.mktemp("noq_sf")
    rows = [
        (similarity.N_QUERIES + i, [float(i + j) / 8.0 for j in range(8)], i % 3)
        for i in range(30)
    ]
    spark.createDataFrame(rows, TESTDATA_SCHEMAS["embeddings"]).coalesce(1).write.parquet(
        str(d / "embeddings.parquet")
    )
    return str(d)


@pytest.mark.parametrize(
    "name",
    [
        "ann_lsh_recall_contract",
        "ann_ivf_recall_contract",
        "pq_ann_recall_contract",
        "ivfpq_recall_contract",
        "opq_ivfpq_serve_contract",
        "sq8_serve_contract",
        "ivf_sq8_serve_contract",
        "ivf_staleness_audit",
        "ivf_recall_curve",
        "ivfpq_index_append",
    ],
)
def test_rows_but_no_query_ids_match_the_oracle(spark, no_query_ids_sf, name):
    """With no query ids the exact top-k is empty: every graded contract
    emits the oracle's vacuous row (counts 0, NULL sim sum, every floor
    TRUE) without touching a meta/flat path it never built, and the
    append contract serves an empty batch as an empty top-k.  Compared
    the way tools/check_oracles.py compares: dtype kinds, then values."""
    import duckdb

    from ssafynews_data_spark.registry import load_all
    from tools.check_oracles import canon, kind_mismatches

    q = load_all()[name]
    got = q.fn(spark, no_query_ids_sf).toPandas()
    con = duckdb.connect()
    emb = f"{no_query_ids_sf}/embeddings.parquet/*.parquet"
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{emb}'")
    want = con.execute(q.oracle).fetchdf()
    assert sorted(got.columns) == sorted(want.columns)
    assert kind_mismatches(got, want) == {}
    assert canon(got) == canon(want)


def test_sq8_sql_twins_match_column_forms(spark):
    """r14 optimization guard: the SQL-string twins (_cosine_sql,
    _sq8_encode_sql, _sq8_dequant_sql, _arr_sql) must produce
    BIT-IDENTICAL doubles/ints to the Column-API forms they replaced on
    the hot construction paths (guide §7.3 — one parse instead of
    hundreds of py4j round-trips).  Exact ==, not approx."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.RandomState(7)
    vecs = [[float(x) for x in rng.uniform(-1.3, 2.7, 16)] for _ in range(40)]
    df = spark.createDataFrame(
        [(i, vecs[i], vecs[(i * 7 + 3) % 40]) for i in range(40)],
        "id long, a array<double>, b array<double>",
    )

    # cosine
    col_rows = df.select("id", similarity.cosine(F.col("a"), F.col("b")).alias("s")).collect()
    sql_rows = df.selectExpr("id", f"{similarity._cosine_sql('a', 'b')} AS s").collect()
    assert sorted((r.id, r.s) for r in col_rows) == sorted((r.id, r.s) for r in sql_rows)

    # encode: Column _sq8_encode vs _sq8_encode_sql on the same bounds
    X = np.array(vecs)
    vmin, vmax = X.min(0), X.max(0)
    vmax[3] = vmin[3]  # one constant dim exercises the ELSE 0 branch
    enc_col = df.select(
        "id", similarity._sq8_encode(vmin, vmax, F.col("a")).alias("c")
    ).collect()
    enc_sql = df.selectExpr(
        "id", f"{similarity._sq8_encode_sql(vmin, vmax, 'a')} AS c"
    ).collect()
    assert sorted((r.id, list(r.c)) for r in enc_col) == sorted(
        (r.id, list(r.c)) for r in enc_sql
    )

    # dequant: Column _sq8_dequant_col vs _sq8_dequant_sql over a coded
    # frame joined with the quantizer const row
    coded = df.selectExpr(
        "id", f"{similarity._sq8_encode_sql(vmin, vmax, 'a')} AS codes"
    ).crossJoin(F.broadcast(similarity._sq8_const_row(spark, vmin, vmax)))
    deq_col = coded.select("id", similarity._sq8_dequant_col().alias("d")).collect()
    deq_sql = coded.selectExpr("id", f"{similarity._sq8_dequant_sql()} AS d").collect()
    assert sorted((r.id, list(r.d)) for r in deq_col) == sorted(
        (r.id, list(r.d)) for r in deq_sql
    )

    # array literals: parsed repr round-trip == F.lit doubles
    mat = np.array(vecs[:3])
    lit_col = df.limit(1).select(
        F.array(*[similarity._sq8_lit(row) for row in mat]).alias("m")
    ).collect()[0].m
    lit_sql = df.limit(1).selectExpr(
        f"{similarity._arr_sql(mat)} AS m"
    ).collect()[0].m
    assert [list(r) for r in lit_col] == [list(r) for r in lit_sql]


@pytest.mark.parametrize(
    "arr",
    [[0.5, float("nan")], [2.0, float("inf")], [[1.0, 2.0], [3.0, float("-inf")]]],
    ids=["nan", "inf", "2d-neg-inf"],
)
def test_arr_sql_rejects_non_finite(arr):
    """A NaN/Inf quantizer constant would poison every row it meets: the
    literal renderer itself must raise the ValueError ``_check_finite``
    raises, so a caller that skips the up-front check still gets a
    clear error, never a silently wrong plan."""
    with pytest.raises(ValueError, match=r"SQL array literal: non-finite element\[1\]"):
        similarity._arr_sql(arr)


def test_arr_sql_round_trips_every_double_and_folds(spark):
    """``_arr_sql`` holds the same bits as the numpy array it renders, at
    every magnitude (subnormals, -0.0, the extremes), and the optimizer
    folds it into one literal: no row re-parses the JSON text."""
    import numpy as np

    rng = np.random.default_rng(11)
    X = rng.normal(size=(3, 4, 8)) * 10.0 ** rng.integers(-300, 300, size=(3, 4, 8))
    X[0, 0, :4] = [-0.0, 5e-324, 1.7976931348623157e308, -2.2250738585072014e-308]
    df = spark.range(1).selectExpr(f"{similarity._arr_sql(X)} AS a")
    got = np.asarray(df.first().a, dtype=float)
    assert np.array_equal(got.view(np.int64), X.view(np.int64))
    assert "from_json" not in df._jdf.queryExecution().optimizedPlan().toString()


def test_probe_cells_orders_like_a_spark_window(spark, sf_dir):
    """``_probe_cells``, the one IVF probe, orders cells exactly as a
    Spark window over (c_sim DESC, centroid) of ``_cosine_sql`` — the
    probe order the serve had before it moved to the driver: the same
    doubles (in-order accumulation), and an exact tie (a duplicated
    centroid) goes to the lower centroid id."""
    import numpy as np
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    qrows = similarity._query_rows(similarity._corpus(spark, sf_dir))
    if not qrows:
        pytest.skip("no query ids")
    Q = np.stack([np.asarray(r.emb, dtype=float) for r in qrows])
    qids = [int(r.vec_id) for r in qrows]
    C = np.random.RandomState(3).standard_normal((similarity.IVF_K, Q.shape[1]))
    C[5] = C[2]  # exact tie for every query: cell 2 must precede cell 5
    q = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in zip(qids, Q)], "query_id long, q_emb array<double>"
    )
    c = spark.createDataFrame(
        [(j, [float(x) for x in v]) for j, v in enumerate(C)], "centroid int, c_emb array<double>"
    )
    w = W.partitionBy("query_id").orderBy(F.desc("c_sim"), "centroid")
    ranked = (
        q.crossJoin(c)
        .selectExpr("query_id", "centroid", f"{similarity._cosine_sql('q_emb', 'c_emb')} AS c_sim")
        .withColumn("p", F.row_number().over(w))
        .collect()
    )
    want: dict[int, list] = {}
    for r in sorted(ranked, key=lambda r: (r.query_id, r.p)):
        want.setdefault(r.query_id, []).append(r.centroid)
    assert similarity._probe_cells(C, Q, qids, similarity.IVF_K) == want
    assert similarity._probe_cells(C, Q, qids) == {
        k: v[: similarity.NPROBE] for k, v in want.items()
    }


#: Spark jobs per warm ``*_serve`` request (ROADMAP direction 5, "budgets
#: first").  Job counts repeat exactly, so they pin the serve path the way
#: test_shuffle_budget pins shuffles: the query embeddings, the ADC lookup
#: row and the SQ8 constants are LocalRelations that cost no job, and the
#: IVF-PQ lookup maps are built on the driver, not aggregated by Spark.
#: Slack 0 — a new job must be justified, not absorbed.
SERVE_JOB_BUDGET = {"ivfpq": 8, "sq8": 9, "ivfsq8": 9}


def test_serve_job_budget(spark, sf_dir, tmp_path):
    """Each warm serve request, counted under its own job group, runs
    exactly its budgeted jobs, and its executed plan scans no Python RDD
    (``LogicalRDD``/``ExistingRDD``: a Python worker per execution)."""
    from pyspark.sql import functions as F

    corpus = similarity.pin(similarity._corpus(spark, sf_dir))
    qrows = [
        (int(r.vec_id), list(r.emb))
        for r in corpus.filter(F.col("vec_id") < 10).orderBy("vec_id").collect()
    ]
    if not qrows:
        pytest.skip("no query ids")
    sc = spark.sparkContext
    jobs = {}
    for kind in SERVE_JOB_BUDGET:
        path = str(tmp_path / kind)
        getattr(similarity, f"{kind}_build_index")(spark, corpus, path)
        meta = getattr(similarity, f"{kind}_load_meta")(spark, path)
        serve = getattr(similarity, f"{kind}_serve")
        serve(spark, path, *meta, qrows).collect()  # warm
        group = f"serve_budget_{kind}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            df = serve(spark, path, *meta, qrows)
            assert len(df.collect()) == len(qrows) * similarity.TOP_K
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs[kind] = len(sc.statusTracker().getJobIdsForGroup(group))
        plan = _plan(df)
        assert "ExistingRDD" not in plan and "LogicalRDD" not in plan, (kind, plan)
    assert jobs == SERVE_JOB_BUDGET


#: Spark jobs per warm IVF-Flat (``"ivf"`` kind) request served from its
#: artifact — pinned beside SERVE_JOB_BUDGET (which reaches each kind by
#: its public ``<kind>_*`` entry points; IVF-Flat has none).
IVF_FLAT_SERVE_JOBS = 4


def test_ivf_flat_serve_job_budget(spark, sf_dir, tmp_path):
    """IVF-Flat through ``_build_index`` / ``_read_meta`` / ``_serve``:
    the meta holds the centroids alone, a warm request runs exactly its
    pinned jobs, the ``_flat`` scan prunes on ``centroid``
    (PartitionFilters) and the plan scans no Python RDD."""
    corpus = similarity.pin(similarity._corpus(spark, sf_dir))
    qrows = similarity._query_rows(corpus)
    if not qrows:
        pytest.skip("no query ids")
    path = str(tmp_path / "ivf")
    similarity._build_index(spark, corpus, path, "ivf")
    state = similarity._read_meta(spark, path)
    assert set(state) == {"center"}
    similarity._serve(spark, path, "ivf", state, qrows).collect()  # warm
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "serve_budget_ivf")
    try:
        df = similarity._serve(spark, path, "ivf", state, qrows)
        assert len(df.collect()) == len(qrows) * similarity.TOP_K
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    plan = _plan(df)
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "centroid" in pf  # the probe reached the _flat scan
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan, plan
    assert len(sc.statusTracker().getJobIdsForGroup("serve_budget_ivf")) == IVF_FLAT_SERVE_JOBS


#: Spark jobs to build each index kind from a pinned, materialized
#: corpus (``_build_index``), and to run ``semantic_dedup`` end to end,
#: on the sf0.001 fixture.  Every coarse fit is one bounded sample
#: collect; pinned like SERVE_JOB_BUDGET, slack 0.
BUILD_JOB_BUDGET = {"ivf": 6, "ivfpq": 7, "sq8": 5, "ivfsq8": 8, "semantic_dedup": 5}

#: executed-plan nodes that run a Python worker
_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "InPandas")


def _sql_executions(spark, run) -> list:
    """Call ``run()`` and return the ids of the SQL executions it started,
    from the session's SQL status store (so writes, collects and
    ``run_parallel``'s threads all count)."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def ids() -> set:
        ex = store.executionsList()
        return {ex.apply(i).executionId() for i in range(ex.size())}

    bus.waitUntilEmpty()
    before = ids()
    run()
    bus.waitUntilEmpty()
    return sorted(ids() - before)


def test_build_job_budget(spark, sf_dir, tmp_path):
    """Each build, counted under its own job group (``run_parallel``'s
    threads inherit it), runs exactly its budgeted jobs, and no SQL
    execution of an index build starts a Python worker: IVF cells and
    PQ codes are JVM projections (``_nearest``)."""
    assert set(BUILD_JOB_BUDGET) == set(similarity._KINDS) | {"semantic_dedup"}
    corpus = similarity.pin(similarity._corpus(spark, sf_dir))
    corpus.count()
    store = spark._jsparkSession.sharedState().statusStore()
    sc = spark.sparkContext
    jobs, python = {}, {}
    for name in BUILD_JOB_BUDGET:
        group = f"build_budget_{name}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            if name == "semantic_dedup":
                assert similarity.semantic_dedup(spark, sf_dir).collect()
            else:
                execs = _sql_executions(
                    spark,
                    lambda: similarity._build_index(spark, corpus, str(tmp_path / name), name),
                )
                assert execs
                plans = [store.execution(e).get().physicalPlanDescription() for e in execs]
                python[name] = sorted({n for p in plans for n in _PYTHON_NODES if n in p})
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert python == {kind: [] for kind in similarity._KINDS}
    assert jobs == BUILD_JOB_BUDGET


def test_semantic_dedup_contract_runs_the_cluster_step_once(spark, sf_dir):
    """``semantic_dedup_contract`` reads ``semantic_dedup``'s output five
    times; the Python cluster step (the grouped map) must still receive
    each corpus row once, not once per reader."""
    store = spark._jsparkSession.sharedState().statusStore()
    n = similarity._corpus(spark, sf_dir).count()
    fed = 0
    for eid in _sql_executions(
        spark, lambda: similarity.semantic_dedup_contract(spark, sf_dir).collect()
    ):
        graph, values = store.planGraph(eid), store.executionMetrics(eid)
        nodes = graph.allNodes()
        by_id = {nodes.apply(i).id(): nodes.apply(i) for i in range(nodes.size())}
        edges = graph.edges()
        child = {edges.apply(i).toId(): edges.apply(i).fromId() for i in range(edges.size())}

        def rows_read(node) -> int:
            # down to the exchange feeding the node: its "records read"
            while True:
                ms = node.metrics()
                for j in range(ms.size()):
                    if ms.apply(j).name() == "records read":
                        v = values.get(ms.apply(j).accumulatorId())
                        return int(v.get()) if v.isDefined() else 0
                node = by_id[child[node.id()]]

        fed += sum(rows_read(v) for v in by_id.values() if v.name() == "FlatMapGroupsInPandas")
    assert n > 0 and fed == n, (fed, n)
