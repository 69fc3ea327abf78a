"""M1-M4 chain invariants (SURVEY.md §5: cluster count == min(5,n), PCA
dim == 2, seed-42 determinism, blob purity)."""

from __future__ import annotations

import pytest

from ssafynews_data_spark.operators import vectors


def test_pca_kmeans_shape_and_k(spark, sf_dir):
    df = vectors.pca_kmeans_clusters(spark, sf_dir)
    rows = df.collect()
    assert len(rows) == 500
    clusters = {r.cluster for r in rows}
    assert len(clusters) == vectors.KMEANS_MAX_K  # n >= 5 → k = 5
    assert all(r.pc1 is not None and r.pc2 is not None for r in rows)


def test_kmeans_seed_determinism(spark, sf_dir):
    a = sorted((r.vec_id, r.cluster) for r in vectors.pca_kmeans_clusters(spark, sf_dir).collect())
    b = sorted((r.vec_id, r.cluster) for r in vectors.pca_kmeans_clusters(spark, sf_dir).collect())
    assert a == b


def test_clusters_nonempty_and_balanced(spark, sf_dir):
    """Every cluster gets rows (the fixture blobs overlap heavily — max
    pairwise cosine ~0.48 — so label purity is not a meaningful check;
    determinism and k are)."""
    rows = vectors.pca_kmeans_clusters(spark, sf_dir).collect()
    from collections import Counter

    sizes = Counter(r.cluster for r in rows)
    assert len(sizes) == vectors.KMEANS_MAX_K
    assert min(sizes.values()) > 0


def test_small_n_reduces_k(spark):
    import numpy as np

    rng = np.random.default_rng(42)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = vectors.pca_kmeans(df)
    assert {r.cluster for r in out.collect()} <= {0, 1, 2}  # k = min(5, 3)


def test_empty_input_survives(spark):
    df = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = vectors.pca_kmeans(df)
    assert out.count() == 0  # reference's empty-day path (:107-112)


def test_quality_classifier_recovers_teacher_rule(spark, sf_dir):
    """The weak-label rule is linearly separable by construction, so LR
    must recover it almost everywhere; scoring covers every doc with
    tokens."""
    rows = vectors.quality_classifier(spark, sf_dir).collect()
    n = sum(r.n_docs for r in rows)
    agree = sum(r.n_agree for r in rows)
    assert n > 0
    assert agree / n > 0.95, (agree, n)
    # both classes are represented on the fixture (the cut is not degenerate)
    good = sum(r.n_label_good for r in rows)
    assert 0 < good < n


def test_int8_quantization_error_bounded(spark, sf_dir):
    """Max-abs int8 round error is at most scale/254 per element, so the
    per-label MSE must sit below (max_scale/254)^2; scales positive."""
    from ssafynews_data_spark.operators.vectors import int8_quantize_embeddings

    rows = int8_quantize_embeddings(spark, sf_dir).collect()
    assert rows
    from ssafynews_data_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    max_scale = emb.select(
        F.max(
            F.array_max(
                F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
            )
        ).alias("m")
    ).first().m
    bound = (max_scale / 254.0) ** 2
    for r in rows:
        assert r.n_vecs > 0 and r.avg_scale > 0
        assert 0.0 <= r.avg_mse <= bound


def test_one_row_input_gets_cluster_zero(spark):
    """A day with a single embedded article: k = min(5, 1) = 1, one row
    out with cluster 0 and finite components (a one-row covariance is
    the zero matrix, not an error)."""
    import math

    df = spark.createDataFrame(
        [(7, [0.5, -1.25, 2.0, 0.75])], "vec_id long, embedding array<float>"
    )
    rows = vectors.pca_kmeans(df).collect()
    assert len(rows) == 1
    assert rows[0].cluster == 0
    assert math.isfinite(rows[0].pc1) and math.isfinite(rows[0].pc2)


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_non_finite_embedding_is_a_value_error(spark, bad):
    """A NaN/Inf element fails up front with a ValueError naming the
    column and the first bad element, never deep inside the fit."""
    rows = [(i, [float(i), 1.0, 2.0]) for i in range(6)]
    rows[3][1][2] = bad
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match=r"non-finite embedding\[\d+\]\[2\] = "):
        vectors.pca_kmeans(df).collect()


@pytest.mark.parametrize(
    "v, elem",
    [
        ([0.5, -1.25, 2.0, 0.75], "float"),
        # not binary fractions: the double mean of six copies of 0.1 is
        # off by rounding, and the covariance must still be exactly zero
        ([0.1, 0.2, 0.3], "double"),
    ],
)
def test_identical_vectors_one_cluster_identity_components(spark, v, elem):
    """All-identical vectors: every row lands in one cluster, the first
    fitted centre nearest by squared distance (the six-row mean of 0.1
    is off by rounding, so the double case lands on a centre that is
    still the vector itself, not on centre 0), and, with a zero
    covariance, the components are the first two axes, so pc1/pc2 are
    the first two coordinates."""
    import numpy as np

    from ssafynews_data_spark.operators.similarity import _np_kmeans

    df = spark.createDataFrame(
        [(i, v) for i in range(6)], f"vec_id long, embedding array<{elem}>"
    )
    rows = vectors.pca_kmeans(df).collect()
    x = np.array(v, dtype=np.float32 if elem == "float" else float).astype(float)
    C = _np_kmeans(np.stack([x] * 6), 5, seed=vectors.SEED, iters=20)
    assert len(rows) == 6
    assert {r.cluster for r in rows} == {int(np.argmin(((x - C) ** 2).sum(1)))}
    assert {(r.pc1, r.pc2) for r in rows} == {(v[0], v[1])}


def test_output_contract_columns_and_types(spark):
    """Input columns minus the embedding, then cluster int, pc1/pc2
    double — the column order the daily report relies on."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [(i, "x", [float(x) for x in rng.standard_normal(8)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, tag string, embedding array<float>")
    out = vectors.pca_kmeans(df)
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("vec_id", "bigint"), ("tag", "string"), ("cluster", "int"),
        ("pc1", "double"), ("pc2", "double"),
    ]
    assert out.count() == 20


def test_fewer_dims_than_components_is_a_value_error(spark):
    df = spark.createDataFrame(
        [(i, [float(i)]) for i in range(4)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="1 dims < k_pca=2"):
        vectors.pca_kmeans(df)


def test_ragged_embeddings_are_a_value_error(spark):
    """Vectors of different lengths fail up front: reshaping their flat
    buffer would otherwise split 3 + 5 floats into two rows of 4."""
    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [1.0, 2.0, 3.0, 4.0, 5.0])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="vectors of 3 and 5 dims"):
        vectors.pca_kmeans(df)
