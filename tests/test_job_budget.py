"""Jobs-per-query budget for the benchmark's batch pass.

Job counts repeat exactly run to run, so they work as regression guards
the way ``test_shuffle_budget.py`` pins shuffles and
``test_similarity.py::test_serve_job_budget`` pins a warm serve request:
each of the eleven ``batch`` queries of ``perfbench/workloads.py`` runs
under its own job group and writes its result as parquet, as the
benchmark does, and its job count must equal the pin (slack 0).  A
query that legitimately changes its job count updates its pin in the
same commit and says why.
"""

from __future__ import annotations

import os
import sys

import pytest

from ssafynews_data_spark import registry
from ssafynews_data_spark.caching import release_pins

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench"))
from workloads import BATCH_QUERIES  # noqa: E402

#: jobs per query in one batch pass on the sf0.001 fixture, written as
#: parquet (the write jobs included)
JOB_BUDGET: dict[str, int] = {
    "cosine_topk": 4,
    "curate_corpus": 4,
    "daily_event_counts": 5,
    "mock_enrich_documents": 2,
    # the table read, the one sample collect the driver-side PCA and
    # KMeans are fitted from, and the write; the models ride as parsed
    # literals, not as a broadcast row whose broadcast is one more job
    # (4); with the two MLlib fits it ran 38
    "pca_kmeans_clusters": 3,
    "q1_pricing_summary": 3,
    "q3_shipping_priority": 7,
    "q5_regional_revenue": 13,
    "sessionization": 3,
    "word_freq_topk": 3,
    "zscore_grouped_pandas": 3,
}


@pytest.fixture(scope="module")
def batch_jobs(spark, sf_dir, tmp_path_factory):
    """The jobs of each batch query in one pass, each under its own job
    group."""
    sc = spark.sparkContext
    queries = registry.load_all()
    out = tmp_path_factory.mktemp("batch_out")
    jobs = {}
    for name in BATCH_QUERIES:
        group = f"job_budget_{name}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            queries[name].fn(spark, sf_dir).write.mode("overwrite").parquet(str(out / name))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            release_pins()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    return jobs


def test_budget_covers_the_batch_pass():
    assert set(JOB_BUDGET) == set(BATCH_QUERIES)


def test_batch_job_budget(batch_jobs):
    assert batch_jobs == JOB_BUDGET
