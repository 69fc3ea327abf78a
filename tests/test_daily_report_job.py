"""End-to-end test of the spark-submit daily-report job (reference
parity: dags/scripts/spark_daily_report.py invocation shape)."""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))

import daily_report_job  # noqa: E402

from tests.test_plans import _articles  # noqa: E402


def test_job_end_to_end(spark, tmp_path):
    src = str(tmp_path / "articles")
    out = str(tmp_path / "report")
    _articles(spark).write.parquet(src)
    rc = daily_report_job.main(
        ["--date", "2025-05-24", "--input", src, "--output", out]
    )
    assert rc == 0
    cats = spark.read.parquet(os.path.join(out, "category_counts"))
    assert cats.count() == 3
    top = spark.read.parquet(os.path.join(out, "top10_keywords"))
    assert top.count() <= 10
    arts = spark.read.parquet(os.path.join(out, "articles_enriched"))
    assert "sentiment" in arts.columns and "summary_line" in arts.columns
    summary = spark.read.parquet(os.path.join(out, "summary")).collect()[0]
    assert summary.n == 30
    clusters = spark.read.parquet(os.path.join(out, "clusters"))
    assert clusters.count() == arts.filter(F.col("summary_line").isNotNull()).count() - 6  # 24 with embeddings


def test_job_empty_day(spark, tmp_path):
    src = str(tmp_path / "articles")
    out = str(tmp_path / "report")
    _articles(spark).write.parquet(src)
    rc = daily_report_job.main(["--date", "1999-01-01", "--input", src, "--output", out])
    assert rc == 0
    summary = spark.read.parquet(os.path.join(out, "summary")).collect()[0]
    assert summary.n == 0
    assert not os.path.exists(os.path.join(out, "category_counts"))


def test_curate_job_end_to_end(spark, sf_dir, tmp_path):
    """jobs/curate_job.py main(): documents in → sharded train/test out."""
    import glob
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    import curate_job

    out = str(tmp_path / "corpus")
    rc = curate_job.main(
        ["--input", f"{sf_dir}/documents.parquet", "--output", out, "--shards", "3"]
    )
    assert rc == 0
    train = spark.read.parquet(out + "/train")
    test = spark.read.parquet(out + "/test")
    assert len(glob.glob(out + "/train/part-*.parquet")) == 3
    n_train, n_test = train.count(), test.count()
    assert n_train > 0 and n_test > 0
    # split is the deterministic 80/20 md5-bucket rule
    assert 0.5 < n_train / max(n_test, 1) / 4 < 2.0
    # no doc appears in both splits
    assert train.join(test, "doc_id", "inner").count() == 0


def test_curate_job_takes_the_engine_session(spark, sf_dir, tmp_path, monkeypatch):
    """jobs/curate_job.py builds its session through ``get_session``, as
    the daily-report job does, so a standalone run gets the engine conf."""
    import curate_job

    import ssafynews_data_spark

    calls = []

    def fake_get_session(**kwargs):
        calls.append(kwargs)
        return spark

    monkeypatch.setattr(ssafynews_data_spark, "get_session", fake_get_session)
    rc = curate_job.main(
        ["--input", os.path.join(sf_dir, "documents.parquet"), "--output",
         str(tmp_path / "out"), "--shards", "2"]
    )
    assert rc == 0
    assert calls == [{"app_name": "curate_corpus"}]


def test_curate_job_full_chain(spark, sf_dir, tmp_path):
    """jobs/curate_job.py --full: the complete gopher+decon+mix chain
    writes sharded splits whose membership matches curate_full."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import curate_job

    from ssafynews_data_spark.plans.pipeline import curate_full

    out = str(tmp_path / "full_out")
    rc = curate_job.main(
        [
            "--input",
            os.path.join(sf_dir, "documents.parquet"),
            "--output",
            out,
            "--shards",
            "4",
            "--full",
        ]
    )
    assert rc == 0
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    want = {
        (r.doc_id, r.split)
        for r in curate_full(docs).select("doc_id", "split").collect()
    }
    got = set()
    for split in ("train", "test"):
        path = os.path.join(out, split)
        if os.path.isdir(path):
            for r in spark.read.parquet(path).select("doc_id").collect():
                got.add((r.doc_id, split))
    assert got == want and got
