"""spark-submit entry point for the daily report — the engine's
replacement for the reference's job
(``dags/scripts/spark_daily_report.py`` driven by the Airflow DAG
``dags/daily_report_dag.py:26-36`` with ``--date {{ ds }}``).

Usage (identical invocation shape to the reference):

    spark-submit jobs/daily_report_job.py \
        --date 2025-05-24 --input /path/to/articles --output /path/out

``spark-submit`` starts the driver JVM before this script runs, so the
engine's compile policy reaches it only as ``--driver-java-options
"<session.DRIVER_JIT_POLICY>"``.

Differences by design (SURVEY.md §4): reads partitioned parquet (the
date filter is partition pruning, not a post-scan filter), caches the
day slice once instead of re-scanning per aggregate, keeps sentiment/
summary as executor-side Arrow UDFs, and writes the aggregate tables
as parquet — the PDF rendering the reference did
(spark_daily_report.py:128-271) is a presentation concern downstream
of these outputs.
"""

from __future__ import annotations

import argparse
import os
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description="daily news analytics report")
    parser.add_argument("--date", required=True, help="report date YYYY-MM-DD")
    parser.add_argument("--input", required=True, help="articles table path (parquet)")
    parser.add_argument("--output", required=True, help="output dir for report tables")
    parser.add_argument(
        "--archive-to", default=None,
        help="optional dir to move processed inputs into (reference S11 behavior)",
    )
    args = parser.parse_args(argv)

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from ssafynews_data_spark import get_session
    from ssafynews_data_spark.plans.daily_report import build_daily_report
    from ssafynews_data_spark.sources.feeds import archive_files

    spark = get_session(app_name=f"daily_report_{args.date}")
    articles = spark.read.parquet(args.input)
    rpt = build_daily_report(articles, args.date)

    n = rpt.day_slice.count()
    if n == 0:
        # reference empty-day path (spark_daily_report.py:107-112): still
        # write an empty marker so downstream consumers see the date ran
        spark.createDataFrame([(args.date, 0)], "report_date string, n long").write.mode(
            "overwrite"
        ).parquet(os.path.join(args.output, "summary"))
        print(f"no articles for {args.date}; wrote empty summary")
        return 0

    out = args.output
    rpt.category_counts.write.mode("overwrite").parquet(os.path.join(out, "category_counts"))
    rpt.top10_keywords.write.mode("overwrite").parquet(os.path.join(out, "top10_keywords"))
    rpt.articles.drop("embedding").write.mode("overwrite").parquet(
        os.path.join(out, "articles_enriched")
    )
    if rpt.clusters is not None:
        rpt.clusters.write.mode("overwrite").parquet(os.path.join(out, "clusters"))
    spark.createDataFrame([(args.date, n)], "report_date string, n long").write.mode(
        "overwrite"
    ).parquet(os.path.join(out, "summary"))

    if args.archive_to:
        moved = archive_files(spark, args.input, args.archive_to)
        print(f"archived {moved} input files to {args.archive_to}")
    print(f"daily report for {args.date}: {n} articles -> {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
