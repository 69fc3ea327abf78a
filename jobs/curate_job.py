"""spark-submit entry point for corpus curation — the end-to-end
training-data pipeline as one batch job:

    documents parquet
      → quality / language / repetition filters   (row-local, pre-shuffle)
      → exact dedup on normalized-content hash    (one shuffle)
      → deterministic train/test split            (hash arithmetic, no shuffle)
      → n-shard training layout per split         (one shuffle per split)

Usage:

    spark-submit jobs/curate_job.py \
        --input /path/to/documents.parquet --output /path/out --shards 64

``spark-submit`` starts the driver JVM before this script runs, so the
engine's compile policy reaches it only as ``--driver-java-options
"<session.DRIVER_JIT_POLICY>"``.

The reference has no curation job (its pipeline stops at enrichment);
this is the north-star extension from SURVEY.md §7 packaged the same
way as jobs/daily_report_job.py.  At 100 TB every stage keeps its
documented shape: filters before the dedup shuffle, shard count chosen
to match the training reader's parallelism.
"""

from __future__ import annotations

import argparse
import os
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description="corpus curation pipeline")
    parser.add_argument("--input", required=True, help="documents parquet path")
    parser.add_argument("--output", required=True, help="output directory")
    parser.add_argument("--shards", type=int, default=64, help="shards per split")
    parser.add_argument(
        "--full",
        action="store_true",
        help="run the full chain (Gopher rules + decontamination + "
        "domain mixing) instead of the basic quality/dedup/split chain",
    )
    args = parser.parse_args(argv)

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from ssafynews_data_spark import get_session
    from ssafynews_data_spark.plans.curate import curate
    from ssafynews_data_spark.plans.pipeline import curate_full
    from ssafynews_data_spark.sources.sinks import write_training_shards

    spark = get_session(app_name="curate_corpus")

    docs = spark.read.parquet(args.input)
    curated = curate_full(docs) if args.full else curate(docs)
    for split in ("train", "test"):
        write_training_shards(
            curated.filter(curated["split"] == split).drop("split"),
            os.path.join(args.output, split),
            n_shards=args.shards,
            shard_key="doc_id",
            sort_col="doc_id",
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
