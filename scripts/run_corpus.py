#!/usr/bin/env python
"""spark-submit entry point for the END-TO-END corpus job: crawl pages →
metadata/content extraction → corpus curation (VERDICT r4 #5 — the
extract→curate glue as one command).

Cluster usage::

    ./scripts/make_pyfiles.sh            # builds dist/mre.zip
    spark-submit \
        --py-files dist/mre.zip \
        scripts/run_corpus.py \
        --src iceberg:warehouse.crawl_pages \
        --workdir hdfs:///corpus/2024w33 \
        --evals iceberg:warehouse.eval_benchmarks \
        --run-id corpus-2024-w33

Sandbox usage is identical with parquet paths and ``--master local[N]``.
Layout under --workdir: extracted/ curated/ lineage/{extract,curate}.
Resume: re-running with the same --run-id skips completed salt buckets
(extraction half) and completed stages (curation half)."""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser(description="mre crawl→corpus pipeline")
    ap.add_argument("--src", required=True,
                    help="pages source: parquet path or iceberg:/warc: "
                         "URI")
    ap.add_argument("--workdir", required=True,
                    help="output root (extracted/curated/lineage land "
                         "under it)")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--evals", default=None)
    ap.add_argument("--buckets", type=int, default=None)
    ap.add_argument("--train-frac", type=float, default=0.9)
    ap.add_argument("--max-bucket", type=int, default=None)
    ap.add_argument("--no-resume", action="store_true")
    args = ap.parse_args()

    from mre.curate import run_corpus
    from mre.io import get_spark

    spark = get_spark(app=f"mre-corpus-{args.run_id}")
    try:
        run_corpus(spark, args.src, args.workdir, run_id=args.run_id,
                   evals_src=args.evals, buckets=args.buckets,
                   resume=not args.no_resume,
                   train_frac=args.train_frac,
                   max_bucket=args.max_bucket)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
