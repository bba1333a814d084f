#!/usr/bin/env python
"""spark-submit entry point for the composed curation pipeline
(quality filter → exact dedup → near-dup dedup → decontamination →
train/test split; mre.curate.run_curate).

Cluster usage::

    ./scripts/make_pyfiles.sh            # builds dist/mre.zip
    spark-submit \
        --py-files dist/mre.zip \
        scripts/run_curate.py \
        --src iceberg:warehouse.documents \
        --dst iceberg:warehouse.curated \
        --lineage iceberg:warehouse.curate_lineage \
        --evals iceberg:warehouse.eval_benchmarks \
        --run-id corpus-2024-w33

Sandbox usage is identical with parquet paths and ``--master local[N]``.
Resumability: re-running with the same --run-id skips every stage already
committed to the lineage table. ``--max-bucket`` is the corpus-scale
hot-bucket guard for the MinHash band join (leave unset for exact
semantics at verification scale; set ~1000 at 10^12 docs).
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser(description="mre curation pipeline")
    ap.add_argument("--src", required=True,
                    help="documents source: parquet path or iceberg:table")
    ap.add_argument("--dst", required=True,
                    help="sink root (stage id-lists + final split table)")
    ap.add_argument("--lineage", required=True, help="stage lineage sink")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--evals", default=None,
                    help="optional (eval_id, text) benchmark table for "
                         "decontamination")
    ap.add_argument("--shingle-n", type=int, default=3)
    ap.add_argument("--minhash-threshold", type=float, default=0.2)
    ap.add_argument("--jaccard-threshold", type=float, default=0.5)
    ap.add_argument("--contamination-n", type=int, default=5)
    ap.add_argument("--min-shared", type=int, default=1)
    ap.add_argument("--train-frac", type=float, default=0.9)
    ap.add_argument("--max-bucket", type=int, default=None)
    ap.add_argument("--url-gate", action="store_true",
                    help="prepend the RefinedWeb-family URL filter "
                         "(blocklist score, digit-heavy hosts, length) "
                         "as stage 0; requires a url column")
    ap.add_argument("--no-resume", action="store_true")
    args = ap.parse_args()

    from mre.curate import run_curate
    from mre.io import get_spark

    spark = get_spark(app=f"mre-curate-{args.run_id}")
    try:
        run_curate(spark, args.src, args.dst, args.lineage,
                   run_id=args.run_id, evals_src=args.evals,
                   shingle_n=args.shingle_n,
                   minhash_threshold=args.minhash_threshold,
                   jaccard_threshold=args.jaccard_threshold,
                   contamination_n=args.contamination_n,
                   contamination_min_shared=args.min_shared,
                   train_frac=args.train_frac,
                   max_bucket=args.max_bucket,
                   url_gate=args.url_gate,
                   resume=not args.no_resume)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
