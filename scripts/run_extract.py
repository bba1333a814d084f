#!/usr/bin/env python
"""spark-submit entry point for the extraction pipeline
(BASELINE.json:north_rule "run via spark-submit --py-files on a
multi-executor cluster").

Cluster usage::

    ./scripts/make_pyfiles.sh            # builds dist/mre.zip
    spark-submit \
        --py-files dist/mre.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.session.timeZone=UTC \
        --conf spark.sql.execution.arrow.maxRecordsPerBatch=256 \
        scripts/run_extract.py \
        --src iceberg:warehouse.pages \
        --dst iceberg:warehouse.extracted \
        --lineage iceberg:warehouse.extract_lineage \
        --run-id crawl-2024-w33 \
        --buckets 8192

Sandbox (no cluster) usage is identical with parquet paths and
``--master local[N]`` — mre.io dispatches on the path scheme.

Resumability: re-running with the same --run-id skips every salt bucket
already committed to the lineage table (mre.pipeline.run_extract).
Sizing: --buckets ≈ 4–8× total executor cores; at 10^12 rows prefer more,
smaller buckets (bounded retry cost per bucket).
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser(description="mre extraction pipeline")
    ap.add_argument("--src", required=True,
                    help="pages source: parquet path or iceberg:db.table")
    ap.add_argument("--dst", required=True, help="results sink")
    ap.add_argument("--lineage", required=True, help="lineage/metrics sink")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--buckets", type=int, default=None,
                    help="salt buckets (default 4x defaultParallelism)")
    ap.add_argument("--byte-cap", type=int, default=64 << 20,
                    help="max html bytes per Arrow chunk")
    ap.add_argument("--no-resume", action="store_true")
    args = ap.parse_args()

    from mre.io import get_spark
    from mre.pipeline import run_extract

    spark = get_spark(app=f"mre-extract-{args.run_id}")
    try:
        run_extract(spark, args.src, args.dst, args.lineage,
                    run_id=args.run_id, buckets=args.buckets,
                    byte_cap=args.byte_cap, resume=not args.no_resume)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
