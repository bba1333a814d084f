#!/usr/bin/env python
"""spark-submit entry point for INCREMENTAL ingestion dedup: maintain a
narrow fingerprint+MinHash index of the corpus and deduplicate each new
crawl batch against it in O(batch), never re-reading corpus text.

Build the index once from the existing corpus::

    spark-submit --py-files dist/mre.zip scripts/run_ingest.py \
        --index iceberg:warehouse.dedup_index \
        build --src iceberg:warehouse.documents

Then per crawl batch::

    spark-submit --py-files dist/mre.zip scripts/run_ingest.py \
        --index iceberg:warehouse.dedup_index \
        ingest --batch iceberg:warehouse.crawl_2024w34 \
               --dst iceberg:warehouse.accepted_2024w34

``ingest`` drops batch docs that are exact or near duplicates of the
corpus or of each other, COMMITS the survivors to --dst first, and only
then appends their digest/signature rows to the index (write-then-
update: a crash mid-index-update re-runs safely — the committed --dst
is detected and reused, and the index update is idempotent). Re-running
a fully-completed ingest is a no-op on both tables.

``stream`` is the continuous twin: a Structured-Streaming job that
watches a drop directory and runs the same dedup per micro-batch with
per-epoch idempotent sinks (checkpointed — restarts resume; pass
``--available-now`` to drain-and-stop for backfills)::

    spark-submit --py-files dist/mre.zip scripts/run_ingest.py \
        --index iceberg:warehouse.dedup_index \
        stream --src hdfs:/crawl/incoming \
               --dst iceberg:warehouse.accepted \
               --checkpoint hdfs:/crawl/ckpt/ingest
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser(description="mre incremental ingestion")
    ap.add_argument("--index", required=True,
                    help="dedup index root (meta, fingerprints, "
                         "signatures, bands)")
    sub = ap.add_subparsers(dest="cmd", required=True)
    b = sub.add_parser("build", help="build (or rebuild) the index from "
                                     "a corpus")
    b.add_argument("--src", required=True)
    g = sub.add_parser("ingest", help="dedup a new batch, update index")
    g.add_argument("--batch", required=True)
    g.add_argument("--dst", required=True)
    g.add_argument("--threshold", type=float, default=0.5)
    g.add_argument("--max-bucket", type=int, default=None)
    g.add_argument("--no-index-update", action="store_true")
    c = sub.add_parser("compact",
                       help="rewrite the index's small-file swarm")
    c.add_argument("--target-partitions", type=int, default=None)
    s = sub.add_parser(
        "stream",
        help="continuous ingestion: watch a directory of incoming "
             "document parquet files, dedup each micro-batch against "
             "the index and extend it (mre.streaming.start_ingest_stream)")
    s.add_argument("--src", required=True,
                   help="directory the crawler drops parquet files into")
    s.add_argument("--dst", required=True,
                   help="accepted-docs sink root (per-epoch partitions)")
    s.add_argument("--checkpoint", required=True)
    s.add_argument("--threshold", type=float, default=0.5)
    s.add_argument("--max-bucket", type=int, default=None)
    s.add_argument("--max-files-per-trigger", type=int, default=16)
    s.add_argument("--available-now", action="store_true",
                   help="drain everything currently in --src, then stop")
    s.add_argument("--compact-every", type=int, default=None,
                   help="compact the dedup index after every K epochs "
                        "(runs inside foreachBatch — the stream's own "
                        "idle window, per the compaction concurrency "
                        "contract)")
    args = ap.parse_args()

    from mre.curate import (build_dedup_index, compact_dedup_index,
                            dedup_increment, update_dedup_index)
    from mre.io import (get_spark, path_committed, read_table,
                        write_overwrite)
    from mre.textops import release_caches

    spark = get_spark(app="mre-ingest")
    try:
        if args.cmd == "build":
            build_dedup_index(spark, read_table(spark, args.src),
                              args.index)
        elif args.cmd == "compact":
            compact_dedup_index(spark, args.index,
                                args.target_partitions)
        elif args.cmd == "stream":
            from mre.streaming import start_ingest_stream
            q = start_ingest_stream(
                spark, args.src, args.index, args.dst, args.checkpoint,
                max_files_per_trigger=args.max_files_per_trigger,
                available_now=args.available_now,
                threshold=args.threshold, max_bucket=args.max_bucket,
                compact_every=args.compact_every)
            q.awaitTermination()
        else:
            # write-then-update ordering: commit --dst BEFORE touching
            # the index, and resume from a committed --dst instead of
            # recomputing (a recompute after a partial index update
            # would see the batch's own rows and drop everything).
            # Committed means the _SUCCESS marker for every parquet dst
            # — local AND remote — via the Hadoop FS API (ADVICE r5 #1:
            # a merely-readable remote dir after a crash mid-write is
            # partially-promoted part files, and adopting it as the
            # accepted batch silently drops the rest of the batch and
            # pollutes the index permanently); iceberg: commits are
            # atomic, so there the read-probe is the right check.
            if not path_committed(spark, args.dst):
                out = dedup_increment(
                    spark, read_table(spark, args.batch), args.index,
                    threshold=args.threshold,
                    max_bucket=args.max_bucket, update_index=False)
                write_overwrite(out, args.dst)
            accepted = read_table(spark, args.dst)
            if not args.no_index_update:
                update_dedup_index(spark, accepted, args.index)
            release_caches()
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
