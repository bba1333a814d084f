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

``ingest`` runs the batch through ``mre.streaming.ingest_epoch`` as
epoch 0, the one ingest commit protocol: it drops batch docs that are
exact or near duplicates of the corpus or of each other, COMMITS the
survivors to ``{dst}/epoch=0`` first, and only then appends their
digest/signature/band rows to the index, recording each step as a
'written' / 'indexed' marker row in the sibling ``{dst}_epochs`` table.
A crash anywhere re-runs safely: after 'written' the committed
survivors are re-read and the index update is idempotent. Re-running a
fully-completed ingest is a no-op on both tables. --dst names ONE
batch's accepted table: give each batch a fresh --dst (an ``iceberg:``
--dst must be partitioned by ``epoch``). A --dst written flat, without
markers, by an earlier version of this CLI is not resumed.

``stream`` runs the same protocol per micro-batch of a Structured
Streaming job that watches a drop directory (one epoch per micro-batch,
checkpointed — restarts resume; pass ``--available-now`` to
drain-and-stop for backfills)::

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
    g = sub.add_parser(
        "ingest",
        help="dedup a new batch against the index, commit its survivors "
             "to --dst/epoch=0 and extend the index "
             "(mre.streaming.ingest_epoch, markers in {dst}_epochs)")
    g.add_argument("--batch", required=True)
    g.add_argument("--dst", required=True)
    g.add_argument("--threshold", type=float, default=0.5)
    g.add_argument("--max-bucket", type=int, default=None)
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

    from mre.curate import build_dedup_index, compact_dedup_index
    from mre.io import get_spark, read_table

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
            from mre.streaming import ingest_epoch
            ingest_epoch(spark, read_table(spark, args.batch), 0,
                         args.index, args.dst, threshold=args.threshold,
                         max_bucket=args.max_bucket)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
