"""Incremental ingest: ``ingest_epoch`` is the one commit protocol for a
batch of newly crawled documents. The batch is deduplicated against the
pre-banded corpus index (the steps of ``mre.curate.dedup_increment``),
its survivors land under ``{accepted_dst}/epoch=N`` and the index is
extended, with per-epoch phase markers in ``{accepted_dst}_epochs``
making a retried batch converge. ``scripts/run_ingest.py ingest`` runs
it once, as epoch 0; ``start_ingest_stream`` runs it per Structured
Streaming micro-batch (round 6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _epoch_phases(spark: SparkSession, epochs_dst: str,
                  epoch_id: int) -> set:
    """Marker phases already committed for this epoch ('written',
    'indexed') — a tiny table read + constant-shaped collect. An absent
    marker table means none; a marker table that fails to read raises."""
    from .io import read_if_present
    e = read_if_present(spark, epochs_dst)
    if e is None:
        return set()
    e = e.filter(F.col("epoch") == int(epoch_id))
    return {r["phase"] for r in e.select("phase").distinct().collect()}


def _mark_epoch(spark: SparkSession, epochs_dst: str, epoch_id: int,
                phase: str, n_docs: int) -> None:
    """Append one marker row (epoch, phase, n_docs, committed_at) through
    ``mre.io.append_rows``, the commit path every bookkeeping row takes:
    on the driver's disk an atomic single-file write, twice per epoch,
    instead of a ~0.4 s Spark write job. A torn marker file would fail
    the whole epochs-table read, and with it every retry of the stream;
    the helper never leaves one visible."""
    from .io import append_rows
    append_rows(spark, epochs_dst, [(int(epoch_id), phase, int(n_docs))],
                "epoch long, phase string, n_docs long", "committed_at")


def ingest_epoch(spark: SparkSession, df: DataFrame, epoch_id: int,
                 index_dst: str, accepted_dst: str, *,
                 threshold: float = 0.5,
                 max_bucket: int | None = None) -> None:
    """One idempotent ingest batch: dedup ``df`` against the corpus
    index, land survivors under ``{accepted_dst}/epoch=N``, extend the
    index, and record progress in the tiny ``{accepted_dst}_epochs``
    marker table ('written' after the partition commit, 'indexed' after
    the index append). The only code that commits an ingest batch: the
    CLI's ``ingest`` and every stream micro-batch run it.

    The markers exist for the retry path (ADVICE r6 #1 — the MEDIUM):
    ``update_dedup_index`` can crash after SOME of the batch's
    fingerprint rows became visible (v2 committer / partial task
    promotion). A retry that recomputed ``dedup_increment`` would see
    those rows, drop the already-accepted docs at the exact-vs-index
    anti-join, and dynamic-overwrite epoch=N with the REDUCED survivor
    set — silent permanent loss. So on retry:

    * 'indexed' present → the epoch fully converged; no-op.
    * 'written' present → the survivor set on disk is authoritative;
      SKIP the recompute-and-rewrite entirely, re-read epoch=N's rows
      and go straight to the idempotent ``update_dedup_index``
      (fingerprint-guarded — re-applying converges the partial append).
    * neither → full compute. A crash between the partition write and
      the 'written' marker re-enters here, which is safe precisely
      because the index has not been touched yet in that window — the
      recompute is deterministic and rewrites the same partition.

    Duplicate marker rows (crash between a sink and its marker) are
    harmless: phases are read as a set. Residual caveat: the guarantee
    assumes this function is the only writer mutating the index between
    a batch's two phases — which the per-epoch serial foreachBatch
    contract provides; CLI ingests into one index must likewise run one
    at a time."""
    from .curate import _dedup_batch, update_dedup_index
    from .io import read_table, write_overwrite_partitions
    from .textops import (_release_local_checkpoint, cache_mark,
                          release_caches)
    epochs_dst = f"{accepted_dst}_epochs"
    phases = _epoch_phases(spark, epochs_dst, epoch_id)
    if "indexed" in phases:
        return
    mark = cache_mark()
    if "written" in phases:
        surv = (read_table(spark, accepted_dst)
                .filter(F.col("epoch") == int(epoch_id)).drop("epoch")
                .localCheckpoint(eager=True))
        try:
            update_dedup_index(spark, surv, index_dst)
            _mark_epoch(spark, epochs_dst, epoch_id, "indexed",
                        surv.count())
        finally:
            _release_local_checkpoint(surv)
            release_caches(since=mark)
        return
    surv, sig_surv = _dedup_batch(spark, df, index_dst, threshold,
                                  max_bucket)
    surv = surv.localCheckpoint(eager=True)
    try:
        n = surv.count()
        write_overwrite_partitions(
            surv.withColumn("epoch", F.lit(int(epoch_id))),
            accepted_dst, "epoch")
        _mark_epoch(spark, epochs_dst, epoch_id, "written", n)
        # assume_fresh: the marker protocol guarantees the index is
        # untouched for this epoch on THIS path (any retry after a
        # partial append re-enters via 'written' above, which keeps the
        # fingerprint guard), so the already-present probe is skipped
        update_dedup_index(spark, surv, index_dst, sigs=sig_surv,
                           assume_fresh=True)
        _mark_epoch(spark, epochs_dst, epoch_id, "indexed", n)
    finally:
        _release_local_checkpoint(surv)
        release_caches(since=mark)


def start_ingest_stream(spark: SparkSession, src_dir: str, index_dst: str,
                        accepted_dst: str, checkpoint_dir: str, *,
                        max_files_per_trigger: int = 16,
                        available_now: bool = False,
                        threshold: float = 0.5,
                        max_bucket: int | None = None,
                        compact_every: int | None = None):
    """CONTINUOUS ingestion dedup (round 6): each micro-batch of newly
    crawled documents goes through ``ingest_epoch``, the same commit
    protocol ``scripts/run_ingest.py ingest`` runs once — deduplicated
    against the pre-banded corpus index (exact + near, vs corpus AND
    within the batch), survivors land under ``{accepted_dst}/epoch=N``,
    and the index is extended so the NEXT micro-batch sees this one.
    Returns the StreamingQuery.

    Delivery semantics: foreachBatch re-runs a micro-batch after a
    failure; each epoch converges through the phase-marker protocol in
    ``ingest_epoch`` (see its docstring) — the accepted partition is a
    dynamic overwrite, the index append is fingerprint-guarded, and a
    retry after a PARTIAL index append re-reads the committed survivor
    set instead of recomputing it, so already-accepted docs can never
    be silently dropped (ADVICE r6 #1). The tiny marker table backing
    that protocol is ``{accepted_dst}_epochs``. The source files are
    (doc_id long, text string) documents.

    Scale notes: the per-batch cost is O(batch) — the index side of
    every join is a bucket-pruned scan feeding broadcast probes; the
    per-epoch partition layout doubles as time-ordered lineage (epoch
    → files). Use
    ``available_now=True`` for a drain-and-stop backfill run.

    ``compact_every=K`` (round 7) runs ``compact_dedup_index`` after
    every K-th epoch, INSIDE foreachBatch — the one place the
    swap-based compaction's no-concurrent-reader contract (ADVICE r6
    #4) is free, because the stream is the index's only reader and it
    is quiescent between micro-batches. Each ingest epoch appends a few
    files per index table, so a long-running stream without this decays
    into the small-file swarm compaction exists to fix. Idempotent
    under foreachBatch retries: compaction is content-preserving and
    self-healing (it re-promotes a half-finished swap before
    rewriting), and the preceding ``ingest_epoch`` retry path is
    marker-guarded."""
    batches = (spark.readStream
               .schema("doc_id long, text string")
               .option("maxFilesPerTrigger", max_files_per_trigger)
               .parquet(src_dir))

    def _one_batch(df, epoch_id: int) -> None:
        ingest_epoch(df.sparkSession, df, epoch_id, index_dst,
                     accepted_dst, threshold=threshold,
                     max_bucket=max_bucket)
        if compact_every and (epoch_id + 1) % compact_every == 0:
            from .curate import compact_dedup_index
            compact_dedup_index(df.sparkSession, index_dst)

    writer = (batches.writeStream
              .foreachBatch(_one_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


__all__ = ["start_ingest_stream", "ingest_epoch"]
