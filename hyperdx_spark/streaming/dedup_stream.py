"""Streaming incremental dedup — the daily-ingestion loop as an actual
Structured Streaming job.

Each micro-batch of documents is classified against the persisted
exact-fingerprint store (``pipeline/incremental.py``), the classification
is appended to a parquet sink, and the batch's novel fingerprints are
appended to the store THROUGH its bucket spec — so the next micro-batch's
probe join is still shuffle-free on the store side, forever.

Replay safety: ``foreachBatch`` is at-least-once, so a crashed epoch can
re-append the same novel fingerprints. Two properties make that benign:
``dedup_exact_against_store`` min-aggregates the store side per fp (a
duplicated fp never duplicates batch rows, and keeper attribution is the
stable min), and ``compact_exact_store`` collapses any accumulated
duplicates on the next maintenance pass. The classification sink is
partitioned by epoch id, so a replayed epoch overwrites its own output
instead of double-counting (dynamic partition overwrite).

Scale shape at the 100 TB daily loop: only the new batch is hashed and
shuffled (into the store's bucket layout); the historical side stays
fingerprints-only (~50 B/doc) and is read in place, file-per-bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from hyperdx_spark.pipeline.incremental import (
    append_novel_to_store,
    compact_exact_store,
    dedup_exact_against_store,
)
from hyperdx_spark.session import local_checkpoint, scoped


def start_incremental_dedup(
    stream: DataFrame,
    table: str,
    out_path: str,
    checkpoint: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = False,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Run the classify-sink-append loop over a streaming DataFrame of
    documents. The store table must already exist (seed it with
    ``build_exact_store``; an empty seed is fine). Returns the started
    query — callers own awaitTermination/stop.

    ``compact_every=N`` folds store maintenance into the loop: after
    every Nth processed epoch the per-append files are collapsed by
    ``compact_exact_store`` (crash-safe rename-aside swap) — sequential
    with the epoch, so no reader ever races the rewrite."""

    @scoped
    def _epoch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # one pass feeds BOTH the sink and the append; the scope frees the
        # blocks at epoch end, so a long-running stream keeps none of them
        classified = local_checkpoint(dedup_exact_against_store(
            batch_df, spark, table, text_col=text_col, id_col=id_col
        ))
        (
            classified.withColumn("__epoch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__epoch")
            .parquet(out_path)
        )
        append_novel_to_store(classified, table, id_col=id_col)
        if compact_every and (int(epoch_id) + 1) % compact_every == 0:
            compact_exact_store(spark, table)

    writer = (
        stream.writeStream.foreachBatch(_epoch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
