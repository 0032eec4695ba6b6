"""Streaming extraction: the flagship batch pipeline as a continuous job.

``readStream`` over the pages source -> per-micro-batch extraction via
``foreachBatch`` -> the SAME one-table warehouse commit of ``extracted``
as the batch path (pipeline.run_extraction is reused verbatim), whose
ledger columns back the ``runs`` view.  The ledger anti-join makes the
stream incremental AND replay-safe: a page that already committed (in any
earlier micro-batch, an earlier stream, or a batch run) is never
recomputed, so restarting the stream from scratch is idempotent even
without relying on the sink's checkpoint — this is the reference's
lazy/memoized request path (ref ocr_tsl/full.py:28-74, views.py:236-247)
as a continuous service.

Scale notes: each micro-batch runs the identical one-Arrow-stage plan as
batch mode (salted repartition optional); state lives in the committed
``extracted`` rows (read as the ``runs`` view), not in streaming state
stores, so the stream survives checkpoint loss and interleaves with batch
backfills — SERIALIZED, one writer at a time, per the warehouse's
single-writer contract (io/tables.py ConcurrentCommitError): stop the
stream (or point it at a different warehouse root) before running a
concurrent batch backfill.  A fully-memoized replayed micro-batch discards
its staged handle (pipeline.run_extraction), so replays leak nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.extract import ExtractOptions
from ..pipeline import run_extraction


def run_extraction_stream(
    spark: SparkSession,
    pages_dir: str,
    warehouse_root: str,
    options: ExtractOptions | None = None,
    repartition: int | None = None,
    max_files_per_trigger: int = 1,
    checkpoint_dir: str | None = None,
) -> list[dict]:
    """Drive extraction as a file stream (one micro-batch per source file
    by default), committing one warehouse snapshot per non-empty batch.

    Returns the per-batch stats list (run_id, snapshot_id, n_written) —
    a batch replaying already-committed urls reports ``n_written == 0``.
    Synchronous (processAllAvailable) — callers that want a long-running
    service keep the returned query running instead.
    """
    schema = spark.read.parquet(pages_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_dir)
    )
    stats: list[dict] = []

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        result = run_extraction(
            spark, batch_df, warehouse_root,
            options=options, repartition=repartition,
        )
        result["batch_id"] = batch_id
        stats.append(result)

    writer = stream.writeStream.foreachBatch(sink)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    query = writer.start()
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    return stats
