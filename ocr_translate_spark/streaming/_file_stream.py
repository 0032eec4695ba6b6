"""The file-stream driver the extraction, curation and tier streams share."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession


def run_file_stream(
    spark: SparkSession,
    src_dir: str,
    sink: "Callable[[DataFrame, int], None]",
    max_files_per_trigger: int,
    checkpoint_dir: "str | None",
) -> None:
    """Feed the parquet files under ``src_dir`` to ``sink(batch_df,
    batch_id)`` as a file stream, ``max_files_per_trigger`` files per
    micro-batch, with the schema probed from the files present at start.
    Synchronous: returns once every available file is processed
    (processAllAvailable), and stops the query on every exit path.
    ``checkpoint_dir`` (optional) is the query's checkpoint location."""
    schema = spark.read.parquet(src_dir).schema
    writer = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
        .writeStream.foreachBatch(sink)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    query = writer.start()
    try:
        query.processAllAvailable()
    finally:
        query.stop()
