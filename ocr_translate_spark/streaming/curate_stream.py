"""Streaming curation: continuous-crawl ingestion as a file stream.

``readStream`` over a documents source -> per-micro-batch
``curate.curate_incremental`` via ``foreachBatch`` — each batch dedups
against the warehouse-resident corpus (md5 keys + MinHash LSH index)
and appends its survivors in one atomic multi-table commit.  State
lives in the committed tables, not in streaming state stores, so the
stream survives checkpoint loss, restarts idempotently (the ledger
anti-join skips already-ingested ids), and interleaves with batch
`curate_incremental` calls — SERIALIZED, single writer per warehouse
root, same contract as the extraction stream (extract_stream.py).

This is the curation mirror of run_extraction_stream: extraction turns
raw pages into text continuously; this turns extracted text into a
deduplicated, quality-gated training corpus continuously.  The two
compose into crawl -> extract -> curate with every stage resumable
from its warehouse snapshot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..curate import curate_incremental


def run_curation_stream(
    spark: SparkSession,
    docs_dir: str,
    warehouse_root: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_files_per_trigger: int = 1,
    checkpoint_dir: str | None = None,
    compact_every: int | None = None,
    **curate_kwargs,
) -> list[dict]:
    """Drive curation as a file stream (one micro-batch per source file
    by default), committing one warehouse snapshot per batch with
    survivors.  ``curate_kwargs`` pass through to curate_incremental
    (min_words, near_threshold, gopher_kwargs, benchmark, ...).

    ``compact_every=N`` runs :func:`curate.compact_warehouse` after
    every N appending batches, inside the sink (the stream IS the
    single writer, so the slot is free between batches) — continuous
    ingestion then keeps a bounded file count on the index tables
    instead of one directory per batch forever.

    Returns the per-batch report dicts (with ``batch_id``); a replayed
    batch reports ``n_appended == 0`` and burns no snapshot.
    Synchronous (processAllAvailable) — long-running services keep the
    query running instead."""
    schema = spark.read.parquet(docs_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(docs_dir)
    )
    reports: list[dict] = []

    # the sink projects the batch down to the columns curation consumes:
    # id + text, plus the url column when the kwargs switch on the
    # blocklist/quota stage (projecting it away here used to make
    # --stream --max-per-host fail at the first batch — the quota stage
    # never saw its key column)
    cols = [id_col, text_col]
    url_col = curate_kwargs.get("url_col")
    if url_col and url_col not in cols:
        cols.append(url_col)

    appended_batches = 0

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal appended_batches
        if not batch_df.take(1):
            return
        # the survivors are committed and the returned frame holds no
        # cache (curate_incremental releases everything it materialised,
        # checkpoint blocks included), so a long-running stream holds no
        # persistent RDD between batches
        _, rep = curate_incremental(
            spark, warehouse_root, batch_df.select(*cols),
            id_col=id_col, text_col=text_col, **curate_kwargs,
        )
        d = rep.as_dict()
        d["batch_id"] = batch_id
        if rep.n_appended:
            appended_batches += 1
            if compact_every and appended_batches % compact_every == 0:
                from ..curate import compact_warehouse

                d["compacted_snapshot_id"] = compact_warehouse(
                    spark, warehouse_root
                )
        reports.append(d)

    writer = stream.writeStream.foreachBatch(sink)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    query = writer.start()
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    return reports


def run_tiered_stream(
    spark: SparkSession,
    docs_dir: str,
    warehouse_root: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_files_per_trigger: int = 1,
    checkpoint_dir: str | None = None,
    **tier_kwargs,
) -> list[dict]:
    """Tier extraction as a file stream: per-micro-batch
    :func:`curate.tiered_ingest` via ``foreachBatch`` — the first batch
    freezes the stored tier bounds, every later batch tops up the
    cross-batch sqrt-temperature quotas, and each batch's kept rows +
    ledgers commit atomically.  Same state discipline as
    run_curation_stream: everything lives in committed tables, so the
    stream survives checkpoint loss and restarts idempotently (the
    tier_seen ledger skips already-processed ids).  Composes downstream
    of the curation stream: crawl -> extract -> curate -> tier, every
    stage resumable from its warehouse snapshot.

    ``tier_kwargs`` pass through to tiered_ingest (quality_col,
    group_col, n_tiers, quota_coeff, ...).  Returns per-batch reports.
    """
    from ..curate import tiered_ingest

    schema = spark.read.parquet(docs_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(docs_dir)
    )
    cols = [id_col, text_col]
    for k in ("quality_col", "group_col"):
        c = tier_kwargs.get(k)
        if c and c not in cols:
            cols.append(c)
    reports: list[dict] = []

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        kept_df, rep = tiered_ingest(
            spark, warehouse_root, batch_df.select(*cols),
            id_col=id_col, text_col=text_col, **tier_kwargs,
        )
        # the kept frame is committed — drop its batch-scoped cache, which
        # the sink owns, so a long-running stream doesn't accumulate one
        # cached relation per micro-batch
        kept_df.unpersist()
        rep["batch_id"] = batch_id
        reports.append(rep)

    writer = stream.writeStream.foreachBatch(sink)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    query = writer.start()
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    return reports
