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
from ._file_stream import run_file_stream


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
    reports: list[dict] = []
    appended_batches = 0

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal appended_batches
        if not batch_df.take(1):
            return
        # the whole batch goes in: curation projects the columns its
        # options name (id, text, url, embedding).  The survivors are
        # committed and the returned frame holds no cache
        # (curate_incremental releases everything it materialised,
        # checkpoint blocks included), so a long-running stream holds no
        # persistent RDD between batches
        _, rep = curate_incremental(
            spark, warehouse_root, batch_df,
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

    run_file_stream(spark, docs_dir, sink, max_files_per_trigger, checkpoint_dir)
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
    stream survives checkpoint loss and restarts idempotently (the ids
    of the ``tier_quals`` ledger skip already-processed docs).  Composes downstream
    of the curation stream: crawl -> extract -> curate -> tier, every
    stage resumable from its warehouse snapshot.

    ``tier_kwargs`` pass through to tiered_ingest (quality_col,
    group_col, n_tiers, quota_coeff, ...).  Returns per-batch reports.
    """
    from ..curate import tiered_ingest

    cols = [id_col, text_col]
    for k in ("quality_col", "group_col"):
        c = tier_kwargs.get(k)
        if c and c not in cols:
            cols.append(c)
    reports: list[dict] = []

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        # tiered_ingest releases what it caches, so a long-running stream
        # holds no persistent RDD between batches
        _, rep = tiered_ingest(
            spark, warehouse_root, batch_df.select(*cols),
            id_col=id_col, text_col=text_col, **tier_kwargs,
        )
        rep["batch_id"] = batch_id
        reports.append(rep)

    run_file_stream(spark, docs_dir, sink, max_files_per_trigger, checkpoint_dir)
    return reports
