"""End-to-end extraction job orchestration.

The batch analog of the reference's request lifecycle
(ref: ocr_translate/views.py:215-297 + ocr_tsl/full.py:79-173), SURVEY.md §3.4:

    pages scan
      -> anti-join vs committed `runs` ledger     (C1 memoization; `force`
         skips it, ref models/box.py:131-173)
      -> salted repartition on url-hash           (skew, north_rule)
      -> ONE mapInPandas Arrow stage              (X1+X2+A5 fused; C3
         in-flight url dedup over the co-located urls)
      -> xxhash64 + version/options columns       (JVM-side)
      -> run_id + snapshot_id ledger columns, observed row count
      -> stage parquet, single atomic snapshot commit of `extracted`

`extracted` is the only table a call commits.  Its rows carry the ledger
keys and the lineage columns, so the `runs` ledger and the `metrics`
lineage are views over it (io/tables.py: a projection and a per-partition
aggregate, derived on read).  Because the ledger IS the committed rows, a
killed run re-executes only the pages absent from it — idempotent resume,
the reference's lazy-path semantics (ref full.py:28-74) at batch scale.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from . import EXTRACTOR_VERSION
from .io.tables import open_warehouse
from .operators.extract import ExtractOptions, extract_pages, finalize_extracted
from .schemas import RUNS


def pending_pages(
    pages: DataFrame,
    runs: DataFrame,
    options_hash: "str | tuple[str, ...]",
    force: bool = False,
) -> DataFrame:
    """Pages with no committed run for (extractor_version, options_hash).

    The left anti-join is the batch form of the reference's per-item memo
    probe (ref models/box.py:131: ``filter(**params).first()``); version
    mismatches re-extract, which subsumes the reference's stale-entry
    invalidation (ref box.py:132-137).

    ``options_hash`` may be a tuple of equivalent cache keys
    (ExtractOptions.accepted_hashes): ledgers written under the legacy
    full-dict hash scheme keep memoizing across the scheme migration.

    Duplicate urls pass through: the extraction stage drops them after
    its salted repartition co-locates equal urls (operators/extract.py).
    """
    if force:
        return pages
    hashes = (options_hash,) if isinstance(options_hash, str) else tuple(options_hash)
    done = runs.filter(
        (F.col("extractor_version") == EXTRACTOR_VERSION)
        & (F.col("options_hash").isin(*hashes))
    ).select("url")
    # Broadcast the done-keys so the anti-join never shuffles page payloads
    # (a sort-merge anti-join would move the whole html column twice).  The
    # ledger read is a key-column projection of `extracted`, dwarfed by the
    # corpus; when it outgrows broadcast at 10^12 scale, bucket `pages` and
    # `extracted` by url-hash in Iceberg so the anti-join co-locates
    # without any payload shuffle.
    return pages.join(F.broadcast(done), "url", "left_anti")


def run_extraction(
    spark: SparkSession,
    pages: DataFrame,
    warehouse_root: str,
    options: ExtractOptions | None = None,
    force: bool = False,
    repartition: int | None = None,
    assume_unique_urls: bool = False,
) -> dict:
    """Run the incremental extraction job; returns commit stats.

    Stats: {run_id, snapshot_id, n_written}.  n_written == 0 means the
    ledger already covered every input page and nothing was committed —
    the memoization fast path (second invocation computes zero rows).

    Duplicate urls are dropped in the extraction stage, after the salted
    repartition co-locates them: at width ``repartition``, or at
    ``spark.sql.shuffle.partitions`` when it is None.

    ``assume_unique_urls=True`` with ``repartition=None`` is the
    ZERO-SHUFFLE mode: when the source contract guarantees unique urls
    (e.g. an Iceberg table with identifier fields, or an upstream
    dedup stage) and the source layout is size-balanced
    (``spark.sql.files.maxPartitionBytes`` splits), neither the C3 dedup
    nor the salted repartition needs to move the page payloads — the job
    becomes scan → broadcast anti-join → Arrow stage → write, measured
    ~2x the shuffled path's throughput.  Feeding duplicate urls under
    this flag double-extracts them (read_extracted's latest_only window
    still collapses duplicates read-side).
    """
    options = options or ExtractOptions()
    opts_hash = options.options_hash()
    # real Iceberg catalog when configured, parquet+manifest emulation here
    wh = open_warehouse(spark, warehouse_root)
    run_id = uuid.uuid4().hex[:12]

    # capture per-row lineage at SCAN time: once the ledger anti-join puts
    # a second file source in the plan, input_file_name() can no longer
    # resolve (MULTI_SOURCES_UNSUPPORTED) — hit on every resume run where
    # both pages and the runs ledger are parquet-backed
    if "input_split" not in pages.columns:
        pages = pages.withColumn("input_split", F.input_file_name())

    runs = wh.read(spark, "runs", schema=RUNS)
    todo = pending_pages(pages, runs, options.accepted_hashes(), force=force)
    if not repartition and not assume_unique_urls:
        repartition = int(spark.conf.get("spark.sql.shuffle.partitions"))

    staged_df = extract_pages(todo, options=options, repartition=repartition)

    # Pre-stamped: the id this commit will get under the documented
    # single-writer contract.  Under a concurrency race the parquet
    # emulation rebase-retries onto a HIGHER id (the Iceberg branch
    # instead raises ConcurrentCommitError and nothing publishes), so
    # the ledger column is ADVISORY under concurrency — run_id is the
    # authoritative run linkage (nothing read-side resolves through
    # ledger snapshot_id; read_extracted tie-breaks on
    # extractor_version/options_hash).  The stats dict always reports
    # the real committed id.
    snapshot_id = F.lit(wh.current_snapshot_id() + 1)
    if force:
        # upsert semantics for the ledger (J4, ref models/base.py:33-47
        # get_or_create): a forced re-extraction of already-ledgered keys
        # must not duplicate them — extraction is deterministic, so the
        # existing row (same url/version/options -> same text_hash) stays
        # authoritative.  The re-extracted rows get a NULL snapshot_id,
        # which the `runs` view skips.  Non-force runs are disjoint from
        # the ledger by construction (pending_pages anti-join), so this
        # broadcast join runs only under force.
        ledgered = runs.filter(
            (F.col("extractor_version") == EXTRACTOR_VERSION)
            & (F.col("options_hash") == opts_hash)
        ).select("url").distinct().withColumn("_ledgered", F.lit(True))
        staged_df = staged_df.join(F.broadcast(ledgered), "url", "left")
        snapshot_id = F.when(F.col("_ledgered").isNull(), snapshot_id)
    staged_df = staged_df.withColumns({
        "run_id": F.lit(run_id),
        "snapshot_id": snapshot_id.cast("long"),
    }).drop("_ledgered")

    # n_written is counted by the write itself.  The observation sits in
    # the write's result stage, where Spark merges a task's accumulator
    # update once, from the attempt that succeeded: a retried or
    # speculative task cannot count twice and a failed one does not count,
    # so the figure is exactly the rows in the written files.
    written = Observation("run_extraction_written")
    data_dir = wh.stage(
        staged_df.observe(written, F.count(F.lit(1)).alias("n")), "extracted"
    )
    n_written = written.get["n"]
    if n_written == 0:
        # fully-memoized run: nothing to commit — reclaim the staged
        # handle or every replayed streaming micro-batch leaks one
        wh.discard_staged(data_dir)
        return {
            "run_id": run_id,
            "snapshot_id": wh.current_snapshot_id(),
            "n_written": 0,
        }
    committed = wh.commit({"extracted": [data_dir]})
    return {"run_id": run_id, "snapshot_id": committed, "n_written": n_written}


def read_extracted(
    spark: SparkSession,
    warehouse_root: str,
    snapshot_id: int | None = None,
    latest_only: bool = True,
) -> DataFrame:
    """Committed extraction results (EXTRACTED columns, lineage dropped).

    With ``latest_only`` a url extracted under several versions/options
    yields only the newest row (version invalidation read-side, C2).
    """
    wh = open_warehouse(spark, warehouse_root)
    df = wh.read(spark, "extracted", snapshot_id=snapshot_id)
    out = finalize_extracted(df)
    if latest_only:
        from pyspark.sql import Window

        w = Window.partitionBy("url").orderBy(
            F.desc("extractor_version"), F.desc("options_hash")
        )
        out = (
            out.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    return out


def set_overrides(
    spark: SparkSession, warehouse_root: str, overrides: DataFrame
) -> int:
    """Persist manual overrides with UPDATE-IF-EXISTS semantics (ref
    views.py:345-379 ``set_manual_translation``: an existing manual entry
    for the same key gets its result text REPLACED, a new key inserts) —
    last-write-wins via Warehouse.upsert.  Returns the snapshot id."""
    wh = open_warehouse(spark, warehouse_root)
    return wh.upsert(
        spark, overrides.select("url", "text"), "overrides", ["url"]
    )


def read_extracted_with_overrides(
    spark: SparkSession,
    warehouse_root: str,
    snapshot_id: int | None = None,
    favor_manual: bool = True,
) -> DataFrame:
    """read_extracted + the committed ``overrides`` table applied (J5
    manual-priority join): the end-to-end form of the reference's
    favor_manual read path (ref models/tsl.py:216-235,269-271).

    ``favor_manual=False`` disables the manual priority for this read
    (same output schema, nothing manual), matching the reference's
    per-run option default-True cascade (ref ocr_tsl/full.py
    favor_manual; tests/ocr_tsl/test_full.py:83-149)."""
    from .schemas import OVERRIDES

    wh = open_warehouse(spark, warehouse_root)
    ext = read_extracted(spark, warehouse_root, snapshot_id=snapshot_id)
    if not favor_manual:
        return ext.withColumn("is_manual", F.lit(False)).withColumn(
            "final_text", F.col("extracted_text")
        )
    ov = wh.read(spark, "overrides", schema=OVERRIDES, snapshot_id=snapshot_id)
    return apply_overrides(ext, ov)


def apply_overrides(extracted: DataFrame, overrides: DataFrame) -> DataFrame:
    """Manual-override priority join (J5, ref models/tsl.py:216-235,269-271).

    ``overrides(url, text)`` rows win over computed text via left join +
    coalesce; the dimension is broadcast (it is human-curated, i.e. tiny
    relative to the corpus).
    """
    ov = F.broadcast(overrides.select(
        F.col("url").alias("_ov_url"), F.col("text").alias("_ov_text")
    ))
    return (
        extracted.join(ov, extracted["url"] == ov["_ov_url"], "left")
        .withColumn("is_manual", F.col("_ov_text").isNotNull())
        .withColumn("final_text", F.coalesce(F.col("_ov_text"), F.col("extracted_text")))
        .drop("_ov_url", "_ov_text")
    )
