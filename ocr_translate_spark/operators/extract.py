"""The extraction stage: pages -> extracted (+ per-partition lineage).

Batch analog of the reference's full pipeline worker
(ref: ocr_translate/ocr_tsl/full.py:79-173): box detection (X1), per-region
text extraction (X2) and reading-order assembly (A5/X4) are fused into ONE
Arrow-vectorized ``mapInPandas`` pass — the tag tokenizer emits DOM block
spans, the block classifier scores text/link density, and span assembly
happens in document order.  PDF payloads take the layout pass
(kernels/pdf_extract.py).  No per-row Python outside the Arrow batch loop;
no shuffle inside the stage.

Scale notes (100 TB / 1000 executors):
* ``salted_repartition`` breaks host-level byte skew (WARC files are
  host-clustered; a handful of giant-page hosts would otherwise pin a few
  tasks).  It is the only payload shuffle in the pipeline, and the stage
  after it drops duplicate urls (C3), which it co-locates.  Only
  ``run_extraction(assume_unique_urls=True)`` skips it: unique urls on a
  size-balanced source layout need neither the dedup nor the shuffle
  (``spark.sql.files.maxPartitionBytes`` splits balance the tasks).
* text_hash is computed JVM-side (``xxhash64``) after the UDF so ledger
  hashing stays consistent with Spark SQL and costs no Python time.
* Arrow batches are bounded by rows (session.py maxRecordsPerBatch) so a
  run of giant pages cannot blow a python worker's memory.
"""

from __future__ import annotations

import hashlib
import json
import time
from dataclasses import asdict, dataclass, field
from typing import Iterator

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame, functions as F

from .. import EXTRACTOR_VERSION
from ..kernels.html_extract import extract_html
from ..kernels.pdf_extract import extract_pdf, is_pdf


@dataclass(frozen=True)
class ExtractOptions:
    """Job options; hashed into the run cache key exactly like the
    reference's interned OptionDict (ref models/base.py:49-54)."""

    max_link_density: float = 0.33
    min_content_chars: int = 25
    keep_title: bool = True
    # X4 run-mode switch (ref models/ocr.py:42-50 ocr_mode single|merged):
    # 'merged' = one span per kept DOM block; 'single' = one span per text
    # run (line) inside each kept block.  Joining single runs with the
    # block/line separators reproduces the merged text exactly (A5
    # assembly invariant, tested).
    granularity: str = "merged"
    extras: dict = field(default_factory=dict)

    def options_hash(self) -> str:
        """Canonicalized cache key: only fields that DIFFER from their
        defaults enter the hash blob, so adding a new option with a default
        value later never invalidates existing ledger memo entries (the
        default path's output is unchanged by construction).  Non-default
        values still invalidate exactly the runs they affect."""
        defaults = asdict(ExtractOptions())
        delta = {k: v for k, v in asdict(self).items() if v != defaults[k]}
        blob = json.dumps(delta, sort_keys=True, default=str)
        return hashlib.sha256(blob.encode()).hexdigest()[:16]

    def accepted_hashes(self) -> tuple[str, ...]:
        """All cache keys under which a run of THESE options may appear in
        an existing ledger.  The delta-canonicalized scheme above replaced
        the original full-field-dict scheme; without this, the scheme
        switch itself would be a one-time corpus-wide invalidation (every
        ledger row written under the old hash would silently re-extract).
        The memo probe (pipeline.pending_pages) therefore accepts EITHER
        hash; new rows are always written under the canonical scheme, so
        legacy keys age out of ledgers naturally as options change."""
        legacy_blob = json.dumps(asdict(self), sort_keys=True, default=str)
        legacy = hashlib.sha256(legacy_blob.encode()).hexdigest()[:16]
        canonical = self.options_hash()
        return (canonical,) if legacy == canonical else (canonical, legacy)


_STAGE_SCHEMA = (
    "url string, lang string, extracted_text string, "
    "span_starts array<long>, span_ends array<long>, n_blocks int, n_kept int, "
    "title string, payload_kind string, bytes_in long, "
    "partition_id int, input_split string, wall_ms double"
)


# Buckets per target partition of ``salted_repartition``.
SALT = 64


def salted_repartition(df: DataFrame, num_partitions: int) -> DataFrame:
    """Repartition on a salted url-hash to break host/byte skew (north_rule).

    ``SALT`` buckets per target partition; r8 raised it 8 -> 64
    per the skew guidance (many more distinct key values than partitions
    so the hash spreads evenly): ~salt pages-per-bucket variance is what
    sets the extract stage's straggler tail, and the interleaved 600k A/B
    read ~5% in 64's favor at zero cost.  A single giant page remains
    irreducible at any salt — that term is the corpus, not the plan.

    ``xxhash64(url) % (P * SALT)`` gives ``SALT`` buckets per target
    partition, so even a pathological upstream layout (all giant pages in
    one input split) spreads evenly.
    """
    buckets = num_partitions * SALT
    return df.repartition(
        num_partitions, F.pmod(F.xxhash64(F.col("url")), F.lit(buckets))
    )


def _single_spans(
    text: str, starts: list[int], ends: list[int]
) -> tuple[list[int], list[int]]:
    """X4 'single' granularity: subdivide each block span at newline
    boundaries so each span is one text run (the analog of single BBoxes
    inside a merged BBox, ref models/box.py:32-59)."""
    s2: list[int] = []
    e2: list[int] = []
    for s, e in zip(starts, ends):
        pos = s
        for run in text[s:e].split("\n"):
            if run:
                s2.append(pos)
                e2.append(pos + len(run))
            pos += len(run) + 1
    return s2, e2


def _extract_batches(
    batches: Iterator[pd.DataFrame],
    drop_dup_urls: bool = False,
    options: "ExtractOptions | None" = None,
) -> Iterator[pd.DataFrame]:
    opts = options or ExtractOptions()
    single = opts.granularity == "single"
    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx is not None else -1
    # partition-local dedup (C3): valid because the salted url-hash
    # repartition co-locates equal urls; costs one hash-set instead of a
    # second full-payload shuffle (dropDuplicates would reshuffle the html)
    seen: set | None = set() if drop_dup_urls else None
    for pdf in batches:
        t0 = time.monotonic()
        if seen is not None:
            mask = ~pdf["url"].isin(seen) & ~pdf["url"].duplicated()
            seen.update(pdf["url"])
            if not mask.all():
                pdf = pdf[mask]
            if pdf.empty:
                continue
        out = {
            "url": pdf["url"],
            "lang": pdf["lang"],
            "extracted_text": [],
            # spans travel as two flat int arrays — Arrow moves primitive
            # lists ~10x cheaper than Python list-of-dict structs; the
            # struct column is zipped JVM-side (extract_pages)
            "span_starts": [],
            "span_ends": [],
            "n_blocks": [],
            "n_kept": [],
            "title": [],
            "payload_kind": [],
            "bytes_in": [],
        }
        for data in pdf["html"]:
            raw = bytes(data) if data is not None else b""
            if is_pdf(raw):
                text, spans, n_objs = extract_pdf(raw)
                starts = [s for s, _ in spans]
                ends = [e for _, e in spans]
                out["extracted_text"].append(text)
                out["n_blocks"].append(n_objs)
                out["n_kept"].append(n_objs)
                out["title"].append("")
                out["payload_kind"].append("pdf")
            else:
                res = extract_html(
                    raw,
                    max_link_density=opts.max_link_density,
                    min_content_chars=opts.min_content_chars,
                )
                text = res.text
                starts = [s for s, _ in res.spans]
                ends = [e for _, e in res.spans]
                out["extracted_text"].append(text)
                out["n_blocks"].append(res.n_blocks)
                out["n_kept"].append(res.n_kept)
                out["title"].append(res.title if opts.keep_title else "")
                out["payload_kind"].append("html")
            if single:
                starts, ends = _single_spans(text, starts, ends)
            out["span_starts"].append(starts)
            out["span_ends"].append(ends)
            out["bytes_in"].append(len(raw))
        wall = (time.monotonic() - t0) * 1000.0
        result = pd.DataFrame(out)
        result["partition_id"] = pid
        result["input_split"] = pdf["input_split"] if "input_split" in pdf else ""
        # amortize the batch wall-clock over its rows so a plain SUM at the
        # metrics aggregation recovers the true per-partition wall time
        result["wall_ms"] = wall / max(len(result), 1)
        yield result


def extract_pages(
    df: DataFrame,
    options: ExtractOptions | None = None,
    repartition: int | None = None,
) -> DataFrame:
    """pages DataFrame -> extracted DataFrame (EXTRACTED schema + lineage cols).

    The returned frame carries ``partition_id``/``input_split``/``wall_ms``
    lineage columns, which the pipeline commits with the rows:
    ``finalize_extracted`` drops them on read and ``partition_metrics``
    aggregates them into the ``metrics`` view.
    """
    options = options or ExtractOptions()
    # lineage: callers that join the scan with other file sources first
    # (the memo anti-join against the parquet runs ledger) MUST attach
    # input_split at scan time — input_file_name() above a multi-source
    # plan is an AnalysisException (caught by the 1M-page resume probe);
    # pipeline.run_extraction does, this fallback covers direct callers
    src = df if "input_split" in df.columns else df.withColumn(
        "input_split", F.input_file_name()
    )
    src = src.select("url", "html", "lang", "input_split")
    if repartition:
        src = salted_repartition(src, repartition)

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # with the salted repartition, equal urls are co-located
        return _extract_batches(
            batches, drop_dup_urls=bool(repartition), options=options
        )

    staged = src.mapInPandas(stage, schema=_STAGE_SCHEMA)
    spans = F.arrays_zip(
        F.col("span_starts").alias("start"), F.col("span_ends").alias("end")
    ).cast("array<struct<start:long,end:long>>")
    return (
        staged.withColumn("spans", spans)
        .drop("span_starts", "span_ends")
        .withColumn("text_hash", F.xxhash64(F.col("extracted_text")))
        .withColumn("extractor_version", F.lit(EXTRACTOR_VERSION))
        .withColumn("options_hash", F.lit(options.options_hash()))
    )


def finalize_extracted(staged: DataFrame) -> DataFrame:
    """Project the EXTRACTED table columns (drop lineage)."""
    return staged.select(
        "url", "lang", "extracted_text", "spans", "n_blocks", "n_kept",
        "title", "payload_kind", "text_hash", "bytes_in",
        "extractor_version", "options_hash",
    )


def partition_metrics(staged: DataFrame) -> DataFrame:
    """Per-partition lineage rows (north_rule; METRICS schema).

    Aggregated JVM-side from the lineage columns the stage emitted and the
    ``run_id`` the pipeline stamps — one row per (run, task partition):
    row count, input bytes, an order-insensitive extraction hash, and the
    batch wall-clock.  The warehouse derives the ``metrics`` table with it
    on read (io/tables.py ledger_view).
    """
    return (
        staged.groupBy("run_id", "partition_id")
        .agg(
            F.max("input_split").alias("input_split"),
            F.count("*").alias("row_count"),
            F.sum("bytes_in").alias("bytes_in"),
            # bit_xor: order-insensitive combine with no ANSI overflow risk
            F.expr("bit_xor(text_hash)").alias("extraction_hash"),
            F.sum("wall_ms").cast("long").alias("wall_clock_ms"),
        )
        .select(
            "partition_id", "input_split", "row_count", "bytes_in",
            "extraction_hash", "wall_clock_ms", "run_id",
        )
    )
