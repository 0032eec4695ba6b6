"""spark-submit entry point for warehouse-backed incremental curation.

Packaging (same discipline as run_pipeline.py)::

    cd /root/repo && zip -r /tmp/otspark.zip ocr_translate_spark
    spark-submit --py-files /tmp/otspark.zip scripts/run_curation.py \
        --docs <documents parquet path or table:<name>> \
        --warehouse /path/to/warehouse [--stream] [--min-words 20]

``--docs`` usually points at the extraction warehouse's read-back
(crawl -> extract -> curate); each invocation is one ingestion batch —
idempotent, atomically committed, deduped against the stored corpus
(curate.curate_incremental).  ``--stream`` instead treats the path as a
file stream and ingests one micro-batch per source file
(streaming.curate_stream).

``--compact`` runs the maintenance pass instead of ingesting (no
--docs needed): per-batch appended directories fold into one per table,
host_counts and tier_counts collapse to one row per key, one atomic
replace-commit (curate.compact_warehouse).  Schedule it every N batches —
it is the writer for its duration (single-writer contract).

``--tier-select --tier-out <dir>`` runs the tier-extraction stage
(curate.tiered_select) over the stored curated corpus instead of
ingesting: quality tiers + sqrt-temperature keep quotas (optionally
span excision first via ``--span-excise-n``), kept rows written
``partitionBy(tier)`` so training jobs partition-prune to the tiers
they consume.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# plain `python scripts/run_curation.py` puts scripts/ on sys.path, not
# the repo root; spark-submit --py-files covers executors, this covers
# the driver process itself
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs",
                    help="documents parquet path or table:<catalog name>")
    ap.add_argument("--compact", action="store_true",
                    help="compact the warehouse instead of ingesting")
    ap.add_argument("--retain-last", type=int, default=None,
                    help="compact mode, Iceberg catalogs only: also expire "
                         "old table snapshots, keeping the last N (trades "
                         "deep time travel for storage)")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--min-words", type=int, default=20)
    ap.add_argument("--min-stopword-hits", type=int, default=None,
                    help="quality gate's distinct-stopword floor "
                         "(default 2; lower it for non-English or "
                         "synthetic corpora)")
    ap.add_argument("--near-threshold", type=float, default=0.8)
    ap.add_argument("--no-scrub", action="store_true")
    ap.add_argument("--url-col", default=None)
    ap.add_argument("--max-per-host", type=int, default=None,
                    help="cross-batch per-host quota (needs --url-col)")
    ap.add_argument("--embedding-col", default=None,
                    help="enable SemDeDup against the warehouse semantic "
                         "index (sem_centroids/sem_cells): the docs "
                         "column holding the embedding vector")
    ap.add_argument("--semantic-threshold", type=float, default=0.95)
    ap.add_argument("--semantic-cells", type=int, default=1024,
                    help="frozen-quantizer cell count (scale with corpus; "
                         "fixed after the first embedded batch)")
    ap.add_argument("--retier", action="store_true",
                    help="maintenance: recompute tier bounds from the full "
                         "seen-population quality ledger and rewrite "
                         "tiered/tier_bounds/tier_counts in one "
                         "replace-commit (curate.retier_warehouse); no "
                         "--docs needed")
    ap.add_argument("--tier-select", action="store_true",
                    help="tier-extract the stored curated corpus instead of "
                         "ingesting")
    ap.add_argument("--tier-ingest", action="store_true",
                    help="tier-extract ONE batch against the warehouse's "
                         "frozen bounds + cross-batch quota ledger "
                         "(curate.tiered_ingest); idempotent per batch")
    ap.add_argument("--quality-col", default=None,
                    help="tier modes: use this pre-scored column instead of "
                         "the built-in quality heuristic")
    ap.add_argument("--tier-out", default=None,
                    help="tier-select output dir (written partitionBy(tier))")
    ap.add_argument("--tiers", type=int, default=None,
                    help="tier count (tier modes default 4; --retier "
                         "defaults to the stored count)")
    ap.add_argument("--tier-quota-coeff", type=float, default=8.0)
    ap.add_argument("--tier-group-col", default=None,
                    help="rebalance keep quotas within this column's groups")
    ap.add_argument("--span-excise-n", type=int, default=None,
                    help="excise corpus-duplicated n-word spans before tiering")
    ap.add_argument("--stream", action="store_true",
                    help="file-stream mode: one micro-batch per source file")
    ap.add_argument("--compact-every", type=int, default=None,
                    help="stream mode: compact the warehouse after every N "
                         "appending batches")
    ap.add_argument("--cpus", type=int, default=0)
    args = ap.parse_args()

    from ocr_translate_spark.session import get_spark

    spark = get_spark("curate-pipeline", cpus=args.cpus or None)
    if args.compact:
        from ocr_translate_spark.curate import compact_warehouse

        t0 = time.monotonic()
        snap = compact_warehouse(
            spark, args.warehouse, retain_last=args.retain_last
        )
        print(json.dumps({
            "mode": "compact", "snapshot_id": snap,
            "wall_sec": round(time.monotonic() - t0, 3),
        }))
        return 0
    if args.retier:
        from ocr_translate_spark.curate import retier_warehouse

        t0 = time.monotonic()
        _snap, rep = retier_warehouse(
            spark, args.warehouse, id_col=args.id_col,
            n_tiers=args.tiers,
            quota_coeff=args.tier_quota_coeff,
        )
        rep["mode"] = "retier"
        rep["wall_sec"] = round(time.monotonic() - t0, 3)
        print(json.dumps(rep))
        return 0
    if args.tier_ingest:
        from ocr_translate_spark.curate import tiered_ingest

        if not args.docs:
            ap.error("--tier-ingest needs --docs (the batch)")
        t0 = time.monotonic()
        docs = (
            spark.table(args.docs.split(":", 1)[1])
            if args.docs.startswith("table:") else spark.read.parquet(args.docs)
        )
        _, rep = tiered_ingest(
            spark, args.warehouse, docs,
            id_col=args.id_col, text_col=args.text_col,
            quality_col=args.quality_col, group_col=args.tier_group_col,
            n_tiers=args.tiers or 4, quota_coeff=args.tier_quota_coeff,
        )
        rep["mode"] = "tier_ingest"
        rep["kept_per_tier"] = {
            str(k): v for k, v in rep.get("kept_per_tier", {}).items()
        }
        rep["wall_sec"] = round(time.monotonic() - t0, 3)
        print(json.dumps(rep))
        return 0
    if args.tier_select:
        from ocr_translate_spark.curate import read_curated, tiered_select

        if not args.tier_out:
            ap.error("--tier-select needs --tier-out")
        t0 = time.monotonic()
        corpus = (
            spark.read.parquet(args.docs) if args.docs
            else read_curated(spark, args.warehouse)
        )
        out, rep = tiered_select(
            corpus, id_col=args.id_col, text_col=args.text_col,
            quality_col=args.quality_col,
            group_col=args.tier_group_col, n_tiers=args.tiers or 4,
            quota_coeff=args.tier_quota_coeff,
            span_excise_n=args.span_excise_n, min_words=args.min_words,
        )
        out.filter("keep").drop("keep").write.mode("overwrite").partitionBy(
            "tier"
        ).parquet(args.tier_out)
        print(json.dumps({
            "mode": "tier_select", "out": args.tier_out,
            "n_input": rep["n_input"],
            "n_after_excise": rep.get("n_after_excise"),
            "tier_bounds": rep["tier_bounds"],
            "tiers": {str(k): list(v) for k, v in rep["tiers"].items()},
            "wall_sec": round(time.monotonic() - t0, 3),
        }))
        return 0
    if not args.docs:
        ap.error("--docs is required unless --compact is given")
    kw = dict(
        id_col=args.id_col, text_col=args.text_col,
        min_words=args.min_words, near_threshold=args.near_threshold,
        scrub=not args.no_scrub,
    )
    if args.min_stopword_hits is not None:
        kw["gopher_kwargs"] = {"min_stopword_hits": args.min_stopword_hits}
    if args.max_per_host:
        kw.update(max_per_host=args.max_per_host, url_col=args.url_col)
    if args.embedding_col:
        kw.update(embedding_col=args.embedding_col,
                  semantic_threshold=args.semantic_threshold,
                  semantic_cells=args.semantic_cells)
    t0 = time.monotonic()
    if args.stream:
        from ocr_translate_spark.streaming.curate_stream import run_curation_stream

        reports = run_curation_stream(
            spark, args.docs, args.warehouse,
            compact_every=args.compact_every, **kw,
        )
        out = {
            "mode": "stream", "batches": reports,
            "n_appended": sum(r["n_appended"] for r in reports),
        }
    else:
        from ocr_translate_spark.curate import curate_incremental

        if args.docs.startswith("table:"):
            docs = spark.table(args.docs.split(":", 1)[1])
        else:
            docs = spark.read.parquet(args.docs)
        _, rep = curate_incremental(spark, args.warehouse, docs, **kw)
        out = {"mode": "batch"} | rep.as_dict()
    out["wall_sec"] = round(time.monotonic() - t0, 3)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
