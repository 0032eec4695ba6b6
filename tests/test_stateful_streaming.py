"""Streaming drivers: batch ≡ stream equivalence across micro-batches
(foreachBatch over file sources, ledger memoization on replay)."""

from __future__ import annotations

import os
import time

import pandas as pd


def test_streaming_extraction_matches_batch_and_is_idempotent(spark, tmp_path):
    """The flagship pipeline as a stream: chunked pages replay through
    foreachBatch into the same warehouse; results are byte-identical to
    the batch run and re-streaming commits nothing (ledger memoization
    across micro-batches)."""
    from pyspark.sql import functions as F

    from ocr_translate_spark.corpus import pages_df
    from ocr_translate_spark.pipeline import read_extracted
    from ocr_translate_spark.streaming.extract_stream import run_extraction_stream

    pages_dir = str(tmp_path / "pages")
    pages = pages_df(spark, 48, partitions=3)
    pages.write.parquet(pages_dir)  # 3 files -> 3 micro-batches

    wh = str(tmp_path / "wh")
    stats = run_extraction_stream(spark, pages_dir, wh, repartition=2)
    assert sum(s["n_written"] for s in stats) == 48
    assert len([s for s in stats if s["n_written"]]) >= 2  # really incremental

    got = read_extracted(spark, wh)
    mism = (
        got.join(pages.select("url", F.col("text").alias("e")), "url")
        .filter(F.col("extracted_text") != F.col("e"))
        .count()
    )
    assert got.count() == 48 and mism == 0

    # replay the whole stream from scratch: ledger wins, nothing recomputes
    stats2 = run_extraction_stream(spark, pages_dir, wh, repartition=2)
    assert sum(s["n_written"] for s in stats2) == 0
    assert read_extracted(spark, wh).count() == 48


def test_streaming_curation_matches_batch_and_is_idempotent(spark, tmp_path):
    """Continuous curation: chunked docs replay through foreachBatch into
    the warehouse; the final corpus equals the single-shot curate_corpus
    survivor set on the same input (modulo cross-batch keeper identity:
    with unique ids and planted dups the sets match here), and replaying
    the stream appends nothing."""
    from pyspark.sql import functions as F

    from ocr_translate_spark.curate import CURATED_TABLE, curate_corpus
    from ocr_translate_spark.io.tables import open_warehouse
    from ocr_translate_spark.streaming.curate_stream import run_curation_stream

    def sentence(i, n=30):
        words = []
        for j in range(n):
            words.append(["the", "quick", "brown", "fox", "jumps", "over",
                          "and", "lazy", "dog", f"topic{i}w{j}"][j % 10])
        return " ".join(words)

    rows = [(i, sentence(i)) for i in range(24)]
    rows.append((100, sentence(3)))   # exact dup, lands in the LAST batch
    rows.append((101, sentence(7) + " extraword"))  # near dup of 7, last batch
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs_dir = str(tmp_path / "docs")
    # FileStreamSource picks files up in MODIFICATION-TIME order, not id
    # order — write one file per intended micro-batch and pin widely
    # spaced mtimes explicitly, so the dup-carrying file deterministically
    # arrives AFTER its sources are committed (the arrival-order keeper
    # then matches curate_corpus's min-id keeper and the id sets compare
    # exactly; an earlier version relied on write order and was flaky).
    os.makedirs(docs_dir)
    all_pdf = docs.toPandas().sort_values("doc_id").reset_index(drop=True)
    now = time.time()
    for i, (lo, hi) in enumerate([(0, 10), (10, 20), (20, 200)]):
        chunk = all_pdf[(all_pdf["doc_id"] >= lo) & (all_pdf["doc_id"] < hi)]
        path = os.path.join(docs_dir, f"batch-{i:02d}.parquet")
        chunk.to_parquet(path)
        os.utime(path, (now - 60 + 20 * i, now - 60 + 20 * i))

    wh_root = str(tmp_path / "wh")
    reports = run_curation_stream(
        spark, docs_dir, wh_root, min_words=10, scrub=False,
    )
    assert sum(r["n_appended"] for r in reports) == 24
    wh = open_warehouse(spark, wh_root)
    streamed = {r["doc_id"] for r in wh.read(spark, CURATED_TABLE).collect()}

    batch_out, _ = curate_corpus(docs, min_words=10, scrub=False)
    batch_ids = {r["doc_id"] for r in batch_out.collect()}
    assert streamed == batch_ids  # dups 100/101 rejected in both paths

    # full replay: ledger + rejection idempotence, no new snapshots
    snap_before = wh.current_snapshot_id()
    reports2 = run_curation_stream(
        spark, docs_dir, wh_root, min_words=10, scrub=False,
    )
    assert sum(r["n_appended"] for r in reports2) == 0
    assert wh.current_snapshot_id() == snap_before


def test_streaming_curation_periodic_compaction(spark, tmp_path):
    """compact_every=2 folds the warehouse inside the stream's writer
    slot: after 4 appending micro-batches the manifest references ONE
    directory per table (2 batches appended post-compaction, compacted
    again at batch 4), read-back values are unchanged, and the report
    rows record the compaction snapshots."""
    from ocr_translate_spark.curate import CURATED_TABLE
    from ocr_translate_spark.io.tables import open_warehouse
    from ocr_translate_spark.streaming.curate_stream import run_curation_stream

    def sentence(i, n=30):
        words = []
        for j in range(n):
            words.append(["the", "quick", "brown", "fox", "jumps", "over",
                          "and", "lazy", "dog", f"topic{i}w{j}"][j % 10])
        return " ".join(words)

    docs_dir = str(tmp_path / "docs")
    os.makedirs(docs_dir)
    now = time.time()
    for b in range(4):
        pdf = pd.DataFrame(
            [(100 * b + i, sentence(100 * b + i)) for i in range(5)],
            columns=["doc_id", "text"],
        )
        path = os.path.join(docs_dir, f"batch-{b:02d}.parquet")
        pdf.to_parquet(path)
        os.utime(path, (now - 80 + 20 * b, now - 80 + 20 * b))

    wh_root = str(tmp_path / "wh")
    reports = run_curation_stream(
        spark, docs_dir, wh_root, min_words=10, scrub=False, compact_every=2,
    )
    assert [r["n_appended"] for r in reports] == [5, 5, 5, 5]
    compactions = [r for r in reports if "compacted_snapshot_id" in r]
    assert len(compactions) == 2
    wh = open_warehouse(spark, wh_root)
    dirs = wh._manifest(wh.current_snapshot_id())["tables"]
    assert all(len(v) == 1 for v in dirs.values()), dirs
    assert wh.read(spark, CURATED_TABLE).count() == 20


def test_streaming_curation_cross_batch_host_quota(spark, tmp_path):
    """--stream + --max-per-host end to end: the url column must survive
    the sink's projection so the quota/blocklist stage sees it, and the
    cross-batch host ledger must show fill -> reject -> top-up semantics
    across micro-batches (mirror of
    test_curate_incremental_cross_batch_host_quota, stream-driven)."""
    from ocr_translate_spark.curate import CURATED_TABLE, HOSTS_TABLE
    from ocr_translate_spark.io.tables import open_warehouse
    from ocr_translate_spark.streaming.curate_stream import run_curation_stream
    from pyspark.sql import functions as F

    def sentence(i, n=30):
        words = []
        for j in range(n):
            words.append(["the", "quick", "brown", "fox", "jumps", "over",
                          "and", "lazy", "dog", f"topic{i}w{j}"][j % 10])
        return " ".join(words)

    batches = [
        # batch 0 fills farm.example past the cap of 4
        [(i, f"https://farm.example/a{i}", sentence(i)) for i in range(6)],
        # batch 1: farm already full -> all rejected; ok.example ingests 3
        [(20 + i, f"https://farm.example/b{i}", sentence(20 + i)) for i in range(5)]
        + [(40 + i, f"https://ok.example/b{i}", sentence(40 + i)) for i in range(3)],
        # batch 2: ok.example tops up to the cap only (4 - 3 = 1)
        [(60 + i, f"https://ok.example/c{i}", sentence(60 + i)) for i in range(5)],
    ]
    docs_dir = str(tmp_path / "docs")
    os.makedirs(docs_dir)
    now = time.time()
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(rows, columns=["doc_id", "url", "text"])
        path = os.path.join(docs_dir, f"batch-{i:02d}.parquet")
        pdf.to_parquet(path)
        os.utime(path, (now - 60 + 20 * i, now - 60 + 20 * i))

    wh_root = str(tmp_path / "wh")
    reports = run_curation_stream(
        spark, docs_dir, wh_root, min_words=10, scrub=False,
        max_per_host=4, url_col="url",
    )
    assert [r["n_appended"] for r in reports] == [4, 3, 1]
    wh = open_warehouse(spark, wh_root)
    assert wh.read(spark, CURATED_TABLE).count() == 8
    counts = {
        r["host"]: r["n"]
        for r in wh.read(spark, HOSTS_TABLE)
        .groupBy("host").agg(F.sum("n").alias("n")).collect()
    }
    assert counts == {"farm.example": 4, "ok.example": 4}


def test_streaming_curation_with_embeddings(spark, tmp_path):
    """--stream + --embedding-col: the sink hands the embedding column
    through to the semantic stage, and a batch's semantic near-copy
    dies."""
    import math

    from ocr_translate_spark.curate import SEM_CELLS_TABLE
    from ocr_translate_spark.io.tables import open_warehouse
    from ocr_translate_spark.streaming.curate_stream import run_curation_stream

    def sentence(i, n=30):
        return " ".join(["the", "quick", "brown", "fox", "jumps", "over",
                         "and", "lazy", "dog", f"topic{i}w{j}"][j % 10]
                        for j in range(n))

    rows = [(i, sentence(i), [math.cos(i), math.sin(i), 0.0, 0.0])
            for i in range(5)]
    rows.append((5, sentence(5), [1.0, 0.0, 0.0, 0.0]))  # same vector as doc 0
    docs_dir = str(tmp_path / "docs")
    os.makedirs(docs_dir)
    pd.DataFrame(rows, columns=["doc_id", "text", "emb"]).to_parquet(
        os.path.join(docs_dir, "batch-00.parquet")
    )
    wh_root = str(tmp_path / "wh")
    reports = run_curation_stream(
        spark, docs_dir, wh_root, min_words=10, scrub=False,
        embedding_col="emb", semantic_threshold=0.999, semantic_cells=2,
    )
    assert [r["n_appended"] for r in reports] == [5]
    assert reports[0]["n_after_near_dedup"] == 6
    cells = open_warehouse(spark, wh_root).read(spark, SEM_CELLS_TABLE)
    assert {r["id"] for r in cells.collect()} == set(range(5))


def test_streaming_tier_ingest_converges_to_quota(spark, tmp_path):
    """Tier-extraction stream: three micro-batches through
    run_tiered_stream; the stored tiered table converges to the exact
    single-shot quota per (tier, group) cell, and replaying the stream
    (fresh checkpoint, same files) processes nothing new."""
    import math

    from pyspark.sql import functions as F

    from ocr_translate_spark.io.tables import open_warehouse
    from ocr_translate_spark.streaming.curate_stream import run_tiered_stream

    rows = [(i, "body %d" % i, (i * 29 % 80) / 80.0, "g%d" % (i % 2))
            for i in range(90)]
    pdf_cols = ["doc_id", "text", "q", "grp"]
    docs = spark.createDataFrame(rows, "doc_id long, text string, q double, grp string")
    docs_dir = str(tmp_path / "docs")
    os.makedirs(docs_dir)
    all_pdf = docs.toPandas()[pdf_cols]
    now = time.time()
    for i, (lo, hi) in enumerate([(0, 30), (30, 60), (60, 90)]):
        chunk = all_pdf[(all_pdf["doc_id"] >= lo) & (all_pdf["doc_id"] < hi)]
        path = os.path.join(docs_dir, f"batch-{i:02d}.parquet")
        chunk.to_parquet(path)
        os.utime(path, (now - 60 + 20 * i, now - 60 + 20 * i))

    wh_root = str(tmp_path / "wh")
    reports = run_tiered_stream(
        spark, docs_dir, wh_root,
        checkpoint_dir=str(tmp_path / "ckpt"),
        quality_col="q", group_col="grp", n_tiers=2, quota_coeff=1.0,
    )
    assert len(reports) == 3 and reports[0]["first_batch"]
    bounds = reports[0]["tier_bounds"]
    assert reports[1]["tier_bounds"] == bounds

    cells: dict[tuple, int] = {}
    for i, _t, q, g in rows:
        tier = 1 + sum(q < b for b in bounds)
        cells[(tier, g)] = cells.get((tier, g), 0) + 1
    expect = {k: min(m, math.floor(math.sqrt(m))) for k, m in cells.items()}

    wh = open_warehouse(spark, wh_root)
    got = {(r["tier"], r["grp"]): r["n"] for r in
           wh.read(spark, "tiered").groupBy("tier", "grp")
           .agg(F.count("*").alias("n")).collect()}
    assert got == expect

    # replay with a FRESH checkpoint: the tier_quals ledger (not streaming
    # state) carries idempotence — nothing appends, no snapshot burns
    snap = wh.current_snapshot_id()
    replay = run_tiered_stream(
        spark, docs_dir, wh_root,
        checkpoint_dir=str(tmp_path / "ckpt2"),
        quality_col="q", group_col="grp", n_tiers=2, quota_coeff=1.0,
    )
    assert all(r["n_new"] == 0 and r["n_kept"] == 0 for r in replay)
    assert wh.current_snapshot_id() == snap
    assert wh.read(spark, "tiered").count() == sum(expect.values())
