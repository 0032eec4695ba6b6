"""End-to-end extraction pipeline tests (golden parity + resume semantics).

Mirrors the reference's test layers (SURVEY.md §5): golden byte-identical
extraction per url, run reuse (ref tests/test_models.py:205
test_box_run_reuse), manual-override priority (ref tests/test_models.py:544),
and idempotent resume.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from ocr_translate_spark.corpus import pages_df, pages_pandas
from ocr_translate_spark.io.tables import Warehouse
from ocr_translate_spark.operators.extract import ExtractOptions
from ocr_translate_spark.pipeline import (
    apply_overrides,
    read_extracted,
    run_extraction,
)
from ocr_translate_spark.schemas import METRICS, RUNS

N_PAGES = 160  # covers all 16 variant slots 10x
# Spark jobs per run_extraction call (test_run_extraction_spark_jobs_per_call)
COLD_JOBS, RECRAWL_JOBS, MEMO_JOBS = 3, 3, 3


@pytest.fixture()
def pages(spark):
    return pages_df(spark, N_PAGES, partitions=4)


def test_extraction_golden_byte_identical(spark, pages, tmp_path):
    """Every page's extracted text is byte-identical to its golden
    (north_star correctness contract)."""
    root = str(tmp_path / "wh")
    stats = run_extraction(spark, pages, root, repartition=4)
    assert stats["n_written"] == N_PAGES

    got = read_extracted(spark, root).select("url", "extracted_text")
    golden = pages.select("url", F.col("text").alias("expected"))
    joined = got.join(golden, "url")
    mismatched = joined.filter(
        F.col("extracted_text") != F.col("expected")
    ).count()
    assert mismatched == 0
    assert joined.count() == N_PAGES


def test_spans_index_extracted_text(spark, pages, tmp_path):
    root = str(tmp_path / "wh")
    run_extraction(spark, pages, root)
    rows = (
        read_extracted(spark, root)
        .select("extracted_text", "spans")
        .filter(F.size("spans") > 0)
        .limit(20)
        .collect()
    )
    assert rows
    for row in rows:
        for span in row["spans"]:
            seg = row["extracted_text"][span["start"]: span["end"]]
            assert seg and "\n" not in seg or seg  # spans cover kept blocks


def test_memoization_second_run_computes_zero(spark, pages, tmp_path):
    """C1: re-running the same job extracts nothing (ledger hit)."""
    root = str(tmp_path / "wh")
    first = run_extraction(spark, pages, root)
    assert first["n_written"] == N_PAGES
    second = run_extraction(spark, pages, root)
    assert second["n_written"] == 0
    # and the committed table did not grow
    assert read_extracted(spark, root).count() == N_PAGES


def test_force_recomputes(spark, tmp_path):
    root = str(tmp_path / "wh")
    pages = pages_df(spark, 32, partitions=2)
    run_extraction(spark, pages, root)
    stats = run_extraction(spark, pages, root, force=True)
    assert stats["n_written"] == 32
    # read-side dedup keeps one row per url
    assert read_extracted(spark, root).count() == 32


def test_resume_with_parquet_pages_and_ledger(spark, tmp_path):
    """Regression (found by a 1M-page probe): when BOTH the pages input
    and the runs ledger are parquet-backed — the production shape of
    every resume — the plan has two file sources, and input_file_name()
    evaluated above the memo join is an AnalysisException.  Lineage must
    be captured at scan time."""
    root = str(tmp_path / "wh")
    pages_dir = str(tmp_path / "pages")
    pages_df(spark, 24, partitions=2).write.parquet(pages_dir)
    pages = spark.read.parquet(pages_dir)
    first = run_extraction(spark, pages, root)
    assert first["n_written"] == 24
    second = run_extraction(spark, spark.read.parquet(pages_dir), root)
    assert second["n_written"] == 0  # memoized, and the plan resolves
    # lineage still points at the real input splits
    metrics = Warehouse(root).read(spark, "metrics", schema=METRICS)
    splits = [r["input_split"] for r in metrics.collect() if r["row_count"]]
    assert splits and all("pages" in s for s in splits)


def test_resume_after_partial_commit(spark, tmp_path):
    """Kill-and-restart: pages committed before the 'crash' are not
    recomputed; the union equals a clean full run (north_rule resume)."""
    root = str(tmp_path / "wh")
    first_half = pages_df(spark, 48, partitions=2).limit(30)
    run_extraction(spark, first_half, root)

    full = pages_df(spark, 48, partitions=2)
    stats = run_extraction(spark, full, root)
    assert stats["n_written"] == 48 - 30
    assert read_extracted(spark, root).count() == 48


def test_options_change_recomputes(spark, tmp_path):
    """Options are part of the memo key (ref OptionDict interning)."""
    root = str(tmp_path / "wh")
    pages = pages_df(spark, 16, partitions=2)
    run_extraction(spark, pages, root)
    stats = run_extraction(
        spark, pages, root, options=ExtractOptions(min_content_chars=10)
    )
    assert stats["n_written"] == 16


def test_dup_urls_deduped(spark, tmp_path, monkeypatch):
    """C3: identical urls collapse before compute.  With no
    ``repartition``, copies spread over several input partitions still
    commit once each, and the salted shuffle is the only payload exchange:
    no aggregate on url, no second shuffle."""
    import re

    plans = []
    stage = Warehouse.stage

    def recording_stage(self, df, table):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return stage(self, df, table)

    monkeypatch.setattr(Warehouse, "stage", recording_stage)
    root = str(tmp_path / "wh")
    pages = pages_df(spark, 16, partitions=2)
    doubled = pages.union(pages)
    stats = run_extraction(spark, doubled, root)
    assert stats["n_written"] == 16
    got = read_extracted(spark, root, latest_only=False)
    assert got.count() == got.select("url").distinct().count() == 16
    [plan] = plans
    # dropDuplicates plans as a Hash- or SortAggregate keyed on url
    assert not re.search(r"Aggregate\(keys?=\[url#", plan), plan
    assert len(re.findall(r"(?<!Broadcast)Exchange ", plan)) == 1, plan


def test_dup_urls_deduped_in_stage(spark, tmp_path):
    """C3 at an explicit width: after the salted repartition, dedup
    happens partition-locally inside the Arrow stage (equal urls are
    co-located)."""
    root = str(tmp_path / "wh")
    pages = pages_df(spark, 16, partitions=2)
    tripled = pages.union(pages).union(pages)
    stats = run_extraction(spark, tripled, root, repartition=4)
    assert stats["n_written"] == 16
    assert read_extracted(spark, root).count() == 16


def test_metrics_lineage_rows(spark, pages, tmp_path):
    root = str(tmp_path / "wh")
    stats = run_extraction(spark, pages, root, repartition=4)
    wh = Warehouse(root)
    metrics = wh.read(spark, "metrics", schema=METRICS)
    rows = metrics.collect()
    assert rows
    assert sum(r["row_count"] for r in rows) == N_PAGES == stats["n_written"]
    assert all(r["bytes_in"] > 0 for r in rows)
    assert {r["run_id"] for r in rows} == {stats["run_id"]}
    assert [(f.name, f.dataType) for f in metrics.schema] == [
        (f.name, f.dataType) for f in METRICS
    ]


def test_empty_table_read_is_zero_partition(spark, tmp_path):
    """A table with no commit reads as a zero-partition frame, so the
    first run's ledger anti-join starts no task to scan it."""
    runs = Warehouse(str(tmp_path / "wh")).read(spark, "runs", schema=RUNS)
    assert runs.rdd.getNumPartitions() == 0
    assert runs.count() == 0
    assert runs.schema == RUNS


def test_open_warehouse_dispatch(spark, tmp_path):
    """The factory returns the parquet emulation when no Iceberg catalog is
    configured (this container), the Iceberg branch when one is."""
    from ocr_translate_spark.io.tables import (
        IcebergWarehouse,
        iceberg_available,
        open_warehouse,
    )

    wh = open_warehouse(spark, str(tmp_path / "wh"))
    if iceberg_available(spark):  # pragma: no cover - needs Iceberg jars
        assert isinstance(wh, IcebergWarehouse)
    else:
        assert isinstance(wh, Warehouse)
        # read_staged must see a staged-but-uncommitted handle
        df = spark.range(3).toDF("x")
        handle = wh.stage(df, "t")
        assert wh.read_staged(spark, handle).count() == 3
        assert wh.current_snapshot_id() == 0  # still uncommitted


def test_iceberg_warehouse_roundtrip(spark, tmp_path):
    """Live Iceberg branch: stage -> commit (one snapshot-log append as
    the atomic publish point) -> read/time-travel through the log.  Runs
    only where an Iceberg catalog is configured; the parquet emulation
    covers the identical contract in this container."""
    from ocr_translate_spark.io.tables import IcebergWarehouse, iceberg_available

    if not iceberg_available(spark):
        pytest.skip("no Iceberg catalog configured in this container")
    wh = IcebergWarehouse(spark, "wh_test")  # pragma: no cover
    df = spark.range(5).toDF("x")
    staged = {"extracted": [wh.stage(df, "extracted")],
              "t2": [wh.stage(df, "t2")]}
    snap = wh.commit(staged)
    assert snap == wh.current_snapshot_id()  # sequential logical ids
    assert wh.read(spark, "extracted").count() == 5
    assert wh.read(spark, "t2").count() == 5
    snap2 = wh.commit({"extracted": [wh.stage(df, "extracted")]})
    assert snap2 == snap + 1
    assert wh.read(spark, "extracted").count() == 10
    # time travel resolves through the snapshot log, not raw Iceberg ids
    assert wh.read(spark, "extracted", snapshot_id=snap).count() == 5
    assert wh.read(spark, "t2", snapshot_id=snap2).count() == 5
    # crash recovery: append WITHOUT a log publish (= a commit that died
    # in between), then commit normally — the orphan must be rolled back,
    # not folded into the next published snapshot
    df.writeTo(wh._full("extracted")).append()  # orphan append
    assert wh.read(spark, "extracted").count() == 10  # invisible to reads
    snap3 = wh.commit({"extracted": [wh.stage(df, "extracted")]})
    assert wh.read(spark, "extracted", snapshot_id=snap3).count() == 15  # not 20
    # merge: true MERGE INTO upsert — duplicate keys impossible
    kv = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    wh.merge(spark, kv, "ledger", ["k"])
    kv2 = spark.createDataFrame([(2, "X"), (3, "c")], "k long, v string")
    wh.merge(spark, kv2, "ledger", ["k"])
    got = {r["k"]: r["v"] for r in wh.read(spark, "ledger").collect()}
    assert got == {1: "a", 2: "b", 3: "c"}  # first writer wins on k=2
    # upsert: WHEN MATCHED THEN UPDATE — last writer wins
    wh.upsert(spark, kv2, "ledger", ["k"])
    got = {r["k"]: r["v"] for r in wh.read(spark, "ledger").collect()}
    assert got == {1: "a", 2: "X", 3: "c"}


def test_emulation_commit_survives_publish_race(spark, tmp_path, monkeypatch):
    """Optimistic-concurrency protocol of the manifest publish: a writer
    whose target snapshot id gets claimed first (simulated via a stale
    current_snapshot_id read) must rebase on the winner and land both
    commits, serialized."""
    root = str(tmp_path / "wh")
    wh = Warehouse(root)
    wh.write(spark.range(3).toDF("x"), "t")         # snapshot 1 (the winner)
    stale_done = []
    real = Warehouse.current_snapshot_id

    def stale_once(self):
        if not stale_done:
            stale_done.append(1)
            return 0  # stale read: this writer will also target id 1
        return real(self)

    monkeypatch.setattr(Warehouse, "current_snapshot_id", stale_once)
    sid = wh.write(spark.range(4).toDF("x"), "t")   # collides, retries
    assert sid == 2
    assert wh.read(spark, "t").count() == 7          # both commits live
    manifest = wh._manifest(2)
    assert len(manifest["tables"]["t"]) == 2         # rebased, not replaced


def test_emulation_merge_upsert_first_writer_wins(spark, tmp_path):
    """Warehouse.merge — the parquet-emulation analog of the Iceberg
    branch's MERGE INTO (J4 get_or_create): key-unique by construction."""
    root = str(tmp_path / "wh")
    wh = Warehouse(root)
    kv = spark.createDataFrame([(1, "a"), (2, "b"), (2, "b_dup")], "k long, v string")
    wh.merge(spark, kv, "ledger", ["k"])
    kv2 = spark.createDataFrame([(2, "X"), (3, "c")], "k long, v string")
    wh.merge(spark, kv2, "ledger", ["k"])
    rows = wh.read(spark, "ledger").collect()
    got = {r["k"]: r["v"] for r in rows}
    assert len(rows) == 3 and set(got) == {1, 2, 3}
    assert got[1] == "a" and got[2] in ("b", "b_dup") and got[3] == "c"
    assert got[2] != "X"  # first writer won


def test_force_rerun_keeps_ledger_keys_unique(spark, tmp_path):
    """A forced re-extraction must not duplicate ledger keys (upsert
    semantics inside the atomic three-table commit)."""
    root = str(tmp_path / "wh")
    pages = pages_df(spark, 16, partitions=2)
    run_extraction(spark, pages, root)
    run_extraction(spark, pages, root, force=True)
    runs = Warehouse(root).read(spark, "runs", schema=RUNS)
    n = runs.count()
    assert n == 16
    assert n == runs.dropDuplicates(
        ["url", "extractor_version", "options_hash"]
    ).count()


def test_runs_ledger_schema(spark, pages, tmp_path):
    root = str(tmp_path / "wh")
    run_extraction(spark, pages, root)
    runs = Warehouse(root).read(spark, "runs", schema=RUNS)
    assert runs.count() == N_PAGES
    assert runs.select("snapshot_id").distinct().count() == 1


def test_overrides_priority(spark, tmp_path):
    """J5: manual overrides win via left join + coalesce
    (ref models/tsl.py:269-271 favor_manual)."""
    root = str(tmp_path / "wh")
    pages = pages_df(spark, 16, partitions=2)
    run_extraction(spark, pages, root)
    extracted = read_extracted(spark, root)

    some_url = extracted.select("url").orderBy("url").first()["url"]
    overrides = extracted.sparkSession.createDataFrame(
        [(some_url, "HUMAN FIXED")], "url string, text string"
    )
    out = apply_overrides(extracted, overrides)
    fixed = out.filter(F.col("url") == some_url).first()
    assert fixed["final_text"] == "HUMAN FIXED" and fixed["is_manual"]
    others = out.filter(~F.col("is_manual"))
    assert others.filter(
        F.col("final_text") != F.col("extracted_text")
    ).count() == 0


def test_pdf_pages_extracted(spark, pages, tmp_path):
    root = str(tmp_path / "wh")
    run_extraction(spark, pages, root)
    pdfs = read_extracted(spark, root).filter(F.col("payload_kind") == "pdf")
    assert pdfs.count() > 0
    assert pdfs.filter(F.length("extracted_text") > 0).count() == pdfs.count()


def test_corpus_determinism_local_vs_spark(spark):
    """pages_df (distributed) equals pages_pandas (driver-side) row for row."""
    local = pages_pandas(24).set_index("url")
    dist = pages_df(spark, 24, partitions=3).toPandas().set_index("url")
    assert sorted(local.index) == sorted(dist.index)
    for url in local.index:
        assert local.loc[url, "text"] == dist.loc[url, "text"]
        assert bytes(local.loc[url, "html"]) == bytes(dist.loc[url, "html"])


def test_x4_single_granularity_assembly_invariant(spark, pages, tmp_path):
    """X4 (ref models/ocr.py:42-50): 'single' emits one span per text run;
    reassembling the runs reproduces the merged-mode text and spans."""
    from ocr_translate_spark.operators.extract import extract_pages

    merged = {
        r["url"]: r
        for r in extract_pages(pages, ExtractOptions(granularity="merged"))
        .select("url", "extracted_text", "spans").collect()
    }
    single = extract_pages(pages, ExtractOptions(granularity="single"))
    for r in single.select("url", "extracted_text", "spans").collect():
        m = merged[r["url"]]
        # the text itself is granularity-independent
        assert r["extracted_text"] == m["extracted_text"]
        text = r["extracted_text"]
        runs_ = [text[s["start"]:s["end"]] for s in r["spans"]]
        # no run crosses a line boundary, none is empty
        assert all("\n" not in t and t for t in runs_)
        # every merged block is exactly its single runs joined with '\n'
        for ms in m["spans"]:
            block = text[ms["start"]:ms["end"]]
            inner = [
                text[s["start"]:s["end"]] for s in r["spans"]
                if ms["start"] <= s["start"] and s["end"] <= ms["end"]
            ]
            assert "\n".join(inner) == block or block.replace("\n", "") == "".join(inner)


def test_options_thresholds_reach_kernel():
    """ExtractOptions thresholds actually change the keep decision."""
    from ocr_translate_spark.kernels.html_extract import extract_html

    html = b"<html><body><p>short but real text</p></body></html>"
    strict = extract_html(html, min_content_chars=25)
    loose = extract_html(html, min_content_chars=5)
    assert strict.n_kept == 0
    assert loose.n_kept == 1 and loose.text == "short but real text"

    linky = (
        b"<html><body><p>words words words words words words "
        b'<a href="/x">a link that is about half of this block text</a></p>'
        b"</body></html>"
    )
    assert extract_html(linky, max_link_density=0.9).n_kept == 1
    assert extract_html(linky, max_link_density=0.1).n_kept == 0


def test_options_hash_canonicalization():
    """Default-valued fields never enter the cache key: adding a future
    option with a default cannot invalidate existing ledger entries."""
    import hashlib

    base = ExtractOptions()
    assert base.options_hash() == ExtractOptions(granularity="merged").options_hash()
    assert base.options_hash() != ExtractOptions(granularity="single").options_hash()
    # the default key is the hash of the empty delta — stable forever
    assert base.options_hash() == hashlib.sha256(b"{}").hexdigest()[:16]


def test_set_overrides_insert_then_update(spark, tmp_path):
    """Manual-override upsert semantics (ref views.py:345-379 +
    tests/views/test_set_manual_translation.py success_new/success_exist):
    a new key inserts; re-setting an existing key REPLACES its text
    (last-write-wins), and the applied read reflects it."""
    from ocr_translate_spark.pipeline import (
        read_extracted_with_overrides,
        set_overrides,
    )

    root = str(tmp_path / "wh")
    pages = pages_df(spark, 16, partitions=2)
    run_extraction(spark, pages, root)
    urls = [r["url"] for r in pages.select("url").limit(2).collect()]

    ov1 = spark.createDataFrame([(urls[0], "MANUAL v1")], "url string, text string")
    set_overrides(spark, root, ov1)  # success_new
    got = {r["url"]: (r["final_text"], r["is_manual"])
           for r in read_extracted_with_overrides(spark, root).collect()}
    assert got[urls[0]] == ("MANUAL v1", True)
    assert got[urls[1]][1] is False

    ov2 = spark.createDataFrame(
        [(urls[0], "MANUAL v2"), (urls[1], "MANUAL other")],
        "url string, text string",
    )
    set_overrides(spark, root, ov2)  # success_exist: v1 -> v2 replaced
    got = {r["url"]: (r["final_text"], r["is_manual"])
           for r in read_extracted_with_overrides(spark, root).collect()}
    assert got[urls[0]] == ("MANUAL v2", True)
    assert got[urls[1]] == ("MANUAL other", True)
    # overrides table itself stays key-unique across upserts
    from ocr_translate_spark.schemas import OVERRIDES
    ov_tab = Warehouse(root).read(spark, "overrides", schema=OVERRIDES)
    assert ov_tab.count() == 2
    # favor_manual=False disables the priority per read (ref full.py
    # option cascade, default True)
    plain = read_extracted_with_overrides(spark, root, favor_manual=False)
    assert plain.filter(plain.is_manual).count() == 0
    assert plain.count() == 16
    # extraction results were untouched (the override joins read-side)
    assert read_extracted(spark, root).count() == 16


def test_giant_pages_byte_bounded_batches(spark, tmp_path):
    """C4: Arrow batches into the extraction stage are bounded by BYTES as
    well as rows — a run of giant co-located pages must arrive chunked
    (the row cap alone would admit 256 × pagesize per batch), and the
    extraction must stay byte-identical."""
    assert (
        spark.conf.get("spark.sql.execution.arrow.maxBytesPerBatch")
        == str(64 * 1024 * 1024)
    )
    import pandas as pd
    from pyspark.sql import functions as F

    big = "word " * 400_000  # ~2 MB of text per page
    html = f"<html><body><article><p>{big.strip()}</p></article></body></html>"
    pages = spark.createDataFrame(
        [(f"u{i}", bytearray(html.encode()), "en") for i in range(96)],
        "url string, html binary, lang string",
    ).repartition(1)

    def sizes(batches):
        for pdf in batches:
            yield pd.DataFrame({"n": [len(pdf)]})

    batch_rows = [
        r["n"] for r in pages.mapInPandas(sizes, "n long").collect()
    ]
    # 96 × ~2 MB pages on one partition: the 64 MB bound forces chunks
    assert len(batch_rows) > 1 and max(batch_rows) < 96

    from ocr_translate_spark.operators.extract import extract_pages

    out = extract_pages(pages).select("url", "extracted_text").collect()
    assert len(out) == 96
    assert all(r["extracted_text"] == big.strip() for r in out)


def test_legacy_hash_scheme_still_memoizes(spark):
    """Ledgers written under the round-1 full-dict options_hash keep
    memoizing after the delta-canonicalization switch (the scheme change
    must not be a silent corpus-wide re-extraction)."""
    import hashlib
    import json
    from dataclasses import asdict

    from ocr_translate_spark import EXTRACTOR_VERSION
    from ocr_translate_spark.pipeline import pending_pages

    opts = ExtractOptions()
    legacy = hashlib.sha256(
        json.dumps(asdict(opts), sort_keys=True, default=str).encode()
    ).hexdigest()[:16]
    assert legacy != opts.options_hash()       # the schemes genuinely differ
    assert opts.accepted_hashes() == (opts.options_hash(), legacy)

    pages = pages_df(spark, 8, partitions=1)
    legacy_runs = pages.select(
        "url",
        F.lit(EXTRACTOR_VERSION).alias("extractor_version"),
        F.lit(legacy).alias("options_hash"),
        F.xxhash64("text").alias("text_hash"),
        F.lit(1).cast("long").alias("snapshot_id"),
    )
    assert pending_pages(pages, legacy_runs, opts.accepted_hashes()).count() == 0
    # the canonical hash alone (fresh ledger) also memoizes
    canon_runs = legacy_runs.withColumn("options_hash", F.lit(opts.options_hash()))
    assert pending_pages(pages, canon_runs, opts.accepted_hashes()).count() == 0


def test_memoized_rerun_leaves_no_orphan_staging(spark, tmp_path):
    """A fully-memoized run (n_written == 0) must reclaim its staged data
    dir — otherwise every replayed streaming micro-batch leaks one."""
    import os

    root = str(tmp_path / "wh")
    pages = pages_df(spark, 16, partitions=2)
    run_extraction(spark, pages, root)
    stats = run_extraction(spark, pages, root)   # ledger covers everything
    assert stats["n_written"] == 0

    wh = Warehouse(root)
    manifest = wh._manifest(wh.current_snapshot_id())
    referenced = {d for dirs in manifest["tables"].values() for d in dirs}
    on_disk = {
        os.path.join(table, c)
        for table in os.listdir(root)
        if table != "_snapshots"
        for c in os.listdir(os.path.join(root, table))
    }
    assert on_disk == referenced


def test_zero_shuffle_mode_byte_identical(spark, tmp_path):
    """assume_unique_urls + no repartition: no payload shuffle, same
    byte-identical results and ledger memoization."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "wh")
    pages = pages_df(spark, 32, partitions=4)
    stats = run_extraction(spark, pages, root, assume_unique_urls=True)
    assert stats["n_written"] == 32
    got = read_extracted(spark, root)
    mism = (
        got.join(pages.select("url", F.col("text").alias("e")), "url")
        .filter(F.col("extracted_text") != F.col("e"))
        .count()
    )
    assert got.count() == 32 and mism == 0
    # memoization still applies
    again = run_extraction(spark, pages, root, assume_unique_urls=True)
    assert again["n_written"] == 0
    # and the plan really has no payload exchange: only the broadcast
    # anti-join appears before the Arrow stage
    from ocr_translate_spark.operators.extract import extract_pages
    from ocr_translate_spark.pipeline import pending_pages
    from ocr_translate_spark.io.tables import Warehouse
    from ocr_translate_spark.schemas import RUNS

    runs = Warehouse(root).read(spark, "runs", schema=RUNS)
    todo = pending_pages(pages, runs, "x")
    plan = extract_pages(todo)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert "BroadcastHashJoin" in plan


def test_committed_read_applies_schema(spark, tmp_path):
    """A read with ``schema`` of a committed table returns exactly the
    schema's columns, and starts no footer-inference job."""
    wh = Warehouse(str(tmp_path / "wh"))
    rows = spark.createDataFrame(
        [("u1", "v", "o", 7, 1, "extra")],
        "url string, extractor_version string, options_hash string, "
        "text_hash long, snapshot_id long, note string",
    )
    wh.write(rows, "t2")
    sc = spark.sparkContext
    sc.setJobGroup("schema-read", "Warehouse.read with a schema")
    try:
        runs = wh.read(spark, "t2", schema=RUNS)
        assert sc.statusTracker().getJobIdsForGroup("schema-read") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert runs.columns == RUNS.fieldNames()
    assert [tuple(r) for r in runs.collect()] == [("u1", "v", "o", 7, 1)]


def _jobs_of(spark, group: str, fn):
    """Run ``fn`` in job group ``group``; return (result, jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_run_extraction_spark_jobs_per_call(spark, tmp_path):
    """Jobs per run_extraction call, pinned: a cold call, a half-memoized
    recrawl and a fully memoized call each stage and commit one table, with
    the written-row count observed on the write itself — at an explicit
    width and at the default one (no ``repartition``).  A job added to
    the call shows up here."""
    import os

    half = pages_df(spark, 32, partitions=2)
    full = pages_df(spark, 64, partitions=2)
    for width in (4, None):
        root = str(tmp_path / f"wh-{width}")

        def call(pages):
            return lambda: run_extraction(spark, pages, root, repartition=width)

        cold, cold_jobs = _jobs_of(spark, f"jobs-cold-{width}", call(half))
        recrawl, recrawl_jobs = _jobs_of(spark, f"jobs-recrawl-{width}", call(full))
        memo, memo_jobs = _jobs_of(spark, f"jobs-memo-{width}", call(full))
        assert (cold["n_written"], recrawl["n_written"], memo["n_written"]) == (32, 32, 0)
        assert (cold_jobs, recrawl_jobs, memo_jobs) == (COLD_JOBS, RECRAWL_JOBS, MEMO_JOBS), width
        # one table per commit, and the memoized call's staged dir is gone
        wh = Warehouse(root)
        assert set(wh._manifest(wh.current_snapshot_id())["tables"]) == {"extracted"}
        assert len(os.listdir(os.path.join(root, "extracted"))) == 2


def test_pre_ledger_warehouse_re_extracts_once(spark, tmp_path):
    """A warehouse whose `extracted` rows predate the ledger columns (no
    run_id, no snapshot_id) has an empty `runs` view: the next
    run_extraction re-extracts its pages once, the call after memoizes,
    and read_extracted's latest-only window collapses the two copies."""
    from ocr_translate_spark.operators.extract import extract_pages

    root = str(tmp_path / "wh")
    wh = Warehouse(root)
    old_pages = pages_df(spark, 32, partitions=2)
    staged = extract_pages(
        old_pages.withColumn("input_split", F.lit("old")), repartition=2
    )
    ext_dir = wh.stage(staged, "extracted")
    assert "snapshot_id" not in wh.read_staged(spark, ext_dir).columns
    wh.commit({"extracted": [ext_dir]})
    assert wh.read(spark, "runs", schema=RUNS).count() == 0

    assert run_extraction(spark, old_pages, root)["n_written"] == 32
    assert run_extraction(spark, old_pages, root)["n_written"] == 0
    runs = wh.read(spark, "runs", schema=RUNS)
    keys = ["url", "extractor_version", "options_hash"]
    assert runs.count() == 32 == runs.dropDuplicates(keys).count()
    # the committed text is still byte-identical to the goldens
    got = read_extracted(spark, root)
    golden = old_pages.select("url", F.col("text").alias("e"))
    assert got.count() == 32
    assert got.join(golden, "url").filter(F.col("extracted_text") != F.col("e")).count() == 0
