"""End-to-end curation pipeline composition (curate.curate_corpus):
every stage's effect is planted and asserted — low-quality drop,
boilerplate-line strip, PII scrub, exact dup, near dup, benchmark
contamination, reproducible split."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_translate_spark.curate import curate_corpus


def _persistent_ids(spark) -> set:
    """Ids of the session's persistent RDDs.  Lifecycle pins compare id
    sets: RDD ids only grow, so an RDD a call leaves behind is a new id,
    while the context cleaner may release earlier tests' garbage at any
    moment and shrink a plain count."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _sentence(i: int, n: int = 30) -> str:
    # natural-ish text that passes the Gopher battery (stopwords, sane
    # word lengths, alphabetic words)
    words = []
    for j in range(n):
        words.append(["the", "quick", "brown", "fox", "jumps", "over",
                      "and", "lazy", "dog", f"topic{i}w{j}"][j % 10])
    return " ".join(words)


def test_curate_corpus_stages(spark):
    footer = "subscribe to our newsletter today"
    base = [(i, _sentence(i) + "\n" + footer) for i in range(20)]
    rows = list(base)
    rows.append((100, rows[3][1]))                       # exact dup of doc 3
    rows.append((101, _sentence(7) + " extraword\n" + footer))  # near dup of 7
    rows.append((102, ":::: ~~~~ !!!! " * 10))           # fails gopher
    contaminated = _sentence(55, 40) + "\n" + footer
    rows.append((103, contaminated))                     # leaks eval text
    rows.append((104, _sentence(60) + " mail me at a.b@example.com now\n" + footer))

    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(4)
    bench = spark.createDataFrame(
        [(" ".join(contaminated.split()[:15]),)], "text string"
    )

    out, rep = curate_corpus(
        df, benchmark=bench, min_words=20, near_threshold=0.8,
    )

    assert rep.n_input == 25
    assert rep.n_after_quality == 24            # 102 fails the battery
    assert rep.n_after_line_dedup == 24         # footer stripped, all survive
    assert rep.n_after_exact_dedup == 23        # 100 collapses into 3
    assert rep.n_after_near_dedup == 22         # 101 collapses into 7
    assert rep.n_after_decontamination == 21    # 103 flagged
    assert rep.n_output == 21
    assert 0 <= rep.n_val <= rep.n_output

    got = {r["doc_id"]: r["text"] for r in out.collect()}
    assert set(got) == set(range(20)) | {104}
    # boilerplate line stripped from every survivor
    assert all(footer not in t for t in got.values())
    # PII scrubbed
    assert "<EMAIL>" in got[104] and "a.b@example.com" not in got[104]
    # split is a pure function of the id (re-run identical)
    out2, _ = curate_corpus(df, benchmark=bench, min_words=20)
    s1 = {(r["doc_id"], r["split"]) for r in out.select("doc_id", "split").collect()}
    s2 = {(r["doc_id"], r["split"]) for r in out2.select("doc_id", "split").collect()}
    assert s1 == s2
    assert rep.stages == [
        "gopher_rules", "line_dedup", "pii_scrub", "dedup_exact",
        "minhash_lsh", "decontaminate", "train_val_split",
    ]


def test_curate_corpus_no_benchmark_no_scrub(spark):
    df = spark.createDataFrame(
        [(i, _sentence(i)) for i in range(12)], "doc_id long, text string"
    )
    out, rep = curate_corpus(df, min_words=10, scrub=False)
    assert rep.n_input == rep.n_output == 12
    assert "decontaminate" not in rep.stages and "pii_scrub" not in rep.stages
    assert out.columns == ["doc_id", "text", "split"]


def test_curate_corpus_url_stage(spark):
    """Stage-0 url filters: blocklisted hosts drop, per-host quota caps,
    both before any payload stage."""
    rows = [(f"https://farm.example/p{i}", _sentence(i)) for i in range(8)]
    rows += [(f"https://ok.example/p{i}", _sentence(20 + i)) for i in range(4)]
    rows += [(f"https://bad.example/p{i}", _sentence(40 + i)) for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    bl = spark.createDataFrame([("bad.example",)], "host string")
    out, rep = curate_corpus(
        df, min_words=10, scrub=False, blocklist=bl, max_per_host=5,
        url_col="doc_id",
    )
    assert rep.n_input == 15
    assert rep.n_after_url_filter == 9  # 3 blocklisted dropped, farm capped at 5
    hosts = [r["doc_id"].split("/")[2] for r in out.collect()]
    assert hosts.count("farm.example") == 5 and "bad.example" not in hosts
    assert rep.stages[:2] == ["host_blocklist", "host_caps"]


def test_curate_corpus_report_survives_empty_stage(spark):
    """Audit counts must stay honest when a stage kills the whole corpus:
    AQE's empty-relation propagation would otherwise eliminate the
    upstream CollectMetrics nodes and the report would error (or lie)."""
    df = spark.createDataFrame(
        [(i, "zz qq ww " * 3) for i in range(6)], "doc_id long, text string"
    )
    # stopword floor unreachable for this text -> quality gate drops all
    out, rep = curate_corpus(df, min_words=2)
    assert rep.n_input == 6
    assert rep.n_after_quality == 0
    assert rep.n_output == 0 and rep.n_val == 0
    assert out.count() == 0


def test_curate_corpus_single_pass(spark):
    """The audited path runs as ONE terminal action (a single SQL
    execution — AQE query-stage and broadcast-build jobs all belong to
    it).  The old per-stage design ran 7+ driver-side count() executions
    on top; this pins the r4 verdict-#8 contract."""
    docs = spark.createDataFrame(
        [(i, _sentence(i)) for i in range(40)], "doc_id long, text string"
    )
    spark.catalog.clearCache()  # earlier tests' caches
    before = _persistent_ids(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    n_before = store.executionsCount()
    out, rep = curate_corpus(docs, min_words=10, scrub=False)
    n_after = store.executionsCount()
    assert n_after - n_before == 1, (n_before, n_after)
    # cache lifecycle: clearCache releases everything the call persisted,
    # and the returned frame is still readable (recomputed from lineage)
    spark.catalog.clearCache()
    assert _persistent_ids(spark) <= before
    assert out.count() == rep.n_output


def test_curate_incremental_single_pass(spark, tmp_path):
    """Each micro-batch's audit phase is ONE SQL execution (observe()
    metrics, not per-stage count() jobs — the r5 verdict-#3 contract):
    an appending batch runs 1 audited action + exactly one stage-write
    per published table; a fully-memoized replay runs the audited action
    ALONE (no staging, no snapshot)."""
    from ocr_translate_spark.curate import curate_incremental

    wh_root = str(tmp_path / "wh")
    b1 = spark.createDataFrame(
        [(i, _sentence(i)) for i in range(10)], "doc_id long, text string"
    )
    store = spark._jsparkSession.sharedState().statusStore()
    before = store.executionsCount()
    _, rep1 = curate_incremental(spark, wh_root, b1, min_words=10, scrub=False)
    mid = store.executionsCount()
    assert rep1.n_appended == 10
    # 1 audited action + 4 stage writes (curated/keys/sigs/bands)
    assert mid - before == 1 + 4, (before, mid)

    _, rep2 = curate_incremental(spark, wh_root, b1, min_words=10, scrub=False)
    after = store.executionsCount()
    assert rep2.n_appended == 0 and rep2.stages[-1] == "noop_commit"
    assert after - mid == 1, (mid, after)


def test_curate_incremental_two_batches(spark, tmp_path):
    """Continuous ingestion: batch 1 seeds the warehouse; batch 2's
    exact dup of a stored doc dies on the md5 key index, its near dup of
    a stored doc dies on the LSH index (corpus wins), fresh docs append;
    re-running batch 2 is a no-op (ledger idempotence); all four tables
    stay consistent in one snapshot."""
    from ocr_translate_spark.curate import (
        BANDS_TABLE, CURATED_TABLE, KEYS_TABLE, SIGS_TABLE, curate_incremental,
    )
    from ocr_translate_spark.io.tables import open_warehouse

    wh_root = str(tmp_path / "wh")
    # cache lifecycle: a call leaves no persistent RDD behind (checkpoint
    # blocks included) — a long ingest stream must not accumulate them
    before = _persistent_ids(spark)
    b1 = spark.createDataFrame(
        [(i, _sentence(i)) for i in range(10)], "doc_id long, text string"
    )
    out1, rep1 = curate_incremental(spark, wh_root, b1, min_words=10, scrub=False)
    assert rep1.n_batch == rep1.n_appended == 10
    assert rep1.snapshot_id >= 1
    assert _persistent_ids(spark) <= before

    wh = open_warehouse(spark, wh_root)
    assert wh.read(spark, CURATED_TABLE).count() == 10
    assert wh.read(spark, KEYS_TABLE).count() == 10
    assert wh.read(spark, SIGS_TABLE).count() == 10
    assert wh.read(spark, BANDS_TABLE).count() == 80  # 8 bands/doc

    # batch 2: 3 fresh docs + exact dup of stored 3 + near dup of stored 7
    near = _sentence(7) + " extraword"
    b2_rows = [(100 + i, _sentence(50 + i)) for i in range(3)]
    b2_rows.append((200, _sentence(3)))   # exact dup of stored doc 3
    b2_rows.append((201, near))           # near dup of stored doc 7
    b2 = spark.createDataFrame(b2_rows, "doc_id long, text string")
    out2, rep2 = curate_incremental(spark, wh_root, b2, min_words=10, scrub=False)
    # the returned frame scans the staged files, not the curation lineage
    # with its cached and observed subtrees inlined at every use
    assert len(out2._jdf.queryExecution().optimizedPlan().toString()) < 1_000_000
    assert rep2.n_batch == rep2.n_new == 5
    assert rep2.n_dropped_vs_corpus_exact == 1          # id 200
    assert rep2.n_after_near_dedup == rep2.n_after_exact_dedup - 1  # id 201
    assert rep2.n_appended == 3
    appended = {r["doc_id"] for r in out2.collect()}
    assert appended == {100, 101, 102}
    assert wh.read(spark, CURATED_TABLE).count() == 13
    assert wh.read(spark, SIGS_TABLE).count() == 13
    assert _persistent_ids(spark) <= before

    # idempotent re-run: everything already ledgered or rejected
    out3, rep3 = curate_incremental(spark, wh_root, b2, min_words=10, scrub=False)
    assert rep3.n_new == 2            # 200/201 have no keys (rejected), retry
    assert rep3.n_appended == 0       # ...and are rejected again
    assert rep3.stages[-1] == "noop_commit"
    assert wh.read(spark, CURATED_TABLE).count() == 13
    assert rep3.snapshot_id == rep2.snapshot_id
    assert _persistent_ids(spark) <= before


def test_read_curated_time_travel_and_split(spark, tmp_path):
    from ocr_translate_spark.curate import curate_incremental, read_curated

    wh_root = str(tmp_path / "wh")
    b1 = spark.createDataFrame(
        [(i, _sentence(i)) for i in range(8)], "doc_id long, text string"
    )
    _, r1 = curate_incremental(spark, wh_root, b1, min_words=10, scrub=False)
    b2 = spark.createDataFrame(
        [(100 + i, _sentence(40 + i)) for i in range(4)], "doc_id long, text string"
    )
    _, r2 = curate_incremental(spark, wh_root, b2, min_words=10, scrub=False)

    assert read_curated(spark, wh_root).count() == 12
    # time travel to the first snapshot sees only batch 1
    assert read_curated(spark, wh_root, snapshot_id=r1.snapshot_id).count() == 8
    train = read_curated(spark, wh_root, split="train")
    val = read_curated(spark, wh_root, split="val")
    assert train.count() + val.count() == 12
    assert set(train.columns) == {"doc_id", "text", "split"}


def test_compact_warehouse(spark, tmp_path):
    """Compaction folds the per-batch appended directories into one dir
    per table (host_counts additionally sums to one row per host) in a
    single atomic replace-commit, preserves every read-side value, keeps
    time travel to pre-compaction snapshots intact, and later ingest
    batches still dedup correctly against the rewritten indexes."""
    from ocr_translate_spark.curate import (
        BANDS_TABLE, CURATED_TABLE, HOSTS_TABLE, KEYS_TABLE, SIGS_TABLE,
        compact_warehouse, curate_incremental,
    )
    from ocr_translate_spark.io.tables import open_warehouse

    wh_root = str(tmp_path / "wh")
    for b in range(3):
        rows = [(f"https://h{i % 2}.example/{b}/{i}", _sentence(100 * b + i))
                for i in range(6)]
        batch = spark.createDataFrame(rows, "doc_id string, text string")
        _, r = curate_incremental(
            spark, wh_root, batch, id_col="doc_id", min_words=10, scrub=False,
            max_per_host=100, url_col="doc_id",
        )
        assert r.n_appended == 6
    wh = open_warehouse(spark, wh_root)
    pre_snap = wh.current_snapshot_id()
    pre_dirs = wh._manifest(pre_snap)["tables"]
    assert all(len(v) == 3 for v in pre_dirs.values()), pre_dirs
    pre_hosts = {
        r["host"]: r["n"]
        for r in wh.read(spark, HOSTS_TABLE)
        .groupBy("host").agg(F.sum("n").alias("n")).collect()
    }

    snap = compact_warehouse(spark, wh_root)
    assert snap == pre_snap + 1
    post_dirs = wh._manifest(snap)["tables"]
    assert all(len(v) == 1 for v in post_dirs.values()), post_dirs
    rows_by_table = {
        t: wh.read(spark, t).count()
        for t in (CURATED_TABLE, KEYS_TABLE, SIGS_TABLE, BANDS_TABLE, HOSTS_TABLE)
    }
    assert rows_by_table[CURATED_TABLE] == rows_by_table[KEYS_TABLE] == 18
    assert rows_by_table[SIGS_TABLE] == 18
    assert rows_by_table[BANDS_TABLE] == 18 * 8
    assert rows_by_table[HOSTS_TABLE] == 2  # log folded to one row/host
    post_hosts = {
        r["host"]: r["n"] for r in wh.read(spark, HOSTS_TABLE).collect()
    }
    assert post_hosts == pre_hosts
    # time travel still sees the uncompacted state
    assert wh.read(spark, CURATED_TABLE, snapshot_id=pre_snap).count() == 18
    assert wh.read(spark, CURATED_TABLE).count() == 18

    # post-compaction ingest: exact + near dups still die on the
    # rewritten indexes, fresh docs append
    b4 = spark.createDataFrame(
        [("https://h0.example/dup", _sentence(0)),          # exact dup of batch-0 doc
         ("https://h0.example/near", _sentence(1) + " extraword"),  # near dup
         ("https://h0.example/fresh", _sentence(999))],
        "doc_id string, text string",
    )
    _, r4 = curate_incremental(
        spark, wh_root, b4, id_col="doc_id", min_words=10, scrub=False,
        max_per_host=100, url_col="doc_id",
    )
    assert r4.n_dropped_vs_corpus_exact == 1
    assert r4.n_appended == 1
    assert wh.read(spark, CURATED_TABLE).count() == 19


def test_curate_incremental_cross_batch_host_quota(spark, tmp_path):
    """The per-host cap holds ACROSS batches: batch A fills the quota for
    farm.example, so batch B's farm docs are rejected while other hosts
    ingest; the quota ledger rides the atomic commit."""
    from ocr_translate_spark.curate import HOSTS_TABLE, curate_incremental
    from ocr_translate_spark.io.tables import open_warehouse

    wh_root = str(tmp_path / "wh")
    a_rows = [(f"https://farm.example/a{i}", _sentence(i)) for i in range(6)]
    a = spark.createDataFrame(a_rows, "doc_id string, text string")
    _, ra = curate_incremental(
        spark, wh_root, a, id_col="doc_id", min_words=10, scrub=False,
        max_per_host=4, url_col="doc_id",
    )
    assert ra.n_appended == 4  # capped within the first batch

    b_rows = [(f"https://farm.example/b{i}", _sentence(20 + i)) for i in range(5)]
    b_rows += [(f"https://ok.example/b{i}", _sentence(40 + i)) for i in range(3)]
    b = spark.createDataFrame(b_rows, "doc_id string, text string")
    _, rb = curate_incremental(
        spark, wh_root, b, id_col="doc_id", min_words=10, scrub=False,
        max_per_host=4, url_col="doc_id",
    )
    # farm is already full from batch A; only ok.example ingests
    assert rb.n_appended == 3
    wh = open_warehouse(spark, wh_root)
    counts = {
        r["host"]: r["n"]
        for r in wh.read(spark, HOSTS_TABLE)
        .groupBy("host").agg(F.sum("n").alias("n")).collect()
    }
    assert counts == {"farm.example": 4, "ok.example": 3}
    # a third batch for a half-full host tops up to the cap only
    c_rows = [(f"https://ok.example/c{i}", _sentence(60 + i)) for i in range(5)]
    c = spark.createDataFrame(c_rows, "doc_id string, text string")
    _, rc = curate_incremental(
        spark, wh_root, c, id_col="doc_id", min_words=10, scrub=False,
        max_per_host=4, url_col="doc_id",
    )
    assert rc.n_appended == 1  # 4 - 3 already kept


def test_tiered_select_composition(spark):
    from ocr_translate_spark.curate import tiered_select

    # 40 docs of globally-UNIQUE words (so corpus-wide 6-gram excision
    # touches nothing but the plant) with length-spread quality; docs
    # 0/1 share a verbatim 6-word tail (the planted excisable span);
    # doc 200 is ONLY the shared span and must die at the post-excision
    # length gate
    span = "shared verbatim passage tail words here"
    rows = [(i, " ".join("u%dw%d" % (i, j) for j in range(20 + 2 * i))
             + (" " + span if i in (0, 1) else ""),
             "g%d" % (i % 2)) for i in range(40)]
    rows.append((200, span + " " + span, "g0"))
    df = spark.createDataFrame(rows, "doc_id long, text string, grp string")

    out, rep = tiered_select(
        df, group_col="grp", n_tiers=4, quota_coeff=2.0,
        span_excise_n=6, min_words=15, distributed_bounds=True,
    )
    assert rep["n_input"] == 41
    assert rep["n_after_excise"] == 40          # doc 200 fully excised
    got = {r["doc_id"]: r for r in out.collect()}
    assert set(got) == set(range(40))
    assert span not in got[0]["text"] and span not in got[1]["text"]
    assert len(rep["tier_bounds"]) == 3
    # keep counts equal the sqrt-temperature quota in every cell
    import math
    cells: dict[tuple, list[int]] = {}
    for r in got.values():
        k = (r["tier"], r["grp"])
        cells.setdefault(k, [0, 0])
        cells[k][0] += 1
        cells[k][1] += int(r["keep"])
    for (tier, grp), (m, kept) in cells.items():
        q = min(m, math.floor(2.0 * math.sqrt(m)))
        assert kept == q, (tier, grp, m, kept, q)
    # per-tier histogram in the report matches the output
    assert rep["tiers"] == {
        t: (sum(m for (tt, _), (m, _k) in cells.items() if tt == t),
            sum(k for (tt, _), (_m, k) in cells.items() if tt == t))
        for t in {r["tier"] for r in got.values()}
    }

    # exact-ntile path on the same corpus: every row still tiered 1..4,
    # quotas still exact
    out2, rep2 = tiered_select(
        df, group_col="grp", n_tiers=4, quota_coeff=2.0,
        span_excise_n=6, min_words=15, distributed_bounds=False,
    )
    assert rep2["tier_bounds"] is None
    tiers2 = [r["tier"] for r in out2.collect()]
    assert len(tiers2) == 40 and set(tiers2) == {1, 2, 3, 4}

    # excision removes every doc: the counts stay honest, no tier fills
    spans = df.filter(F.col("doc_id") == 200)
    out3, rep3 = tiered_select(spans, group_col="grp", span_excise_n=6, min_words=15)
    assert (rep3["n_input"], rep3["n_after_excise"], rep3["tiers"]) == (1, 0, {})
    assert out3.count() == 0


def test_tiered_select_single_pass(spark):
    """tiered_select's report (input count, histogram) rides ONE
    terminal action as observe() metrics; the only other execution is
    the GK bounds sketch — none on the exact-ntile path (the r6 design
    ran two counts + a histogram collect per call)."""
    from ocr_translate_spark.curate import tiered_select

    df = spark.createDataFrame(
        [(i, "w%d" % i, (i * 37 % 100) / 100.0, "g%d" % (i % 2))
         for i in range(60)],
        "doc_id long, text string, q double, grp string",
    )
    store = spark._jsparkSession.sharedState().statusStore()
    before = store.executionsCount()
    _, rep = tiered_select(
        df, quality_col="q", group_col="grp", n_tiers=4, quota_coeff=2.0,
        distributed_bounds=False,
    )
    mid = store.executionsCount()
    assert mid - before == 1, (before, mid)
    assert rep["n_input"] == 60

    _, rep2 = tiered_select(
        df, quality_col="q", group_col="grp", n_tiers=4, quota_coeff=2.0,
        distributed_bounds=True,
    )
    after = store.executionsCount()
    assert after - mid == 2, (mid, after)  # sketch + the audited action
    assert rep2["n_input"] == 60 and len(rep2["tier_bounds"]) == 3


def test_tiered_ingest_single_pass(spark, tmp_path):
    """Each tier-ingest batch's audit phase is at most TWO executions —
    the ledger-anti-join probe (n_batch/n_new) plus one tiny bounds
    read/sketch — with n_kept and the per-tier histogram observed on the
    stage writes themselves; a replayed batch short-circuits at the
    probe: EXACTLY one execution, no tier plan, no staging, no snapshot
    (the r6 design ran 3 counts + 2 collects per batch, replay
    included)."""
    from ocr_translate_spark.curate import tiered_ingest
    from ocr_translate_spark.io.tables import open_warehouse

    wh_root = str(tmp_path / "wh")
    schema = "doc_id long, text string, q double, grp string"
    rows = [(i, "body %d" % i, (i * 37 % 100) / 100.0, "g%d" % (i % 2))
            for i in range(80)]
    b1 = spark.createDataFrame(rows[:40], schema)
    b2 = spark.createDataFrame(rows[40:], schema)
    kw = dict(quality_col="q", group_col="grp", n_tiers=2, quota_coeff=1.0)

    store = spark._jsparkSession.sharedState().statusStore()
    before = store.executionsCount()
    out1, _ = tiered_ingest(spark, wh_root, b1, **kw)
    mid = store.executionsCount()
    # probe + GK sketch + 5 stage writes (tiered/seen/counts/quals/bounds)
    assert mid - before == 2 + 5, (before, mid)
    out1.unpersist()

    out2, _ = tiered_ingest(spark, wh_root, b2, **kw)
    after2 = store.executionsCount()
    # probe + frozen-bounds collect + 4 stage writes (no bounds table)
    assert after2 - mid == 2 + 4, (mid, after2)
    out2.unpersist()

    wh = open_warehouse(spark, wh_root)
    snap_before = wh.current_snapshot_id()
    before_r = store.executionsCount()
    _, rep_r = tiered_ingest(spark, wh_root, b2, **kw)
    after_r = store.executionsCount()
    assert rep_r["n_new"] == 0 and rep_r["n_kept"] == 0
    assert after_r - before_r == 1, (before_r, after_r)
    assert wh.current_snapshot_id() == snap_before


def test_tiered_ingest_cross_batch_quota_convergence(spark, tmp_path):
    """The incremental-tiering contract: frozen first-batch bounds,
    monotone top-up allowances, ledger idempotence — and after any batch
    sequence the per-cell kept counts EXACTLY equal the single-shot
    quota over the same seen population."""
    import math

    from ocr_translate_spark.curate import tiered_ingest
    from ocr_translate_spark.io.tables import open_warehouse

    wh_dir = str(tmp_path / "tier_wh")
    # deterministic quality (caller-scored) and two groups; three batches
    rows = [(i, "body %d" % i, (i * 37 % 100) / 100.0, "g%d" % (i % 2))
            for i in range(120)]
    schema = "doc_id long, text string, q double, grp string"
    batches = [rows[:40], rows[40:80], rows[80:]]

    reps = []
    for b in batches:
        _, rep = tiered_ingest(
            spark, wh_dir, spark.createDataFrame(b, schema),
            quality_col="q", group_col="grp", n_tiers=2, quota_coeff=1.0,
        )
        reps.append(rep)
    assert reps[0]["first_batch"] and not reps[1]["first_batch"]
    bounds = reps[0]["tier_bounds"]
    assert len(bounds) == 1
    # bounds are FROZEN: later batches report the stored thresholds
    assert reps[1]["tier_bounds"] == bounds == reps[2]["tier_bounds"]

    # closed form over the full seen population with the stored bounds
    def tier_of(q):
        return 1 + sum(q < b for b in bounds)

    cells: dict[tuple, int] = {}
    for i, _t, q, g in rows:
        cells[(tier_of(q), g)] = cells.get((tier_of(q), g), 0) + 1
    expect = {k: min(m, math.floor(1.0 * math.sqrt(m))) for k, m in cells.items()}

    wh = open_warehouse(spark, wh_dir)
    stored = wh.read(spark, "tiered")
    got = {(r["tier"], r["grp"]): r["n"] for r in
           stored.groupBy("tier", "grp").agg(F.count("*").alias("n")).collect()}
    assert got == expect

    # ledger state matches: summed seen == population, summed kept == kept
    counts = wh.read(spark, "tier_counts")
    seen = {(r["tier"], r["grp"]): (r["s"], r["k"]) for r in
            counts.groupBy("tier", "grp").agg(
                F.sum("n_seen").alias("s"), F.sum("n_kept").alias("k")).collect()}
    assert {k: v[0] for k, v in seen.items()} == cells
    assert {k: v[1] for k, v in seen.items()} == expect

    # allowances only top up: every batch kept something until quotas filled
    assert reps[0]["n_kept"] > 0 and sum(r["n_kept"] for r in reps) == sum(expect.values())

    # idempotence: re-running batch 2 is a no-op (no snapshot burned)
    snap_before = wh.current_snapshot_id()
    _, rep_replay = tiered_ingest(
        spark, wh_dir, spark.createDataFrame(batches[1], schema),
        quality_col="q", group_col="grp", n_tiers=2, quota_coeff=1.0,
    )
    assert rep_replay["n_new"] == 0 and rep_replay["n_kept"] == 0
    assert rep_replay["snapshot_id"] == snap_before
    assert wh.read(spark, "tiered").count() == sum(expect.values())

    # single-shot equivalence: quality_tiers with the SAME stored bounds
    # and coeff over the full population keeps identical per-cell counts
    from ocr_translate_spark.operators import curation as cops

    full = spark.createDataFrame(rows, schema)
    single = cops.quality_tiers(
        full, id_col="doc_id", quality_col="q", group_col="grp",
        n_tiers=2, quota_coeff=1.0, tier_bounds=bounds,
    )
    got_single = {(r["tier"], r["grp"]): r["n"] for r in
                  single.filter("keep").groupBy("tier", "grp")
                  .agg(F.count("*").alias("n")).collect()}
    assert got_single == got


def test_retier_warehouse_recomputes_bounds_and_quotas(spark, tmp_path):
    """The frozen-bounds maintenance job: after the quality distribution
    drifts, retier_warehouse recomputes cutoffs over the FULL seen
    population (tier_quals ledger), trims over-quota cells, rewrites the
    ledgers exactly, keeps time travel to the old tiers, and post-re-tier
    ingestion tops up against the NEW bounds with the standard closed
    form."""
    import math

    from ocr_translate_spark.curate import retier_warehouse, tiered_ingest
    from ocr_translate_spark.io.tables import open_warehouse

    wh_dir = str(tmp_path / "wh")
    schema = "doc_id long, text string, q double"
    kw = dict(quality_col="q", n_tiers=2, quota_coeff=1.0)
    # batch 1: uniform quality; batch 2: all high — the drift
    b1 = [(i, "b%d" % i, (i * 37 % 100) / 100.0) for i in range(40)]
    b2 = [(100 + i, "b%d" % (100 + i), 0.8 + (i % 10) / 100.0)
          for i in range(40)]
    _, rep1 = tiered_ingest(spark, wh_dir, spark.createDataFrame(b1, schema), **kw)
    _, rep2 = tiered_ingest(spark, wh_dir, spark.createDataFrame(b2, schema), **kw)
    old_bounds = rep1["tier_bounds"]
    assert rep2["tier_bounds"] == old_bounds  # frozen

    wh = open_warehouse(spark, wh_dir)
    assert wh.read(spark, "tier_quals").count() == 80
    pre_snap = wh.current_snapshot_id()
    pre_tiers = {r["doc_id"]: r["tier"] for r in wh.read(spark, "tiered").collect()}

    snap, rrep = retier_warehouse(spark, wh_dir, quota_coeff=1.0)
    assert rrep["old_bounds"] == old_bounds
    new_bounds = rrep["new_bounds"]
    # drifted population: the median over all 80 seen docs moved up
    assert new_bounds != old_bounds and len(new_bounds) == 1

    def tier_of(q, bounds):
        return 1 + sum(q < b for b in bounds)

    # closed form: exact seen counts and quotas per NEW cell; kept is
    # capped by what the warehouse still holds in that cell
    seen = {}
    for _i, _t, q in b1 + b2:
        seen[tier_of(q, new_bounds)] = seen.get(tier_of(q, new_bounds), 0) + 1
    quota = {t: min(m, math.floor(1.0 * math.sqrt(m))) for t, m in seen.items()}
    avail = {}
    for doc, _old_t in pre_tiers.items():
        q = dict((i, qq) for i, _t, qq in b1 + b2)[doc]
        t = tier_of(q, new_bounds)
        avail[t] = avail.get(t, 0) + 1
    expect_kept = {t: min(quota[t], avail.get(t, 0)) for t in seen}

    post = {r["tier"]: r["n"] for r in
            wh.read(spark, "tiered").groupBy("tier")
            .agg(F.count("*").alias("n")).collect()}
    assert post == {t: k for t, k in expect_kept.items() if k > 0}
    assert rrep["n_kept"] == sum(expect_kept.values())
    # survivors are a subset of the pre-re-tier keeps, re-mapped
    post_ids = {r["doc_id"] for r in wh.read(spark, "tiered").collect()}
    assert post_ids <= set(pre_tiers)

    # replacement ledger is exact: n_seen is the TRUE population count
    counts = {(r["tier"]): (r["n_seen"], r["n_kept"]) for r in
              wh.read(spark, "tier_counts").collect()}
    assert {t: v[0] for t, v in counts.items()} == seen
    assert {t: v[1] for t, v in counts.items()} == expect_kept
    # stored bounds replaced
    stored_bounds = [r["cutoff"] for r in wh.read(spark, "tier_bounds").collect()]
    assert stored_bounds == new_bounds

    # time travel: the pre-re-tier snapshot still reads the OLD tiers
    old_view = {r["doc_id"]: r["tier"] for r in
                wh.read(spark, "tiered", snapshot_id=pre_snap).collect()}
    assert old_view == pre_tiers

    # post-re-tier ingestion tops up against the NEW bounds exactly
    b3 = [(200 + i, "b%d" % (200 + i), (i * 53 % 100) / 100.0)
          for i in range(40)]
    _, rep3 = tiered_ingest(spark, wh_dir, spark.createDataFrame(b3, schema), **kw)
    assert rep3["tier_bounds"] == new_bounds
    m3, k3 = dict(seen), dict(expect_kept)
    batch_cells = {}
    for _i, _t, q in b3:
        batch_cells[tier_of(q, new_bounds)] = \
            batch_cells.get(tier_of(q, new_bounds), 0) + 1
    expect3 = {}
    for t, nb in batch_cells.items():
        m_tot = m3.get(t, 0) + nb
        allow = max(0, min(m_tot, math.floor(1.0 * math.sqrt(m_tot)))
                    - k3.get(t, 0))
        expect3[t] = min(nb, allow)
    assert rep3["kept_per_tier"] == {t: k for t, k in expect3.items() if k > 0}


def test_tiered_ingest_compaction_preserves_quota_state(spark, tmp_path):
    """compact_warehouse folds the tier ledgers without changing their
    read-side sums; ingestion after compaction continues exactly."""
    import math

    from ocr_translate_spark.curate import compact_warehouse, tiered_ingest
    from ocr_translate_spark.io.tables import open_warehouse

    wh_dir = str(tmp_path / "wh")
    schema = "doc_id long, text string, q double, grp string"
    rows = [(i, "b %d" % i, (i * 13 % 50) / 50.0, "g%d" % (i % 3))
            for i in range(90)]
    for lo in (0, 30):
        tiered_ingest(spark, wh_dir, spark.createDataFrame(rows[lo:lo+30], schema),
                      quality_col="q", group_col="grp", n_tiers=2, quota_coeff=1.5)
    wh = open_warehouse(spark, wh_dir)
    pre = {(r["tier"], r["grp"]): (r["s"], r["k"]) for r in
           wh.read(spark, "tier_counts").groupBy("tier", "grp").agg(
               F.sum("n_seen").alias("s"), F.sum("n_kept").alias("k")).collect()}
    n_seen_pre = wh.read(spark, "tier_seen").count()

    snap = compact_warehouse(spark, wh_dir)
    post_rows = wh.read(spark, "tier_counts", snapshot_id=snap).collect()
    assert len(post_rows) == len(pre)  # folded to one row per cell
    post = {(r["tier"], r["grp"]): (r["n_seen"], r["n_kept"]) for r in post_rows}
    assert post == pre
    assert wh.read(spark, "tier_seen").count() == n_seen_pre == 60

    # ingestion continues against the folded ledger
    _, rep3 = tiered_ingest(spark, wh_dir, spark.createDataFrame(rows[60:], schema),
                            quality_col="q", group_col="grp", n_tiers=2,
                            quota_coeff=1.5)
    assert rep3["n_new"] == 30
    bounds = rep3["tier_bounds"]
    cells: dict[tuple, int] = {}
    for i, _t, q, g in rows:
        tier = 1 + sum(q < b for b in bounds)
        cells[(tier, g)] = cells.get((tier, g), 0) + 1
    expect = {k: min(m, math.floor(1.5 * math.sqrt(m))) for k, m in cells.items()}
    got = {(r["tier"], r["grp"]): r["n"] for r in
           wh.read(spark, "tiered").groupBy("tier", "grp")
           .agg(F.count("*").alias("n")).collect()}
    assert got == expect


def test_curate_incremental_semantic_index(spark, tmp_path):
    """SemDeDup wired into the warehouse: batch 1 freezes the centroids
    and stores the semantic index alongside the corpus; batch 2's
    embedding near-dup of a STORED doc dies against the index (corpus
    wins), its within-batch near-dup pair keeps the smaller id, fresh
    and no-embedding docs append; the sem tables ride the same atomic
    snapshot and a replay is a no-op.  Docs without a (nonzero)
    embedding carry no semantic signal and never drop here."""
    import math

    from pyspark.sql import functions as F

    from ocr_translate_spark.curate import (
        SEM_CELLS_TABLE, SEM_CENTROIDS_TABLE, SEM_VECS_TABLE,
        curate_incremental,
    )
    from ocr_translate_spark.io.tables import open_warehouse

    def vec(theta, plane=0):
        v = [0.0, 0.0, 0.0, 0.0]
        v[2 * plane] = math.cos(theta)
        v[2 * plane + 1] = math.sin(theta)
        return v

    wh_root = str(tmp_path / "wh")
    kw = dict(min_words=10, scrub=False, embedding_col="emb",
              semantic_threshold=0.999, semantic_cells=2)
    schema = "doc_id long, text string, emb array<double>"
    b1 = spark.createDataFrame(
        [(0, _sentence(0), vec(0.0)),
         (1, _sentence(1), vec(1.2)),
         (2, _sentence(2), vec(0.0, plane=1))],
        schema,
    )
    out1, rep1 = curate_incremental(spark, wh_root, b1, **kw)
    assert rep1.n_appended == 3 and rep1.n_after_semantic_dedup == 3
    assert "semantic_dedup_incremental" in rep1.stages
    out1.unpersist()

    wh = open_warehouse(spark, wh_root)
    cts1 = {(r["cell"], tuple(r["centroid"]))
            for r in wh.read(spark, SEM_CENTROIDS_TABLE).collect()}
    assert len(cts1) == 2
    assert wh.read(spark, SEM_CELLS_TABLE).count() == 3
    assert wh.read(spark, SEM_VECS_TABLE).count() == 3
    snap1 = wh.current_snapshot_id()

    b2 = spark.createDataFrame(
        [(10, _sentence(10), vec(0.005)),           # near STORED doc 0 -> dies
         (11, _sentence(11), vec(1.5)),             # fresh -> kept
         (12, _sentence(12), vec(1.502)),           # near 11 (new-new) -> dies
         (13, _sentence(13), None),                 # no embedding -> kept
         (14, _sentence(14), [0.0, 0.0, 0.0, 0.0])],  # zero vec -> kept
        schema,
    )
    out2, rep2 = curate_incremental(spark, wh_root, b2, **kw)
    kept2 = {r["doc_id"] for r in out2.collect()}
    assert kept2 == {11, 13, 14}, kept2
    assert rep2.n_after_near_dedup == 5          # minhash finds nothing
    assert rep2.n_after_semantic_dedup == 3
    out2.unpersist()

    # one snapshot for the whole batch; centroids FROZEN (unchanged);
    # index rows appended only for embedded survivors (11)
    assert wh.current_snapshot_id() == snap1 + 1
    cts2 = {(r["cell"], tuple(r["centroid"]))
            for r in wh.read(spark, SEM_CENTROIDS_TABLE).collect()}
    assert cts2 == cts1
    cells = {r["id"] for r in wh.read(spark, SEM_CELLS_TABLE).collect()}
    assert cells == {0, 1, 2, 11}
    vecs = {r["id"] for r in wh.read(spark, SEM_VECS_TABLE).collect()}
    assert vecs == {0, 1, 2, 11}

    # replay of batch 2: ledger no-op, no snapshot burned
    out3, rep3 = curate_incremental(spark, wh_root, b2, **kw)
    assert rep3.n_appended == 0 and rep3.stages[-1] == "noop_commit"
    assert wh.current_snapshot_id() == snap1 + 1
    out3.unpersist()


def test_curate_incremental_first_embedded_batch_fully_rejected(spark, tmp_path):
    """A FIRST embedded batch whose docs are all rejected upstream must
    not crash centroid training on the empty semantic sample (r8 advice:
    train_ivf_centroids collected zero rows and _ordered_dot indexed
    shape[1] of a 1-D empty array, wedging the stream permanently —
    crash on every replay/restart).  Nothing may be stored (a 0-cell
    quantizer must NOT freeze), and the next embedded batch trains the
    real quantizer as its own first batch."""
    import math

    from ocr_translate_spark.curate import (
        SEM_CENTROIDS_TABLE, curate_incremental,
    )
    from ocr_translate_spark.io.tables import open_warehouse

    def vec(theta):
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    wh_root = str(tmp_path / "wh")
    kw = dict(min_words=10, scrub=False, embedding_col="emb",
              semantic_threshold=0.999, semantic_cells=2)
    schema = "doc_id long, text string, emb array<double>"
    # every doc fails min_words -> the quality stage rejects the whole
    # batch and the semantic sample is empty
    b1 = spark.createDataFrame(
        [(0, "too short", vec(0.0)), (1, "way too short", vec(1.2))],
        schema,
    )
    out1, rep1 = curate_incremental(spark, wh_root, b1, **kw)
    assert rep1.n_appended == 0
    # every count is honest although the quality stage empties the batch
    assert (rep1.n_batch, rep1.n_new, rep1.n_after_quality) == (2, 2, 0)
    assert (rep1.n_after_line_dedup, rep1.n_after_exact_dedup,
            rep1.n_dropped_vs_corpus_exact, rep1.n_after_near_dedup,
            rep1.n_after_semantic_dedup, rep1.n_after_decontamination) == (0,) * 6
    out1.unpersist()

    wh = open_warehouse(spark, wh_root)
    assert rep1.snapshot_id == wh.current_snapshot_id() == 0
    assert wh.read(spark, SEM_CENTROIDS_TABLE,
                   schema="cell bigint, centroid array<double>").count() == 0

    # replay of the rejected batch: still a no-op, still no crash
    out1r, rep1r = curate_incremental(spark, wh_root, b1, **kw)
    assert rep1r.n_appended == 0
    out1r.unpersist()

    # the next embedded batch is the real first one: trains + freezes
    b2 = spark.createDataFrame(
        [(10, _sentence(10), vec(0.0)), (11, _sentence(11), vec(1.2))],
        schema,
    )
    out2, rep2 = curate_incremental(spark, wh_root, b2, **kw)
    assert rep2.n_appended == 2
    assert wh.read(spark, SEM_CENTROIDS_TABLE).count() == 2
    out2.unpersist()
