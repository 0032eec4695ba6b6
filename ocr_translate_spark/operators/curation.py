"""Corpus-curation operators: chunking, deterministic splits, PII scrub.

The stages a training-data pipeline runs between extraction/dedup and
tokenization.  Everything is native ``pyspark.sql.functions`` (JVM-side,
codegen'd, no Python in the hot path) and every regex/hash is chosen so a
DuckDB oracle can replay the identical computation:

* ``chunk_documents`` — strided word windows with overlap (context-window
  packing); pure ``sequence``/``slice``/``explode``, no UDF, no shuffle.
* ``split_by_hash`` — deterministic train/val assignment from a portable
  content hash (md5-derived 60-bit int; NOT xxhash64, which DuckDB lacks),
  stable across runs, partitioning and cluster size.
* ``scrub_pii`` — email/phone redaction with RE2-compatible patterns
  (no lookarounds), the standard pre-release hygiene pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# RE2-compatible (works identically in Java regex and DuckDB's RE2)
EMAIL_REGEX = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
PHONE_REGEX = r"\+?[0-9][0-9()\-\s]{6,}[0-9]"


def _words(text: Column) -> Column:
    return F.filter(F.split(F.lower(text), r"\s+", -1), lambda x: x != F.lit(""))


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 64,
    overlap: int = 8,
) -> DataFrame:
    """(doc_id, chunk_id, chunk_text, n_tokens): strided word windows.

    Chunk ``i`` covers words ``[i*stride, i*stride + chunk_tokens)`` with
    ``stride = chunk_tokens - overlap``; every word belongs to at least
    one chunk and consecutive chunks share ``overlap`` words.  The last
    chunk index is ``ceil(max(n - chunk_tokens, 0) / stride)`` — the
    smallest index whose window reaches the final word — so no chunk is
    ever fully contained in its predecessor (a floor((n-1)/stride) bound
    emitted a redundant tail whenever stride < n <= chunk_tokens held,
    duplicating training text); zero-word docs emit no rows.  Explode is
    the only data growth (bounded by ~n/stride chunks per doc); there is
    no shuffle — at 100 TB this stays a narrow map over the scan.
    """
    assert 0 <= overlap < chunk_tokens
    stride = chunk_tokens - overlap
    words = _words(F.col(text_col))
    n = F.size(words)
    # integer ceil: (max(n - chunk_tokens, 0) + stride - 1) / stride
    last = F.floor(
        (F.greatest(n - chunk_tokens, F.lit(0)) + (stride - 1)) / stride
    ).cast("int")
    idx = F.sequence(F.lit(0), last)
    return df.filter(n > 0).select(
        F.col(id_col).alias("doc_id"),
        F.explode(idx).alias("chunk_id"),
        words.alias("_w"),
    ).select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.array_join(
            F.slice(F.col("_w"), F.col("chunk_id") * stride + 1, chunk_tokens), " "
        ).alias("chunk_text"),
        F.size(
            F.slice(F.col("_w"), F.col("chunk_id") * stride + 1, chunk_tokens)
        ).cast("long").alias("n_tokens"),
    )


def portable_hash_bucket(col: Column, buckets: int, salt: str = "") -> Column:
    """Deterministic [0, buckets) bucket from a portable md5-derived 60-bit
    int — identical in Spark and DuckDB, stable across runs/partitioning."""
    h = F.conv(
        F.substring(F.md5(F.concat(col.cast("string"), F.lit(salt))), 1, 15), 16, 10
    ).cast("long")
    return F.pmod(h, F.lit(buckets))


def split_by_hash(
    df: DataFrame,
    id_col: str,
    val_fraction: float = 0.1,
    salt: str = "v1",
    buckets: int = 1000,
) -> DataFrame:
    """Attach ``split`` ('train'|'val') from a salted content-hash bucket.

    Hash-based assignment (vs random) is the reproducibility contract a
    training pipeline needs: a document's split never changes when the
    corpus grows, reshuffles, or reruns; changing ``salt`` re-rolls every
    assignment at once."""
    cut = int(round(val_fraction * buckets))
    bucket = portable_hash_bucket(F.col(id_col), buckets, salt)
    return df.withColumn(
        "split", F.when(bucket < cut, F.lit("val")).otherwise(F.lit("train"))
    )


def scrub_pii(text: Column) -> Column:
    """Redact emails then phone-like digit runs (order matters: emails may
    contain digits that the phone pattern would mangle first)."""
    out = F.regexp_replace(text, EMAIL_REGEX, "<EMAIL>")
    return F.regexp_replace(out, PHONE_REGEX, "<PHONE>")


def drop_boilerplate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_line_frac: float = 0.3,
    n_docs: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Corpus-frequency line dedup (C4 / CCNet boilerplate removal):
    drop every line that occurs in more than ``max_line_frac`` of the
    documents, rebuild each document from its surviving lines in the
    original order.  Returns (doc_id, clean_text, n_lines,
    n_dropped) — docs whose lines were ALL boilerplate keep an empty
    clean_text row (the downstream length filter is where they die, per
    C4).  A line repeated inside one document counts once toward its
    document frequency; blank lines count like any other.

    Scale design: lines explode narrowly off the scan (`posexplode`
    keeps the original index) and the exploded table is persisted so
    BOTH consumers — the line-frequency aggregate and the rebuild —
    share one scan+explode of the corpus.  The document frequency of
    each distinct line is ONE hash aggregate — partial (map-side)
    combine collapses within-partition repeats, so the shuffle carries
    distinct-line partials, never document payloads.  The hot set
    (`count > frac*n_docs`-filtered, at most ``total_lines/threshold``
    rows) comes back as a BROADCAST left join that merely FLAGS hot
    lines; the rebuild is then a single groupBy(doc) in which
    `collect_list`'s NULL-skipping drops the flagged lines — no
    anti-join branch, no separate totals scan, and all-boilerplate docs
    fall out naturally as empty strings (array_join of an empty
    collect).  `array_sort` of (idx, line) structs makes the rebuild
    order explicit and partitioning-invariant.  Everything is native
    columns; the DuckDB oracle replays it with ``string_agg(line ORDER
    BY idx)``.

    ``materialize=True`` persists the exploded lines table so both
    consumers share one scan (cache entries dedupe by canonical plan, so
    re-invoking on the same corpus reuses rather than accumulates; see
    dedup.minhash_lsh_candidates for the cache-lifecycle notes —
    long-lived sessions cycling many corpora should pass False or
    ``spark.catalog.clearCache()`` between corpora).
    """
    lines = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n", -1)).alias("idx", "line"),
    )
    if materialize:
        lines = lines.persist()
    hot = (
        lines.dropDuplicates(["doc_id", "line"])
        .groupBy("line")
        .agg(F.count("*").alias("_df"))
    )
    # the corpus size anchors the fraction cutoff; pass n_docs when the
    # caller already knows it.  With n_docs=None the count stays IN the
    # plan (split() yields >= 1 line, so doc count == idx-0 line count —
    # one narrow pass over the shared/persisted lines table broadcast as
    # a 1-row stats join, the bm25 pattern) — no driver-side count action,
    # so a curation call's decision frame stays one execution.
    # cutoff floor 1.0: a line occurring in a SINGLE document is never
    # boilerplate — without the floor, a small corpus/batch where
    # frac * n < 1 marks every unique line hot and strips all text
    # (hit by curate_incremental on a 3-survivor micro-batch)
    if n_docs is None:
        tot = lines.filter(F.col("idx") == 0).select(
            F.count(F.lit(1)).cast("double").alias("_nd")
        )
        hot = hot.crossJoin(F.broadcast(tot)).filter(
            F.col("_df") > F.greatest(F.lit(max_line_frac) * F.col("_nd"), F.lit(1.0))
        )
    else:
        hot = hot.filter(F.col("_df") > max(max_line_frac * n_docs, 1.0))
    hot = hot.select("line", F.lit(True).alias("_hot"))
    flagged = lines.join(F.broadcast(hot), "line", "left")
    return flagged.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    # collect_list skips NULLs: hot lines vanish here
                    F.collect_list(
                        F.when(F.col("_hot").isNull(), F.struct("idx", "line"))
                    )
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("clean_text"),
        F.count("*").cast("long").alias("n_lines"),
        F.coalesce(
            F.sum(F.col("_hot").cast("long")), F.lit(0).cast("long")
        ).alias("n_dropped"),
    )


def pack_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    capacity: int = 2048,
    partitions: int | None = None,
) -> DataFrame:
    """Sequence packing (GPT-style pretraining): documents concatenated in
    deterministic ``id_col`` order into one continuous token stream, then
    sliced into fixed ``capacity``-token training sequences (documents may
    cross sequence boundaries — the standard concat-and-slice regime).

    Returns (doc_id, n_tokens, start_offset, first_bin, last_bin): where
    each document lands in the stream and which training sequences it
    touches.  Deterministic and partitioning-invariant, so the DuckDB
    oracle is a plain global window cumsum.

    Scale design — a naive ``Window.orderBy(id)`` cumsum collapses the
    corpus onto ONE task; instead this is the classic two-level
    distributed prefix sum over DATA-DRIVEN id buckets (approx-quantile
    range bounds, so bucket assignment is a pure function of doc_id —
    stable across re-executions, unlike spark_partition_id; string ids
    bucket via an order-preserving byte-prefix surrogate, see below): per-bucket
    token subtotals (one tiny aggregate, |buckets| rows) are prefix-summed
    on the driver and broadcast back, and a bucket-local window adds the
    running sum — every O(corpus) step stays fully parallel.
    """
    from pyspark.sql.types import NumericType

    n_parts = partitions or df.sparkSession.sparkContext.defaultParallelism
    if isinstance(df.schema[id_col].dataType, NumericType):
        ord_col = F.col(id_col).cast("double")
    else:
        # string ids (urls — the natural key elsewhere): approxQuantile
        # needs a numeric column, so derive an ORDER-PRESERVING numeric
        # surrogate — the first 6 UTF-8 bytes as a big-endian integer
        # (48 bits, exact in double; short ids zero-pad right).  Spark
        # compares strings by unsigned byte order (UTF8String), so
        # surrogate order is consistent with native order; ids equal in
        # their first 6 bytes merely share a bucket, where the local
        # window below orders by the NATIVE id.
        ord_col = F.conv(
            F.rpad(F.substring(F.hex(F.encode(F.col(id_col), "UTF-8")), 1, 12),
                   12, "0"),
            16, 10,
        ).cast("double")
    d = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(_words(F.col(text_col))).cast("long").alias("n_tokens"),
        ord_col.alias("_ord"),
    )
    if n_parts > 1:
        qs = [i / n_parts for i in range(1, n_parts)]
        bounds = sorted(set(d.approxQuantile("_ord", qs, 0.001)))
    else:
        bounds = []
    if bounds:
        barr = F.array(*[F.lit(b).cast("double") for b in bounds])
        bucket = F.size(F.filter(barr, lambda b: b <= F.col("_ord")))
    else:
        bucket = F.lit(0)
    d = d.withColumn("_bkt", bucket)
    subtotals = (
        d.groupBy("_bkt").agg(F.sum("n_tokens").alias("_sub"))
        .collect()  # bounded by the bucket count, never by corpus size
    )
    prefix: dict[int, int] = {}
    acc = 0
    for row in sorted(subtotals, key=lambda r: r["_bkt"]):
        prefix[row["_bkt"]] = acc
        acc += row["_sub"] or 0
    from pyspark.sql import Window

    local = Window.partitionBy("_bkt").orderBy("doc_id")
    prefix_map = F.create_map(
        *[F.lit(x) for kv in prefix.items() for x in kv]
    )
    start = (
        prefix_map[F.col("_bkt")]
        + F.sum("n_tokens").over(local) - F.col("n_tokens")
    )
    return d.select(
        "doc_id",
        "n_tokens",
        start.alias("start_offset"),
        F.floor(start / capacity).cast("long").alias("first_bin"),
        # empty docs occupy no space: their last_bin equals first_bin
        F.floor(F.greatest(start + F.col("n_tokens") - 1, start) / capacity)
        .cast("long").alias("last_bin"),
    )


# ---------------------------------------------------------------------
# span-level exact-substring excision (round 6)
# ---------------------------------------------------------------------

def excise_dup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_count: int = 2,
    materialize: bool = True,
) -> DataFrame:
    """Duplicated-PASSAGE removal (the span-level counterpart of document
    dedup, after Lee et al. 2022's exact-substring dedup): every word
    position covered by an ``n``-word gram that occurs at least
    ``min_count`` times ANYWHERE in the corpus (other documents or the
    same one) is excised; the survivors are re-joined into cleaned text.
    Document dedup drops whole near-copies — this removes the verbatim
    boilerplate/quotation spans that survive it.

    Detection is case-insensitive (grams over lowercased words); excision
    preserves the original casing of kept words.  Rebuilt text is
    single-space joined (word-level ops normalize whitespace, like
    chunk_documents).

    Returns ``(id, n_words, n_removed, cleaned)`` for EVERY input row
    (fully-excised or empty docs keep ``cleaned = ''``).

    Scale design: the reference implementation of this idea builds a
    corpus-wide suffix array; the gram-anchored form here needs only
    (a) one groupBy on 60-bit gram hashes (8-byte keys, text never rides
    the shuffle), (b) one equi-join of occurrences against the duplicated
    grams, and (c) per-document reassembly — all key-partitioned and
    linear in corpus size, with spans shorter than ``n`` words the
    accepted blind spot.  Within-doc gram repeats count toward
    ``min_count`` (a doc repeating its own paragraph gets both copies
    excised).

    ``materialize=True`` persists the per-doc word-array table that all
    four branches of the plan share (gram occurrences, duplicated-gram
    counts, position explode, final row set) — without it each branch
    re-scans the source and re-splits the text (four full text scans at
    corpus scale).  Same cache lifecycle as drop_boilerplate_lines:
    plan-deduped across invocations, released by
    ``spark.catalog.clearCache()``.
    """
    words = F.filter(
        F.split(F.col(text_col), r"\s+", -1), lambda x: x != F.lit("")
    )
    d = (
        df.select(F.col(id_col).alias("id"), words.alias("_w"))
        .withColumn("_wl", F.transform(F.col("_w"), F.lower))
        .withColumn("_nw", F.size("_w").cast("long"))
    )
    if materialize:
        d = d.persist()
    # gram occurrences WITH multiplicity: (id, start position, gram hash)
    starts = F.when(
        F.col("_nw") >= n, F.sequence(F.lit(0), (F.col("_nw") - n).cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        starts,
        lambda i: F.struct(
            i.alias("pos"),
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(" ", F.slice(F.col("_wl"), i + 1, n))), 1, 15
                ),
                16, 10,
            ).cast("long").alias("gram"),
        ),
    )
    occ = d.select("id", F.explode(grams).alias("g")).select(
        "id", F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram")
    )
    dup_grams = (
        occ.groupBy("gram")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("gram")
    )
    covered = (
        occ.join(dup_grams, "gram")
        .select("id", F.explode(F.sequence(F.col("pos"), F.col("pos") + (n - 1))).alias("p"))
        .distinct()
    )
    positions = d.select(
        "id", F.posexplode(F.col("_w")).alias("p", "word")
    )
    kept = (
        positions.join(covered, ["id", "p"], "left_anti")
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("_n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "word"))),
                    lambda s: s["word"],
                ),
                " ",
            ).alias("_cleaned"),
        )
    )
    return (
        d.select("id", "_nw")
        .join(kept, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("_nw").alias("n_words"),
            (F.col("_nw") - F.coalesce(F.col("_n_kept"), F.lit(0))).cast("long").alias("n_removed"),
            F.coalesce(F.col("_cleaned"), F.lit("")).alias("cleaned"),
        )
    )


# ---------------------------------------------------------------------
# quality tiering + temperature-balanced keep quotas (round 6)
# ---------------------------------------------------------------------

def approx_tier_bounds(
    df: DataFrame, quality_col: str = "quality", n_tiers: int = 4,
    relative_error: float = 0.001,
) -> list[float]:
    """Descending tier cutoffs from distributed approximate quantiles
    (Greenwald-Khanna via ``approxQuantile``) — the 100 TB tiering path:
    one sketch pass, then tier assignment is a narrow map.

    ``n_tiers=1`` is a legal degenerate: no cutoffs (every doc lands in
    tier 1 and the tier stage reduces to pure sqrt-quota sampling) —
    returned without running the sketch, since ``approxQuantile`` rejects
    an empty probability list."""
    if n_tiers <= 1:
        return []
    qs = [1.0 - i / n_tiers for i in range(1, n_tiers)]
    bounds = df.approxQuantile(quality_col, qs, relative_error)
    return sorted(bounds, reverse=True)


def tier_of(quality: Column, bounds: list[float]) -> Column:
    """Tier of a ``quality`` column under descending cutoffs ``bounds``:
    1 plus the number of cutoffs the score falls below (tier 1 is the best
    quality) — a narrow threshold map, no shuffle."""
    t = F.lit(1)
    for b in bounds:
        t = t + F.when(quality < b, 1).otherwise(0)
    return t.cast("long")


def tier_bounds_frame(spark, bounds: list[float]) -> DataFrame:
    """(tier long, cutoff double): descending cutoffs ``bounds`` in their
    stored form, tier ``i + 1`` holding ``bounds[i]``.  One literal array
    expanded on the JVM in one partition — no Python-worker task, and it
    stages as one file; ``n_tiers=1`` (no cutoffs) gives the typed empty
    frame."""
    rows = F.array(*[
        F.struct(F.lit(i + 1).alias("tier"), F.lit(float(b)).alias("cutoff"))
        for i, b in enumerate(bounds)
    ]).cast("array<struct<tier: bigint, cutoff: double>>")
    return spark.range(1, numPartitions=1).select(F.inline(rows))


def sqrt_quota(m: Column, quota_coeff: float) -> Column:
    """Keep quota of a cell of ``m`` docs: ``min(m, floor(c*sqrt(m)))``,
    the alpha = 0.5 temperature curve, in bit-exact arithmetic (integer ->
    IEEE sqrt -> floor)."""
    return F.least(
        m, F.floor(F.lit(float(quota_coeff)) * F.sqrt(m.cast("double")))
    ).cast("long")


def quota_lottery(
    sized: DataFrame,
    id_col: str,
    cell_cols: list[str],
    allow_col: str,
    salt_shards: int | None = 16,
) -> DataFrame:
    """The rows of ``sized`` that win their cell's lottery: per
    ``cell_cols`` cell, the first ``allow_col`` rows in the deterministic
    portable ``(md5(id), id)`` order.  Two-level salted like
    urls.host_rank: rank within ``(cell, salt)`` shards, prune to the
    allowance (lossless — a cell's top-allowance row is in its shard's
    top-allowance), then re-rank the bounded survivors per cell.
    ``salt_shards=None`` ranks each cell in one window."""
    from pyspark.sql import Window

    order = [F.md5(F.col(id_col).cast("string")), F.col(id_col)]
    if salt_shards and salt_shards > 1:
        salt = F.pmod(
            F.xxhash64(F.col(id_col).cast("string"), F.lit("qt")),
            F.lit(salt_shards),
        )
        w1 = Window.partitionBy(*cell_cols, salt).orderBy(*order)
        sized = (
            sized.withColumn("_rn1", F.row_number().over(w1))
            .filter(F.col("_rn1") <= F.col(allow_col))
            .drop("_rn1")
        )
    w2 = Window.partitionBy(*cell_cols).orderBy(*order)
    return (
        sized.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= F.col(allow_col))
        .drop("_rn")
    )


def quality_tiers(
    df: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "quality",
    group_col: str | None = None,
    n_tiers: int = 4,
    quota_coeff: float = 8.0,
    tier_bounds: list[float] | None = None,
    salt_shards: int | None = 16,
    materialize: bool = False,
) -> DataFrame:
    """Quality-TIER extraction with temperature-balanced keep quotas —
    the standard "bucket the corpus by quality, then rebalance what you
    keep per group" selection stage (FineWeb-style quality buckets x
    XLM-R-style alpha-temperature sampling).

    Tier assignment: ``tier_bounds=None`` uses an exact ``ntile`` over
    ``(quality DESC, id)`` — a GLOBAL window, correct for bounded slices
    (per-shard tiering, test/bench scale) but single-task at crawl scale;
    pass :func:`approx_tier_bounds` output for the distributed path
    (narrow threshold map, no shuffle).  Tier 1 is the best quality.

    Keep quota per ``(tier, group)``: with group size ``m``, quota =
    ``min(m, floor(quota_coeff * sqrt(m)))`` — the alpha = 0.5 temperature
    curve (big groups are downsampled proportionally harder), in
    bit-exact arithmetic (integer -> IEEE sqrt -> floor, no cross-group
    normalization sum whose float fold order could differ across
    engines; :func:`sqrt_quota`).  WHICH rows fill the quota is the
    deterministic portable md5-rank lottery of :func:`quota_lottery`.

    Returns every input row with ``(tier, group_n, quota, keep)``.

    ``materialize`` persists the sized (tiered + quota) table its three
    consumers share (shard prune, survivor re-rank, final keep join).
    Default OFF: when the input is an already-scored narrow table the
    threshold-path tier map is a trivial projection, and re-running it
    per branch beats paying the cache write+reads — measured at 5M
    rows: 6.0 s uncached vs 11.4 s cached at local[8], and the uncached
    form scales 0.90 N->4N vs 0.58 cached (the cache turns a
    compute-bound job storage-bound).  Turn it ON (or persist the input
    yourself, as tiered_select does) when the quality column rides an
    expensive upstream — text scoring, span excision — that must not
    re-run three times.  Standard cache lifecycle (plan-deduped,
    clearCache releases).
    """
    from pyspark.sql import Window

    group = F.col(group_col) if group_col else F.lit("")
    if tier_bounds is None:
        wt = Window.orderBy(F.col(quality_col).desc(), F.col(id_col))
        tiered = df.withColumn("tier", F.ntile(n_tiers).over(wt).cast("long"))
    else:
        tiered = df.withColumn("tier", tier_of(F.col(quality_col), tier_bounds))
    tiered = tiered.withColumn("_grp", group)
    counts = tiered.groupBy("tier", "_grp").agg(F.count("*").alias("group_n"))
    quota = sqrt_quota(F.col("group_n"), quota_coeff)
    sized = tiered.join(counts.withColumn("quota", quota), ["tier", "_grp"])
    if materialize:
        sized = sized.persist()
    kept_ids = quota_lottery(
        sized, id_col, ["tier", "_grp"], "quota", salt_shards
    ).select(F.col(id_col).alias("_keep_id"))
    return (
        sized.join(kept_ids, sized[id_col] == kept_ids["_keep_id"], "left")
        .withColumn("keep", F.col("_keep_id").isNotNull())
        .drop("_keep_id", "_grp")
    )
