"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

The reference dedupes by content hash and value interning (Image.md5
unique, ref models/base.py:62-64; Text interning ref models/ocr.py:234).
At corpus scale exact dedup generalizes to near-dup detection; these are
the standard web-corpus dedup families, each built so the expensive
pairwise step only ever runs *within buckets*:

* exact:      hash -> groupBy                       (one shuffle on hash)
* jaccard:    shingle explode -> shingle equi-join   (self-join pruned by
              shingle key; only docs sharing a shingle ever meet)
* minhash:    k minhashes -> banded LSH buckets -> candidate pairs
              (sub-quadratic; the 100 TB-safe path)
* simhash:    64-bit signature -> 16-bit band buckets -> hamming filter

All hashing is JVM-side ``xxhash64`` — deterministic across runs and
cluster sizes, no Python in the hot path.
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import ArrayType, LongType

# MinHash index shape: signature slots and LSH bands.  A stored index and
# every batch matched against it must use the same pair (hash inputs are
# positional), so the builders and the matchers share these defaults.
NUM_HASHES = 32
BANDS = 8


def _splitmix64(x: int) -> int:
    """Deterministic 64-bit mix (public-domain splitmix64 constants) used
    to derive the universal-hash family parameters from the seed index."""
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return x ^ (x >> 31)


def _flatten_long_arrays(col: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """(flat uint64 values, per-row lengths) from a Series of int64 arrays."""
    arrs = col.to_numpy()
    lens = np.fromiter(
        (0 if a is None else len(a) for a in arrs), dtype=np.int64, count=len(arrs)
    )
    if lens.sum() == 0:
        return np.empty(0, dtype=np.uint64), lens
    flat = np.concatenate([a for a in arrs if a is not None and len(a)])
    return flat.astype(np.int64).view(np.uint64), lens


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical texts: (text_hash, n_dups, keeper, dup_ids).

    keeper = min id (deterministic representative)."""
    return (
        df.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_dups"),
            F.min("id").alias("keeper"),
            F.sort_array(F.collect_list("id")).alias("dup_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


def exact_keeper_rank(id_col: str, text_col: str):
    """Column expr: a row's rank by id among the rows with its text — 1
    for the keeper (min id wins), 2.. for its copies.  A NULL text ranks
    alone (rank 1), so NULL rows neither collapse nor pile into one
    window partition."""
    text = F.col(text_col)
    w = Window.partitionBy(
        F.md5(text), F.when(text.isNull(), F.col(id_col))
    ).orderBy(F.col(id_col))
    return F.row_number().over(w)


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one row per distinct text (min id wins; NULL texts are all
    kept) — the batch form of the reference's get_or_create interning
    (ref models/base.py:33-47)."""
    rank = exact_keeper_rank(id_col, text_col)
    return df.withColumn("_rn", rank).filter(F.col("_rn") == 1).drop("_rn")


def _word_hash_array(text_col):
    """Column expr: xxhash64 of every word, one pass over the text."""
    words = F.filter(F.split(F.lower(text_col), r"\s+", -1), lambda x: x != F.lit(""))
    return F.transform(words, lambda w: F.xxhash64(w))


def _gram_hashes_from(wh_col, n: int):
    """Distinct n-gram hashes from a MATERIALIZED word-hash array column:
    the n word hashes combine through one more xxhash64 — the gram never
    materializes as a string, so per-gram cost drops from slice+concat
    allocation to one long hash, and anything keyed on shingles shuffles
    8-byte longs instead of text.  Distinct word n-grams map to distinct
    hashes modulo a 2^-64 collision (the standard shingling trade; same
    rationale as the 60-bit portable gram hashes in _word_gram_table).

    ``wh_col`` MUST be a projected column, not an inline expression: the
    lambda references it n times per gram, and an inline transform would
    be re-evaluated per reference — an O(words^2) blowup (measured 2-3x
    end-to-end before the two-phase split).  ``F.get`` (0-based, NULL
    past the end) keeps the truncated-gram semantics of the string
    version for docs shorter than ``n`` without tripping ANSI element_at
    bounds checks — Spark's hash functions fold NULL inputs by skipping
    them."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(wh_col) - n, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.xxhash64(*[F.get(wh_col, i + j) for j in range(n)])
    )
    return F.array_distinct(grams)


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard: (id_a, id_b, jaccard).

    Two exact physical plans behind one result (``strategy``):

    * ``"join"`` — inverted-index shingle equi-join.  Only docs sharing a
      shingle ever meet; total join rows = sum over shingles of df^2.
      The right shape for NORMAL web corpora, where the gram vocabulary
      grows with the corpus and almost every gram is rare.
    * ``"block"`` — blocked exact pair counting.  Docs keep their distinct
      gram-hash set as ONE array column (no explode), are bucketed into
      nb deterministic blocks, each doc rides the one grouped shuffle to
      its nb block-pair tasks, and each (block_i, block_j) task counts
      shared shingles for all its cross pairs with vectorized numpy over
      local contiguous column codes (``np.unique`` of the exact 64-bit
      gram hashes — no lossy re-hash, the dot count IS |A∩B|), emitting
      the final thresholded pairs directly.  The right shape for DENSE
      corpora (small vocabulary, hot shingles): the work stays sum df^2
      multiply-adds, but as in-task numpy instead of shuffled join rows —
      the r7 SemDeDup pair-stage lesson (its pair-join form measured 34x
      slower) applied to exact Jaccard.
    * ``"auto"`` — estimates the per-pair expected shared-shingle count
      from a bounded 4096-doc sample (driver work is capped by the
      explicit limit) and picks "block" when the join would emit more
      bytes in pair rows than the block fanout ships in gram arrays.

    At 100 TB exact all-pairs Jaccard is infeasible under EITHER plan
    without pruning — ``max_shingle_df`` drops shingles whose document
    frequency exceeds the cap (a hot stopword-gram hitting k docs emits
    O(k^2) work).  Semantics under the cap: set sizes stay exact (taken
    pre-filter), the shared count is computed over surviving shingles
    only, so reported jaccard is a LOWER BOUND and pairs that share
    exclusively-hot shingles are missed — the standard web-dedup trade.
    ``None`` = exact (no cap).
    """
    wh = df.select(
        F.col(id_col).alias("id"), _word_hash_array(F.col(text_col)).alias("_wh")
    )
    docs = wh.select(
        "id",
        _gram_hashes_from(F.col("_wh"), n).alias("grams"),
    ).select("id", "grams", F.size("grams").cast("long").alias("set_size"))
    if max_shingle_df is not None:
        sh = docs.select("id", "set_size", F.explode("grams").alias("shingle"))
        rare = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("shingle")
        )
        docs = (
            sh.join(rare, "shingle")
            .groupBy("id", "set_size")
            .agg(F.collect_list("shingle").alias("grams"))
        )

    if strategy == "auto":
        strategy = _pick_jaccard_strategy(docs)
    if strategy == "block":
        return _jaccard_pairs_blocked(docs, threshold)
    return _jaccard_pairs_join(docs, threshold)


def _jaccard_pairs_join(docs: DataFrame, threshold: float) -> DataFrame:
    """Inverted-index exact Jaccard over (id, grams, set_size) rows."""
    sizes = docs.select("id", "set_size")
    sh = docs.select("id", F.explode("grams").alias("shingle"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("shared"))
    )
    return (
        shared.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("set_size", "size_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("set_size", "size_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("shared")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _pick_jaccard_strategy(docs: DataFrame, sample_rows: int = 1024) -> str:
    """Choose join vs block from a bounded sample (exact either way).

    Estimates E[shared shingles per random pair] from <= ``sample_rows``
    docs' gram arrays (driver transfer bounded by the explicit limit: a
    few hundred KB).  The join plan's pair-row bytes beat the block
    plan's array fanout only when that expectation is tiny — i.e. the
    vocabulary is large relative to the corpus (normal web text).  A
    sample-density misread costs performance, never correctness.

    1024 rows: the decision boundary (e_shared ~0.007 at the default
    block size) sits orders of magnitude from both corpus regimes
    (dense fixtures ~0.1+, sparse web ~1e-4), and the LIMIT runs
    per-partition BEFORE the gram projection prunes it — an r8
    measurement localized ~0.6 s/eval at 4096 rows to exactly that
    (32 partitions x local-limit rows of gram compute), ~4x less here."""
    pdf = docs.select("grams").limit(sample_rows).toPandas()
    m = len(pdf)
    if m < 2:
        return "join"
    flat, lens = _flatten_long_arrays(pdf["grams"])
    if flat.size == 0:
        return "join"
    _, counts = np.unique(flat, return_counts=True)
    c = counts.astype(np.float64)
    # E[|A∩B|] over unordered sample pairs
    e_shared = float((c * c - c).sum()) / (m * (m - 1))
    mean_set = float(lens.mean())
    # join pair row ~24 B vs block fanout row ~(8*mean_set + 24) B per
    # block copy; fanout multiplier ~n/BLOCK_DOCS cancels against the
    # n^2 pair count, leaving a density threshold independent of n.
    return (
        "block"
        if e_shared * 12.0 * _JACCARD_BLOCK_DOCS > (8.0 * mean_set + 24.0)
        else "join"
    )


_JACCARD_BLOCK_DOCS = 8192  # docs per block; per-task memory ~2 blocks' arrays


def _jaccard_pairs_blocked(docs: DataFrame, threshold: float) -> DataFrame:
    """Blocked exact pair counting over (id, grams, set_size) rows.

    ONE grouped shuffle: each doc is fanned out to its nb block-pair
    tasks (deterministic xxhash64 bucket — rand() keys break under task
    retry), then every (bi, bj) task counts shared shingles for all its
    cross pairs in numpy and emits the final (id_a, id_b, jaccard) rows.
    No pair row ever rides an exchange.
    """
    n_docs = docs.count()
    if n_docs == 0:
        return docs.sparkSession.createDataFrame(
            [], "id_a long, id_b long, jaccard double"
        )
    nb = max(1, -(-n_docs // _JACCARD_BLOCK_DOCS))
    # floor for parallelism on small corpora: more (cheap) block pairs
    # beat idle cores; both bounds derive from n, not the core count
    nb = max(nb, min(8, -(-n_docs // 1024)))

    fan = docs.select(
        "id", "set_size", "grams",
        F.pmod(F.xxhash64("id"), F.lit(nb)).alias("_blk"),
        F.explode(F.sequence(F.lit(0), F.lit(nb - 1))).alias("_o"),
    ).select(
        "id", "set_size", "grams", "_blk",
        F.least("_blk", "_o").alias("bi"),
        F.greatest("_blk", "_o").alias("bj"),
    )

    thr = float(threshold)

    def count_pairs(key, pdf):
        bi, bj = int(key[0]), int(key[1])
        flat, lens = _flatten_long_arrays(pdf["grams"])
        if flat.size == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "jaccard": []}).astype(
                {"id_a": "int64", "id_b": "int64", "jaccard": "float64"}
            )
        ids = pdf["id"].to_numpy(dtype=np.int64)
        sizes = pdf["set_size"].to_numpy(dtype=np.int64)
        blk = pdf["_blk"].to_numpy(dtype=np.int64)
        # local contiguous column codes for the EXACT 64-bit gram hashes
        cols = np.unique(flat, return_inverse=True)[1]
        rows = np.repeat(np.arange(len(pdf), dtype=np.int64), lens)
        left_rows = np.arange(len(pdf), dtype=np.int64)[blk == bi]
        right_rows = np.arange(len(pdf), dtype=np.int64)[blk == bj]
        if left_rows.size == 0 or right_rows.size == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "jaccard": []}).astype(
                {"id_a": "int64", "id_b": "int64", "jaccard": "float64"}
            )
        # compact per-side row numbering
        side_code = np.full(len(pdf), -1, dtype=np.int64)
        side_code[right_rows] = np.arange(right_rows.size)
        n_right = right_rows.size
        # right-side inverted index: entries sorted by column
        r_mask = blk[rows] == bj
        r_cols, r_rowno = cols[r_mask], side_code[rows[r_mask]].astype(np.int32)
        order = np.argsort(r_cols, kind="stable")
        r_cols, r_rowno = r_cols[order], r_rowno[order]
        n_cols = int(cols.max()) + 1
        col_counts = np.bincount(r_cols, minlength=n_cols)
        col_offsets = np.concatenate(([0], np.cumsum(col_counts)[:-1]))
        # left entries -> one pair code per (left entry, right doc in col);
        # counted with chunked bincount (O(pair codes), no sort) — left
        # docs are processed in slices small enough that the dense
        # (chunk_docs x n_right) count array stays ~64 MB
        l_mask = blk[rows] == bi
        l_cols, l_rowglob = cols[l_mask], rows[l_mask]
        if l_cols.size == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "jaccard": []}).astype(
                {"id_a": "int64", "id_b": "int64", "jaccard": "float64"}
            )
        out_a, out_b, out_j = [], [], []
        # chunk the left docs so the bincount span stays L3-resident
        # (measured 3x over an 8M-entry span: the scatter is cache-bound)
        chunk_docs = max(1, (512 << 10) // max(n_right, 1))
        # exact-safe count prefilter: any pair with jaccard >= t shares
        # >= t*(sa+sb)/(1+t) shingles, lower-bounded over the group
        smin = float(sizes[left_rows].min() + sizes[right_rows].min())
        theta = max(1, int(np.floor(thr * smin / (1.0 + thr))))
        # l_rowglob is sorted (entries emitted in doc order)
        uniq_left = left_rows  # global row ids with blk == bi, ascending
        for c0 in range(0, uniq_left.size, chunk_docs):
            lo_doc = uniq_left[c0]
            hi_doc = uniq_left[min(c0 + chunk_docs, uniq_left.size) - 1]
            s = np.searchsorted(l_rowglob, lo_doc, side="left")
            e = np.searchsorted(l_rowglob, hi_doc, side="right")
            if s == e:
                continue
            lc, lr = l_cols[s:e], l_rowglob[s:e]
            seg = col_counts[lc]
            total = int(seg.sum())
            if total == 0:
                continue
            cum = np.cumsum(seg)
            # fused gather: one repeat + arange instead of two repeats
            start = col_offsets[lc] - (cum - seg)
            right_doc = r_rowno[np.repeat(start, seg) + np.arange(total, dtype=np.int64)]
            # chunk-local left numbering keeps the code space dense
            left_local = np.searchsorted(uniq_left, lr)
            base = int(left_local[0])
            codes = np.repeat((left_local - base) * n_right, seg) + right_doc
            span = (int(left_local[-1]) - base + 1) * n_right
            counts = np.bincount(codes, minlength=span)
            nz = np.flatnonzero(counts >= theta)
            if nz.size == 0:
                continue
            shared = counts[nz]
            li = uniq_left[base + nz // n_right]
            rj = right_rows[nz % n_right]
            ida, idb = ids[li], ids[rj]
            if bi == bj:
                # diagonal blocks emit both orders + self-pairs: keep one
                keep = ida < idb
            else:
                # cross blocks emit each pair exactly once (either order)
                keep = ida != idb
            ida, idb, shared = ida[keep], idb[keep], shared[keep]
            sa, sb = sizes[li][keep], sizes[rj][keep]
            jac = shared.astype(np.float64) / (sa + sb - shared).astype(np.float64)
            keep2 = jac >= thr
            out_a.append(np.minimum(ida[keep2], idb[keep2]))
            out_b.append(np.maximum(ida[keep2], idb[keep2]))
            out_j.append(jac[keep2])
        if not out_a:
            return pd.DataFrame({"id_a": [], "id_b": [], "jaccard": []}).astype(
                {"id_a": "int64", "id_b": "int64", "jaccard": "float64"}
            )
        return pd.DataFrame({
            "id_a": np.concatenate(out_a),
            "id_b": np.concatenate(out_b),
            "jaccard": np.concatenate(out_j),
        })

    return fan.groupBy("bi", "bj").applyInPandas(
        count_pairs, "id_a long, id_b long, jaccard double"
    )


def _word_gram_table(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, gram) rows: the DISTINCT ``n``-word grams of each document as
    60-bit hashes in [2^60, 2^61).  Narrow map + explode; docs shorter
    than ``n`` words emit nothing.

    Hash scheme (r8): one ``xxhash64`` per word, one ``xxhash64`` over
    the n word hashes per gram position — no gram string is ever
    materialized (the md5-of-joined-words form this replaces allocated
    and hashed a ~100-char string per gram position and was the dominant
    cost of every consumer's edge/pair build: 3.8 s of dedup_clusters'
    6.0 s at sf1.0).  Only gram EQUALITY is consumed downstream (df caps,
    equi-joins, component labels — no consumer outputs the hash value),
    so any injective-modulo-negligible-collision keying gives identical
    results; the DuckDB oracles replay the same grouping under their own
    portable md5 scheme.  The forced high bit makes every gram strictly
    larger than any realistic doc id, which upgrades
    shared_gram_components' "component minimum is a doc node" property
    from astronomically-likely to guaranteed.

    The word-hash array is projected as a REAL column before the gram
    transform: a HOF lambda referencing an inline array expression
    re-evaluates it per element (one split+hash of the full text per
    gram position — measured 3.8x the whole gram build at sf0.1);
    behind an attribute reference the split runs once per row."""
    words = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+", -1), lambda x: x != F.lit("")
    )
    wh = (
        df.select(F.col(id_col).alias("id"), words.alias("_w"))
        .filter(F.size("_w") >= n)
        .select("id", F.transform(F.col("_w"), lambda x: F.xxhash64(x)).alias("_wh"))
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.size("_wh") - n),
        lambda i: F.shiftrightunsigned(
            F.xxhash64(*[F.get(F.col("_wh"), i + j) for j in range(n)]), 4
        ).bitwiseOR(F.lit(1 << 60)),
    )
    return wh.select("id", F.explode(F.array_distinct(grams)).alias("gram"))


def shared_ngram_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 16,
    max_gram_df: int | None = None,
) -> DataFrame:
    """Exact substring-collision pairs (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): documents sharing at
    least one exact ``n``-word gram — the standard complement to
    MinHash's set-resemblance signal for catching verbatim boilerplate /
    quoted passages that near-dup measures dilute.

    Returns (id_a, id_b, shared_grams) where shared_grams counts the
    DISTINCT n-grams the pair has in common.

    Scale design: grams are 60-bit portable hashes (md5-derived, same
    scheme as textstats.rolling_fingerprint_portable, so the DuckDB
    oracle replays them exactly) — 8 bytes ride the equi-join, never the
    gram text.  The gram equi-join prunes the pair space exactly like
    jaccard_pairs' shingle join, and ``max_gram_df`` drops grams whose
    document frequency exceeds the cap BEFORE the self-join — a hot gram
    (site-wide boilerplate hitting k docs) otherwise emits O(k^2) join
    rows.  Under the cap, reported shared counts are a lower bound and
    pairs sharing exclusively-hot grams are missed (the standard trade:
    hot boilerplate grams carry no pairing signal a curator acts on
    per-pair — they're what a frequency-based line-dedup pass removes).
    """
    g = _word_gram_table(df, id_col, text_col, n)
    if max_gram_df is not None:
        rare = (
            g.groupBy("gram")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_gram_df)
            .select("gram")
        )
        g = g.join(rare, "gram")
    a, b = g.alias("a"), g.alias("b")
    return (
        a.join(b, (F.col("a.gram") == F.col("b.gram")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").cast("long").alias("shared_grams"))
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = NUM_HASHES,
    drop_empty: bool = False,
) -> DataFrame:
    """(id, sig array<long>): MinHash signature, zero-shuffle — the
    ``(id, sig)`` projection of :func:`with_minhash_signature`."""
    return with_minhash_signature(
        df.select(F.col(id_col).alias("id"), F.col(text_col)),
        text_col, n, num_hashes, drop_empty,
    ).select("id", "sig")


def with_minhash_signature(
    df: DataFrame,
    text_col: str,
    n: int = 3,
    num_hashes: int = NUM_HASHES,
    drop_empty: bool = False,
) -> DataFrame:
    """``df`` with a ``sig array<long>`` MinHash signature column of
    ``text_col`` appended; every other column rides along.

    Two-step split that keeps both halves vectorized: (1) JVM-side, ONE
    ``xxhash64`` per distinct shingle via an array ``transform`` (strings
    never reach Python); (2) an Arrow pandas UDF expands each 64-bit base
    hash into k hashes with a multiply-shift universal family
    (``a_s * h + b_s mod 2^64``, odd ``a_s`` from splitmix64) and takes
    per-row minima with ``np.minimum.reduceat`` — whole batches, no
    per-row Python.  The shingle set never leaves the row: at 100 TB this
    stage is a narrow map over the scan with no explode/groupBy exchange.
    """
    a_params = np.array(
        [(_splitmix64(2 * s) | 1) for s in range(num_hashes)], dtype=np.uint64
    )
    b_params = np.array(
        [_splitmix64(2 * s + 1) for s in range(num_hashes)], dtype=np.uint64
    )

    @F.pandas_udf(ArrayType(LongType()))
    def minhash_from_base(base: pd.Series) -> pd.Series:
        flat, lens = _flatten_long_arrays(base)
        nrows = len(lens)
        out = np.zeros((nrows, num_hashes), dtype=np.int64)
        nz = lens > 0
        if flat.size:
            starts = np.zeros(nrows, dtype=np.int64)
            starts[1:] = np.cumsum(lens)[:-1]
            starts_nz = starts[nz]
            with np.errstate(over="ignore"):
                for s in range(num_hashes):
                    v = flat * a_params[s] + b_params[s]  # uint64 wraparound
                    out[nz, s] = np.minimum.reduceat(v, starts_nz).view(np.int64)
        # zero-shingle docs get a NULL signature, not a sentinel: sentinel
        # sigs would all collide into the same LSH buckets and m empty docs
        # would fabricate O(m^2) candidate pairs driven by the sentinel
        return pd.Series([row if ok else None for row, ok in zip(out, nz)])

    # NULL/zero-word text -> NULL base -> NULL sig.  Without the guard,
    # greatest(null,0) smuggles null AND whitespace-only texts into a
    # shared sentinel shingle set, whose identical signatures would
    # collide every empty doc into the same LSH buckets (O(m^2)
    # fabricated pairs) and diverge from the len(words)>0 oracle filter.
    # Two-phase projection: the word-hash array MUST be a materialized
    # column before the gram lambda references it (_gram_hashes_from).
    # ``drop_empty`` removes zero-word docs with a JVM filter BEFORE the
    # UDF: a post-hoc ``filter(sig.isNotNull())`` on the UDF output gets
    # pushed below the projection as a SECOND ArrowEvalPython node with
    # the whole expression collapsed inline — measured 25x slower.
    wh = df.withColumn("_wh", _word_hash_array(F.col(text_col)))
    if drop_empty:
        wh = wh.filter(F.size(F.col("_wh")) > 0)
    base = F.when(
        F.size(F.col("_wh")) > 0, _gram_hashes_from(F.col("_wh"), n)
    )
    return wh.withColumn("sig", minhash_from_base(base)).drop("_wh")


def minhash_bands(
    sigs: DataFrame, num_hashes: int = NUM_HASHES, bands: int = BANDS
) -> DataFrame:
    """(id, band, bucket) from a signature table (id, sig): JVM-only (one
    ``xxhash64`` over each band's signature slots, no UDF), so
    :func:`minhash_pairs` derives the bands of a stored index on read and
    only signatures are stored (curate.curate_incremental keeps them on
    the ``curated`` rows; no stored document is ever re-signed).  The
    band table carries those three columns ONLY — the 32-slot signature
    arrays must not ride the banded join shuffle (bands x the payload per
    doc, then 2 sigs per candidate row through the pair dedup);
    signatures are re-joined exactly once, after the pair set is
    distinct."""
    r = num_hashes // bands
    return sigs.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    # hash the r signature slots directly (typed longs, no
                    # string casts); band index b is part of the hash input
                    F.xxhash64(
                        F.lit(b), *[F.col("sig")[b * r + i] for i in range(r)]
                    ).alias("bucket"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def _score_pairs(pairs: DataFrame, sigs: DataFrame, num_hashes: int) -> DataFrame:
    """Attach est_jaccard to a distinct (id_a, id_b) pair set by joining
    the signature table twice (candidate-sized joins, never corpus-wide)."""
    sig_a = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    scored = pairs.join(sig_a, "id_a").join(sig_b, "id_b")
    matches = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    return scored.select(
        "id_a", "id_b",
        (matches.cast("double") / F.lit(float(num_hashes))).alias("est_jaccard"),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = NUM_HASHES,
    bands: int = BANDS,
    materialize: bool = True,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH: (id_a, id_b, est_jaccard).

    ``materialize=True`` persists the signature table so the self-join
    branches share one computation (cache entries are deduplicated by
    canonical plan, so re-invoking on the same input reuses rather than
    accumulates; long-lived sessions cycling MANY corpora should either
    pass False or ``spark.catalog.clearCache()`` between corpora —
    at warehouse scale, write the signature table once instead).

    rows-per-band r = num_hashes/bands; two docs collide when any band of
    their signatures is identical — the classic sub-quadratic web-dedup
    scheme (Broder resemblance / MMDS ch.3).  est_jaccard = fraction of
    matching minhashes.
    """
    # materialize signatures once: minhash_pairs reads them in four
    # branches, each of which would otherwise re-run the Arrow UDF
    sigs = minhash_signatures(df, id_col, text_col, n, num_hashes, drop_empty=True)
    if materialize:
        sigs = sigs.persist()
    return minhash_pairs(sigs, num_hashes=num_hashes, bands=bands)


def minhash_pairs(
    sigs: DataFrame,
    index_sigs: "DataFrame | None" = None,
    num_hashes: int = NUM_HASHES,
    bands: int = BANDS,
) -> DataFrame:
    """Candidate near-dup pairs (id_a, id_b, est_jaccard), id_a < id_b,
    of a signature table ``(id, sig)`` (zero-word docs dropped): within
    ``sigs`` and, given a stored index (``index_sigs`` from
    :func:`minhash_signatures` with ``drop_empty=True``), between
    ``sigs`` and the index, whose bands :func:`minhash_bands` derives on
    read.  ``sigs`` is read in several branches, so pass a materialized
    table (a cache, or a frame carrying the UDF's output).

    Incremental contract (pinned by pytest): against a stored index the
    pairs equal the batch :func:`minhash_lsh_candidates` over index
    UNION batch restricted to pairs with at least one batch endpoint,
    same est_jaccard values.  Ids must be globally unique across index
    and batch, and the index must be built with the same ``n`` /
    ``num_hashes`` / ``bands`` (hash inputs are positional).

    Scale shape: the new batch's band table (tiny) joins the index's
    band table on (band, bucket), a narrow map over the index's
    signature scan; signatures ride only the candidate-sized re-joins."""
    assert num_hashes % bands == 0
    a = minhash_bands(sigs, num_hashes, bands).alias("a")
    b = a.alias("b")
    # within the batch: the ordinary banded self-join
    pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    if index_sigs is not None:
        # vs the corpus: every stored-bucket collision, normalized to a < b
        c = minhash_bands(index_sigs, num_hashes, bands).alias("c")
        pairs = pairs.unionByName(
            a.join(
                c,
                (F.col("a.band") == F.col("c.band"))
                & (F.col("a.bucket") == F.col("c.bucket"))
                & (F.col("a.id") != F.col("c.id")),
            ).select(
                F.least(F.col("a.id"), F.col("c.id")).alias("id_a"),
                F.greatest(F.col("a.id"), F.col("c.id")).alias("id_b"),
            )
        )
        sigs = index_sigs.unionByName(sigs)
    # interpreted HOF in _score_pairs is fine: it runs over candidate
    # pairs only (<< corpus size by construction of the banding)
    return _score_pairs(pairs.dropDuplicates(["id_a", "id_b"]), sigs, num_hashes)


def simhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_chunk_tokens: int = 1 << 16,
    drop_empty: bool = False,
) -> DataFrame:
    """(id, simhash long): 63-bit SimHash over whitespace tokens (bit 63 =
    long sign bit, skipped to stay ANSI-safe).

    **Zero-shuffle**, same split as MinHash: JVM-side one ``xxhash64``
    per token (array ``transform``), then an Arrow pandas UDF does the
    bit-position majority vote with numpy — per-batch bit matrix,
    ``np.add.reduceat`` per row, sign collapse to the signature.  No
    explode, no groupBy: at 100 TB this is a narrow map over the scan.
    Votes are identical to an exploded groupBy formulation.
    """
    bit_idx = np.arange(63, dtype=np.uint64)
    # peak transient memory for the (tokens x 64) bit matrix is bounded by
    # chunking ROWS so each chunk holds <= max_chunk_tokens (~4 MB of uint8
    # at the default), independent of the session's Arrow batch size — the
    # operator must stay bounded-memory even under Spark's default 10k-row
    # batches; results are chunk-size-invariant (tested)

    @F.pandas_udf(LongType())
    def simhash_from_base(base: pd.Series) -> pd.Series:
        flat, lens = _flatten_long_arrays(base)
        nrows = len(lens)
        out = np.zeros(nrows, dtype=np.int64)
        nz = lens > 0
        if flat.size:
            if sys.byteorder != "little":  # pragma: no cover
                flat = flat.byteswap()
            starts = np.zeros(nrows, dtype=np.int64)
            starts[1:] = np.cumsum(lens)[:-1]
            ends = starts + lens
            row = 0
            while row < nrows:
                hi = row
                while hi < nrows and (
                    hi == row or ends[hi] - starts[row] <= max_chunk_tokens
                ):
                    hi += 1
                cnz = nz[row:hi]
                if cnz.any():
                    seg = flat[starts[row] : ends[hi - 1]]
                    # ONE uint8 unpack instead of 63 uint64 shift/mask
                    # passes: column k of the little-endian unpack IS
                    # (hash >> k) & 1, so the vote matrix comes straight
                    # from the hash bytes at 1/8 the uint64 memory traffic
                    # (r8 A/B: the shift/mask form measured ~2x slower on
                    # identical batches)
                    bits = np.unpackbits(
                        np.ascontiguousarray(seg).view(np.uint8).reshape(-1, 8),
                        axis=1, bitorder="little",
                    )
                    cstarts = (starts[row:hi] - starts[row])[cnz]
                    ones = np.add.reduceat(
                        bits, cstarts, axis=0, dtype=np.int64
                    )
                    # majority vote: sum over tokens of (2b-1) > 0
                    # <=> 2 * popcount_of_ones > token_count (exact same
                    # votes as the +/-1 formulation, ties -> 0 both ways)
                    maj = (2 * ones[:, :63]) > lens[row:hi][cnz, None]
                    sig = (maj.astype(np.uint64) << bit_idx).sum(
                        axis=1, dtype=np.uint64
                    )
                    out[row:hi][cnz] = sig.view(np.int64)
                row = hi
        # zero-token docs -> NULL (not 0): a sentinel sig would put every
        # empty doc in one bucket and fabricate O(m^2) near-dup pairs
        return pd.Series([int(v) if ok else None for v, ok in zip(out, nz)])

    # drop_empty: JVM pre-filter instead of a post-hoc isNotNull on the
    # UDF output (which re-evaluates the UDF in a second ArrowEvalPython
    # node — see minhash_signatures)
    wh = df.select(
        F.col(id_col).alias("id"), _word_hash_array(F.col(text_col)).alias("_wh")
    )
    if drop_empty:
        wh = wh.filter(F.size(F.col("_wh")) > 0)
    return wh.select("id", simhash_from_base(F.col("_wh")).alias("simhash"))


def _quarter_table(sigs: DataFrame) -> DataFrame:
    """(id, simhash, q, qv): the four 16-bit quarter keys per signature —
    pure bit arithmetic over the slim (id, simhash) table, no text, no
    Python.  At warehouse scale, persist the exploded form bucketed by
    (q, qv) for a co-located candidate join."""
    return sigs.select(
        "id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(q).alias("q"),
                    F.shiftrightunsigned(F.col("simhash"), q * 16)
                    .bitwiseAND(F.lit(0xFFFF)).alias("qv"),
                )
                for q in range(4)
            ])
        ).alias("qq"),
    ).select("id", "simhash", F.col("qq.q").alias("q"), F.col("qq.qv").alias("qv"))


_POPCOUNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def simhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs with hamming(simhash) <= max_hamming.

    Banded by the four 16-bit quarters (pigeonhole: <=3 differing bits
    leave at least one quarter identical), so candidate generation never
    leaves a quarter bucket.

    Physical shape (r8): the quarter table rides ONE grouped shuffle
    (hash of (q, qv) into a bounded number of groups) and each task
    enumerates pairs bucket-by-bucket in numpy — slab-wise XOR matrix +
    popcount lookup.  The former quarter self-join emitted sum-of-k^2
    join rows (229M at sf1.0: SimHash bits of same-domain docs are
    heavily correlated, so 16-bit buckets are hot by construction) and
    then paid a global dropDuplicates; the blocked form emits each pair
    exactly once with NO dedup exchange, because the pair's xor already
    says which earlier quarter agreed (emit only from the FIRST agreeing
    quarter).
    """
    sigs = simhash_signatures(df, id_col, text_col, drop_empty=True)
    if int(max_hamming) == 0:
        # hamming 0 <=> identical 63-bit signatures: resolve exact groups
        # on the FULL signature instead of the 16-bit quarter bands — the
        # quarter explode (4x rows), the grouped shuffle and the Python
        # pair stage all disappear.  A full-signature group is
        # true-duplicate-sized while a 16-bit band bucket is structurally
        # hot (same-domain docs share quarters), so this is both the
        # cheaper and the scale-safer plan for the exact-match config.
        # Pairs expand JVM-side from each group's sorted id array, so the
        # signature UDF is evaluated once (a self-join would re-run it
        # per branch or need a persist).
        grps = (
            sigs.groupBy("simhash")
            .agg(F.sort_array(F.collect_list("id")).alias("_ids"))
            .filter(F.size("_ids") > 1)
        )
        n_ids = F.size(F.col("_ids"))
        pairs = grps.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("_ids"),
                        lambda x, i: F.transform(
                            F.slice(F.col("_ids"), i + F.lit(2), n_ids),
                            lambda y: F.struct(
                                x.alias("id_a"), y.alias("id_b")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        return pairs.select(
            "p.id_a", "p.id_b", F.lit(0).cast("int").alias("hamming")
        )
    quarters = _quarter_table(sigs)
    sc = df.sparkSession.sparkContext
    # group count scales with the DATA (one column-pruned count of the
    # input — the optimizer drops every projection, so this is a
    # metadata-cheap action), bounded below for parallelism and above by
    # the core count: a fixed-width stage pays ~0.5 s of task/Arrow
    # overhead at 10k docs while 8 AQE-coalesced tasks serialize the
    # bucket work at 100k docs (observed both ways at sf0.1 / sf1.0)
    n_docs = df.count()
    n_groups = int(max(32, min(sc.defaultParallelism * 4, (4 * n_docs) // 2048)))
    # explicit repartition on the group key: the quarter table is tiny in
    # BYTES (~24 B/doc) but its pair enumeration is CPU-heavy, and AQE
    # coalesces a byte-sized shuffle to a handful of tasks (observed 8 at
    # sf1.0, serializing the bucket work); a user repartition pins the
    # width and the groupBy below reuses the same hash partitioning
    grp = quarters.withColumn(
        "_g", F.pmod(F.xxhash64("q", "qv"), F.lit(n_groups))
    ).repartition(n_groups, "_g")
    mh = int(max_hamming)

    def bucket_pairs(pdf):
        ids = pdf["id"].to_numpy(dtype=np.int64)
        sh = pdf["simhash"].to_numpy(dtype=np.int64).view(np.uint64)
        qq = pdf["q"].to_numpy(dtype=np.int64)
        qv = pdf["qv"].to_numpy(dtype=np.int64)
        order = np.lexsort((qv, qq))
        qq, qv = qq[order], qv[order]
        starts = np.flatnonzero(
            np.concatenate(([True], (qq[1:] != qq[:-1]) | (qv[1:] != qv[:-1])))
        )
        bounds = np.concatenate((starts, [len(qq)]))
        out_a, out_b, out_h = [], [], []
        for s, e in zip(bounds[:-1], bounds[1:]):
            k = e - s
            if k < 2:
                continue
            sel = order[s:e]
            bsh, bid = sh[sel], ids[sel]
            q = int(qq[s])
            for i0 in range(0, k - 1, 256):
                i1 = min(i0 + 256, k - 1)
                x = bsh[i0:i1, None] ^ bsh[None, :]
                ham = (
                    _POPCOUNT8[x.view(np.uint8)]
                    .reshape(i1 - i0, k, 8)
                    .sum(axis=2, dtype=np.int64)
                )
                keep = ham <= mh
                # strict upper triangle: position j > i
                keep &= np.arange(k)[None, :] > np.arange(i0, i1)[:, None]
                # emit only from the first agreeing quarter: any earlier
                # quarter with a zero 16-bit xor slice already emitted
                for qp in range(q):
                    keep &= (x >> np.uint64(16 * qp)) & np.uint64(0xFFFF) != 0
                ii, jj = np.nonzero(keep)
                if ii.size == 0:
                    continue
                ia, ib = bid[ii + i0], bid[jj]
                out_a.append(np.minimum(ia, ib))
                out_b.append(np.maximum(ia, ib))
                out_h.append(ham[ii, jj].astype(np.int32))
        if not out_a:
            return pd.DataFrame({"id_a": [], "id_b": [], "hamming": []}).astype(
                {"id_a": "int64", "id_b": "int64", "hamming": "int32"}
            )
        return pd.DataFrame({
            "id_a": np.concatenate(out_a),
            "id_b": np.concatenate(out_b),
            "hamming": np.concatenate(out_h),
        })

    return grp.groupBy("_g").applyInPandas(
        bucket_pairs, "id_a long, id_b long, hamming int"
    )


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Benchmark decontamination flags (GPT-3 App. C / Llama-style eval
    overlap removal): for every corpus document, count the distinct
    ``n``-word grams it shares with ANY document in ``benchmark`` and
    flag it ``contaminated`` when there is at least one hit.  13 words
    is the GPT-3 overlap window; training on flagged docs leaks eval
    answers, so the standard pipeline drops (or audits) them before
    tokenization.

    Returns every corpus row as (doc_id, n_hits, contaminated) —
    callers filter ``~contaminated`` to clean, or join back for audit.

    Scale design: both sides reduce to DISTINCT 60-bit gram hashes
    (:func:`_word_gram_table` — 8 bytes per gram, never text); the
    benchmark side additionally dedups across its documents, since "which
    benchmark doc leaked" doesn't matter — so the join's build side is
    bounded by the benchmark's unique gram count (eval suites are tiny
    next to the corpus, and Spark/AQE broadcasts the gram set when it
    fits).  The corpus side aggregates hits per doc BEFORE re-joining the
    id spine, so the only corpus-wide operations are the gram explode and
    one groupBy(doc).
    """
    corpus_grams = _word_gram_table(df, id_col, text_col, n)
    # the benchmark side needs only the gram set — reuse the text column
    # as a throwaway id and drop it immediately
    bench_grams = (
        _word_gram_table(benchmark, bench_text_col, bench_text_col, n)
        .select("gram")
        .dropDuplicates(["gram"])
    )
    hits = (
        corpus_grams.join(bench_grams, "gram")
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(hits.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------
# connected components / dedup-cluster resolution (round 6)
# ---------------------------------------------------------------------

def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Distributed connected components by alternating large-star /
    small-star (Kiveris et al. 2014, "Connected Components in MapReduce
    and Beyond") — the standard O(log n)-round label collapse for web-scale
    graphs, expressed entirely as DataFrame aggregates and joins.

    Input: an edge list with two long columns; direction, self-loops and
    duplicates are irrelevant.  Output: ``(node, component)`` for every
    node incident to at least one edge, where ``component`` is the MINIMUM
    node id of the node's connected component (callers union isolated
    nodes back as their own singletons).  Raises ``RuntimeError`` if the
    edge set has not stabilized within ``max_iter`` rounds — a silent
    return there would be partially-contracted labels (one component
    reported as several).

    Scale design: neither star ever materializes a neighborhood list —
    each round is ``groupBy(min)`` + an equi-join back to the edges (both
    partial-aggregated, both AQE-skew-splittable), so a hub node of degree
    10^8 is a big *partition*, not a big *row*.  Each round the edge set
    contracts toward stars rooted at component minima; the per-round
    ``localCheckpoint`` truncates the iterative lineage (on a cluster,
    ``spark.sparkContext.setCheckpointDir`` + ``checkpoint()`` is the
    durable form).  Convergence is detected by an exact edge-set checksum
    (count + sum of row hashes), one cheap action per round.

    Lifecycle: the returned labels are backed by the FINAL round's local
    checkpoint (intermediate rounds are unpersisted as they retire) —
    it stays pinned while the result is referenced and the
    ContextCleaner releases it once the caller drops the DataFrame; it
    is checkpoint storage, not a catalog cache, so
    ``spark.catalog.clearCache()`` does not (and must not — evicting a
    local checkpoint breaks its lineage-truncated plan) release it.
    """
    e = (
        edges.select(F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d"))
        .filter(F.col("s") != F.col("d"))
        .distinct()
        # LAZY like the in-loop checkpoints: round 0's convergence action
        # materializes it — an eager checkpoint here ran a whole extra
        # job over the caller's edge-build plan (~0.3 s of the sf0.1
        # bench query).  Round 0 consuming e twice (groupBy + SHJ probe)
        # is safe: both consumers hash b on s, so the exchange is reused
        # and the edge build executes once (measured: removing the
        # checkpoint entirely shows NO double-build jump).
        .localCheckpoint(eager=False)
    )
    prev_sig = None
    converged = False
    for _ in range(max_iter):
        # large-star: for every node u, connect each strictly-larger
        # neighbor to min(N(u) ∪ {u}).  The symmetric edge set is ONE
        # explode projection, not a self-union: besides scanning e once
        # instead of twice, a union whose two children are the same
        # checkpointed relation shares attribute ids across branches and
        # trips Catalyst's Union constraint rewrite (NoSuchElementException
        # in rewriteConstraints — reproduced at the 200k-node probe).
        b = e.select(
            F.explode(F.array(
                F.struct(F.col("s"), F.col("d")),
                F.struct(F.col("d").alias("s"), F.col("s").alias("d")),
            )).alias("x")
        ).select("x.s", "x.d")
        mins = b.groupBy("s").agg(F.min("d").alias("mn"))
        # shuffle-hash joins throughout the loop, never broadcast: `mins`
        # (and `mins2` below) is one row per NODE — corpus-proportional,
        # not a broadcastable dimension at graph scale — and the probe
        # side hashed on s is the SAME partitioning the groupBy just
        # built, so the round's edge set rides one exchange instead of
        # being rescanned under a broadcast (also drops the per-round
        # broadcast-exchange jobs; measured ~15% on the sf0.1 loop).
        # AQE's skew-join split still covers hot probe partitions.
        #
        # No distinct on `large`: each undirected edge has exactly ONE
        # direction with d > s, so `large` carries exactly |E| rows either
        # way — the distinct this used to run only collapsed coincidental
        # duplicate OUTPUT pairs (two u's emitting the same (v, m)), which
        # small-star's trailing distinct collapses anyway.  Dropping it
        # removes one full (s, d) shuffle per round with an identical
        # resulting edge SET.
        large = (
            b.join(mins.hint("shuffle_hash"), "s")
            .filter(F.col("d") > F.col("s"))
            .select(
                F.col("d").alias("s"),
                F.least(F.col("mn"), F.col("s")).alias("d"),
            )
            .filter(F.col("s") != F.col("d"))
        )
        # small-star: orient edges max -> min, connect each small neighbor
        # (and u itself) to the minimum.  The u -> min(u) self-link rides
        # the same explode (it repeats per h-row of that u; the trailing
        # distinct collapses it) instead of a second union over mins2.
        # large is already max -> min oriented (its s = the old edge's
        # strictly-greater endpoint, its d = least(mn, old s) <= old s),
        # so the greatest/least projection is a no-op kept for clarity.
        h = large.select(
            F.greatest(F.col("s"), F.col("d")).alias("s"),
            F.least(F.col("s"), F.col("d")).alias("d"),
        )
        mins2 = h.groupBy("s").agg(F.min("d").alias("mn"))
        small = (
            h.join(mins2.hint("shuffle_hash"), "s")
            .select(
                F.explode(F.array(
                    F.struct(F.col("d").alias("a"), F.col("mn").alias("b")),
                    F.struct(F.col("s").alias("a"), F.col("mn").alias("b")),
                )).alias("x")
            )
            .filter(F.col("x.a") != F.col("x.b"))
            .select(F.col("x.a").alias("s"), F.col("x.b").alias("d"))
            .distinct()
        )
        # LAZY checkpoint: the convergence-checksum action below is the
        # round's ONE job — it materializes the checkpoint blocks AND
        # computes the signature in the same pass (an eager checkpoint +
        # separate agg ran two jobs per round; at ~8 rounds the extra job
        # launches dominated the sf0.1 wall).
        nxt = small.localCheckpoint(eager=False)
        # bit_xor: overflow-free (ANSI-safe) order-independent checksum of
        # the DISTINCT edge set
        sig = nxt.agg(
            F.count("*").alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(s, d))"), F.lit(0)).alias("x"),
        ).collect()[0]
        sig = (sig["n"], sig["x"])
        e.unpersist()
        e = nxt
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        # partially-contracted labels would silently report one component
        # as several (and callers like dedup_clusters would then keep
        # extra "representatives") — refuse rather than under-merge.
        # O(log n) rounds means the default covers path lengths ~2^25;
        # hitting this is a pathological graph or too-small max_iter.
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} "
            "rounds (edge-set signature still changing); raise max_iter"
        )
    # e is now a star forest (child, root): label children, roots label
    # themselves (same single-scan explode form as the loop — see above)
    return (
        e.select(
            F.explode(F.array(
                F.struct(F.col("s").alias("node"), F.col("d").alias("component")),
                F.struct(F.col("d").alias("node"), F.col("d").alias("component")),
            )).alias("x")
        )
        .select("x.node", "x.component")
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )


def shared_gram_components(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 16,
    max_gram_df: int = 50,
) -> DataFrame:
    """Verbatim-passage FAMILIES: connected components of the "shares an
    exact ``n``-word gram" relation (the transitive closure of
    :func:`shared_ngram_pairs`) — quote networks, mirrored boilerplate
    families, syndicated-article clusters.

    Returns ``(id, cluster)`` for EVERY input document, ``cluster`` being
    the minimum member id (docs sharing no gram are their own cluster).

    Scale design: components run on the BIPARTITE doc <-> gram graph
    (node encoding: doc id*2, gram hash*2+1), which is linear in gram
    occurrences — the doc-doc pair graph is never materialized, so a gram
    shared by k documents contributes k edges, not O(k^2) pairs.  Grams
    with document frequency 1 pin nothing and are pruned; grams hotter
    than ``max_gram_df`` are dropped exactly like shared_ngram_pairs'
    cap (site-wide boilerplate belongs to line-dedup, not pairing).  The
    component minimum over mixed nodes is always a doc node (doc ids are
    even; gram nodes odd and >= 2^61 by the forced high bit in
    :func:`_word_gram_table` — guaranteed, not merely probabilistic), so
    doc labels decode as ``component / 2``.
    """
    g = _word_gram_table(df, id_col, text_col, n)
    keep = (
        g.groupBy("gram")
        .agg(F.count("*").alias("_df"))
        .filter((F.col("_df") >= 2) & (F.col("_df") <= max_gram_df))
        .select("gram")
    )
    # shuffle join, NOT broadcast: with a broadcast of `keep`, the probe
    # side recomputes the gram table (the expensive md5 build) from
    # scratch — a shuffle join hashes g on gram, the SAME partitioning
    # the df-cap groupBy just built, so the gram build runs once and the
    # join rides the reused exchange (measured 2x on the sf0.1 edge
    # build).  It is also the scale-correct strategy: `keep` is every
    # gram with 2 <= df <= cap — corpus-proportional, not a broadcastable
    # dimension — and AQE skew-split still covers hot probe partitions.
    edges = g.join(keep.hint("shuffle_hash"), "gram").select(
        (F.col("id") * 2).alias("src"),
        (F.col("gram") * 2 + 1).alias("dst"),
    )
    labels = connected_components(edges)
    doc_labels = labels.filter(F.col("node") % 2 == 0).select(
        F.shiftright(F.col("node"), 1).cast("long").alias(id_col),
        F.shiftright(F.col("component"), 1).cast("long").alias("cluster"),
    )
    return (
        df.select(F.col(id_col))
        .join(doc_labels, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("cluster"), F.col(id_col)).alias("cluster"),
        )
    )


def dedup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 16,
    max_gram_df: int = 50,
    rep_order: DataFrame | None = None,
) -> DataFrame:
    """Cluster-resolved dedup: group documents into verbatim-passage
    families (:func:`shared_gram_components`) and elect ONE representative
    per cluster — by default the longest member (the "keep the most
    complete version" curation policy), ties to the smallest id.

    Returns ``(id, cluster, is_rep)`` for every document.  Filtering
    ``is_rep`` keeps exactly one doc per family — the cluster analogue of
    curate_corpus's greedy keep-first policy, collapsing transitive
    chains in a single resolution instead of per-pair drops.

    ``rep_order``: optional ``(id, score)`` DataFrame; when given, the
    representative is the max-score member (ties to min id) — e.g. a
    quality score from textstats.

    Scale design: representative election is an aggregate
    (``max(struct(score, -id))`` per cluster — partial-aggregated,
    skew-safe), never a per-cluster window sort.
    """
    labels = shared_gram_components(df, id_col, text_col, n, max_gram_df)
    if rep_order is None:
        scored = df.select(
            F.col(id_col), F.length(F.col(text_col)).cast("long").alias("_score")
        )
    else:
        scored = rep_order.select(
            F.col(id_col), F.col("score").cast("long").alias("_score")
        )
    member = labels.join(scored, id_col)
    reps = member.groupBy("cluster").agg(
        F.max(F.struct(F.col("_score"), (-F.col(id_col)).alias("_negid"))).alias("_m")
    ).select("cluster", (-F.col("_m._negid")).cast("long").alias("_rep_id"))
    # default path: `member` has exactly `labels`' row set (the score side
    # covers every df row), so the final join rides member — the probe
    # shuffled on cluster is the SAME exchange the reps groupBy built
    # (shuffle_hash, not broadcast: reps is one row per cluster,
    # corpus-proportional) and the labels subtree is evaluated ONCE
    # instead of twice.  With a caller rep_order, labels may contain ids
    # rep_order lacks, so the historical labels-side join is kept there.
    final_left = member if rep_order is None else labels
    return (
        final_left.join(reps.hint("shuffle_hash"), "cluster")
        .select(
            F.col(id_col),
            F.col("cluster"),
            (F.col(id_col) == F.col("_rep_id")).alias("is_rep"),
        )
    )
