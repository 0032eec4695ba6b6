"""Text-analysis operators over a documents table: language ID, quality
scoring, token counting, fingerprinting.

These are the corpus-hygiene stages a 100 TB training-data pipeline runs
after extraction.  Everything here is native ``pyspark.sql.functions`` —
JVM-side, codegen'd, no Python in the hot path — and every regex is
RE2-compatible so the DuckDB oracle can express the identical computation
(no lookarounds).

Determinism note: ratios are exact IEEE divisions of integer counts, so
Spark and the oracle agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# BPE-ish token classes: letter runs, digit runs, single other non-space.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
PUNCT_REGEX = r"[^A-Za-z0-9\s]"

# translate()-based char counting (r8): counting single-char regex
# classes with regexp_extract_all materializes a matched-string array
# per row (measured 2.7 s alone over 50k sf1.0 docs across 32 tasks);
# F.translate is a codegen'd char-table pass.  The char sets spell out
# EXACTLY the classes the regexes match: Java regex \s is ASCII-only
# [ \t\n\x0B\f\r], so PUNCT_REGEX == "not in _WORD_CHARS + _WS_CHARS".
# The regex constants stay authoritative for the DuckDB oracles; these
# helpers are value-identical Spark-side evaluations of the same counts
# (equivalence pinned by tests and the oracle gate).
_WS_CHARS = " \t\n\x0B\f\r"
_WORD_CHARS = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
)


def punct_char_count(text: Column) -> Column:
    """len of PUNCT_REGEX matches == chars left after dropping word+ws."""
    return F.length(F.translate(text, _WORD_CHARS + _WS_CHARS, ""))


def nonspace_char_count(text: Column) -> Column:
    """len after regexp_replace(text, r"\\s", "") == drop the 6 ws chars."""
    return F.length(F.translate(text, _WS_CHARS, ""))

# tiny per-language stopword markers for the n-gram/stopword language ID
# heuristic (the reference carries language metadata as a dimension,
# ref models/base.py:72-89; here we *infer* it for raw web text)
LANG_MARKERS = {
    "en": ("the", "a", "is", "of", "and"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "la", "los", "y", "es"),
}


def bpe_ish_token_count(text: Column) -> Column:
    """Number of TOKEN_REGEX matches (letter runs / digit runs / symbols)."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), F.lit(0)))


def punct_ratio(text: Column) -> Column:
    """punctuation chars / total non-space chars (0 when empty)."""
    punct = punct_char_count(text)
    nonspace = nonspace_char_count(text)
    return F.when(nonspace > 0, punct.cast("double") / nonspace.cast("double")).otherwise(F.lit(0.0))


def stopword_ratio(text: Column, lang_markers: tuple[str, ...] = LANG_MARKERS["en"]) -> Column:
    """stopword tokens / whitespace tokens (0 when empty)."""
    toks = F.filter(F.split(F.lower(text), r"\s+", -1), lambda x: x != F.lit(""))
    stops = F.size(F.filter(toks, lambda x: x.isin(*lang_markers)))
    total = F.size(toks)
    return F.when(total > 0, stops.cast("double") / total.cast("double")).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Deterministic [0,1] quality heuristic: long enough, not too
    punctuation-heavy, has some stopwords (C4/Gopher-style rules)."""
    n = F.length(text)
    len_ok = F.when(n >= 200, F.lit(1.0)).otherwise(n.cast("double") / 200.0)
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(text) * 4.0)
    stop_sig = F.least(F.lit(1.0), stopword_ratio(text) * 10.0)
    return F.round((len_ok + punct_pen + stop_sig) / 3.0, 6)


def lang_id(text: Column) -> Column:
    """Stopword-marker language ID over {en,de,fr,es}; 'und' (undetermined)
    when no markers hit.  Deterministic argmax with fixed tie order."""
    toks = F.filter(F.split(F.lower(text), r"\s+", -1), lambda x: x != F.lit(""))

    def marker_count(markers: tuple[str, ...]):
        # NB: higher-order-function lambdas must be single-parameter —
        # PySpark binds a Column to every named parameter, defaults included
        return F.size(F.filter(toks, lambda x: x.isin(*markers)))

    counts = {lang: marker_count(markers) for lang, markers in LANG_MARKERS.items()}
    best = F.greatest(*counts.values())
    out = F.lit("und")
    # reversed so earlier langs win ties (when() chains short-circuit)
    for lang in reversed(list(LANG_MARKERS)):
        out = F.when((best > 0) & (counts[lang] == best), F.lit(lang)).otherwise(out)
    return out


def rolling_fingerprint(text: Column, window: int = 8) -> Column:
    """Winnowing-style document fingerprint: min xxhash64 over word
    ``window``-grams.  Spark-native; robust to local edits outside the
    minimal window.  This is the production fast path (JVM xxhash64);
    ``rolling_fingerprint_portable`` is the cross-engine-verifiable twin.
    """
    words = F.filter(F.split(F.lower(text), r"\s+", -1), lambda x: x != F.lit(""))
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - window, F.lit(0)))
    grams = F.transform(idx, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(words, i + 1, window))))
    return F.array_min(grams)


def repetition_stats(df, id_col: str, text_col: str):
    """Gopher-style repetition signals per doc: ``distinct_ratio``
    (|distinct words| / |words|) and ``top_word_share`` (most frequent
    word's share) — the standard filters for template/spam pages whose
    text is one phrase repeated.  Two JVM-side aggregations (explode ->
    per-(doc,word) count -> per-doc roll-up); ratios are exact IEEE
    divisions of integer counts, so the DuckDB oracle matches bit-for-bit.
    """
    words = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+", -1), lambda x: x != F.lit("")
    )
    wc = (
        df.select(F.col(id_col).alias("doc_id"), F.explode(words).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("cnt"))
    )
    return wc.groupBy("doc_id").agg(
        (F.count("*").cast("double") / F.sum("cnt").cast("double")).alias("distinct_ratio"),
        (F.max("cnt").cast("double") / F.sum("cnt").cast("double")).alias("top_word_share"),
    )


def repetition_stats_narrow(text: Column) -> Column:
    """Per-row ``struct(distinct_ratio, top_word_share)`` — the same two
    Gopher repetition signals as :func:`repetition_stats`, computed
    WITHOUT a shuffle: sort the doc's own words, then one run-length
    scan via a single ``aggregate`` HOF (struct accumulator: previous
    word, current run, max run, distinct count).  O(n log n) per doc
    inside whole-stage codegen, zero exchanges — at 100 TB this is a
    narrow map over the scan while the explode/groupBy form shuffles
    every (doc, word) pair.  Empty docs get (0.0, 0.0).

    The ratios are exact IEEE divisions of integer counts, so the
    narrow and grouped forms agree bit-for-bit (asserted in
    tests/test_operators.py).

    Callers that already project a words array should use
    :func:`repetition_from_words` on the REAL column instead — an inline
    split expression referenced from several sub-expressions of one
    projection is re-evaluated per reference (the r4 CollapseProject
    lesson)."""
    words = F.filter(F.split(F.lower(text), r"\s+", -1), lambda x: x != F.lit(""))
    return repetition_from_words(words)


def repetition_from_words(words: Column) -> Column:
    """:func:`repetition_stats_narrow` over an already-tokenized words
    array column (run-length scan on the sorted copy; see there)."""
    n = F.size(words)
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("maxrun"), F.lit(0).cast("long").alias("ndist"),
    )

    def step(acc, w):
        same = acc["prev"] == w
        newrun = F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        return F.struct(
            w.alias("prev"), newrun.alias("run"),
            F.greatest(acc["maxrun"], newrun).alias("maxrun"),
            F.when(same, acc["ndist"]).otherwise(acc["ndist"] + 1).alias("ndist"),
        )

    scanned = F.aggregate(F.array_sort(words), init, step)
    nd = n.cast("double")
    return F.struct(
        F.when(n > 0, scanned["ndist"].cast("double") / nd)
        .otherwise(F.lit(0.0)).alias("distinct_ratio"),
        F.when(n > 0, scanned["maxrun"].cast("double") / nd)
        .otherwise(F.lit(0.0)).alias("top_word_share"),
    )


def _runlength_weighted(arr: Column, weight_of) -> Column:
    """Single-pass run-length scan over ``array_sort(arr)`` returning
    ``struct(n, ndist, top_weighted, dup_excess)`` where, per distinct
    element e with count c and weight w(e):

    * ``top_weighted``  = max over e of c * w(e)   (most repeated mass)
    * ``dup_excess``    = sum over e of (c-1) * w(e)  (repeat mass beyond
      the first occurrence)

    O(n log n) per row, zero exchanges — the building block for the
    Gopher duplicate-line / top-n-gram / duplicate-n-gram fractions."""
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).cast("long").alias("cnt"),
        F.lit(0).cast("long").alias("top"), F.lit(0).cast("long").alias("dupx"),
        F.lit(0).cast("long").alias("ndist"),
    )

    def step(acc, w):
        same = acc["prev"] == w
        c = F.when(same, acc["cnt"] + 1).otherwise(F.lit(1).cast("long"))
        wt = weight_of(w).cast("long")
        return F.struct(
            w.alias("prev"), c.alias("cnt"),
            F.greatest(acc["top"], c * wt).alias("top"),
            (acc["dupx"] + F.when(same, wt).otherwise(F.lit(0))).alias("dupx"),
            (acc["ndist"] + F.when(same, F.lit(0)).otherwise(F.lit(1))).alias("ndist"),
        )

    scanned = F.aggregate(F.array_sort(arr), init, step)
    return F.struct(
        F.size(arr).cast("long").alias("n"),
        scanned["ndist"].alias("ndist"),
        scanned["top"].alias("top_weighted"),
        scanned["dupx"].alias("dup_excess"),
    )


def repetition_gram_stats(
    words: Column,
    lines: Column,
    top_ns: "tuple[int, ...]" = (2, 3, 4),
    dup_ns: "tuple[int, ...]" = (5, 6, 7, 8, 9, 10),
) -> Column:
    """The Gopher repetition-rule battery beyond word level (Rae et al.
    2021 App. A1.1): duplicate line fraction + duplicate-line character
    fraction, top-{2,3,4}-gram character fraction, duplicate-{5..10}-gram
    character fraction — the standard filters for template/boilerplate
    pages (paper thresholds: dup lines 0.30, dup line chars 0.20, top
    2/3/4-gram 0.20/0.18/0.16, dup 5..10-gram 0.15 down to 0.10).

    Returns a struct: ``dup_line_frac``, ``dup_line_char_frac``,
    ``top_{n}gram_char_frac`` for each n in top_ns, and
    ``dup_{n}gram_char_frac`` for each n in dup_ns.

    Definitional note (documented deviation): the duplicate-n-gram
    fraction here is OCCURRENCE-weighted — characters of each repeat
    occurrence beyond the first, ``sum (c-1)*len(gram)`` — rather than
    the position-coverage union some reimplementations use.  The two
    differ only when duplicated grams overlap; the occurrence form is
    deterministic, shuffle-free, and cross-engine verifiable in SQL
    (the coverage union needs per-position interval merging).  The SAME
    deviation applies to the top-n-gram fraction: it weights ALL
    occurrences of the single most frequent gram — including
    self-overlapping ones — so on degenerate spam text the "fraction"
    can EXCEED 1.0 (e.g. ``a a a ... a``: every bigram is ``a a`` and
    the occurrence-weighted characters outnumber the document's), where
    the paper's position-coverage form is bounded by 1.  Threshold
    behavior is unchanged (values above any sane cutoff still drop the
    doc, and only spam-like text exceeds 1), but tune thresholds against
    THIS definition, not the paper's bound.  Character counts are word
    characters
    (gram length minus its n-1 separators); fractions are over the
    document's total word characters (line fractions over total line
    characters), exact IEEE divisions of integer counts.

    Everything is one narrow projection of aggregate-HOF scans — zero
    exchanges, no Python; at 100 TB this runs at scan speed like the
    rest of the battery.

    ``words`` and ``lines`` MUST be real (projected) columns, not inline
    split expressions: the gram-building lambdas index into them per
    element, and an inline array expression referenced from a HOF lambda
    re-evaluates per reference — the r4 O(n^2) CollapseProject lesson.
    Use :func:`repetition_gram_stats_df` for the text-column form."""
    nw = F.size(words)
    total_chars = F.aggregate(
        words, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
    )
    tc = F.when(total_chars > 0, total_chars.cast("double")).otherwise(F.lit(None))

    lstats = _runlength_weighted(lines, lambda w: F.length(w))
    lc = F.when(lstats["n"] > 0, lstats["n"].cast("double")).otherwise(F.lit(None))
    total_line_chars = F.aggregate(
        lines, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
    )
    lcc = F.when(total_line_chars > 0, total_line_chars.cast("double")).otherwise(F.lit(None))

    fields = [
        F.coalesce(
            (lstats["n"] - lstats["ndist"]).cast("double") / lc, F.lit(0.0)
        ).alias("dup_line_frac"),
        F.coalesce(lstats["dup_excess"].cast("double") / lcc, F.lit(0.0)).alias(
            "dup_line_char_frac"
        ),
    ]

    def grams_of(n: int) -> Column:
        idx = F.sequence(F.lit(0), nw - n)
        return F.when(nw >= n, F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, n))
        )).otherwise(F.array().cast("array<string>"))

    for n in top_ns:
        g = _runlength_weighted(grams_of(n), lambda w, _n=n: F.length(w) - (_n - 1))
        fields.append(
            F.coalesce(g["top_weighted"].cast("double") / tc, F.lit(0.0)).alias(
                f"top_{n}gram_char_frac"
            )
        )
    for n in dup_ns:
        g = _runlength_weighted(grams_of(n), lambda w, _n=n: F.length(w) - (_n - 1))
        fields.append(
            F.coalesce(g["dup_excess"].cast("double") / tc, F.lit(0.0)).alias(
                f"dup_{n}gram_char_frac"
            )
        )
    return F.struct(*fields)


def repetition_gram_stats_df(
    df,
    id_col: str,
    text_col: str,
    top_ns: "tuple[int, ...]" = (2, 3, 4),
    dup_ns: "tuple[int, ...]" = (5, 6, 7, 8, 9, 10),
):
    """:func:`repetition_gram_stats` over a text column, with the words
    and lines arrays projected as REAL columns first (one narrow
    two-step projection — see the inline-array caveat there).  Returns
    (doc_id, <one column per metric>)."""
    projected = df.select(
        F.col(id_col).alias("doc_id"),
        F.filter(
            F.split(F.lower(F.col(text_col)), r"\s+", -1), lambda x: x != F.lit("")
        ).alias("_words"),
        F.filter(
            F.split(F.col(text_col), "\n", -1), lambda x: F.trim(x) != F.lit("")
        ).alias("_lines"),
    )
    s = repetition_gram_stats(F.col("_words"), F.col("_lines"), top_ns, dup_ns)
    names = (
        ["dup_line_frac", "dup_line_char_frac"]
        + [f"top_{n}gram_char_frac" for n in top_ns]
        + [f"dup_{n}gram_char_frac" for n in dup_ns]
    )
    stats = projected.select("doc_id", s.alias("_s"))
    return stats.select("doc_id", *[F.col(f"_s.{n}").alias(n) for n in names])


# Gopher quality-filter heuristics (Rae et al. 2021, "Scaling Language
# Models: Methods, Analysis & Insights from Training Gopher", App. A1.1)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
BULLET_LINE_REGEX = r"^\s*[-*•]"
ELLIPSIS_LINE_REGEX = r"(\.\.\.|…)\s*$"


def gopher_rules(
    df,
    id_col: str,
    text_col: str,
    *,
    keep: "tuple[str, ...]" = (),
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
):
    """Per-document Gopher rule metrics + a ``passes`` verdict — the
    standard pre-training quality gate (word-count bounds, mean word
    length, symbol-to-word ratio, bullet/ellipsis line fractions,
    alphabetic-word fraction, distinct-stopword floor).

    Everything is native column expressions over the one text column — a
    narrow map with NO shuffle and no Python, so at 100 TB this runs at
    scan speed and Catalyst prunes the read to (id, text).  All ratios
    are exact IEEE divisions of integer counts and every regex is
    RE2-compatible, so the DuckDB oracle reproduces each metric
    bit-for-bit (same discipline as :func:`quality_score`).

    ``keep``: pass original column names to carry them through INSTEAD
    of the aliased ``doc_id`` — lets a caller filter on ``passes`` as a
    linear narrow map (no join back to recover payload columns; the
    curate_corpus quality gate uses this).  Metric names (``n_words``
    etc.) must not collide with kept columns.
    """
    text = F.col(text_col)
    words = F.filter(F.split(text, r"\s+", -1), lambda x: x != F.lit(""))
    low = F.filter(F.split(F.lower(text), r"\s+", -1), lambda x: x != F.lit(""))
    lines = F.split(text, "\n", -1)

    n_words = F.size(words).cast("long")
    sum_len = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    nw_d = n_words.cast("double")
    mean_word_len = F.when(n_words > 0, sum_len.cast("double") / nw_d).otherwise(F.lit(0.0))
    alpha = F.size(F.filter(words, lambda x: x.rlike("[A-Za-z]"))).cast("long")
    alpha_word_frac = F.when(n_words > 0, alpha.cast("double") / nw_d).otherwise(F.lit(0.0))
    # Gopher's "symbols": '#' occurrences plus '...'/'…' ellipses
    hash_cnt = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    ell_cnt = F.size(F.regexp_extract_all(text, F.lit(r"\.\.\.|…"), F.lit(0)))
    symbol_word_ratio = F.when(
        n_words > 0, (hash_cnt + ell_cnt).cast("double") / nw_d
    ).otherwise(F.lit(0.0))
    n_lines = F.size(lines).cast("double")  # split() yields >= 1 line
    bullet_line_frac = (
        F.size(F.filter(lines, lambda x: x.rlike(BULLET_LINE_REGEX))).cast("double")
        / n_lines
    )
    ellipsis_line_frac = (
        F.size(F.filter(lines, lambda x: x.rlike(ELLIPSIS_LINE_REGEX))).cast("double")
        / n_lines
    )
    stop_hits = F.lit(0)
    for w in GOPHER_STOPWORDS:
        stop_hits = stop_hits + F.array_contains(low, w).cast("int")
    stop_hits = stop_hits.cast("long")

    head = (
        [F.col(c) for c in keep] if keep else [F.col(id_col).alias("doc_id")]
    )
    out = df.select(
        *head,
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        alpha_word_frac.alias("alpha_word_frac"),
        symbol_word_ratio.alias("symbol_word_ratio"),
        bullet_line_frac.alias("bullet_line_frac"),
        ellipsis_line_frac.alias("ellipsis_line_frac"),
        stop_hits.alias("stop_hits"),
    )
    return out.withColumn(
        "passes",
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("symbol_word_ratio") <= max_symbol_word_ratio)
        & (F.col("bullet_line_frac") <= max_bullet_line_frac)
        & (F.col("ellipsis_line_frac") <= max_ellipsis_line_frac)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
        & (F.col("stop_hits") >= min_stopword_hits),
    )


def rolling_fingerprint_portable(text: Column, window: int = 8) -> Column:
    """Same winnowing structure with a portable gram hash — the first 15
    hex digits of md5 as a 60-bit integer — computable identically in
    DuckDB (``CAST('0x' || substr(md5(g),1,15) AS BIGINT)``), so the
    window-minimum selection logic itself is oracle-verified."""
    words = F.filter(F.split(F.lower(text), r"\s+", -1), lambda x: x != F.lit(""))
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - window, F.lit(0)))
    grams = F.transform(
        idx,
        lambda i: F.conv(
            F.substring(F.md5(F.concat_ws(" ", F.slice(words, i + 1, window))), 1, 15),
            16, 10,
        ).cast("long"),
    )
    return F.array_min(grams)


def rarity_scores(df, id_col: str, text_col: str):
    """CCNet-style statistical quality signal without the language model:
    per-document mean and max INVERSE unigram frequency, i.e. how rare
    this document's vocabulary is against the corpus itself.  High mean =
    gibberish/OCR noise (CCNet's high-perplexity tail); very low mean =
    boilerplate of corpus-dominant words.  The classic formulation is
    mean negative log-probability; this uses the raw inverse relative
    frequency (``N_total / count(word)``) — the monotone argument of that
    log — because ``ln`` is only 1-ulp accurate and differs between libm
    implementations, while +,*,/ are correctly rounded everywhere (the
    exact_math discipline of operators/search.py).

    Returns (doc_id, n_words, mean_inv_freq, max_inv_freq); docs with no
    words emit nothing (they have no vocabulary to score).

    Scale design: occurrences are pre-aggregated into DISTINCT
    (doc, word) pairs carrying their in-doc idx arrays BEFORE anything
    is keyed by word, so the word-keyed shuffles (the unigram aggregate
    and the count join) carry one row per document-word pair, never one
    per occurrence — the hot-word join key ("the" joins every doc)
    drops from per-occurrence to per-document multiplicity, and the
    (doc, word) pre-aggregation key itself is skew-free.  The corpus
    total enters as a broadcast 1-row crossJoin.  The per-doc summation
    is an ``F.aggregate`` fold over the idx-sorted count array — the
    idx arrays are re-zipped with the joined count and flattened, so
    the fold sequence is identical to the per-occurrence formulation: a
    deterministic left-to-right IEEE order the DuckDB oracle replays
    with ``list(cnt ORDER BY idx)`` + ``list_reduce`` (Spark's fold
    seeds 0.0, DuckDB's seeds the first element; identical bitwise
    because 0.0 + x == x exactly).
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"\s+", -1),
                lambda x: x != F.lit(""),
            )
        ).alias("idx", "word"),
    )
    # no per-pair sort: the downstream global array_sort over the
    # flattened (idx, cnt) structs establishes the order regardless
    pairs = toks.groupBy("doc_id", "word").agg(
        F.collect_list("idx").alias("idxs")
    )
    # vocab from toks, not pairs: the count aggregate map-side-combines to
    # per-partition distinct words (a light branch), whereas deriving it
    # from pairs would recompute the (doc, word) pre-aggregation twice
    vocab = toks.groupBy("word").agg(F.count("*").cast("long").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("_n"))
    per_doc = (
        pairs.join(vocab, "word")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.flatten(
                        F.collect_list(
                            F.transform(
                                F.col("idxs"),
                                lambda i: F.struct(
                                    i.alias("idx"), F.col("cnt").alias("cnt")
                                ),
                            )
                        )
                    )
                ),
                lambda s: s["cnt"],
            ).alias("_cnts")
        )
    )
    n_d = F.col("_n").cast("double")
    inv = F.transform(F.col("_cnts"), lambda c: n_d / c.cast("double"))
    return per_doc.crossJoin(F.broadcast(total)).select(
        "doc_id",
        F.size("_cnts").cast("long").alias("n_words"),
        (
            F.aggregate(inv, F.lit(0.0), lambda acc, x: acc + x)
            / F.size("_cnts").cast("double")
        ).alias("mean_inv_freq"),
        F.array_max(inv).alias("max_inv_freq"),
    )
