"""Round-6 operators: connected components / cluster-resolved dedup
(operators/dedup.py), span-level excision and quality tiering
(operators/curation.py).  Every expectation here is a hand-computed
closed form on a handcrafted input — the sf0.01 value check against
DuckDB lives in test_queries_oracle.py."""

from __future__ import annotations

import math

import pyspark.sql.functions as F

from ocr_translate_spark.operators import curation, dedup


def _cc(spark, pairs, **kw):
    edges = spark.createDataFrame(pairs, "src long, dst long")
    rows = dedup.connected_components(edges, **kw).collect()
    return {r["node"]: r["component"] for r in rows}


# ---------------------------------------------------------------------
# connected_components
# ---------------------------------------------------------------------

def test_cc_two_components_min_label(spark):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_cc_direction_duplicates_self_loops_irrelevant(spark):
    got = _cc(spark, [(5, 4), (4, 5), (4, 4), (5, 4), (9, 8)])
    assert got == {4: 4, 5: 4, 8: 8, 9: 8}


def test_cc_long_chain_converges_in_log_rounds(spark):
    # a 64-node path is the worst case for naive propagation (diameter
    # 63); large-star/small-star must collapse it within max_iter=10
    # (~2 log2 n rounds)
    n = 64
    got = _cc(spark, [(i, i + 1) for i in range(n - 1)], max_iter=10)
    assert got == {i: 0 for i in range(n)}


def test_cc_hub_and_bridge(spark):
    # star around 100 bridged to 0: one component labeled by the minimum
    pairs = [(100, i) for i in range(101, 121)] + [(0, 100)]
    got = _cc(spark, pairs)
    assert set(got.values()) == {0}
    assert set(got) == {0, 100, *range(101, 121)}


# ---------------------------------------------------------------------
# shared_gram_components / dedup_clusters
# ---------------------------------------------------------------------

def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_shared_gram_components_transitive(spark):
    # 1~2 share "p q r", 2~3 share "x y z" -> transitive cluster min=1;
    # 4 shares nothing -> singleton; 5 is shorter than n -> singleton
    df = _docs(spark, [
        (1, "p q r aa bb"),
        (2, "cc p q r dd x y z"),
        (3, "x y z ee ff"),
        (4, "gg hh ii jj"),
        (5, "kk ll"),
    ])
    got = {r["doc_id"]: r["cluster"]
           for r in dedup.shared_gram_components(df, "doc_id", "text", n=3).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5}


def test_shared_gram_components_df_cap_drops_hot_gram(spark):
    # "s t u" appears in all four docs; with max_gram_df=3 it is pruned
    # and nothing links them
    df = _docs(spark, [(i, f"s t u w{i}") for i in range(4)])
    got = {r["doc_id"]: r["cluster"]
           for r in dedup.shared_gram_components(
               df, "doc_id", "text", n=3, max_gram_df=3).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


def test_dedup_clusters_longest_representative(spark):
    # cluster {1,2}: doc 2 is longer -> rep; singleton 3 is its own rep
    df = _docs(spark, [
        (1, "m n o"),
        (2, "m n o plus extra tail words"),
        (3, "alone here now"),
    ])
    got = {r["doc_id"]: (r["cluster"], r["is_rep"])
           for r in dedup.dedup_clusters(df, "doc_id", "text", n=3).collect()}
    assert got == {1: (1, False), 2: (1, True), 3: (3, True)}


def test_dedup_clusters_tie_to_min_id_and_rep_order(spark):
    df = _docs(spark, [(1, "m n o"), (2, "m n o")])
    got = {r["doc_id"]: r["is_rep"]
           for r in dedup.dedup_clusters(df, "doc_id", "text", n=3).collect()}
    assert got == {1: True, 2: False}  # equal length -> min id
    scores = spark.createDataFrame([(1, 5), (2, 9)], "doc_id long, score long")
    got = {r["doc_id"]: r["is_rep"]
           for r in dedup.dedup_clusters(
               df, "doc_id", "text", n=3, rep_order=scores).collect()}
    assert got == {1: False, 2: True}  # score overrides length policy


# ---------------------------------------------------------------------
# excise_dup_spans
# ---------------------------------------------------------------------

def test_excise_cross_doc_span_case_insensitive_casing_preserved(spark):
    # the 8-gram "a..h" occurs in both docs (case-insensitively); the
    # pos-1 grams differ (tail1 vs tail2) so only positions 0..7 are
    # covered; kept words keep their ORIGINAL casing
    df = _docs(spark, [
        (1, "a b c d e f g h Tail1"),
        (2, "A B C D E F G H Tail2"),
    ])
    got = {r["doc_id"]: r for r in
           curation.excise_dup_spans(df, "doc_id", "text", n=8).collect()}
    assert (got[1]["n_words"], got[1]["n_removed"], got[1]["cleaned"]) == (9, 8, "Tail1")
    assert (got[2]["n_words"], got[2]["n_removed"], got[2]["cleaned"]) == (9, 8, "Tail2")


def test_excise_within_doc_repeat_counts_toward_min_count(spark):
    # one doc repeating its own 4-gram: both copies excised, the joint
    # word between isn't
    df = _docs(spark, [(1, "w x y z mid w x y z")])
    row = curation.excise_dup_spans(df, "doc_id", "text", n=4).collect()[0]
    assert (row["n_words"], row["n_removed"], row["cleaned"]) == (9, 8, "mid")


def test_excise_short_empty_and_unique_docs_untouched(spark):
    df = _docs(spark, [
        (1, "too short"),          # < n words: no grams, fully kept
        (2, ""),                    # empty: cleaned ''
        (3, "all unique words in this one doc here yes"),
    ])
    got = {r["doc_id"]: r for r in
           curation.excise_dup_spans(df, "doc_id", "text", n=4).collect()}
    assert (got[1]["n_removed"], got[1]["cleaned"]) == (0, "too short")
    assert (got[2]["n_words"], got[2]["cleaned"]) == (0, "")
    assert got[3]["n_removed"] == 0


def test_excise_fully_covered_doc_empties(spark):
    df = _docs(spark, [(1, "r s t u"), (2, "r s t u")])
    got = {r["doc_id"]: r for r in
           curation.excise_dup_spans(df, "doc_id", "text", n=4).collect()}
    assert all((g["n_removed"], g["cleaned"]) == (4, "") for g in got.values())


def test_excise_overlapping_covered_spans_union(spark):
    # doc 1 and doc 2 share grams at doc-1 positions 0 and 2 (overlap at
    # 2..3): covered = union {0..3, 2..5} = 0..5, keeper is "t1 t2"
    df = _docs(spark, [
        (1, "a b c d e f t1 t2"),
        (2, "a b c d x c d e f y"),
    ])
    row = {r["doc_id"]: r for r in
           curation.excise_dup_spans(df, "doc_id", "text", n=4).collect()}[1]
    assert (row["n_removed"], row["cleaned"]) == (6, "t1 t2")


# ---------------------------------------------------------------------
# quality_tiers / approx_tier_bounds
# ---------------------------------------------------------------------

def _scored(spark, n=16):
    # qualities n, n-1, ..., 1; two groups by parity of id
    rows = [(i, float(n - i), "even" if i % 2 == 0 else "odd") for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, quality double, grp string")


def test_quality_tiers_exact_quota_math(spark):
    df = _scored(spark, 16)
    out = curation.quality_tiers(
        df, id_col="doc_id", quality_col="quality", group_col="grp",
        n_tiers=4, quota_coeff=1.0,
    ).collect()
    assert len(out) == 16
    by = {r["doc_id"]: r for r in out}
    # ntile(4) over quality DESC: ids 0..3 tier 1, ..., 12..15 tier 4
    assert all(by[i]["tier"] == i // 4 + 1 for i in range(16))
    # each (tier, grp) has m=2 -> quota = min(2, floor(sqrt(2))) = 1
    assert all(r["group_n"] == 2 and r["quota"] == 1 for r in out)
    for tier in (1, 2, 3, 4):
        for grp in ("even", "odd"):
            kept = [r for r in out
                    if r["tier"] == tier and r["grp"] == grp and r["keep"]]
            assert len(kept) == 1


def test_quality_tiers_quota_caps_at_group_size(spark):
    df = _scored(spark, 8)
    out = curation.quality_tiers(
        df, id_col="doc_id", quality_col="quality", group_col=None,
        n_tiers=2, quota_coeff=8.0,
    ).collect()
    # m=4 per tier, quota = min(4, floor(8*2)) = 4 -> everything kept
    assert all(r["quota"] == 4 and r["keep"] for r in out)


def test_quality_tiers_salted_equals_unsalted(spark):
    df = _scored(spark, 40)
    kw = dict(id_col="doc_id", quality_col="quality", group_col="grp",
              n_tiers=4, quota_coeff=1.5)
    kept_salted = {r["doc_id"] for r in curation.quality_tiers(
        df, salt_shards=16, **kw).collect() if r["keep"]}
    kept_plain = {r["doc_id"] for r in curation.quality_tiers(
        df, salt_shards=None, **kw).collect() if r["keep"]}
    assert kept_salted == kept_plain and kept_salted


def test_approx_tier_bounds_single_tier_degenerate(spark):
    # n_tiers=1 is legal: no cutoffs (pure sqrt-quota sampling) and no
    # sketch pass — approxQuantile rejects an empty probability list, so
    # the guard must short-circuit before it (found by the round-7
    # hostile-cell probe driving tiered_ingest with n_tiers=1)
    df = _scored(spark, 9)
    assert curation.approx_tier_bounds(df, "quality", n_tiers=1) == []
    # its stored form is the typed empty bounds table
    empty = curation.tier_bounds_frame(spark, [])
    assert empty.schema.simpleString() == "struct<tier:bigint,cutoff:double>"
    assert empty.collect() == []
    out = curation.quality_tiers(
        df, id_col="doc_id", quality_col="quality",
        n_tiers=1, tier_bounds=[], quota_coeff=2.0).collect()
    assert {r["tier"] for r in out} == {1}
    assert sum(r["keep"] for r in out) == min(9, math.floor(2.0 * math.sqrt(9)))


def test_quality_tiers_bounds_path_closed_form(spark):
    # the distributed threshold path: tier = 1 + #(bounds strictly above
    # quality), so a doc AT a bound goes to the better tier (the ntile
    # path splits exactly at rank instead — documented deviation); the
    # exact-quantile bounds land on the quartile data values
    df = _scored(spark, 16)  # qualities 16.0 .. 1.0
    bounds = curation.approx_tier_bounds(df, "quality", n_tiers=4,
                                         relative_error=1e-9)
    assert len(bounds) == 3 and bounds == sorted(bounds, reverse=True)
    assert all(1.0 <= b <= 16.0 for b in bounds)
    out = curation.quality_tiers(
        df, id_col="doc_id", quality_col="quality", group_col="grp",
        n_tiers=4, tier_bounds=bounds).collect()
    expect = {r["doc_id"]: 1 + sum(r["quality"] < b for b in bounds)
              for r in out}
    assert {r["doc_id"]: r["tier"] for r in out} == expect
    # quotas recompute per threshold-tier group size
    sizes: dict[tuple, int] = {}
    for r in out:
        sizes[(r["tier"], r["grp"])] = sizes.get((r["tier"], r["grp"]), 0) + 1
    for r in out:
        m = sizes[(r["tier"], r["grp"])]
        assert r["group_n"] == m
        assert r["quota"] == min(m, math.floor(8.0 * math.sqrt(m)))
