"""Normalization operators: the trie-repair UDF, the dictionary trie and
the no-space-language column."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_translate_spark.kernels.trie import Trie
from ocr_translate_spark.operators.normalize import (
    build_trie_from_dictionary,
    pre_tokenize_udf,
    strip_nospace_lang_col,
)


def test_pre_tokenize_udf_trie_repair(spark):
    """F6 via broadcast trie: applepie -> apple pie
    (ref tests/test_models.py:481-489)."""
    trie = Trie()
    for w in ("app", "apple", "pie"):
        trie.insert(w)
    df = spark.createDataFrame([("applepie",), ("regular words",)], "text string")
    out = pre_tokenize_udf(df, "text", {"restore_missing_spaces": True}, trie)
    got = {r["text"]: r["tokens"] for r in out.collect()}
    assert got["applepie"] == ["apple pie"]
    assert got["regular words"] == ["regular words"]


def test_build_trie_from_dictionary(spark):
    df = spark.createDataFrame(
        [("en", "apple", 5.0), ("en", "pie", None)],
        "lang string, word string, freq double",
    )
    trie = build_trie_from_dictionary(df)
    assert trie.get_freq("apple") == 5.0
    assert trie.get_freq("pie") == -1e-4  # ref models/base.py:181 default


def test_strip_nospace_lang(spark):
    df = spark.createDataFrame(
        [("a b c", "ja"), ("a b c", "en"), ("x y", "zh")],
        "text string, lang string",
    )
    out = df.select(
        strip_nospace_lang_col(F.col("text"), F.col("lang")).alias("t"), "lang"
    ).collect()
    got = {r["lang"]: r["t"] for r in out}
    assert got["ja"] == "abc" and got["zh"] == "xy" and got["en"] == "a b c"
