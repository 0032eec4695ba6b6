"""Batched enrichment (X3 contract) tests."""

from __future__ import annotations

import pytest

from ocr_translate_spark.operators.enrich import enrich_text


def test_enrich_batched_alignment(spark):
    df = spark.createDataFrame(
        [(1, "hello", "en"), (2, "hallo", "de"), (3, "bonjour", "fr"), (4, "hi", "en")],
        "id long, text string, lang string",
    )
    out = enrich_text(df, "text", "lang", "ja")
    got = {r["id"]: r["enriched_text"] for r in out.collect()}
    assert got == {
        1: "[en->ja] hello",
        2: "[de->ja] hallo",
        3: "[fr->ja] bonjour",
        4: "[en->ja] hi",
    }


def test_enrich_misaligned_fn_raises(spark):
    df = spark.createDataFrame([(1, "x", "en")], "id long, text string, lang string")

    def broken(texts, src, dst):
        return texts + ["extra"]

    with pytest.raises(Exception, match="alignment"):
        enrich_text(df, "text", "lang", "ja", batch_fn=broken).collect()
