"""Ingest operator tests: base64 decode + md5 verify, lang-code lookup."""

from __future__ import annotations

import base64
import hashlib

from pyspark.sql import functions as F

from ocr_translate_spark.operators.ingest import decode_and_verify, lang_code


def test_decode_and_verify(spark):
    payload = b"some payload bytes"
    good = base64.b64encode(payload).decode()
    md5 = hashlib.md5(payload).hexdigest()
    df = spark.createDataFrame(
        [(1, good, md5), (2, good, "0" * 32)],
        "id long, b64 string, claimed string",
    )
    got = {r["id"]: r for r in decode_and_verify(df, "b64", "claimed").collect()}
    assert bytes(got[1]["payload"]) == payload
    assert got[1]["md5_ok"] is True
    assert got[2]["md5_ok"] is False


def test_lang_code_fallback(spark):
    df = spark.createDataFrame([("en",), ("ja",), ("xx",)], "lang string")
    got = [r[0] for r in df.select(lang_code(F.col("lang"))).collect()]
    assert got == ["eng", "jpn", "xx"]  # unknown codes fall through (J8)
