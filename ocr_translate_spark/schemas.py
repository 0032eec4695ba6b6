"""Table schemas (FIXTURES.md §1/§5).

The ``pages`` input shape is mandated by BASELINE.json input_hint; the
``extracted``/``runs``/``metrics`` output/ledger shapes mirror the
reference's Image/Text/BBox + *Run tables re-expressed columnar
(SURVEY.md §1.3).
"""

from __future__ import annotations

from pyspark.sql import types as T

PAGES = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])

SPAN = T.StructType([
    T.StructField("start", T.LongType(), False),
    T.StructField("end", T.LongType(), False),
])

# analog of BBox + Text + per-run results (ref models/box.py:32-59,
# models/ocr.py:248-264) — one row per page, blocks nested as spans
EXTRACTED = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("lang", T.StringType(), True),
    T.StructField("extracted_text", T.StringType(), True),
    T.StructField("spans", T.ArrayType(SPAN), True),
    T.StructField("n_blocks", T.IntegerType(), True),
    T.StructField("n_kept", T.IntegerType(), True),
    T.StructField("title", T.StringType(), True),
    T.StructField("payload_kind", T.StringType(), True),  # html | pdf
    T.StructField("text_hash", T.LongType(), True),  # xxhash64(extracted_text)
    T.StructField("bytes_in", T.LongType(), True),
    T.StructField("extractor_version", T.StringType(), False),
    T.StructField("options_hash", T.StringType(), False),
])

EXTRACTED_DDL = (
    "url string, lang string, extracted_text string, "
    "spans array<struct<start:long,end:long>>, n_blocks int, n_kept int, "
    "title string, payload_kind string, text_hash long, bytes_in long, "
    "extractor_version string, options_hash string"
)

# memoization ledger (ref OCRBoxRun/OCRRun/TranslationRun, SURVEY.md §2.10)
RUNS = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("extractor_version", T.StringType(), False),
    T.StructField("options_hash", T.StringType(), False),
    T.StructField("text_hash", T.LongType(), True),
    T.StructField("snapshot_id", T.LongType(), False),
])

# per-partition lineage (north_rule)
METRICS = T.StructType([
    T.StructField("partition_id", T.IntegerType(), False),
    T.StructField("input_split", T.StringType(), True),
    T.StructField("row_count", T.LongType(), False),
    T.StructField("bytes_in", T.LongType(), False),
    T.StructField("extraction_hash", T.LongType(), True),
    T.StructField("wall_clock_ms", T.LongType(), False),
    T.StructField("run_id", T.StringType(), False),
])
