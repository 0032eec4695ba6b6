"""ocr_translate_spark — a PySpark-native batch main-content extraction engine.

A from-scratch reimplementation of the capabilities of Crivella/ocr_translate
(reference at /root/reference, v0.7.4) as a batch DOM/byte-stream extraction
pipeline over a Common-Crawl-style ``pages`` table:

    url: string, warc_ts: timestamp, html: binary, text: string, lang: string

The reference is a per-request Django OCR/translation server; this engine
replaces that request loop with declarative Spark DataFrame plans plus a
single Arrow-vectorized ``mapInPandas`` extraction stage per job.  What is
preserved is the *semantics*: content-addressed items, run memoization
ledgers (ref: ocr_translate/models/box.py:183, ocr.py:248, tsl.py:323),
manual-override priority (ref: models/tsl.py:216-235), text normalization
(ref: models/tsl.py:90-186), reading-order assembly (ref: models/ocr.py:68-147)
and dictionary repair via a frequency trie (ref: ocr_translate/trie.py).

Modules:
    kernels/    pure-Python/numpy computational kernels (unit-testable,
                executed only inside Arrow batches)
    operators/  DataFrame-level operators (extraction, dedup, similarity,
                text stats, ledger/memoization, catalog queries, skew)
    io/         table read/write with snapshot/commit protocol (Iceberg when
                available, atomic parquet snapshot-log otherwise)
    streaming/  Structured Streaming wrappers for the events table
    corpus.py   deterministic synthetic pages generator (FIXTURES.md)
    zipcache.py keeps zip-import listings across Python-worker tasks
"""

from . import zipcache

# Every Python worker imports this package when it unpickles a package UDF,
# so installing here covers each worker from its second task on.
zipcache.install()

__version__ = "0.1.0"

EXTRACTOR_VERSION = "otspark-0.1.0"
