"""Text normalization operators (F1-F8, SURVEY.md §2.8).

* **Arrow pandas UDF** (``pre_tokenize_udf``) — the full pre_tokenize
  pipeline: it wraps the exact-parity kernel (kernels/pretokenize.py) with
  a broadcast trie, because missing-space repair (F6, dynamic-programming
  decomposition) is not SQL-expressible (ref models/tsl.py:156-174).
* **Native column expressions** (the ``*_col`` functions) — single stages
  as pure ``pyspark.sql.functions``, JVM-side: F2 dash-newline restore and
  F7 no-space-language cleanup.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from ..kernels.merge import NO_SPACE_LANGUAGES
from ..kernels.pretokenize import pre_tokenize_options
from ..kernels.trie import Trie


def restore_dash_newlines_col(col: Column) -> Column:
    """F2: rejoin hyphen-split words (ref tsl.py:145-146)."""
    return F.regexp_replace(col, r"(?<!\n)- *\n", "")


def strip_nospace_lang_col(text: Column, lang: Column) -> Column:
    """F7: remove spaces for no-space languages (ref models/ocr.py:231-232)."""
    return F.when(
        lang.isin(*NO_SPACE_LANGUAGES), F.regexp_replace(text, " ", "")
    ).otherwise(text)


def pre_tokenize_udf(df: DataFrame, text_col: str, options: dict, trie: Trie | None):
    """Arrow-batched exact pre_tokenize with trie repair.

    The trie is shipped once per executor via ``sparkContext.broadcast``
    (SURVEY.md §1.3), not re-pickled per task closure.
    """
    sc = df.sparkSession.sparkContext
    trie_bc = sc.broadcast(trie)
    opts = dict(options)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local_trie = trie_bc.value
        for pdf in batches:
            toks = [
                pre_tokenize_options(t if t is not None else "", opts, trie=local_trie)
                for t in pdf[text_col]
            ]
            out = pdf.copy()
            out["tokens"] = toks
            yield out

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    return df.mapInPandas(run, schema=f"{schema}, tokens array<string>")


def build_trie_from_dictionary(df: DataFrame) -> Trie:
    """Build the repair trie from a ``dictionary(lang, word, freq)`` table
    (ref models/base.py:163-184; missing freq -> -1e-4 per base.py:181).

    The dictionary is a dimension table (|words| ~ 1e5-1e6); collecting it
    on the driver and broadcasting the frozen trie is the scale-correct
    pattern — it never joins against the corpus.
    """
    rows = df.select("word", "freq").collect()
    return Trie.from_rows([(r["word"], r["freq"]) for r in rows])
