"""Batched text-to-text enrichment stage (X3, the `_translate` contract).

The reference's translation stage is batch-capable by contract: the plugin
receives either one token list or a list of token lists and must return
outputs aligned with the inputs (ref models/tsl.py:189-214, batching at
messaging.py:74-110).  In Spark that contract IS the Arrow batch: one
``mapInPandas`` stage hands the enrichment function every row of a batch at
once and requires an aligned output list.

The actual model invocation is pluggable (``batch_fn``).  This container
ships no translation model, so the default is a deterministic stand-in
(documented fake) that preserves the plumbing contract: batch in -> aligned
batch out; manual overrides win afterwards (J5,
``catalog.override_coalesce``).
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame


def deterministic_fake_translate(texts: list[str], src: str, dst: str) -> list[str]:
    """Stand-in enrichment: tags each text with the language pair.

    Deterministic and alignment-preserving — the contract a real model
    plugin must satisfy (ref models/tsl.py:207-213: output aligned with
    batched input)."""
    return [f"[{src}->{dst}] {t}" for t in texts]


def enrich_text(
    df: DataFrame,
    text_col: str,
    src_col: str,
    dst_lang: str,
    batch_fn: Callable[[list[str], str, str], list[str]] = deterministic_fake_translate,
    out_col: str = "enriched_text",
) -> DataFrame:
    """Run a batched enrichment function over a text column.

    One ``mapInPandas`` stage; the function is called once per (Arrow
    batch, src language) group — the micro-batching the reference builds
    by hand with queues and timeouts (ref messaging.py:260-273) falls out
    of Arrow batching for free (SURVEY.md §2.10 C4).
    """
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            result = pd.Series([""] * len(pdf), index=pdf.index, dtype=object)
            for src, group in pdf.groupby(src_col, sort=True):
                translated = batch_fn(list(group[text_col]), str(src), dst_lang)
                if len(translated) != len(group):
                    raise ValueError(
                        "enrichment batch_fn broke alignment: "
                        f"{len(group)} in, {len(translated)} out"
                    )
                result.loc[group.index] = translated
            out[out_col] = result
            yield out

    return df.mapInPandas(run, schema=f"{fields}, {out_col} string")
