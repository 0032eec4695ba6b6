"""Seeded benchmark inputs and the reference results they are checked against.

Every input is a pure function of the ``--seed`` argument, so the same seed
always yields the same pages, recrawl batches and curation texts.  Inputs are
materialized as their own parquet tables during set-up: ``run_extraction``
attaches ``input_file_name()`` lineage, which Spark rejects on a frame derived
from a join, so the program only ever receives plain file scans.  The files
are written with pyarrow by worker processes while the JVM starts.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ocr_translate_spark.corpus import VARIANTS, gen_page

# Page indices are drawn from disjoint ranges per role, so a url (which
# embeds its index) is new or re-crawled by construction.
_LEDGER_BASE = 10_000_000
_NEW_BASE = 20_000_000

PAGES_ARROW = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("variant", pa.string()),
])


def write_pages(path: str, indices: list[int], seed: int) -> int:
    """Write the pages ``corpus.gen_page`` makes for ``indices`` to one
    parquet file; returns the input size in ``html`` bytes."""
    frame = pd.DataFrame([gen_page(i, seed) for i in indices])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(frame, PAGES_ARROW, preserve_index=False), path)
    return int(frame["html"].map(len).sum())


def submit_pages(pool, table: str, indices: list[int], seed: int, files: int) -> list:
    """Split ``indices`` over ``files`` parquet files of one table."""
    step = -(-len(indices) // files)
    return [
        pool.submit(write_pages, os.path.join(table, f"part-{k:05d}.parquet"),
                    indices[k * step:(k + 1) * step], seed)
        for k in range(files)
    ]


def is_pdf_index(index: int) -> bool:
    return VARIANTS[index % len(VARIANTS)] == "pdf_payload"


def cold_indices(n_pages: int) -> list[int]:
    """A contiguous index range, so the 16 page-class slots (all 11 classes;
    giant pages and PDFs 1 in 16 each) are filled equally."""
    return list(range(n_pages))


@dataclass(frozen=True)
class RecrawlPlan:
    """Ledger seed plus crawl batches with exactly known url sets."""

    ledger: list[int]
    batches: list[tuple[list[int], list[int]]]  # (re-crawled, new) per batch


def recrawl_plan(
    seed: int, ledger_pages: int, n_batches: int, recrawled: int, new: int
) -> RecrawlPlan:
    """Each batch re-crawls ``recrawled`` urls sampled (without replacement
    inside the batch) from the seeded ledger and adds ``new`` urls nobody
    has crawled yet.  New urls never repeat across batches."""
    rng = random.Random(seed * 7919 + 1)
    ledger = list(range(_LEDGER_BASE, _LEDGER_BASE + ledger_pages))
    batches = []
    for b in range(n_batches):
        old = sorted(rng.sample(ledger, recrawled))
        start = _NEW_BASE + b * new
        batches.append((old, list(range(start, start + new))))
    return RecrawlPlan(ledger=ledger, batches=batches)


# ---------------------------------------------------------------------------
# curation corpus
# ---------------------------------------------------------------------------

_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
_VOCAB = (
    "river mountain garden window letter market winter summer planet silver "
    "harbor engine forest canvas bridge candle meadow lantern orchard pepper "
    "ribbon saddle thunder velvet walnut anchor basket copper dragon falcon "
    "glacier hammer island jacket kettle ladder magnet needle oyster pillow "
    "quartz rocket shadow timber violin wagon yellow zephyr account balance "
    "captain desert eleven fabric gentle hollow insect jungle kitchen lemon "
    "mirror notice option parcel quiet random signal travel useful vessel"
).split()
# shared by every document: corpus-frequent, so line dedup removes it
BOILERPLATE_LINE = "share this story with your friends and subscribe for more"


def _good_line(rng: random.Random) -> str:
    return " ".join(
        rng.choice(_STOPWORDS) if rng.random() < 0.25 else rng.choice(_VOCAB)
        for _ in range(rng.randint(14, 22))
    )


def _good_text(rng: random.Random) -> str:
    lines = [_good_line(rng) for _ in range(rng.randint(4, 6))]
    # two distinct stopwords in every good text, so the Gopher stopword
    # floor (2 at the defaults) passes by construction, not by chance
    lines[0] = f"the {lines[0]} of"
    return "\n".join(lines + [BOILERPLATE_LINE])


def _bad_text(rng: random.Random, kind: int) -> str:
    """Texts that fail a Gopher rule at the curate defaults."""
    if kind == 0:  # fewer than min_words
        return " ".join(rng.choice(_VOCAB) for _ in range(rng.randint(5, 12)))
    if kind == 1:  # no stopword at all
        return "\n".join(
            " ".join(rng.choice(_VOCAB) for _ in range(18)) for _ in range(4)
        )
    # every other word a '#' tag: the symbol/word ratio is far above 0.1
    return "\n".join(
        " ".join(
            f"#{rng.choice(_VOCAB)}" if j % 2 else rng.choice(_STOPWORDS)
            for j in range(18)
        )
        for _ in range(4)
    )


def _near_copy(text: str) -> str:
    """Replace one word in the middle of the text: 3 of the >= 58 word
    3-shingles change, so the true Jaccard similarity stays above 0.9."""
    lines = text.split("\n")
    words = lines[len(lines) // 2].split(" ")
    mid = len(words) // 2
    words[mid] = "zephyr" if words[mid] != "zephyr" else "quartz"
    lines[len(lines) // 2] = " ".join(words)
    return "\n".join(lines)


DOCS_ARROW = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


@dataclass(frozen=True)
class CurationCorpus:
    rows: list[tuple[int, str]]
    n_bad: int
    n_exact: int
    n_near: int

    def expected(self) -> dict:
        """Survivor counts a correct ``curate_corpus`` must report.

        Derived from how the corpus was planted, not from the program: bad
        texts fail the quality gate; the shared boilerplate line is the only
        corpus-frequent line and every good text keeps >= 56 words without
        it; each exact copy repeats one distinct original; each near copy
        differs from a distinct original in one word.  MinHash estimates
        are probabilistic, so near dedup gets a bound: at least 90% of the
        planted near copies and never more than were planted."""
        n = len(self.rows)
        quality = n - self.n_bad
        return {
            "n_input": n,
            "n_after_quality": quality,
            "n_after_line_dedup": quality,
            "n_after_exact_dedup": quality - self.n_exact,
            "near_drops_min": -(-9 * self.n_near // 10),
            "near_drops_max": self.n_near,
        }

    def write(self, table: str, files: int) -> None:
        """The texts as ``files`` parquet files of (doc_id, text)."""
        os.makedirs(table)
        step = -(-len(self.rows) // files)
        for k in range(files):
            ids, texts = zip(*self.rows[k * step:(k + 1) * step])
            pq.write_table(
                pa.table({"doc_id": ids, "text": texts}, schema=DOCS_ARROW),
                os.path.join(table, f"part-{k:05d}.parquet"),
            )


def curation_corpus(seed: int, n_docs: int) -> CurationCorpus:
    """``n_docs`` texts: 1/8 fail the Gopher rules (so 7/8 pass), 1/16 are
    exact copies and 1/16 near copies of distinct good originals, the rest
    unique good texts.  Ids are shuffled so copies do not sit next to their
    originals."""
    rng = random.Random(seed * 104729 + 3)
    n_bad = n_docs // 8
    n_exact = n_docs // 16
    n_near = n_docs // 16
    n_orig = n_docs - n_bad - n_exact - n_near
    originals = [_good_text(rng) for _ in range(n_orig)]
    picks = rng.sample(range(n_orig), n_exact + n_near)
    texts = list(originals)
    texts += [originals[i] for i in picks[:n_exact]]
    texts += [_near_copy(originals[i]) for i in picks[n_exact:]]
    texts += [_bad_text(rng, k % 3) for k in range(n_bad)]
    ids = list(range(len(texts)))
    rng.shuffle(ids)
    return CurationCorpus(
        rows=sorted(zip(ids, texts)), n_bad=n_bad, n_exact=n_exact, n_near=n_near
    )
