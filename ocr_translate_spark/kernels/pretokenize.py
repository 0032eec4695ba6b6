"""Text normalization / pre-tokenization kernel.

Semantics-parity reimplementation of the reference's ``TSLModel.pre_tokenize``
(ref: ocr_translate/models/tsl.py:90-186), written against its committed
golden outputs (ref: tests/test_models/test_tsl_pre_tokenize_*.yml).  The
pipeline stages, in order:

F1  allowed_start_end edge strip   (ref tsl.py:124-144)
F2  dash-newline restore           (ref tsl.py:145-146)
F3  ignore_chars strip             (ref tsl.py:147-148)
F4  newline policy                 (ref tsl.py:149-154)
F6  missing-space restore via trie (ref tsl.py:156-174)
F5  break-char tokenize            (ref tsl.py:176-186)

``operators/normalize.pre_tokenize_udf`` runs this kernel inside a pandas
UDF, because trie-based repair (F6) is not SQL-expressible; it is also the
oracle for the golden tests.
"""

from __future__ import annotations

import re

from .trie import Trie


def _coerce_bool(value) -> bool:
    """Option values may arrive as strings ('true'/'True'), per
    ref tsl.py:117-122."""
    if isinstance(value, str):
        return value.lower() == "true"
    return bool(value)


def strip_edge_garbage(text: str, allowed_start_end: str) -> str:
    """F1: per line, drop leading/trailing runs of characters outside the
    allowed charset (OCR noise at bubble edges, ref tsl.py:124-144)."""
    rgx_start = re.compile(
        "(?x)"
        rf"^[^{allowed_start_end}]+\S?(?= )"
        "|"
        rf"^\S[^{allowed_start_end}]+(?= )"
    )
    rgx_end = re.compile(
        "(?x)"
        rf"(?<= )\S?[^{allowed_start_end}]+$"
        "|"
        rf"(?<= )[^{allowed_start_end}]+\S$"
    )
    lines = []
    for line in text.split("\n"):
        line = rgx_start.sub("", line)
        line = rgx_end.sub("", line)
        lines.append(line)
    return "\n".join(lines)


_DASH_NEWLINE = re.compile(r"(?<!\n)- *\n")


def restore_dash_newlines(text: str) -> str:
    """F2: rejoin words hyphen-split across a line break (ref tsl.py:145-146)."""
    return _DASH_NEWLINE.sub("", text)


def restore_missing_spaces(text: str, trie: Trie) -> str:
    """F6: re-insert spaces between concatenated dictionary words.

    Each space-separated chunk not found in the trie is decomposed into
    candidate word sequences; candidates are scored ``sum(freq)/len**4``
    and the best is kept (ref tsl.py:156-174).  Golden case:
    ``applepie -> apple pie`` (ref tests/test_models.py:481-489).
    """
    candidates: list[list[list[str]]] = []
    for chunk in text.lower().split(" "):
        if not trie.search(chunk, strict=False):
            decomposed = trie.decompose(chunk, min_length=1)
            candidates.append(decomposed if decomposed else [[chunk]])
        else:
            candidates.append([[chunk]])

    def score(words: list[str]) -> float:
        return sum(trie.get_freq(w) for w in words) / len(words) ** 4.0

    best = [" ".join(max(options, key=score)) for options in candidates if options]
    return " ".join(best)


def pre_tokenize(
    text: str,
    ignore_chars: str | None = None,
    break_chars: str | None = None,
    allowed_start_end: str | None = None,
    break_newlines: bool = False,
    restore_missing_spaces_opt: bool = False,
    restore_dash_newlines_opt: bool = False,
    trie: Trie | None = None,
    **_ignored,
) -> list[str]:
    """Normalize ``text`` and split it into tokens (ref tsl.py:90-186).

    Returns at least one token; an empty result collapses to ``[' ']``
    (ref tsl.py:186).
    """
    break_newlines = _coerce_bool(break_newlines)
    do_spaces = _coerce_bool(restore_missing_spaces_opt)
    do_dash = _coerce_bool(restore_dash_newlines_opt)

    if allowed_start_end is not None:
        text = strip_edge_garbage(text, allowed_start_end)
    if do_dash:
        text = restore_dash_newlines(text)
    if ignore_chars:
        text = re.sub(f"[{ignore_chars}]+", "", text)

    if break_chars is None:
        break_chars = ""
    if break_newlines:
        break_chars += "\n"
    else:
        text = text.replace("\n", " ")

    if do_spaces and trie is not None:
        text = restore_missing_spaces(text, trie)

    if break_chars:
        # NOTE: the reference splits on `[<escaped breaks>+]` — the '+' is
        # *inside* the character class (ref tsl.py:179), so literal '+' also
        # breaks. Preserved for golden parity.
        tokens = re.split(f"[{re.escape(break_chars)}+]", text)
    else:
        tokens = [text]

    out = [t for t in tokens if t]
    return out if out else [" "]


# Option-name adapter: accept the reference's public option keys
# (ref tsl.py:96-98) so stored option dicts work unchanged.
def pre_tokenize_options(text: str, options: dict, trie: Trie | None = None) -> list[str]:
    """pre_tokenize with a reference-style options dict."""
    return pre_tokenize(
        text,
        ignore_chars=options.get("ignore_chars"),
        break_chars=options.get("break_chars"),
        allowed_start_end=options.get("allowed_start_end"),
        break_newlines=options.get("break_newlines", False),
        restore_missing_spaces_opt=options.get("restore_missing_spaces", False),
        restore_dash_newlines_opt=options.get("restore_dash_newlines", False),
        trie=trie,
    )
