"""Incremental HTML tag tokenizer + main-content block extraction.

This is the batch analog of the reference's segmentation + per-region
extraction + reading-order assembly (ref: ocr_translate/models/box.py:76-99
``_box_detection`` contract, ocr.py:149-171 ``_ocr`` contract, ocr.py:68-147
merge) re-expressed over HTML byte streams: the *merged block* becomes a DOM
text block, the *single components* become the text runs inside it, and the
assembly order is document order.

Design constraints (BASELINE.json north_star):
* incremental tokenizer — a single forward pass over the byte stream, no
  full-DOM tree is materialized; state is O(depth);
* deterministic — identical bytes always yield identical text and spans,
  independent of batch boundaries (state is per-document);
* boilerplate classification by text-density / link-density heuristics in
  the style of Boilerpipe (Kohlschütter et al., WSDM 2010) and
  readability.js, with container-tag priors.

Whitespace/entity discipline (matters for byte-identical goldens):
raw inter-tag text is whitespace-collapsed *before* HTML entities are
decoded, so numeric entities like ``&#32;`` survive collapsing the same way
``&nbsp;`` does in browsers; ``<br>`` contributes a hard newline.
"""

from __future__ import annotations

import html as _htmlmod
import re
from dataclasses import dataclass, field

# Tags that delimit text blocks (flush the current block on open and close).
BLOCK_TAGS = frozenset(
    """html head body p div article section main nav header footer aside
    h1 h2 h3 h4 h5 h6 ul ol li table thead tbody tr td th blockquote pre
    figure figcaption title form fieldset hr dl dt dd address""".split()
)
# Content inside these is skipped entirely.
SKIP_CONTENT_TAGS = frozenset("script style noscript svg template textarea iframe".split())
# Container priors.
NEGATIVE_CONTAINERS = frozenset("nav header footer aside form".split())
POSITIVE_CONTAINERS = frozenset("article main".split())

# Heuristic thresholds (Boilerpipe-style NumWords/LinkDensity classifier).
MAX_LINK_DENSITY_POSITIVE = 0.66  # inside <article>/<main>
MAX_LINK_DENSITY_DEFAULT = 0.33
MIN_CONTENT_CHARS = 25

_TAG_NAME_RE = re.compile(r"[a-zA-Z][a-zA-Z0-9:-]*")
_WS_COLLAPSE_RE = re.compile(r"[ \t\r\f\v]+")
# raw tag -> lowered name, shared across documents (tag vocab is tiny)
_TAG_NAME_CACHE: dict[str, str] = {}

# Close-tag patterns for the SKIP_CONTENT_TAGS scan, searched on the RAW
# buffer.  str.lower() is NOT length-preserving (U+0130 'İ' -> 'i̇' is 2
# code points), so indexes found in a .lower()ed copy would be shifted
# offsets into the original buffer; a full-buffer translate is
# length-safe but costs ~30% of kernel time.  re.IGNORECASE|re.ASCII
# restricts case folding to ASCII (tag names are ASCII by grammar,
# _TAG_NAME_RE), giving byte-identical match semantics to an
# ASCII-lowered find with zero buffer copies.  Populated lazily per tag.
_SKIP_CLOSE_RES: dict[str, "re.Pattern[str]"] = {}


@dataclass
class ExtractResult:
    """Extraction output for one page."""

    text: str
    spans: list[tuple[int, int]]  # offsets into ``text`` per kept block
    n_blocks: int  # total blocks seen (kept + boilerplate)
    n_kept: int
    title: str
    scores: list[float] = field(default_factory=list)


def _finalize_text(parts: list[str]) -> str:
    """Collapse whitespace, then decode entities (see module docstring)."""
    raw = "".join(parts)
    # fast path: nothing to collapse (the overwhelmingly common case)
    if "  " in raw or "\t" in raw or "\r" in raw or "\f" in raw or "\v" in raw:
        collapsed = _WS_COLLAPSE_RE.sub(" ", raw)
    else:
        collapsed = raw
    if "\n" in collapsed:
        out = "\n".join(ln.strip(" ") for ln in collapsed.split("\n")).strip("\n")
    else:
        out = collapsed.strip(" ")
    # unescape is regex-driven and hot; skip when no entity can exist
    return _htmlmod.unescape(out) if "&" in out else out


_HEADING_TAGS = frozenset(("h1", "h2", "h3", "h4", "h5", "h6"))


def extract_html(
    data: bytes,
    max_link_density: float = MAX_LINK_DENSITY_DEFAULT,
    min_content_chars: int = MIN_CONTENT_CHARS,
) -> ExtractResult:
    """Extract main-content text + block spans from one HTML byte buffer.

    The tag scan is fused into this function (a prior version yielded
    ('text'|'open'|'close', ...) tuples from a generator; the tuple/yield
    machinery alone was ~1/3 of kernel time at ~220 tokens/page), the
    buffer is decoded ONCE up front ('<' = 0x3C can never occur inside a
    UTF-8 multibyte sequence, so whole-buffer decode ≡ per-segment decode
    on valid input and the ~50 per-page segment decodes collapse to one),
    and blocks are classified inline at flush time (no per-block object,
    no second pass).  Golden tests pin the output byte-identically across
    the rewrites.
    """
    parts: list[str] = []
    link_chars = 0
    raw_chars = 0
    n_tags = 0
    pos_depth = 0
    neg_depth = 0
    link_depth = 0
    head_depth = 0
    title_depth = 0
    title_parts: list[str] = []
    heading = False
    kept_texts: list[str] = []
    spans: list[tuple[int, int]] = []
    scores: list[float] = []
    offset = 0
    n_blocks = 0
    n_kept = 0

    def flush():
        # classify the finished block (thresholds come from ExtractOptions,
        # ref models/base.py:49-54): the score is a smooth content-ness
        # signal for lineage, the keep decision is the hard classifier
        nonlocal parts, link_chars, raw_chars, n_tags
        nonlocal offset, n_blocks, n_kept
        text = _finalize_text(parts)
        if text:
            n_blocks += 1
            tl = len(text)
            ld = (link_chars if link_chars < tl else tl) / tl
            td = tl / (n_tags + 1) / 10.0
            score = (td if td < 1.0 else 1.0) * (1.0 - ld)
            if neg_depth > 0:
                keep = False
            elif pos_depth > 0:
                keep = ld <= MAX_LINK_DENSITY_POSITIVE
            elif heading:
                keep = ld == 0.0 and tl >= min_content_chars
            else:
                keep = ld <= max_link_density and tl >= min_content_chars
            if keep:
                if kept_texts:
                    offset += 1  # the '\n' joiner
                kept_texts.append(text)
                spans.append((offset, offset + tl))
                scores.append(score)
                offset += tl
                n_kept += 1
        parts, link_chars, raw_chars, n_tags = [], 0, 0, 0

    buf = data.decode("utf-8", "replace")
    n = len(buf)
    pos = 0
    names = _TAG_NAME_CACHE
    tag_match = _TAG_NAME_RE.match
    find = buf.find

    while pos < n:
        lt = find("<", pos)
        # ---- text segment before the tag (or the tail) ----
        if lt != pos:
            txt = buf[pos:] if lt < 0 else buf[pos:lt]
            if title_depth > 0:
                title_parts.append(txt)
            elif head_depth == 0:
                stripped_len = len(txt.strip())
                if stripped_len or parts:
                    parts.append(txt)
                    raw_chars += stripped_len
                    if link_depth > 0:
                        link_chars += stripped_len
            if lt < 0:
                pos = n
                break
        # ---- tag ----
        c = buf[lt + 1] if lt + 1 < n else ""
        if c == "!":  # comment or doctype
            if buf.startswith("<!--", lt):
                end = find("-->", lt + 4)
                pos = n if end < 0 else end + 3
            else:
                end = find(">", lt)
                pos = n if end < 0 else end + 1
            continue
        if c == "?":  # processing instruction
            end = find(">", lt)
            pos = n if end < 0 else end + 1
            continue
        closing = c == "/"
        m = tag_match(buf, lt + (2 if closing else 1))
        if not m:
            # stray '<' — treat it as text
            if title_depth > 0:
                title_parts.append("<")
            elif head_depth == 0:
                parts.append("<")
                raw_chars += 1
                if link_depth > 0:
                    link_chars += 1
            pos = lt + 1
            continue
        raw = m.group(0)
        name = names.get(raw)
        if name is None:
            name = raw.lower()
            if len(names) < 4096:
                names[raw] = name
        end = find(">", m.end())
        if end < 0:
            pos = n
            break
        pos = end + 1
        if not closing:
            if name == "br":
                parts.append("\n")
                continue
            selfclosing = buf[end - 1] == "/"
            if name in BLOCK_TAGS:
                if raw_chars or parts:
                    flush()
                else:
                    link_chars = n_tags = 0
                heading = name in _HEADING_TAGS
                if not selfclosing:
                    if name in POSITIVE_CONTAINERS:
                        pos_depth += 1
                    elif name in NEGATIVE_CONTAINERS:
                        neg_depth += 1
                    elif name == "head":
                        head_depth += 1
                    elif name == "title":
                        title_depth += 1
            else:
                n_tags += 1
                if name == "a" and not selfclosing:
                    link_depth += 1
                if name in SKIP_CONTENT_TAGS and not selfclosing:
                    pat = _SKIP_CLOSE_RES.get(name)
                    if pat is None:
                        pat = re.compile(
                            re.escape("</" + name + ">"),
                            re.IGNORECASE | re.ASCII,
                        )
                        _SKIP_CLOSE_RES[name] = pat
                    m_close = pat.search(buf, pos)
                    pos = n if m_close is None else m_close.end()
        else:  # close
            if name in BLOCK_TAGS:
                if raw_chars or parts:
                    flush()
                else:
                    link_chars = n_tags = 0
                if name in POSITIVE_CONTAINERS:
                    pos_depth = max(0, pos_depth - 1)
                elif name in NEGATIVE_CONTAINERS:
                    neg_depth = max(0, neg_depth - 1)
                elif name == "head":
                    head_depth = max(0, head_depth - 1)
                elif name == "title":
                    title_depth = max(0, title_depth - 1)
                heading = False
            elif name == "a":
                link_depth = max(0, link_depth - 1)
    if raw_chars or parts:
        flush()

    return ExtractResult(
        text="\n".join(kept_texts),
        spans=spans,
        n_blocks=n_blocks,
        n_kept=n_kept,
        title=_finalize_text(title_parts),
        scores=scores,
    )


# ---------------------------------------------------------------- wrapping

def escape_for_html(text: str) -> str:
    """Escape plain text so that ``extract_html`` round-trips it exactly
    (property-fuzzed in tests/test_fuzz.py).

    Contract: any text free of HTML-unrepresentable control characters
    (C0 except ``\\t \\n \\f \\r``, DEL, C1) — those cannot appear in HTML
    text content at all (their numeric character references are parse
    errors the HTML5 spec drops or remaps).

    Mechanics: interior '\\n' becomes ``<br>``; leading/trailing newlines
    become ``&#10;`` (a bare edge ``<br>`` would be stripped as an empty
    block edge); ``\\t \\r \\f`` become numeric entities (the extractor
    collapses literal whitespace BEFORE decoding entities); runs of 2+
    spaces and line-edge spaces are protected with ``&#32;``; a line made
    entirely of strippable whitespace (e.g. ``\\xa0``, ``\\u2028``) gets
    its first char entity-encoded so token gating cannot drop it.
    """
    out = (
        text.replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace("\t", "&#9;")
        .replace("\r", "&#13;")
        .replace("\f", "&#12;")
    )
    lead = len(out) - len(out.lstrip("\n"))
    core = out[lead:].rstrip("\n")
    trail = len(out) - lead - len(core)

    def _protect(m: re.Match) -> str:
        s = m.group(0)
        return " " + "&#32;" * (len(s) - 1) if len(s) > 1 else s

    core = re.sub(r" {2,}", _protect, core)
    lines = []
    for ln in core.split("\n"):
        if ln and ln.strip() == "":
            # entity-encode EVERY char: a literal trailing space would be
            # stripped by _finalize_text, and a literal-only line would be
            # dropped by token gating
            ln = "".join(f"&#{ord(c)};" for c in ln)
        else:
            if ln.startswith(" "):
                ln = "&#32;" + ln[1:]
            if ln.endswith(" "):
                ln = ln[:-1] + "&#32;"
        lines.append(ln)
    return "&#10;" * lead + "<br>".join(lines) + "&#10;" * trail
