"""Ingest operators: base64 payload decode + content-address verification,
and language-code dimension lookup.

The reference ingests base64 image bodies per request, decodes them and
verifies the client-supplied md5 against the wire bytes
(ref views.py:264-268, F10/S2); language codes resolve through a
model-specific ``iso1_map`` JSON else the attribute itself
(ref models/base.py:326-330, J8).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# iso1 -> iso3 fallback map, the shape of the reference's language
# dimension (ref ocr_tsl/languages.json / models/base.py:72-89)
DEFAULT_ISO1_MAP = {
    "en": "eng", "de": "deu", "fr": "fra", "es": "spa",
    "ja": "jpn", "zh": "zho", "ko": "kor", "lo": "lao", "my": "mya",
}


def decode_and_verify(
    df: DataFrame, b64_col: str, md5_col: str
) -> DataFrame:
    """F10+S2: ``unbase64`` the payload, recompute md5, flag mismatches.

    Mirrors the reference's integrity check: the hash is computed on
    exactly the decoded wire bytes (ref views.py:266-268)."""
    raw = F.unbase64(F.col(b64_col))
    return (
        df.withColumn("payload", raw)
        .withColumn("payload_md5", F.md5(raw))
        .withColumn("md5_ok", F.col("payload_md5") == F.lower(F.col(md5_col)))
    )


def lang_code(lang: Column, iso1_map: dict[str, str] | None = None) -> Column:
    """J8: map iso1 through the model's code map, falling back to the
    input code itself (ref models/base.py:326-330).

    The map is a broadcast literal — ``element_at`` on a map literal stays
    inside whole-stage codegen, no join, no UDF."""
    m = iso1_map or DEFAULT_ISO1_MAP
    pairs: list[Column] = []
    for k, v in m.items():
        pairs.append(F.lit(k))
        pairs.append(F.lit(v))
    map_lit = F.create_map(*pairs)
    return F.coalesce(F.element_at(map_lit, lang), lang)
