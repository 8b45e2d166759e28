"""Text repair for web-crawl corpora (the ftfy-shaped curation stage):
mojibake (UTF-8 bytes mis-decoded as cp1252/latin-1 — the single most
common real-web corruption), unicode normalization, and control-char
stripping. Every production pipeline runs a fix-text pass before
tokenization (ftfy is the standard tool; this is the same core
heuristic from first principles).

Mojibake repair is gated THREE ways so legitimate text is never
touched: (1) the text must show a telltale UTF-8-lead-byte character
(Ã, Â, â, Î, Ð, ...) — plain ASCII and clean text skip the attempt
entirely; (2) re-encoding to cp1252 must succeed strictly (text that
was never cp1252-decoded can't round-trip); (3) the re-decoded bytes
must be STRICT valid UTF-8 (random accented text fails this — e.g.
"MAÇÃO" encodes to a C7 lead byte with no continuation). Repair
iterates to fix double-encoding, bounded at 3 rounds.

Scale shape: scan-local Arrow-batched pandas UDF (unicodedata has no
JVM twin); the telltale pre-filter makes the common clean-text case a
single regex scan per row.
"""

from __future__ import annotations

import re
import unicodedata
from typing import Optional

import pandas as pd
from pyspark.sql.pandas.functions import pandas_udf

# UTF-8 lead bytes decode (in cp1252/latin-1) to these characters; a
# mojibake'd text must contain at least one (0xC2-0xC3 cover all Latin-1
# supplement chars; 0xC4-0xDF other 2-byte leads; 0xE0-0xEF 3-byte).
_TELLTALE = re.compile(
    "[ÂÃÄÅÆÇÈÉÊË"
    "ÌÍÎÏÐÑÒÓÔÕ"
    "ÖØÙÚÛÜÝÞß"
    "àáâãäåæçèé"
    "êëìíîï]"
)

_CONTROL = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]")


def repair_mojibake_str(s: str, max_rounds: int = 3) -> str:
    """Pure-Python single-string repair (the UDF's per-row body and the
    test oracle)."""
    for _ in range(max_rounds):
        if not _TELLTALE.search(s):
            return s
        try:
            raw = s.encode("cp1252")
        except UnicodeEncodeError:
            try:  # chars only latin-1 has (cp1252's 0x81 0x8D ... gaps)
                raw = s.encode("latin-1")
            except UnicodeEncodeError:
                return s
        try:
            fixed = raw.decode("utf-8")
        except UnicodeDecodeError:
            return s
        if fixed == s:
            return s
        s = fixed
    return s


def fix_text_str(
    s: Optional[str], form: Optional[str] = "NFC"
) -> Optional[str]:
    if s is None:
        return None
    s = repair_mojibake_str(s)
    if form:
        s = unicodedata.normalize(form, s)
    return _CONTROL.sub("", s)


def fix_text_udf(form: Optional[str] = "NFC"):
    """Arrow-batched (mojibake repair -> unicode normalize -> control
    strip) column: `df.withColumn("text", fix_text_udf()("text"))`."""

    @pandas_udf("string")
    def _fix(text: pd.Series) -> pd.Series:
        return pd.Series([fix_text_str(t, form) for t in text])

    return _fix
