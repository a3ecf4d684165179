"""Mojibake repair — recover text that went through the classic
double-encoding accident: UTF-8 bytes mis-decoded as Latin-1/cp1252 and
re-emitted as UTF-8 ("café" → "cafÃ©", "’" → "â€™"). Crawled webtext is
full of this (bad Content-Type headers, legacy CMSes), and it poisons
everything downstream: dedup misses true duplicates, language ID
misfires on the junk bytes, and tokenizers shred "â€™" into three
tokens. The reference app never faces this because the OpenAI vision
API reads pixels, not bytes (openai_content_extractor.py); a
byte-level pipeline must repair it explicitly.

Spark-first design — the whole repair is JVM/codegen, no Python in the
hot path:

1. reverse the cp1252 quirk: the 27 printable cp1252 codepoints that
   shadow the 0x80-0x9F control range (€ ‚ ƒ „ … ‘ ’ “ ” etc.) are
   mapped back to their byte-value codepoints with one ``translate``;
2. ``encode(_, 'ISO-8859-1')`` reconstructs the original byte stream
   (guarded by a ``rlike`` that every char is ≤ U+00FF, so the encode
   is lossless);
3. ``is_valid_utf8`` decides whether those bytes parse as UTF-8 — the
   safety latch that keeps genuine Latin-1 text ("café" has no valid
   continuation byte after 0xE9) untouched;
4. ``decode(_, 'UTF-8')`` inside the guarded CASE branch yields the
   repaired string.

A row is repaired only when the byte reconstruction is lossless AND
valid UTF-8 AND actually differs from the input; everything else —
clean ASCII, genuine Latin-1/Unicode, NULL — passes through verbatim
with ``flag_col`` false. Single-pass: doubly-corrupted text repairs one
layer per call (compose twice if a crawl source is known to be
double-mangled).

``corrupt_utf8_as_cp1252`` is the exact forward transform (UTF-8 bytes
read as cp1252), used by tests and the driver oracle to prove the
repair is a byte-identical inverse on real corpus text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The 27 cp1252 codepoints that occupy the 0x80-0x9F byte range
# (0x81/0x8D/0x8F/0x90/0x9D are undefined and stay as C1 controls).
# Built from the codec itself so the table can't drift from reality.
_CP1252_PRINTABLE = ""
_C1_CONTROLS = ""
for _b in range(0x80, 0xA0):
    try:
        _CP1252_PRINTABLE += bytes([_b]).decode("cp1252")
    except UnicodeDecodeError:
        continue
    _C1_CONTROLS += chr(_b)

# Every char ≤ U+00FF ⇔ encode(_, 'ISO-8859-1') is lossless.
_LATIN1_ONLY = "^[\\x00-\\xff]*$"


def fix_mojibake(df: DataFrame, text_col: str = "text",
                 out_col: str | None = None,
                 flag_col: str = "mojibake_fixed") -> DataFrame:
    """Append (or replace) ``out_col`` with the mojibake-repaired text
    and ``flag_col`` with whether a repair was applied. NULL passes
    through with a false flag."""
    t = F.col(text_col)
    translated = F.translate(t, _CP1252_PRINTABLE, _C1_CONTROLS)
    raw = F.encode(translated, "ISO-8859-1")
    # Guarded CASE: decode() only evaluates when the bytes are provably
    # valid UTF-8, so ANSI-mode decode can never raise.
    # the ≤U+00FF check runs AFTER the cp1252 un-shadowing: € ’ ™ etc.
    # sit above U+00FF in the mangled text but map back into 0x80-0x9F
    repairable = translated.rlike(_LATIN1_ONLY) & F.is_valid_utf8(raw)
    repaired = F.when(repairable, F.decode(raw, "UTF-8")).otherwise(t)
    fixed = F.coalesce(repaired != t, F.lit(False))
    # one projection: both columns must see the ORIGINAL text_col (a
    # second withColumn would re-resolve text_col to the repaired value
    # when out_col is None and the flag would always read false)
    return df.withColumns({out_col or text_col: repaired, flag_col: fixed})


def corrupt_utf8_as_cp1252(df: DataFrame, text_col: str = "text",
                           out_col: str | None = None) -> DataFrame:
    """Forward transform: what ``text_col`` looks like after its UTF-8
    bytes are mis-read as cp1252 (the mojibake this module repairs).
    Used by tests/oracles to verify ``fix_mojibake`` is a byte-exact
    inverse; also useful to synthesize hostile fixtures."""
    t = F.col(text_col)
    mis = F.decode(F.encode(t, "UTF-8"), "ISO-8859-1")
    return df.withColumn(
        out_col or text_col,
        F.translate(mis, _C1_CONTROLS, _CP1252_PRINTABLE))
