"""Unicode NFC normalization — canonicalize text before dedup,
fingerprinting, and tokenization. Crawled text mixes precomposed and
decomposed forms of the same characters (U+00E9 vs e+U+0301): without
canonical composition, byte-level dedup misses true duplicates and
token counts drift. NFC is the W3C-recommended interchange form.

Spark has no normalization builtin, so this is legitimate-UDF
territory: an Arrow UDF (``F.arrow_udf``) over ``unicodedata.normalize``
(C implementation under the hood, with an ASCII fast path — NFC over
pure-ASCII is the identity, and ``str.isascii`` is a cheap C check
that skips the normalizer for the common case). The DuckDB oracle twin
is the built-in ``nfc_normalize``, making this one of the few places
the engines' UNICODE behavior itself is cross-checked.

The UDF is constructed lazily inside ``normalize_text``:
``arrow_udf`` resolves its DDL return type against the active session,
so a module-level decorator would make importing this module require a
running SparkSession (breaks pytest collection, spark-submit zip
imports, and any driver that imports before building the session)."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _norm_batch(texts):
    import unicodedata

    return pa.array([s if s is None or s.isascii()
                     else unicodedata.normalize("NFC", s)
                     for s in texts.to_pylist()], pa.string())


def normalize_text(df: DataFrame, text_col: str = "text",
                   out_col: str | None = None) -> DataFrame:
    """Append (or replace) ``out_col`` with the NFC normalization of
    ``text_col``. NULL passes through; a string that is not valid UTF-8
    is normalized after ``make_valid_utf8`` (pyarrow's string
    conversion would fail the task on it)."""
    udf = F.arrow_udf(_norm_batch, "string")
    return df.withColumn(out_col or text_col,
                         udf(F.make_valid_utf8(text_col)))


def dehyphenate(df: DataFrame, text_col: str = "text",
                out_col: str | None = None) -> DataFrame:
    """Repair typographic line-wrap hyphenation in extracted PDF/print
    text — 'exam-\\nple' → 'example'. Layout engines break words at
    line ends with a hyphen the author never wrote (the reference's
    per-page PDF text inherits them verbatim, pdf_processor.py — it
    ships each page image to GPT-4V, which re-joins words invisibly;
    the deterministic replacement needs the rule stated):

    1. lowercase-letter '-' newline lowercase-letter → join bare
       (the canonical soft wrap; the hyphen was typographic);
    2. any remaining '-' newline → keep the hyphen, drop the break
       ('Wall-\\nStreet' → 'Wall-Street': before a capital the hyphen
       is plausibly lexical, so only the wrap is repaired);
    3. real intra-word hyphens without a break ('state-of-the-art')
       are untouched.

    Entirely JVM ``regexp_replace`` (two passes, codegen'd, narrow —
    zero shuffle at any scale); ``\\p{Ll}`` so accented lowercase
    joins too. NULL passes through. The DuckDB twin uses the same
    RE2-compatible classes, so the repair has an exact cross-engine
    oracle."""
    c = F.col(text_col)
    c = F.regexp_replace(c, r"(\p{Ll})-\n(\p{Ll})", r"$1$2")
    c = F.regexp_replace(c, r"-\n", "-")
    return df.withColumn(out_col or text_col, c)


#: single-char typographic -> ASCII map (one translate pass): curly and
#: low-9 quotes, primes, en/em/minus dashes, NBSP + thin/narrow spaces
_TYPO_FROM = ("\u2018\u2019\u201a\u201b\u201c\u201d\u201e\u201f"
              "\u2032\u2033\u2013\u2014\u2212\u00a0\u2009\u202f")
_TYPO_TO = "'" * 4 + '"' * 4 + "'" + '"' + "---" + "   "
#: zero-width characters and the BOM - deleted outright
_ZW_RE = "[\u200b\u200c\u200d\u2060\ufeff]"
#: C0 controls except tab/LF, DEL, and C1 controls - crawl junk
_CTRL_RE = "[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]"


def normalize_web_text(df: DataFrame, text_col: str = "text",
                       out_col: str | None = None) -> DataFrame:
    """The ftfy-lite cleanup every web corpus runs before tokenization
    (complements ``fix_mojibake``, which repairs ENCODING accidents -
    this repairs TYPOGRAPHY and control junk):

    1. CRLF / lone CR -> LF;
    2. ellipsis char -> '...';
    3. one ``translate`` pass: curly quotes -> ASCII quotes, en/em/minus
       dashes -> '-', NBSP + thin spaces -> space;
    4. zero-width chars + BOM deleted; C0 (except tab/LF), DEL, C1
       controls deleted;
    5. space/tab runs -> one space; 3+ blank lines -> one blank line;
       edges trimmed.

    Why it matters downstream: the whitespace tokenizer counts
    NBSP-joined words as ONE token, fingerprints differ on quote style,
    and zero-widths silently split dedup groups. All JVM (translate +
    regexp_replace chain, whole-stage codegen, zero shuffle); exact
    DuckDB twin; NULL passes through."""
    c = F.col(text_col)
    c = F.regexp_replace(c, "\r\n", "\n")
    c = F.regexp_replace(c, "\r", "\n")
    c = F.regexp_replace(c, "\u2026", "...")
    c = F.translate(c, _TYPO_FROM, _TYPO_TO)
    c = F.regexp_replace(c, _ZW_RE, "")
    c = F.regexp_replace(c, _CTRL_RE, "")
    c = F.regexp_replace(c, "[ \t]+", " ")
    c = F.regexp_replace(c, "\n{3,}", "\n\n")
    # btrim with an explicit set: F.trim strips ASCII space only, and
    # a leading/trailing newline must go too
    return df.withColumn(out_col or text_col, F.btrim(c, F.lit(" \n")))
