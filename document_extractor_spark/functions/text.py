"""Column-expression library for text analytics — pure
``pyspark.sql.functions`` compositions (JVM-side, whole-stage codegen).

Nothing here crosses into Python at runtime: these are the building
blocks for the dedup / quality / fingerprint operators, and each has an
exactly-matching ANSI-SQL twin in ``__spark_entry__.oracle_sql`` so the
DuckDB oracle can verify values 1:1.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def tokens(col) -> Column:
    """Whitespace tokens of trimmed text. Empty / whitespace-only text
    yields an EMPTY array (a bare split would give ``['']`` and make
    ``token_count('') == 1``); trimming guarantees no other empty pieces,
    so the filter only ever drops that degenerate token.
    Oracle twin:
    ``list_filter(regexp_split_to_array(trim(col), '\\s+'), t -> t <> '')``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != F.lit(""))


def token_count(col) -> Column:
    return F.size(tokens(col))


def exploded_tokens(df, id_col: str, text_col: str, extra: tuple = ()):
    """``(id, *extra, tok)`` rows: lowercased whitespace tokens, staged
    before the explode per the repo HOF/explode rule, NULLs dropped.
    THE shared scaffold for every token-level relational operator
    (inverted index, tf-idf, Naive Bayes, top-terms twins) so the
    tokenizer contract the oracle SQL depends on lives in one place.
    Oracle twin: ``unnest(list_filter(regexp_split_to_array(
    trim(lower(text)), '\\s+'), t -> t <> ''))``."""
    d = (
        df.select(F.col(id_col), *[F.col(c) for c in extra],
                  F.lower(F.col(text_col)).alias("_t"))
        .withColumn("_toks", tokens("_t"))
        .drop("_t")
    )
    return (
        d.select(F.col(id_col), *[F.col(c) for c in extra],
                 F.explode_outer("_toks").alias("tok"))
        .where(F.col("tok").isNotNull())
    )


def char_count(col) -> Column:
    return F.length(col)


def normalized_text(col) -> Column:
    """Whitespace-collapsed lowercase text — the canonical form for exact
    dedup and fingerprinting.
    Oracle twin: ``lower(regexp_replace(trim(col), '\\s+', ' ', 'g'))``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))


def content_hash(col) -> Column:
    """MD5 of normalized text → exact-dup key. Oracle twin: ``md5(...)``
    (both engines emit lowercase hex)."""
    return F.md5(normalized_text(col).cast("binary"))


def md5_of(*parts) -> Column:
    """The engine's one seeded hash: lowercase-hex md5 of the string
    concat of ``parts`` in order — a ``str`` part is a literal seed, a
    Column part is cast to string. A NULL part gives NULL (``concat``
    semantics). Every sample, shard, split, bucket and tie-break draw
    starts here. Oracle twin: ``md5(seed || CAST(col AS VARCHAR))``."""
    cols = [F.lit(p) if isinstance(p, str) else p.cast("string")
            for p in parts]
    return F.md5(cols[0] if len(cols) == 1 else F.concat(*cols))


def hex_int(hex_col, n_hex: int, start=1, cast: str = "bigint") -> Column:
    """``n_hex`` hex digits of ``hex_col`` from 1-based ``start`` as a
    non-negative integer, cast to ``cast``. At most 15 digits (60 bits),
    so the value never wraps past BIGINT. Oracle twin:
    ``('0x' || substr(h, start, n_hex))::UBIGINT``."""
    if not 1 <= n_hex <= 15:
        raise ValueError(f"n_hex must be in 1..15, got {n_hex}")
    return F.conv(F.substring(hex_col, start, n_hex), 16, 10).cast(cast)


def punct_ratio(col) -> Column:
    """Punctuation chars / total chars (0 for empty).
    Oracle twin mirrors the same regexp + nullif guard."""
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[.!?,;:]", ""))
    return n_punct / F.nullif(F.length(c).cast("double"), F.lit(0.0))


def avg_word_len(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    no_space = F.length(F.regexp_replace(c, r"\s+", ""))
    return no_space / F.nullif(token_count(c).cast("double"), F.lit(0.0))


def stopword_ratio(col, stopwords: tuple = (
        "the", "and", "is", "of", "to", "in", "that", "it", "with", "as")) -> Column:
    """Fraction of tokens that are (English) stopwords — a classic quality
    signal for web-scale corpus filtering."""
    toks = F.transform(tokens(col), lambda t: F.lower(t))
    hits = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return hits / F.nullif(F.size(toks).cast("double"), F.lit(0.0))


def quality_score(col) -> Column:
    """Composite [0,1] quality score: rewards stopword presence and sane
    word lengths, penalizes punctuation soup. Deterministic and
    SQL-expressible (oracle-checked)."""
    sw = F.coalesce(stopword_ratio(col), F.lit(0.0))
    pr = F.coalesce(punct_ratio(col), F.lit(0.0))
    awl = F.coalesce(avg_word_len(col), F.lit(0.0))
    len_ok = F.when((awl >= 3.0) & (awl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round(
        F.least(F.lit(1.0), sw * 2.0) * 0.5 + len_ok * 0.3
        + (F.lit(1.0) - F.least(F.lit(1.0), pr * 5.0)) * 0.2,
        6,
    )


def fingerprint(col) -> Column:
    """Document fingerprint — md5 over the normalized text (the cheap,
    SQL-checkable tier; MinHash/SimHash are the similarity tiers)."""
    return content_hash(col)


def shingles_df(df, text_col: str = "text", n: int = 3,
                out_col: str = "sh"):
    """Distinct n-word shingles (lowercased), JVM-side: sequence → slice
    → concat_ws, no UDF. Staged: the token array materializes ONCE per
    row in its own projection, so the per-gram ``slice`` references an
    attribute instead of re-evaluating the inlined split per element —
    a 100k-token hostile doc costs ~10⁶ ops, not ~10¹⁰ (same
    CollapseProject reasoning as ``winnow_fingerprints_df``). Oracle
    twin: range + list slicing in DuckDB."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    staged = df.withColumn("_sh_toks", F.split(F.lower(F.trim(c)), r"\s+"))
    toks = F.col("_sh_toks")
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    sh = F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n))))
    return staged.withColumn(out_col, sh).drop("_sh_toks")


# GPT-2-style pretokenizer regex, restricted to the RE2-compatible
# subset (no lookahead) so the DuckDB oracle runs the IDENTICAL pattern:
# contraction suffixes, space-prefixed letter runs, digit runs, symbol
# runs, whitespace runs.
BPE_TOKEN_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)"
    r"| ?\p{L}+"
    r"| ?\p{N}+"
    r"| ?[^\s\p{L}\p{N}]+"
    r"|\s+"
)


def bpe_token_count(col) -> Column:
    """BPE-ish token count: the number of pretokenizer pieces — the
    standard cheap proxy for LLM token budgets (whitespace counting
    undercounts punctuation-heavy text by 2-3×).
    Oracle twin: ``len(regexp_extract_all(text, <same pattern>))``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_PATTERN), F.lit(0)))


def _nonempty_lines(col, sep: str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.transform(F.split(c, sep), lambda x: F.trim(x)),
        lambda x: x != F.lit(""),
    )


def dup_fraction(lines: Column) -> Column:
    """Fraction of entries that are repeats of an earlier entry:
    1 - distinct/total (0 for empty).
    Oracle twin: ``1 - len(list_distinct(l)) / len(l)``."""
    n = F.size(lines)
    return F.when(
        n > 0,
        F.lit(1.0) - F.size(F.array_distinct(lines)) / n.cast("double"),
    ).otherwise(F.lit(0.0))


def dup_char_fraction(lines: Column) -> Column:
    """Fraction of characters living in lines that occur more than once
    (the Gopher 'duplicate line character fraction').

    O(n log n) per doc: ``array_sort`` then ONE run-length ``aggregate``
    pass over the sorted array (equal lines are adjacent; a run of c > 1
    copies of an L-char line contributes c·L duplicate chars — exactly
    the per-instance sum the naive nested-filter definition computes).
    Array-local JVM expression, no shuffle, and — unlike the previous
    nested ``filter``-inside-``aggregate`` formulation — a hostile 100k
    short-line document costs ~100k·17 comparisons, not ~10¹⁰: no
    single-task straggler class (hostile-input totality invariant,
    tests/test_properties.py)."""
    srt = F.array_sort(lines)
    zero = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("cnt"),
        F.lit(0).alias("dup"),
    )

    def step(acc, x):
        same = x == acc["prev"]
        flush = F.when(
            (~same) & (acc["cnt"] > 1), acc["cnt"] * F.length(acc["prev"])
        ).otherwise(F.lit(0))
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["cnt"] + 1).otherwise(F.lit(1)).alias("cnt"),
            (acc["dup"] + flush).alias("dup"),
        )

    def finish(acc):
        return acc["dup"] + F.when(
            acc["cnt"] > 1, acc["cnt"] * F.length(acc["prev"])
        ).otherwise(F.lit(0))

    dup = F.aggregate(srt, zero, step, finish)
    total = F.aggregate(lines, F.lit(0), lambda acc, x: acc + F.length(x))
    return F.when(total > 0, dup / total.cast("double")).otherwise(F.lit(0.0))


def valid_utf8(df):
    """``df`` with each top-level string column through
    ``make_valid_utf8`` (bad bytes become U+FFFD), the rest untouched:
    the one rule for strings entering a Python worker, whose pyarrow
    string conversion fails the task on invalid UTF-8."""
    return df.select(*(
        F.make_valid_utf8(df[f.name]).alias(f.name)
        if isinstance(f.dataType, T.StringType) else df[f.name]
        for f in df.schema.fields))


def char_array(col) -> Column:
    """The characters of ``col`` as an array of one-character strings;
    ``""`` gives ``[]`` and NULL stays NULL. Split on the empty pattern
    steps through the bytes by the same UTF-8 lead-byte rule as
    ``length`` and ``substring``, so ``array_join(slice(chars, i, n),
    "")`` holds the bytes of ``substring(col, i, n)`` even for a string
    cast from invalid UTF-8 (a regexp over characters decodes through a
    Java string and does not). Stage it as its own projection: a slice
    of a staged array starts at element ``i`` in one step, where
    ``substring`` walks from character 1 for every call."""
    c = F.col(col) if isinstance(col, str) else col
    # every piece holds at least one byte, except the lone piece of ""
    return F.array_remove(F.split(c, ""), "")


def char_gram(chars: Column, i, n) -> Column:
    """The ``n``-character substring of a :func:`char_array` from 1-based
    ``i``."""
    return F.array_join(F.slice(chars, i, n), "")


def _winnow_grams(chars: Column, k: int) -> Column:
    n = F.size(chars)
    # NB: Spark's sequence(1, 0) counts DOWN — short inputs need guards
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.md5(char_gram(chars, i, F.lit(k)).cast("binary")),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _winnow_mins(grams: Column, w: int) -> Column:
    ng = F.size(grams)
    return F.array_distinct(
        F.when(
            ng >= w,
            F.transform(
                F.sequence(F.lit(1), ng - (w - 1)),
                lambda j: F.array_min(F.slice(grams, j, w)),
            ),
        )
        .when(ng > 0, F.array(F.array_min(grams)))  # one short window
        .otherwise(F.array().cast("array<string>"))
    )


def winnow_fingerprints_df(df, text_col: str = "text", k: int = 8,
                           w: int = 4, out_col: str = "fingerprints"):
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003 —
    public algorithm): hash every k-gram of the normalized text, slide a
    w-window over the hash sequence, keep each window's minimum, dedupe.
    Any substring match of length ≥ k+w-1 between two documents is
    GUARANTEED to share a fingerprint — the rolling-hash counterpart to
    whole-document md5 (which only catches exact duplicates).

    Entirely Catalyst: character array → sliced k-grams → md5 → windowed
    ``array_min`` (lexicographic on the hex, identical in DuckDB) →
    ``array_distinct``. md5-hex is the k-gram hash precisely because the
    oracle engine computes the identical value.

    DataFrame-level BY DESIGN: the character array of the normalized
    text and the gram array must be materialized as columns across
    staged projections — inlining them into one expression re-evaluates the gram array once
    PER WINDOW inside the lambda (measured: 415 s vs 3 s at sf0.01, an
    O(n²·k) blowup). Catalyst's CollapseProject keeps the stages apart
    because merging would duplicate the non-cheap child expressions."""
    staged = (
        df.withColumn("_wn_chars", char_array(normalized_text(text_col)))
        .withColumn("_wn_grams", _winnow_grams(F.col("_wn_chars"), k))
        .withColumn(out_col, _winnow_mins(F.col("_wn_grams"), w))
    )
    return staged.drop("_wn_chars", "_wn_grams")


# ---------------------------------------------------------------------------
# Unicode confusables folding (spam/evasion normalization)
# ---------------------------------------------------------------------------

# Curated single-codepoint confusable → ASCII map (the high-traffic
# subset of Unicode TR39's confusables table: Cyrillic and Greek
# letters visually identical to Latin in common fonts, plus the
# fullwidth Latin/digit block). Single codepoints only — that is what
# `translate` folds in one pass in BOTH engines (Spark
# org.apache.spark.sql.functions.translate and DuckDB translate are
# codepoint-wise). Deliberately conservative: only glyphs a human
# cannot distinguish at body-text size; leetspeak (1→l, 0→o) is NOT
# here — digits are legitimate text, folding them corrupts real
# content.
_CYR = {
    "а": "a", "е": "e", "о": "o", "р": "p", "с": "c", "у": "y",
    "х": "x", "і": "i", "ѕ": "s", "ј": "j", "ԛ": "q", "ѵ": "v",
    "ԝ": "w",
    "А": "A", "В": "B", "Е": "E", "К": "K", "М": "M", "Н": "H",
    "О": "O", "Р": "P", "С": "C", "Т": "T", "Х": "X", "У": "Y",
    "Ѕ": "S", "І": "I", "Ј": "J",
}
_GRK = {
    "ο": "o", "ν": "v", "υ": "u",
    "Α": "A", "Β": "B", "Ε": "E", "Ζ": "Z", "Η": "H", "Ι": "I",
    "Κ": "K", "Μ": "M", "Ν": "N", "Ο": "O", "Ρ": "P", "Τ": "T",
    "Υ": "Y", "Χ": "X",
}
_FULLWIDTH = {
    chr(0xFF01 + i): chr(0x21 + i) for i in range(0x5E)  # ！..～ → !..~
}

_CONF_MAP = {**_CYR, **_GRK, **_FULLWIDTH}
CONFUSABLES_FROM = "".join(_CONF_MAP.keys())
CONFUSABLES_TO = "".join(_CONF_MAP.values())
assert len(CONFUSABLES_FROM) == len(CONFUSABLES_TO)


def fold_confusables(col) -> Column:
    """Fold visually-confusable codepoints to their ASCII targets — the
    normalization that makes token blocklists robust to the classic
    evasion of swapping a Latin letter for its Cyrillic/Greek/fullwidth
    twin. One ``translate`` call: JVM-side, codepoint-wise, zero-copy
    for pure-ASCII strings. Oracle twin: DuckDB ``translate`` with the
    identical FROM/TO literals (exported as ``CONFUSABLES_FROM/TO`` so
    the SQL is generated from the same Python constant)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(c, CONFUSABLES_FROM, CONFUSABLES_TO)
