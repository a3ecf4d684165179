"""Text-analysis operators over a documents table — quality scoring,
token counting, fingerprinting, language ID.

All but two are pure column expressions (``functions/text.py``) with
DuckDB-SQL oracle twins. Language ID needs the script/stopword tables
→ a scalar Arrow UDF (``F.arrow_udf``; rows-only correctness check +
pytest unit coverage). ``doc_top_terms`` is the module's one
shuffle-bearing relational operator (tf/df aggregation + per-doc
window; oracle-backed).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import (
    avg_word_len,
    char_array,
    char_count,
    content_hash,
    fingerprint,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
)


def text_stats(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    return df.select(
        F.col(id_col),
        char_count(text_col).alias("n_chars"),
        token_count(text_col).alias("n_tokens"),
        F.round(avg_word_len(text_col), 6).alias("avg_word_len"),
        F.round(punct_ratio(text_col), 6).alias("punct_ratio"),
        F.round(stopword_ratio(text_col), 6).alias("stopword_ratio"),
        quality_score(text_col).alias("quality"),
    )


def doc_fingerprints(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    return df.select(
        F.col(id_col),
        fingerprint(text_col).alias("fingerprint"),
    )


@F.arrow_udf(T.StringType())
def lang_id_udf(texts: pa.Array) -> pa.Array:
    """Arrow-batched language ID: ``extractor.langid.detect_lang`` mapped
    over the batch, ``"und"`` for NULL. Callers pass
    ``make_valid_utf8(text)``: pyarrow's string conversion fails the
    task on a string that is not valid UTF-8."""
    from ..extractor.langid import detect_lang

    return pa.array([detect_lang(t) if t is not None else "und"
                     for t in texts.to_pylist()], pa.string())


def detect_languages(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    return df.select(
        F.col(id_col),
        lang_id_udf(F.make_valid_utf8(text_col)).alias("lang_pred"),
    )


def repetition_stats(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Gopher-style repetition profile: duplicate-line / duplicate-
    paragraph fractions and the duplicate-line CHARACTER fraction —
    the standard web-corpus repetition filters. Pure array expressions:
    no explode, no shuffle, whole-stage codegen."""
    from ..functions.text import (
        _nonempty_lines,
        dup_char_fraction,
        dup_fraction,
    )

    lines = _nonempty_lines(text_col, "\n")
    paras = _nonempty_lines(text_col, "\n\n")
    return df.select(
        F.col(id_col),
        F.size(lines).alias("n_lines"),
        F.round(dup_fraction(lines), 6).alias("dup_line_frac"),
        F.round(dup_char_fraction(lines), 6).alias("dup_line_char_frac"),
        F.round(dup_fraction(paras), 6).alias("dup_para_frac"),
    )


# Gopher rules (Rae et al. 2021, public): word-count bounds, mean word
# length bounds, symbol-to-word ratio, bullet/ellipsis line fractions,
# and the ≥2-common-English-words requirement.
_GOPHER_ENGLISH = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_flags(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text",
                         min_words: int = 50,
                         max_words: int = 100_000) -> DataFrame:
    """Per-doc Gopher quality rule evaluation → per-rule booleans +
    the conjunction (``passes_gopher``). All Catalyst; oracle-twinned."""
    from ..functions.text import _nonempty_lines, avg_word_len, tokens

    c = F.col(text_col)
    n_words = F.size(tokens(text_col))
    mwl = avg_word_len(text_col)
    n_sym = F.regexp_count(c, F.lit(r"#|\.\.\.|…"))
    sym_ratio = n_sym / F.nullif(n_words.cast("double"), F.lit(0.0))
    lines = _nonempty_lines(text_col, "\n")
    n_lines = F.size(lines)
    bullet_frac = F.when(
        n_lines > 0,
        F.size(F.filter(lines, lambda x: x.rlike(r"^[-*•]")))
        / n_lines.cast("double"),
    ).otherwise(F.lit(0.0))
    ellipsis_frac = F.when(
        n_lines > 0,
        F.size(F.filter(lines, lambda x: x.rlike(r"(\.\.\.|…)$")))
        / n_lines.cast("double"),
    ).otherwise(F.lit(0.0))
    has_english = F.size(F.array_intersect(
        F.transform(tokens(text_col), lambda t: F.lower(t)),
        F.array(*[F.lit(w) for w in _GOPHER_ENGLISH]),
    )) >= 2
    ok_words = (n_words >= min_words) & (n_words <= max_words)
    ok_mwl = (mwl >= 3.0) & (mwl <= 10.0)
    ok_sym = F.coalesce(sym_ratio, F.lit(0.0)) <= 0.1
    ok_bullet = bullet_frac <= 0.9
    ok_ellipsis = ellipsis_frac <= 0.3
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.round(mwl, 6).alias("mean_word_len"),
        F.round(F.coalesce(sym_ratio, F.lit(0.0)), 6).alias("symbol_word_ratio"),
        F.round(bullet_frac, 6).alias("bullet_line_frac"),
        F.round(ellipsis_frac, 6).alias("ellipsis_line_frac"),
        ok_words.alias("ok_word_count"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_sym.alias("ok_symbol_ratio"),
        has_english.alias("has_english"),
        (ok_words & ok_mwl & ok_sym & ok_bullet & ok_ellipsis
         & has_english).alias("passes_gopher"),
    )


# C4 cleaning rules (Raffel et al. 2020, §2.2 — the public web-corpus
# line/page filter that complements the doc-level Gopher rules): retain
# only lines ending in terminal punctuation with ≥3 words and no
# "javascript"; drop pages with <5 sentences, any "lorem ipsum", or a
# curly brace. (The C4 badwords list is external content and out of
# scope; its hook is the same line predicate.)
_C4_TERMINAL_RE = r'[.!?"]$'


def c4_quality_filter(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      min_sentences: int = 5) -> DataFrame:
    """Per-doc C4 cleaning: cleaned text (kept lines), line/sentence
    counts, and the page-level ``keep`` verdict. Pure Catalyst — every
    stage is a STAGED array projection (the filtered-lines array
    materializes once; referencing it from three output columns must
    not re-run the filter chain per column — the HOF re-evaluation
    trap), with an exact DuckDB oracle twin. NULL text behaves as the
    empty page (keep=false) so the verdict column is never NULL."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    staged = (
        df.withColumn(
            "_c4_lines",
            F.transform(F.split(c, r"\n"), lambda x: F.trim(x)))
        .withColumn(
            "_c4_kept",
            F.filter(
                F.col("_c4_lines"),
                lambda ln: ln.rlike(_C4_TERMINAL_RE)
                & (F.size(F.filter(F.split(ln, r"\s+"),
                                   lambda t: t != "")) >= 3)
                & ~F.contains(F.lower(ln), F.lit("javascript")),
            ))
        .withColumn("_c4_clean", F.array_join(F.col("_c4_kept"), "\n"))
        .withColumn("_c4_nsent",
                    F.regexp_count(F.col("_c4_clean"), F.lit(r"[.!?]")))
    )
    keep = (
        (F.col("_c4_nsent") >= min_sentences)
        & ~F.contains(F.lower(c), F.lit("lorem ipsum"))
        & ~F.contains(c, F.lit("{"))
    )
    return staged.select(
        F.col(id_col),
        F.col("_c4_clean").alias("clean_text"),
        F.size(F.col("_c4_kept")).cast("int").alias("n_lines_kept"),
        F.col("_c4_nsent").cast("int").alias("n_sentences"),
        keep.alias("keep"),
    )


def host_stats(df, url_col: str = "url", bytes_col: str = None,
               error_col: str = None):
    """Per-host crawl-health profile (A4, SURVEY §2.7): docs, parse
    failures, bytes per host, host parsed JVM-side via ``host_col``.
    Over a stream it is ``streaming.jobs.stream_host_stats``: the same
    aggregation, run in update mode.
    One shuffle on the host key; Zipfian host skew is bounded by
    map-side partial aggregation (counts/sums combine before the
    exchange), so a mega-host costs its reducer one merged row per map
    partition, not one row per document."""
    from pyspark.sql import functions as F

    # host_col = try_parse_url + lowercase: parse_url raises on
    # malformed URLs (hostile rows must never fail a task; NULL-host
    # junk groups under one key), and case-variant hosts must not split
    from .extract import host_col

    host = host_col(F.col(url_col))
    aggs = [F.count(F.lit(1)).alias("docs")]
    if error_col:
        aggs.append(F.count(F.col(error_col)).alias("parse_failures"))
    if bytes_col:
        aggs.append(F.sum(F.col(bytes_col)).alias("bytes_in"))
    return df.groupBy(host.alias("host")).agg(*aggs)


def doc_top_terms(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", k: int = 3) -> DataFrame:
    """Top-k characteristic terms per document — ranked by term
    frequency (desc), then corpus document frequency (asc: the rarer,
    more distinctive term wins the tie), then term (asc). The ordering
    keys are all integers, so the ranking is a deterministic total
    order with an exact SQL twin (true tf-idf would order by tf·ln(…),
    whose last-ulp libm differences across engines can flip ranks).

    Plan: staged token projection (the HOF-inlining rule) →
    explode_outer → one (doc, term) shuffle for tf → df as a
    COUNT-over-window on the same tf rows (tf already holds exactly one
    row per (doc, term), so counting rows per term IS the document
    frequency) → per-doc ranking window. Computing df via a tf/dfreq
    self-join instead re-executes the whole scan+tokenize pipeline —
    the HOF lambda in ``tokens`` defeats AQE exchange reuse (measured:
    4 shuffle stages, 0 reused) — so the window form halves the
    heaviest stage. Both windows are skew-safe: per-term row counts
    are bounded by corpus doc count per term partial-agg'd upstream,
    and per-document term counts by document length."""
    from pyspark.sql import Window

    from ..functions.text import tokens

    toks = (
        df.select(F.col(id_col).alias("_id"),
                  F.lower(F.col(text_col)).alias("_t"))
        .withColumn("_toks", tokens("_t"))
        .withColumn("term", F.explode_outer("_toks"))
        .where(F.col("term").isNotNull())
    )
    tf = toks.groupBy("_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfw = Window.partitionBy("term")
    w = Window.partitionBy("_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term"))
    return (
        tf.withColumn("df", F.count(F.lit(1)).over(dfw))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col("_id").alias(id_col), "term", "tf", "df", "rank")
    )


def lexical_diversity(df: DataFrame, group_col: str = "source",
                      text_col: str = "text") -> DataFrame:
    """Per-domain lexical-diversity diagnostics ``(domain, n_tokens,
    n_types, n_hapax, ttr_ppm, hapax_ppm)`` — the corpus-health signals
    a data-mixing pass reads next to :func:`~.mixing.domain_mixture`:
    a domain whose type-token ratio or hapax share collapses is
    template/boilerplate spam (Gopher §A1.2 uses the same signals at
    document level; this is the corpus/domain-level rollup).

    * ``n_types`` = distinct lowercased whitespace tokens, ``n_hapax``
      = types occurring exactly once in the domain.
    * Ratios are exact integer parts-per-million (``(x·10^6) div
      n_tokens``) — no float anywhere, so the DuckDB twin is
      hash-identical by construction.

    Scale shape: one explode into narrow ``(domain, tok)`` rows →
    map-side-combinable ``groupBy(domain, tok)`` (the only real
    shuffle; key cardinality = vocabulary × domains, well spread) →
    ``groupBy(domain)`` over already-narrow type rows.  Document text
    never crosses an exchange.  Domains whose every document is empty
    have no token rows and are absent from the output (callers join
    back against the domain roster if they need explicit zeros).

    Oracle twin::

        WITH toks AS (SELECT <group> AS domain,
                 unnest(list_filter(regexp_split_to_array(
                   trim(lower(<text>)), '\\s+'), t -> t <> '')) AS tok
               FROM <table>),
        per_type AS (SELECT domain, tok, COUNT(*) AS occ
                     FROM toks GROUP BY domain, tok)
        SELECT domain, CAST(SUM(occ) AS BIGINT) AS n_tokens, ...
    """
    from ..functions.text import exploded_tokens

    per_type = (
        exploded_tokens(df.select(F.col(group_col).alias("domain"),
                                  F.col(text_col)),
                        "domain", text_col)
        .groupBy("domain", "tok")
        .agg(F.count(F.lit(1)).alias("occ"))
    )
    return (
        per_type.groupBy("domain")
        .agg(F.sum("occ").alias("n_tokens"),
             F.count(F.lit(1)).alias("n_types"),
             F.sum(F.when(F.col("occ") == 1, 1).otherwise(0))
             .alias("n_hapax"))
        .select(
            "domain", "n_tokens", "n_types", "n_hapax",
            F.expr("(n_types * 1000000L) div n_tokens")
            .cast("bigint").alias("ttr_ppm"),
            F.expr("(n_hapax * 1000000L) div n_tokens")
            .cast("bigint").alias("hapax_ppm"))
    )


def readability_grade(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Flesch-Kincaid grade level + Flesch reading ease per document —
    the classic curation quality gate (drop grade-0 listicles and
    grade-30 legalese before training). All JVM codegen.

    Counts are the standard regex approximations, chosen because both
    engines state them identically: words = the repo's whitespace
    tokens; sentences = runs of terminator punctuation ``[.!?]+``
    floored at 1; syllables = vowel-group runs ``[aeiouy]+`` in the
    lowercased text (vowelless tokens count 0 — the documented
    approximation error of every regex syllable counter). The integer
    counts are exact cross-engine; each float score is ONE fixed
    composition of IEEE correctly-rounded mul/div/add, rounded to 4
    places — the ``text_stats`` determinism recipe. ``n_words = 0``
    yields NULL scores (nullif, never a divide error)."""
    t = F.col(text_col)
    nw = token_count(text_col)
    ns = F.greatest(F.regexp_count(t, F.lit(r"[.!?]+")), F.lit(1))
    nsyl = F.regexp_count(F.lower(t), F.lit("[aeiouy]+"))
    wps = nw.cast("double") / ns.cast("double")
    spw = nsyl.cast("double") / F.nullif(nw.cast("double"), F.lit(0.0))
    grade = F.round(
        F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 4)
    ease = F.round(
        F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 4)
    return df.select(
        F.col(id_col), nw.alias("n_words"), ns.alias("n_sentences"),
        nsyl.alias("n_syllables"), grade.alias("fk_grade"),
        ease.alias("reading_ease"))


# Unicode script classes countable in both engines' regex dialects —
# Java (Spark) spells them \p{IsXxx}; counting is done by length-delta
# so the whole profile is one JVM projection.
SCRIPTS = (
    "latin", "cyrillic", "han", "arabic", "greek",
    "hangul", "hiragana", "katakana", "devanagari",
)


def script_profile(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Dominant writing system per document — the pre-language-ID gate
    of CCNet/OSCAR-style webtext pipelines (script is cheaper and far
    more reliable than n-gram lang-id, and a mixed-script document is
    itself a spam signal). Returns ``(id, dominant_script,
    script_chars, letter_chars, dominant_ppm)`` where ``script_chars``
    counts the dominant script's codepoints, ``letter_chars`` the sum
    over all nine profiled scripts, and ``dominant_ppm`` their exact
    integer ratio in parts per million.

    Spark-first: each script count is ``length(text) -
    length(regexp_replace(text, '\\p{IsXxx}', ''))`` — nine JVM
    projections folded in one whole-stage-codegen span, no explode, no
    shuffle, no Python. The dominant pick is the repo's deterministic
    min-over-struct fold: ``min (−count, name)`` ⇒ ties break on
    script name ASC, partitioning-invariant. Documents with zero
    profiled letters (digits/punctuation only, empty, NULL) get a NULL
    dominant and zero counts rather than an arbitrary winner.
    """
    c = F.col(text_col)
    counts = {
        s: F.coalesce(
            F.length(c) - F.length(
                F.regexp_replace(c, f"\\p{{Is{s.capitalize()}}}", "")),
            F.lit(0)).cast("bigint")
        for s in SCRIPTS
    }
    letter_chars = sum(counts.values(), F.lit(0).cast("bigint"))
    best = F.least(*[
        F.struct((-counts[s]).alias("nc"), F.lit(s).alias("s"))
        for s in SCRIPTS
    ])
    dominant = F.when(letter_chars > 0, best["s"])
    script_chars = F.when(letter_chars > 0, -best["nc"]) \
        .otherwise(F.lit(0)).cast("bigint")
    return df.select(
        F.col(id_col),
        dominant.alias("dominant_script"),
        script_chars.alias("script_chars"),
        letter_chars.alias("letter_chars"),
    ).withColumn(
        "dominant_ppm",
        F.when(F.col("letter_chars") > 0,
               F.expr("(script_chars * 1000000L) div letter_chars"))
        .otherwise(F.lit(0)).cast("bigint"),
    )


def title_content_overlap(df: DataFrame, id_col: str = "doc_id",
                          title_col: str = "title",
                          text_col: str = "text") -> DataFrame:
    """Title↔body lexical agreement ``(id, n_title_tokens, n_overlap,
    overlap_ppm)`` — the clickbait/SEO-mismatch signal: a title whose
    tokens barely appear in the body is keyword-stuffed or misleading
    (search-spam pipelines score this; so do quality classifiers for
    training corpora). ``overlap_ppm`` = |distinct title tokens present
    in the body| · 10⁶ div |distinct title tokens|, exact integers,
    NULL when the title has no tokens (nothing to judge — distinct
    from 0, which means "title present but disjoint from the body").

    Spark-first: two staged token arrays, ``array_distinct`` +
    ``array_intersect`` + ``size`` — one whole-stage-codegen
    projection, zero shuffle, no explode at all (the token sets stay
    inside their row)."""
    from ..functions.text import tokens

    staged = df.withColumns({
        "_tt": F.array_distinct(tokens(F.lower(F.col(title_col)))),
        "_bt": F.array_distinct(tokens(F.lower(F.col(text_col)))),
    })
    n_t = F.coalesce(F.size("_tt"), F.lit(0))
    n_o = F.coalesce(F.size(F.array_intersect("_tt", "_bt")), F.lit(0))
    return staged.select(
        F.col(id_col),
        n_t.cast("bigint").alias("n_title_tokens"),
        F.when(n_t > 0, n_o).otherwise(F.lit(0))
        .cast("bigint").alias("n_overlap"),
    ).withColumn(
        "overlap_ppm",
        F.when(F.col("n_title_tokens") > 0,
               F.expr("(n_overlap * 1000000L) div n_title_tokens"))
        .cast("bigint"))


def char_entropy(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text",
                 max_chars: int | None = None) -> DataFrame:
    """Per-document Shannon entropy of the character unigram
    distribution — the classic two-sided gibberish detector the
    ratio-based quality rules (Gopher/C4) can't replace: base64 blobs
    and keyboard mash score HIGH (near-uniform chars), while template
    spam, repeated-char padding, and single-char floods score LOW;
    natural prose sits in a narrow band (~2.9-4.2 nats for English).
    Gates the tails before heavier dedup/classifier stages run.

    Returns ``(id, n_chars, n_distinct_chars, entropy_micro)`` with
    H = ln n − (Σ c·ln c)/n in MICRO-nat fixed point: the per-char
    ``c·ln c`` terms quantize to integers BEFORE the sum (the
    ``invindex.MILLI`` discipline), so the aggregate is an exact
    integer sum — independent of partitioning and summation order,
    identical in the DuckDB twin. Zero-length texts yield no row
    (no distribution to measure); NULL likewise.

    Scale shape: one staged char explode (same fan-out class as the
    winnowing shingler) into two map-side-combinable groupBys on
    ``(id, char)`` then ``(id)`` — narrow keys, never the payload.
    ``max_chars`` caps the explode per document (entropy stabilizes
    within a few KB of prose; at 100 TB cap it)."""
    cs = char_array(text_col)
    if max_chars is not None:
        if max_chars < 1:
            raise ValueError(f"max_chars must be >= 1: {max_chars}")
        # a slice, not substring: a truncated last character would read
        # past the string's bytes
        cs = F.slice(cs, 1, int(max_chars))
    staged = df.select(F.col(id_col), cs.alias("_cs"))
    chars = staged.select(id_col, F.explode("_cs").alias("ch"))
    cnts = chars.groupBy(id_col, "ch").agg(F.count(F.lit(1)).alias("cnt"))
    term = F.round(F.col("cnt") * F.log(F.col("cnt").cast("double"))
                   * F.lit(1_000_000), 0).cast("bigint")
    agg = cnts.groupBy(id_col).agg(
        F.sum("cnt").cast("bigint").alias("n_chars"),
        F.count(F.lit(1)).cast("int").alias("n_distinct_chars"),
        F.sum(term).alias("_sl"),
    )
    n = F.col("n_chars").cast("double")
    return agg.select(
        id_col, "n_chars", "n_distinct_chars",
        F.round(F.log(n) * F.lit(1_000_000) - F.col("_sl") / n, 0)
        .cast("bigint").alias("entropy_micro"),
    )


def zipf_diagnostics(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Corpus-level Zipf fit — one row ``(n_types, n_tokens,
    zipf_slope_milli)``: the least-squares slope of ln(freq) on
    ln(rank) over the full rank-frequency table. Natural language sits
    near −1 (Zipf 1949); a corpus drifting toward 0 is template-/
    boilerplate-heavy (few types dominate uniformly), drifting steeper
    is vocabulary collapse — a one-number drift alarm between crawl
    snapshots before any per-doc work runs.

    Determinism discipline: ranks are exact (``row_number`` by freq
    desc, token asc), each point's ln(rank)/ln(freq) quantizes to
    MILLI integers BEFORE the sums, so ΣX, ΣY, ΣXY, ΣX² are exact
    integer aggregates — partitioning- and order-independent, identical
    in DuckDB — and the one final double division rounds to a
    milli-slope. Quantization bias on the slope is O(1e-4), far below
    the corpus-drift signal.

    Scale shape: the corpus collapses to its VOCABULARY before any
    window runs (``groupBy(token)`` with map-side combine); the
    row_number window then sorts type-count rows, not token
    occurrences — the ``roc_auc`` collapse argument. Sum magnitudes:
    milli-ln values ≤ ~3·10⁴, per-point products ≤ ~10⁹, so BIGINT
    holds exact sums up to ~10⁹ types."""
    from pyspark.sql import Window

    from ..functions.text import exploded_tokens

    freqs = (
        exploded_tokens(df, id_col, text_col)
        .groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    )
    rank = F.row_number().over(
        Window.orderBy(F.col("freq").desc(), F.col("tok")))
    pts = freqs.select(
        F.round(F.log(rank.cast("double")) * F.lit(1000), 0)
        .cast("bigint").alias("x"),
        F.round(F.log(F.col("freq").cast("double")) * F.lit(1000), 0)
        .cast("bigint").alias("y"),
        F.col("freq"),
    )
    agg = pts.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("freq").cast("bigint").alias("n_tokens"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    # products of the exact integer sums go through double (sx·sy can
    # pass 2^63 at ~10^9 types; double multiply of exact ints is
    # IEEE-identical in both engines)
    k = F.col("n_types").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    num = k * sxy - sx * sy
    den = k * sxx - sx * sx
    return agg.select(
        F.col("n_types").cast("bigint").alias("n_types"), "n_tokens",
        F.when(den != 0, F.round(num / den * F.lit(1000), 0))
        .otherwise(F.lit(0)).cast("bigint").alias("zipf_slope_milli"),
    )


def vocab_coverage(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", top_k: int = 100) -> DataFrame:
    """Corpus vocabulary-coverage report — one row ``(n_tokens,
    n_types, n_singletons, n_doubletons, unseen_mass_ppm,
    topk_coverage_ppm)``. ``unseen_mass_ppm`` is the Good-Turing
    estimate of the probability mass of UNSEEN types (N₁/N, Good 1953):
    how much of the next crawl increment will be words this corpus has
    never seen — the standard "is my corpus big enough / is my
    tokenizer vocab adequate" planning number. ``topk_coverage_ppm``
    is the token share of the ``top_k`` most frequent types (stopword
    skew at a glance). All exact integers (ppm via the ``div``
    discipline) — bit-identical cross-engine.

    Scale shape: corpus collapses to its vocabulary first (map-side-
    combinable groupBy); the top-k pass is a vocabulary-sized
    TakeOrdered, never a corpus sort."""
    from ..functions.text import exploded_tokens

    freqs = (
        exploded_tokens(df, id_col, text_col)
        .groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    )
    top = (freqs.orderBy(F.col("freq").desc(), F.col("tok"))
           .limit(int(top_k))
           .agg(F.sum("freq").alias("topk_tokens"))
           .withColumn("_k", F.lit(1)))
    agg = freqs.agg(
        F.sum("freq").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(F.when(F.col("freq") == 1, 1).otherwise(0))
        .cast("bigint").alias("n_singletons"),
        F.sum(F.when(F.col("freq") == 2, 1).otherwise(0))
        .cast("bigint").alias("n_doubletons"),
    ).withColumn("_k", F.lit(1))
    return (
        agg.join(F.broadcast(top), "_k").drop("_k")
        .withColumn(
            "unseen_mass_ppm",
            F.expr("CASE WHEN n_tokens = 0 THEN 0 "
                   "ELSE (n_singletons * 1000000) div n_tokens END")
            .cast("bigint"))
        .withColumn(
            "topk_coverage_ppm",
            F.expr("CASE WHEN n_tokens = 0 THEN 0 ELSE "
                   "(coalesce(topk_tokens, 0) * 1000000) div n_tokens END")
            .cast("bigint"))
        .drop("topk_tokens")
    )


def token_kl_divergence(df: DataFrame, group_col: str,
                        base_group: str, target_group: str,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """KL(target ‖ base) between the token unigram distributions of two
    corpus slices — THE drift alarm between crawl snapshots, sources,
    or filter configurations ("how far did this month's crawl move from
    the reference mix?"). Add-one smoothing over the UNION vocabulary
    keeps every term finite; one row out: ``(n_types, n_base_tokens,
    n_target_tokens, kl_micro)`` in micro-nats.

    Determinism discipline: per-term ``p·ln(p/q)`` values quantize to
    pico-nat integers BEFORE the sum (error ≤ 5e-13/term — far below
    any drift signal), so the aggregate is an exact integer sum,
    partitioning-independent and identical in DuckDB.

    Scale shape: both slices collapse to per-group vocabularies
    map-side, full-outer-join on the token (vocabulary-sized, not
    corpus-sized); the three scalars (N_a, N_b, V) broadcast back on a
    constant key — never a crossJoin of data rows."""
    from ..functions.text import exploded_tokens

    toks = exploded_tokens(df, id_col, text_col, extra=(group_col,))
    cnt = (
        toks.where(F.col(group_col).isin([base_group, target_group]))
        .groupBy(group_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    )
    a = cnt.where(F.col(group_col) == base_group).select(
        "tok", F.col("c").alias("ca"))
    b = cnt.where(F.col(group_col) == target_group).select(
        "tok", F.col("c").alias("cb"))
    merged = (
        a.join(b, "tok", "full")
        .select(
            "tok",
            F.coalesce("ca", F.lit(0)).cast("bigint").alias("ca"),
            F.coalesce("cb", F.lit(0)).cast("bigint").alias("cb"),
        )
    )
    stats = merged.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb"),
        F.count(F.lit(1)).alias("v"),
    ).withColumn("_k", F.lit(1))
    joined = merged.withColumn("_k", F.lit(1)).join(
        F.broadcast(stats), "_k")
    p = (F.col("cb") + 1).cast("double") \
        / (F.col("nb") + F.col("v")).cast("double")
    q = (F.col("ca") + 1).cast("double") \
        / (F.col("na") + F.col("v")).cast("double")
    term = F.round(p * F.log(p / q) * F.lit(1e12), 0).cast("bigint")
    return (
        joined.groupBy("na", "nb", "v").agg(F.sum(term).alias("_s"))
        .select(
            F.col("v").cast("bigint").alias("n_types"),
            F.col("na").cast("bigint").alias("n_base_tokens"),
            F.col("nb").cast("bigint").alias("n_target_tokens"),
            # KL >= 0; clamp quantization noise at 0 so the integer div
            # has identical trunc/floor semantics in both engines
            F.expr("greatest(_s, 0) div 1000000")
            .cast("bigint").alias("kl_micro"),
        )
    )


def pmi_collocations(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", min_count: int = 5,
                     top_k: int = 50) -> DataFrame:
    """Top-``top_k`` adjacent-bigram collocations by pointwise mutual
    information — multiword-expression mining ("new york", "machine
    learning") for tokenizer vocab curation and phrase-aware dedup.
    PMI = ln(P(xy) / (P(x)·P(y))) with unigram probabilities over all
    tokens and bigram probability over all adjacent pairs;
    ``min_count`` suppresses the classic PMI pathology (hapax pairs
    score infinite-ish).

    Returns ``(bigram, n_xy, pmi_milli)``, ranked by quantized PMI then
    bigram (total order → identical top-k cross-engine). Exact-count
    discipline: only the final per-bigram ln quantizes (MILLI); counts
    and the two scalar totals are exact integers.

    Scale shape: bigrams are built IN-ROW (zip_with over the staged
    token array — no positional explode), then one map-side-combinable
    groupBy each for unigrams and bigrams; the two unigram joins key on
    the token (vocabulary-sized); N and B broadcast on a constant key;
    the final ranking is a TakeOrdered heap, never a full sort."""
    from ..functions.text import tokens

    staged = df.select(
        tokens(F.lower(F.col(text_col))).alias("_t"))
    n_tok = F.size("_t")
    bigrams_arr = F.when(
        n_tok >= 2,
        F.zip_with(
            F.slice("_t", 1, n_tok - 1),
            F.slice("_t", 2, n_tok - 1),
            lambda a, b: F.concat(a, F.lit(" "), b)),
    ).otherwise(F.array().cast("array<string>"))
    uni = (
        staged.select(F.explode_outer("_t").alias("x"))
        .where(F.col("x").isNotNull())
        .groupBy("x").agg(F.count(F.lit(1)).alias("cx"))
    )
    bi_all = (
        staged.withColumn("_b", bigrams_arr)
        .select(F.explode_outer("_b").alias("bigram"))
        .where(F.col("bigram").isNotNull())
        .groupBy("bigram").agg(F.count(F.lit(1)).alias("cxy"))
    )
    # totals over the UNFILTERED distributions — min_count prunes
    # candidates, it must not reweight P(xy)
    totals = (
        uni.agg(F.sum("cx").alias("n"))
        .withColumn("_k", F.lit(1))
        .join(bi_all.agg(F.sum("cxy").alias("nb"))
              .withColumn("_k", F.lit(1)), "_k")
    )
    bi = bi_all.where(F.col("cxy") >= int(min_count))
    parts = F.split(F.col("bigram"), " ")
    joined = (
        bi.withColumn("x", F.element_at(parts, 1))
        .withColumn("y", F.element_at(parts, 2))
        .join(uni, "x")
        .join(uni.select(F.col("x").alias("y"),
                         F.col("cx").alias("cy")), "y")
        .withColumn("_k", F.lit(1))
        .join(F.broadcast(totals), "_k")
    )
    pmi = F.log(
        (F.col("cxy").cast("double") / F.col("nb").cast("double"))
        / ((F.col("cx").cast("double") / F.col("n").cast("double"))
           * (F.col("cy").cast("double") / F.col("n").cast("double"))))
    return (
        joined.select(
            "bigram", F.col("cxy").cast("bigint").alias("n_xy"),
            F.round(pmi * F.lit(1000), 0).cast("bigint")
            .alias("pmi_milli"))
        .orderBy(F.col("pmi_milli").desc(), F.col("bigram"))
        .limit(int(top_k))
    )


def compression_ratio(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      level: int = 6) -> DataFrame:
    """zlib compression ratio per document — the RedPajama-V2-style
    redundancy signal: machine-generated/template text and repeated
    boilerplate compress far below natural prose, gibberish/encoded
    blobs barely compress at all. Complements the token-level
    repetition stats (``repetition_stats`` sees exact token repeats;
    the compressor sees EVERY regularity, including ones no n-gram
    rule anticipates).

    Returns ``(id, n_bytes, n_compressed, ratio_ppm)`` where
    ``ratio_ppm = n_compressed·1e6 DIV n_bytes`` (exact integer;
    lower = more redundant); empty/NULL text → NULL ratio (nothing to
    judge). Natural English prose lands ~300k-600k ppm at zlib-6;
    sub-~150k is template/repeat territory, near/above ~1e6 is
    already-compressed or random data.

    Runs as an Arrow-batched kernel (stdlib zlib on the row's bytes — the
    sanctioned Python path, same shape as the lang-ID and NFC
    kernels): narrow (id, text) in, fixed-width integers out, zero
    shuffle. The ppm arithmetic is JVM-side so the only Python work is
    the byte counts themselves. Compressed sizes are deterministic for
    a given zlib level (pinned stdlib); the driver oracle therefore
    checks BUCKET verdicts with enormous margins (a 'ab'-repeat plant
    compresses ~30×, an md5-hex plant stays within 2×), not exact
    byte counts.
    """
    import zlib

    @F.arrow_udf("struct<n_bytes: long, n_compressed: long>")
    def _sizes(raws: pa.Array) -> pa.Array:
        rows = raws.to_pylist()
        return pa.StructArray.from_arrays(
            [pa.array([None if r is None else len(r) for r in rows],
                      pa.int64()),
             pa.array([None if r is None else len(zlib.compress(r, level))
                       for r in rows], pa.int64())],
            names=["n_bytes", "n_compressed"])

    # the row's own bytes: a string that is not valid UTF-8 fails
    # pyarrow's string conversion, its binary cast does not
    staged = df.select(F.col(id_col),
                       _sizes(F.col(text_col).cast("binary")).alias("_z"))
    return staged.select(
        F.col(id_col),
        F.col("_z.n_bytes").alias("n_bytes"),
        F.col("_z.n_compressed").alias("n_compressed"),
        F.when(F.col("_z.n_bytes") > 0,
               F.expr("_z.n_compressed * 1000000L DIV _z.n_bytes"))
        .alias("ratio_ppm"),
    )
