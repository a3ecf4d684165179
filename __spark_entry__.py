"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship extraction pipeline on sf0.001.

Every contract query is declared once, by a ``q_<name>`` builder
decorated with ``@query(oracle)``: the builder returns the Spark
DataFrame, ``oracle`` is its exact DuckDB SQL twin over the same
parquet views, and the name is the function name minus ``q_``. A
duplicate name raises at import, and there is no way to register a
query without an oracle.

``queries()`` / ``oracle_sql()`` are derived views of that registry,
in the same order. The external correctness run attests a prefix of
``queries()``, so the order is (attested, declaration index): names
with no green row (rows and hash match, no error) in any
``CORRECTNESS_r*.json`` next to this module come first. With no such
files the order is plain declaration order. Every query is also
verified locally by tests/test_oracle_parity.py.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from document_extractor_spark.functions.text import (
    avg_word_len,
    char_count,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
)
from document_extractor_spark.operators.dedup import (
    exact_duplicates,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash,
)
from document_extractor_spark.operators.extract import extract_pages
from document_extractor_spark.operators.similarity import (
    ann_topk,
    brute_force_topk,
    embedding_near_duplicates,
    srp_index,
)
from document_extractor_spark.operators.textstats import (
    detect_languages,
    doc_fingerprints,
    text_stats,
)
from document_extractor_spark.operators.curation import (
    PII_RULES as _PII,
    decontaminate,
    mix_threshold_hex,
    redact_pii,
    sample_mix,
)
from document_extractor_spark.operators.bpe import bpe_encode_oracle_sql
from document_extractor_spark.operators.hll import hll_oracle_sql
from document_extractor_spark.operators.linmodel import linmodel_oracle_sql
from document_extractor_spark.operators.routing import rendezvous_oracle_expr
from document_extractor_spark.operators.kvpivot import kv_records_to_table
from document_extractor_spark.operators.mixing import domain_mixture_sql
from document_extractor_spark.operators.media import (
    caption_items,
    explode_images,
    link_images_to_content,
)
from document_extractor_spark.operators.multipage import merge_continuations
from document_extractor_spark.sources.docpages import (
    doc_id_from_url,
    pages_from_documents,
    pages_with_figures,
    pages_with_formatting,
    pdf_pages_from_documents,
)
from document_extractor_spark.sources.jsonrepair import parse_json_relaxed

_EMB_DIM = 64

# non-ASCII suffix planted by q_fix_mojibake (escapes: byte-exact
# independent of this file's encoding)
_MOJIBAKE_SUFFIX = " caf\u00e9 \u2014 \u2018na\u00efve\u2019 \u20ac"

# DuckDB fragments shared by many oracles: normalized text, whitespace
# tokens, and the stopword list of the text-stats operators.
_NORM = r"lower(regexp_replace(trim(text), '\s+', ' ', 'g'))"
_TOKS = r"list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '')"
_STOP = "['the','and','is','of','to','in','that','it','with','as']"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _tpch(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _query_vec(spark: SparkSession, sf_dir: str) -> list:
    row = _emb(spark, sf_dir).filter(F.col("vec_id") == 0).select("embedding").head()
    return [float(x) for x in row[0]]


# ---------------------------------------------------------------------------
# Query registry
# ---------------------------------------------------------------------------

Builder = Callable[[SparkSession, str], DataFrame]

#: contract name -> (builder, DuckDB oracle SQL), in declaration order
_REGISTRY: dict[str, tuple[Builder, str]] = {}


def query(oracle: str) -> Callable[[Builder], Builder]:
    """Register ``q_<name>`` as contract query ``<name>`` with ``oracle``,
    its DuckDB SQL twin over the same parquet views."""

    def register(builder: Builder) -> Builder:
        name = builder.__name__.removeprefix("q_")
        if name == builder.__name__ or name in _REGISTRY:
            raise ValueError(f"bad or duplicate contract query: {builder.__name__}")
        _REGISTRY[name] = (builder, oracle)
        return builder

    return register


# ---------------------------------------------------------------------------
# Extraction family — the flagship
# ---------------------------------------------------------------------------


@query(
    "SELECT doc_id, 'Document ' || doc_id || chr(10) || chr(10) || text"
    " AS extracted_text FROM documents"
)
def q_extract_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline: build chrome-wrapped pages from documents, extract,
    and return text that must be byte-identical to the closed form."""
    pages = pages_from_documents(spark, sf_dir)
    out = extract_pages(pages)
    return out.select(doc_id_from_url("url"), "extracted_text")


@query(
    "SELECT lang, count(*) AS n_docs,"
    " CAST(sum(length('Document ' || doc_id || chr(10) || chr(10) ||"
    " text)) AS BIGINT)"
    " AS sum_chars FROM documents GROUP BY lang"
)
def q_extract_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = pages_from_documents(spark, sf_dir)
    out = extract_pages(pages)
    return (
        out.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("extracted_text")).alias("sum_chars"),
        )
    )


@query(
    "SELECT doc_id, 2 AS n_spans, 'header,paragraph' AS span_types,"
    " CAST(NULL AS VARCHAR) AS parse_error FROM documents"
)
def q_extract_span_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = pages_from_documents(spark, sf_dir)
    out = extract_pages(pages)
    return out.select(
        doc_id_from_url("url"),
        F.size("spans").alias("n_spans"),
        F.concat_ws(",", F.transform("spans", lambda s: s["type"])).alias(
            "span_types"
        ),
        F.col("parse_error"),
    )


# The chrome fixture flattens to a FIXED 8-block sequence
# (header / 3 nav li / h1 / main p / aside p / footer p); only
# the main <p>'s n_words is text-dependent, and blocks after it
# renumber if the text is wordless (the flattener skips empty
# blocks). h1 verdict = heading-attachment to the following
# kept block (html_extract.py:765-770).
@query(f"""
    WITH d AS (SELECT doc_id, len({_TOKS}) AS nw FROM documents),
    b AS (
      SELECT doc_id, 0 AS block_idx, 'header' AS tag,
             2 AS n_words, 2 AS n_link_words,
             1.0 AS link_density, FALSE AS is_content FROM d
      UNION ALL SELECT doc_id, 1, 'li', 2, 2, 1.0, FALSE FROM d
      UNION ALL SELECT doc_id, 2, 'li', 2, 2, 1.0, FALSE FROM d
      UNION ALL SELECT doc_id, 3, 'li', 2, 2, 1.0, FALSE FROM d
      UNION ALL SELECT doc_id, 4, 'h1', 2, 0, 0.0, nw > 0 FROM d
      UNION ALL SELECT doc_id, 5, 'p', nw, 0, 0.0, TRUE
        FROM d WHERE nw > 0
      UNION ALL SELECT doc_id, CASE WHEN nw > 0 THEN 6 ELSE 5 END,
        'p', 4, 2, 0.5, FALSE FROM d
      UNION ALL SELECT doc_id, CASE WHEN nw > 0 THEN 7 ELSE 6 END,
        'p', 4, 1, 0.25, FALSE FROM d)
    SELECT doc_id, CAST(block_idx AS INTEGER) AS block_idx, tag,
           CAST(n_words AS INTEGER) AS n_words,
           CAST(n_link_words AS INTEGER) AS n_link_words,
           CAST(link_density AS DOUBLE) AS link_density,
           is_content, CAST(NULL AS VARCHAR) AS parse_error
    FROM b
""")
def q_block_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerpipe-style per-block scoring rows (north-rule "block scoring
    over a flattened DOM node array" as auditable data): one row per DOM
    block of the chrome fixture with the word-count / link-density
    features and the classifier's verdict. The chrome's 8-block layout
    is a closed form; only the main ``<p>``'s word count (and, through
    the heading-attachment rule, the ``<h1>``'s verdict) depends on the
    document text."""
    from document_extractor_spark.operators.blocks import block_profile

    pages = pages_from_documents(spark, sf_dir)
    return block_profile(pages).select(
        doc_id_from_url("url"), "block_idx", "tag", "n_words",
        "n_link_words", "link_density", "is_content", "parse_error")


# ---------------------------------------------------------------------------
# Text-analysis family
# ---------------------------------------------------------------------------


@query(f"""
    SELECT doc_id,
      length(text) AS n_chars,
      len({_TOKS}) AS n_tokens,
      round(length(regexp_replace(text, '\\s+', '', 'g'))
            / nullif(len({_TOKS})::DOUBLE, 0.0), 6) AS avg_word_len,
      round((length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')))
            / nullif(length(text)::DOUBLE, 0.0), 6) AS punct_ratio,
      round(len(list_filter({_TOKS}, t -> list_contains({_STOP}, lower(t))))
            / nullif(len({_TOKS})::DOUBLE, 0.0), 6) AS stopword_ratio,
      round(
        least(1.0, coalesce(len(list_filter({_TOKS}, t -> list_contains({_STOP}, lower(t))))
              / nullif(len({_TOKS})::DOUBLE, 0.0), 0.0) * 2.0) * 0.5
        + (CASE WHEN coalesce(length(regexp_replace(text, '\\s+', '', 'g'))
                / nullif(len({_TOKS})::DOUBLE, 0.0), 0.0) BETWEEN 3.0 AND 10.0
                THEN 1.0 ELSE 0.5 END) * 0.3
        + (1.0 - least(1.0, coalesce((length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')))
                / nullif(length(text)::DOUBLE, 0.0), 0.0) * 5.0)) * 0.2,
      6) AS quality
    FROM documents
""")
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_stats(_docs(spark, sf_dir))


@query(f"""
    SELECT doc_id, length(text) AS n_chars2,
           len({_TOKS}) AS n_tokens
    FROM documents
""")
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        char_count("text").alias("n_chars2"),
        token_count("text").alias("n_tokens"),
    )


@query(f"SELECT doc_id, md5({_NORM}) AS fingerprint FROM documents")
def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_fingerprints(_docs(spark, sf_dir))


@query(f"""
    WITH t AS (SELECT doc_id, {_NORM} AS c FROM documents),
    g AS (SELECT doc_id,
      CASE WHEN length(c) >= 8
           THEN list_transform(range(1, length(c) - 6),
                i -> md5(substr(c, i, 8)))
           ELSE []::VARCHAR[] END AS grams
      FROM t),
    m AS (SELECT doc_id,
      CASE WHEN len(grams) >= 4
           THEN list_distinct(list_transform(
                range(1, len(grams) - 2),
                j -> list_min(grams[j:j+3])))
           WHEN len(grams) > 0 THEN [list_min(grams)]
           ELSE []::VARCHAR[] END AS fps
      FROM g)
    SELECT doc_id, unnest(fps) AS fingerprint FROM m
""")
def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints (k=8, w=4), exploded to
    (doc_id, fingerprint) rows — the substring-match dedup signal."""
    from document_extractor_spark.functions.text import (
        winnow_fingerprints_df,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    # explode_outer, NOT explode: explode's implicit size(col)>0 filter
    # is pushed below the staged projections with the whole fingerprint
    # expression inlined — re-evaluating the O(n·k) gram pipeline per
    # row a second time. The null-filter on the GENERATED attribute
    # cannot push down, so the staged projections evaluate once.
    return (
        winnow_fingerprints_df(d)
        .select("doc_id",
                F.explode_outer("fingerprints").alias("fingerprint"))
        .filter(F.col("fingerprint").isNotNull())
    )


@query(f"""
    WITH q AS (
      SELECT source,
        round(
          least(1.0, coalesce(len(list_filter({_TOKS}, t -> list_contains({_STOP}, lower(t))))
                / nullif(len({_TOKS})::DOUBLE, 0.0), 0.0) * 2.0) * 0.5
          + (CASE WHEN coalesce(length(regexp_replace(text, '\\s+', '', 'g'))
                  / nullif(len({_TOKS})::DOUBLE, 0.0), 0.0) BETWEEN 3.0 AND 10.0
                  THEN 1.0 ELSE 0.5 END) * 0.3
          + (1.0 - least(1.0, coalesce((length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')))
                  / nullif(length(text)::DOUBLE, 0.0), 0.0) * 5.0)) * 0.2,
        6) AS q
      FROM documents)
    SELECT source, count(*) AS n_docs, round(avg(q), 4) AS avg_quality
    FROM q GROUP BY source
""")
def q_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return (
        d.select("source", quality_score("text").alias("q"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("q"), 4).alias("avg_quality"),
        )
    )


@query(r"""
    SELECT doc_id,
           len(regexp_extract_all(text,
             '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')) AS n_bpe_tokens
    FROM documents
""")
def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pretokenizer count (RE2-compatible GPT-2-style pattern —
    the identical regex runs in the DuckDB oracle)."""
    from document_extractor_spark.functions.text import bpe_token_count

    d = _docs(spark, sf_dir)
    return d.select("doc_id", bpe_token_count("text").alias("n_bpe_tokens"))


@query("""
    WITH src AS (
      SELECT doc_id,
        CASE WHEN doc_id % 2 = 0
             THEN text || chr(10) || text ELSE text END AS text
      FROM documents),
    l AS (
      SELECT doc_id,
        list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> x <> '') AS lines,
        list_filter(list_transform(string_split(text, chr(10) || chr(10)), x -> trim(x)), x -> x <> '') AS paras
      FROM src)
    SELECT doc_id,
      len(lines) AS n_lines,
      round(CASE WHEN len(lines) > 0
            THEN 1.0 - len(list_distinct(lines)) / len(lines)::DOUBLE
            ELSE 0.0 END, 6) AS dup_line_frac,
      round(CASE WHEN coalesce(list_sum(list_transform(lines,
                x -> length(x))), 0) > 0
            THEN coalesce(list_sum(list_transform(lines,
                x -> CASE WHEN len(list_filter(lines, y -> y = x)) > 1
                     THEN length(x) ELSE 0 END)), 0)
               / list_sum(list_transform(lines, x -> length(x)))::DOUBLE
            ELSE 0.0 END, 6) AS dup_line_char_frac,
      round(CASE WHEN len(paras) > 0
            THEN 1.0 - len(list_distinct(paras)) / len(paras)::DOUBLE
            ELSE 0.0 END, 6) AS dup_para_frac
    FROM l
""")
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters; every even doc is doubled in-query
    (text || \n || text) so duplicate-line detection has real work."""
    from document_extractor_spark.operators.textstats import repetition_stats

    d = _docs(spark, sf_dir)
    t2 = F.when(F.col("doc_id") % 2 == 0,
                F.concat("text", F.lit("\n"), "text")).otherwise(F.col("text"))
    return repetition_stats(d.select("doc_id", t2.alias("text")))


@query(f"""
    WITH g AS (
      SELECT doc_id,
        len({_TOKS}) AS n_words,
        length(regexp_replace(text, '\\s+', '', 'g'))
          / nullif(len({_TOKS})::DOUBLE, 0.0) AS mwl,
        coalesce(len(regexp_extract_all(text, '#|\\.\\.\\.|…'))
          / nullif(len({_TOKS})::DOUBLE, 0.0), 0.0) AS symr,
        list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> x <> '') AS lines,
        len(list_intersect(list_transform({_TOKS}, t -> lower(t)),
          ['the','be','to','of','and','that','have','with'])) >= 2
          AS has_english
      FROM documents)
    SELECT doc_id, n_words,
      round(mwl, 6) AS mean_word_len,
      round(symr, 6) AS symbol_word_ratio,
      round(CASE WHEN len(lines) > 0
        THEN len(list_filter(lines, x -> regexp_matches(x, '^[-*•]')))
          / len(lines)::DOUBLE ELSE 0.0 END, 6) AS bullet_line_frac,
      round(CASE WHEN len(lines) > 0
        THEN len(list_filter(lines,
            x -> regexp_matches(x, '(\\.\\.\\.|…)$')))
          / len(lines)::DOUBLE ELSE 0.0 END, 6) AS ellipsis_line_frac,
      (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
      (mwl >= 3.0 AND mwl <= 10.0) AS ok_mean_word_len,
      (symr <= 0.1) AS ok_symbol_ratio,
      has_english,
      ((n_words >= 50 AND n_words <= 100000)
       AND (mwl >= 3.0 AND mwl <= 10.0) AND (symr <= 0.1)
       AND (CASE WHEN len(lines) > 0
            THEN len(list_filter(lines, x -> regexp_matches(x, '^[-*•]')))
              / len(lines)::DOUBLE ELSE 0.0 END) <= 0.9
       AND (CASE WHEN len(lines) > 0
            THEN len(list_filter(lines,
                x -> regexp_matches(x, '(\\.\\.\\.|…)$')))
              / len(lines)::DOUBLE ELSE 0.0 END) <= 0.3
       AND has_english) AS passes_gopher
    FROM g
""")
def q_gopher_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from document_extractor_spark.operators.textstats import (
        gopher_quality_flags,
    )

    return gopher_quality_flags(_docs(spark, sf_dir))


# Planted-language fixtures for the lang_id oracle: one stopword-dense
# sentence per supported language (the corpus's own `lang` column is a
# random label — its text is English-ish jargon regardless, so planted
# text is the only closed-form ground truth). Each sentence was chosen
# so its stopword-hit vote wins by a wide margin (verified against the
# scalar kernel for every (lang, doc_id) combination class), and the
# CJK sentence trips the script vote (>25% CJK codepoints).
_LANG_SENTENCES = [
    ("en", "the cat and the dog is in that house with it for this day"),
    ("de", "der hund und die katze ist nicht mit von auf für im garten"),
    ("fr", "le chien et la chatte est dans pour une des que qui avec sur"),
    ("es", "el perro y la gata es en de para una que con por no más"),
    ("zh", "数据处理系统快速分析文档内容提取信息结构"),
]


# lang_id: planted one-sentence-per-language text (see q_lang_id) —
# the prediction is a pure function of doc_id % 5.
@query("""
    SELECT doc_id, CASE CAST(doc_id % 5 AS INTEGER)
      WHEN 0 THEN 'en' WHEN 1 THEN 'de' WHEN 2 THEN 'fr'
      WHEN 3 THEN 'es' ELSE 'zh' END AS lang_pred
    FROM documents
""")
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID over planted-language text (closed-form oracle): doc
    ``i`` gets the ``_LANG_SENTENCES[i % 5]`` sentence plus a per-doc
    noise token, so the kernel's prediction must equal ``i % 5``'s
    language for every row — the oracle states that CASE directly. The
    stopword/script tables themselves have no SQL twin; corpus-text
    behavior is covered by the extract_lang_profile oracle and the
    batch-vs-scalar parity pytest."""
    d = _docs(spark, sf_dir).select("doc_id")
    sent = F.element_at(
        F.array(*[F.lit(s) for _, s in _LANG_SENTENCES]),
        (F.col("doc_id") % 5 + 1).cast("int"),
    )
    planted = d.select(
        "doc_id",
        F.concat(sent, F.lit(" doc "),
                 F.col("doc_id").cast("string")).alias("text"),
    )
    return detect_languages(planted)


# ---------------------------------------------------------------------------
# Dedup family (duplicates planted deterministically in-query so the
# operator has real work at every sf)
# ---------------------------------------------------------------------------


def _augmented_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "text")
    clones = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return d.unionByName(clones)


@query(f"""
    WITH aug AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, text FROM documents WHERE doc_id < 50)
    SELECT md5({_NORM}) AS content_hash,
           min(doc_id) AS keep_id, count(*) AS n_dups
    FROM aug GROUP BY 1
""")
def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_duplicates(_augmented_exact(spark, sf_dir))


def _augmented_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "text").filter(F.col("doc_id") < 120)
    near = d.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq1 zq2 zq3")).alias("text"),
    )
    return d.unionByName(near)


# Exact all-pairs 3-shingle Jaccard over the planted clones: the
# ngram_jaccard answer, and the verified pair set of minhash_near_dups.
# Token-less texts get no shingles (dedup._shingled's \S test).
_JACCARD_SQL = r"""
    WITH aug AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 120
      UNION ALL
      SELECT doc_id + 100000, text || ' zq1 zq2 zq3'
      FROM documents WHERE doc_id < 40),
    sh AS (
      SELECT doc_id AS id,
        list_distinct(list_transform(
          range(1, greatest(len(regexp_split_to_array(lower(trim(text)), '\s+')) - 2, 1) + 1),
          i -> array_to_string((regexp_split_to_array(lower(trim(text)), '\s+'))[i:i+2], ' ')
        )) AS s
      FROM aug WHERE regexp_matches(text, '\S')),
    ex AS (SELECT id, len(s) AS n_sh, unnest(s) AS tok FROM sh),
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
             count(*) AS n_common
      FROM ex a JOIN ex b ON a.tok = b.tok AND a.id < b.id
      GROUP BY 1, 2, 3, 4)
    SELECT id_a, id_b,
           round(n_common / (n_a + n_b - n_common)::DOUBLE, 6) AS jaccard
    FROM common
    WHERE n_common / (n_a + n_b - n_common)::DOUBLE >= 0.5
"""


@query(_JACCARD_SQL)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(_augmented_near(spark, sf_dir), threshold=0.5)


# minhash_near_dups: LSH candidates verified by exact Jaccard — the
# verified pair set must equal the exact all-pairs answer, which is
# precisely the ngram_jaccard oracle (same shingles, same rounding).
@query(_JACCARD_SQL)
def q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows-only (xxhash64 minhash has no DuckDB twin); pytest validates
    # candidate recall vs exact Jaccard ground truth
    return minhash_near_duplicates(_augmented_near(spark, sf_dir), threshold=0.5)


@query("""
    SELECT doc_id FROM documents WHERE doc_id < 120
""")
def q_drop_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus near-dedup: LSH candidates → Jaccard verify →
    connected components → anti-join victims. Closed form: every planted
    clone (doc_id+100000, jaccard ≈0.9 vs its source) dies, every
    original survives (random-vocab originals never cross τ=0.5 — the
    ngram_jaccard oracle proves the pair set is exactly the clones)."""
    from document_extractor_spark.operators.dedup import drop_near_duplicates

    return drop_near_duplicates(
        _augmented_near(spark, sf_dir), threshold=0.5).select("doc_id")


# Quality-aware variant: keep_by = doc_id, so the clone
# (doc_id + 100000) outranks its source in every cluster.
@query("""
    SELECT doc_id + 100000 AS doc_id FROM documents
    WHERE doc_id < 40
    UNION ALL
    SELECT doc_id FROM documents
    WHERE doc_id >= 40 AND doc_id < 120
""")
def q_drop_near_dups_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dedup: same planted clone fixture as
    drop_near_dups, but keep_by = doc_id, so in every {original,
    clone} cluster the CLONE (larger score) survives — the closed
    form the oracle states."""
    from document_extractor_spark.operators.dedup import drop_near_duplicates

    aug = _augmented_near(spark, sf_dir).withColumn(
        "q", F.col("doc_id"))
    return drop_near_duplicates(
        aug, threshold=0.5, keep_by="q").select("doc_id")


# Mirror families closed form: each planted mirror pair shares
# its full hash set (verified distinct at this sf — no
# accidental cross-host sharing exists to add edges); n_hashes
# = the group's distinct normalized-text count.
@query(f"""
    WITH g AS (SELECT DISTINCT doc_id % 10 AS m FROM documents
               WHERE m < 5),
    cnt AS (SELECT doc_id % 10 AS m,
                   count(DISTINCT md5({_NORM})) AS nh
            FROM documents GROUP BY 1),
    hosts AS (
      SELECT 'h' || m AS host, 'h' || m AS family_id, m FROM g
      UNION ALL
      SELECT 'm' || m, 'h' || m, m FROM g)
    SELECT h.host, h.family_id,
           CAST(c.nh AS BIGINT) AS n_hashes
    FROM hosts h JOIN cnt c USING (m)
""")
def q_mirror_families(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror-site family detection over planted mirrors: base hosts
    h0..h9 partition the corpus by doc_id%10; hosts m0..m4 re-serve
    groups 0..4 verbatim. Families are exactly {hg, mg} for g<5 with
    family_id hg (lexicographic min); unmirrored hosts have no edge
    and no row."""
    from document_extractor_spark.operators.dedup import mirror_families

    d = _docs(spark, sf_dir).select("doc_id", "text")
    g = (F.col("doc_id") % 10).cast("string")
    base = d.select(F.concat(F.lit("h"), g).alias("source"), "text")
    mirrored = (d.where(F.col("doc_id") % 10 < 5)
                .select(F.concat(F.lit("m"), g).alias("source"), "text"))
    return mirror_families(base.union(mirrored))


@query("""
    WITH src AS (
      SELECT doc_id,
        text || chr(10) || chr(10) ||
          'shared boilerplate paragraph planted for dedup' AS text
      FROM documents),
    p AS (
      SELECT doc_id,
        generate_subscripts(string_split(text, chr(10) || chr(10)), 1)
          AS pos,
        unnest(string_split(text, chr(10) || chr(10))) AS para
      FROM src),
    k AS (
      SELECT doc_id, pos, para,
        row_number() OVER (PARTITION BY md5(para)
                           ORDER BY doc_id, pos) AS rn
      FROM p)
    SELECT s.doc_id, coalesce(r.text, '') AS text
    FROM src s LEFT JOIN (
      SELECT doc_id,
        string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text
      FROM k WHERE rn = 1 OR length(para) < 10
      GROUP BY doc_id) r USING (doc_id)
""")
def q_drop_dup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-wide paragraph dedup: a shared boilerplate
    paragraph is appended to EVERY doc in-query; after dedup only the
    min-doc_id occurrence survives. Oracle replicates the full explode →
    window → reassemble pipeline in SQL."""
    from document_extractor_spark.operators.dedup import (
        drop_duplicate_paragraphs,
    )

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            "text",
            F.lit("\n\nshared boilerplate paragraph planted for dedup"),
        ).alias("text"),
    )
    return drop_duplicate_paragraphs(d)


# simhash: identical clone → Hamming exactly 0 (structural);
# 3-token append → within 16 of 64 bits (measured max 14).
@query("""
    SELECT doc_id, CAST(0 AS INTEGER) AS ham_identical,
           TRUE AS mut_within_16
    FROM documents WHERE doc_id < 200
""")
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash planted-pair verdicts (closed-form oracle): an identical
    clone lands at Hamming distance EXACTLY 0 (same token multiset →
    same per-bit votes → same signature, structural), and a 3-token
    append stays within 16 of 64 bits (measured max 14 on the frozen
    corpus; 3 extra tokens can only flip near-threshold bit votes).
    The signatures themselves are xxhash64-derived (no DuckDB twin);
    the verdict columns are exact."""
    d = _docs(spark, sf_dir).select("doc_id", "text") \
        .filter(F.col("doc_id") < 200)
    ident = d.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    mut = d.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat("text", F.lit(" zq1 zq2 zq3")).alias("text"),
    )
    sigs = simhash(d.unionByName(ident).unionByName(mut))
    base = sigs.filter(F.col("doc_id") < 200) \
        .select("doc_id", F.col("simhash").alias("s0"))
    si = sigs.filter(F.col("doc_id").between(100000, 199999)).select(
        (F.col("doc_id") - 100000).alias("doc_id"),
        F.col("simhash").alias("s1"))
    sm = sigs.filter(F.col("doc_id") >= 200000).select(
        (F.col("doc_id") - 200000).alias("doc_id"),
        F.col("simhash").alias("s2"))
    return (
        base.join(si, "doc_id").join(sm, "doc_id")
        .select(
            "doc_id",
            F.bit_count(F.col("s0").bitwiseXOR(F.col("s1")))
            .cast("int").alias("ham_identical"),
            (F.bit_count(F.col("s0").bitwiseXOR(F.col("s2"))) <= F.lit(16))
            .alias("mut_within_16"),
        )
    )


@query(f"""
    WITH aug AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, text FROM documents WHERE doc_id < 50)
    SELECT min(doc_id) AS doc_id FROM aug GROUP BY md5({_NORM})
""")
def q_dedup_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join shape (§2.9 set ops): survivors after exact dedup."""
    from document_extractor_spark.operators.dedup import drop_exact_duplicates

    return drop_exact_duplicates(_augmented_exact(spark, sf_dir)) \
        .select("doc_id")


# Quality-aware dedup survivors: clone pairs share text, the
# pmod-7 provenance scores always differ (100000 % 7 == 5), so
# the max-score survivor is a closed form of doc_id.
@query("""
    SELECT CASE WHEN doc_id % 7 > (doc_id + 100000) % 7
                THEN doc_id ELSE doc_id + 100000 END AS doc_id
    FROM documents WHERE doc_id < 50
    UNION ALL
    SELECT doc_id FROM documents WHERE doc_id >= 50
""")
def q_dedup_best_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware exact dedup: each planted clone pair shares text
    but differs in the provenance score pmod(doc_id, 7) — the survivor
    maximizes the score (and 100000 % 7 == 5 makes the two scores
    always distinct), so the kept id is a closed form of doc_id."""
    from document_extractor_spark.operators.dedup import (
        drop_exact_duplicates,
    )

    aug = _augmented_exact(spark, sf_dir).withColumn(
        "prov", F.pmod(F.col("doc_id"), F.lit(7)))
    return drop_exact_duplicates(aug, keep_by="prov").select("doc_id")


# Sequence-packing placement: identical md5 shard arithmetic +
# per-shard running token sum, restated as a window.
@query(f"""
    WITH t AS (
      SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
             md5('shuf1' || CAST(doc_id AS VARCHAR)) AS hh
      FROM documents),
    s AS (
      SELECT doc_id, n_tokens, hh,
             CAST(('0x' || substr(hh, 1, 8))::UBIGINT % 8 AS INT)
               AS shard
      FROM t),
    o AS (
      SELECT doc_id, n_tokens, shard,
             CAST(coalesce(sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY hh, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS tok_offset
      FROM s)
    SELECT doc_id, shard, tok_offset,
           CAST(floor(tok_offset / 512) AS BIGINT) AS seq_first,
           CAST(floor((tok_offset + greatest(n_tokens, 1) - 1)
                      / 512) AS BIGINT) AS seq_last,
           (floor((tok_offset + greatest(n_tokens, 1) - 1) / 512)
            <> floor(tok_offset / 512)) AS crosses_boundary
    FROM o
""")
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing placement over the deterministic
    shard order: token counts, shard assignment, and the running
    offset are all pure functions the oracle restates in SQL."""
    from document_extractor_spark.functions.text import token_count
    from document_extractor_spark.operators.curation import (
        pack_sequences,
        shuffle_shards,
    )

    d = _docs(spark, sf_dir).select(
        "doc_id", token_count("text").cast("bigint").alias("n_tokens"))
    sharded = shuffle_shards(d, n_shards=8)
    return pack_sequences(sharded, ctx_len=512).select(
        "doc_id", "shard", "tok_offset", "seq_first", "seq_last",
        "crosses_boundary")


# Web-graph outlinks: 11 planted anchors per page in document
# order — 5 chrome links, 3 arithmetic cross-host refs, 3 more
# chrome links — each field a closed form of (doc_id, index).
@query("""
    WITH d AS (SELECT doc_id, doc_id % 37 AS m FROM documents),
    li AS (SELECT unnest(generate_series(1, 11)) AS link_index),
    x AS (
      SELECT d.doc_id, d.m, li.link_index,
        CASE li.link_index
          WHEN 1 THEN '/' WHEN 2 THEN '/about' WHEN 3 THEN '/a'
          WHEN 4 THEN '/b' WHEN 5 THEN '/c' WHEN 9 THEN '/x'
          WHEN 10 THEN '/y' WHEN 11 THEN '/t'
          ELSE 'https://h' ||
               ((d.doc_id + 5 * (li.link_index - 5)) % 37) ||
               '.example.org/d/' || d.doc_id || '-' ||
               (li.link_index - 5)
        END AS href,
        CASE li.link_index
          WHEN 1 THEN 'Home' WHEN 2 THEN 'About'
          WHEN 3 THEN 'Cat A' WHEN 4 THEN 'Cat B'
          WHEN 5 THEN 'Cat C' WHEN 9 THEN 'one'
          WHEN 10 THEN 'two' WHEN 11 THEN 'Terms'
          ELSE 'Ref ' || (li.link_index - 5) || ' for document '
               || d.doc_id
        END AS anchor
      FROM d, li)
    SELECT doc_id, link_index, href, anchor,
      CASE WHEN href LIKE '/%'
           THEN 'https://h' || m || '.example.org' || href
           ELSE href END AS resolved,
      CASE WHEN href LIKE '/%' THEN 'h' || m || '.example.org'
           ELSE 'h' || ((doc_id + 5 * (link_index - 5)) % 37)
                || '.example.org'
      END AS dst_host
    FROM x
""")
def q_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-graph outlink extraction: link-bearing pages carry 11
    anchors each (8 relative chrome links + 3 cross-host references),
    every field — href, anchor text, resolved URL, destination host —
    a closed form of doc_id the oracle restates directly."""
    from document_extractor_spark.operators.links import extract_outlinks
    from document_extractor_spark.sources.docpages import pages_with_links

    links = extract_outlinks(pages_with_links(spark, sf_dir))
    return links.select(doc_id_from_url("url"), "link_index", "href",
                        "anchor", "resolved", "dst_host")


# Host link graph: 8 self-edges per page + the 3 cross-host
# edges, grouped to (src_host, dst_host, n_links).
@query("""
    WITH d AS (SELECT doc_id, doc_id % 37 AS m FROM documents),
    e AS (
      SELECT 'h' || m || '.example.org' AS src_host,
             'h' || m || '.example.org' AS dst_host, 8 AS n
      FROM d
      UNION ALL
      SELECT 'h' || m || '.example.org',
             'h' || ((doc_id + 5 * k) % 37) || '.example.org', 1
      FROM d, (SELECT unnest([1, 2, 3]) AS k) ks
    )
    SELECT src_host, dst_host, CAST(sum(n) AS BIGINT) AS n_links
    FROM e GROUP BY 1, 2
""")
def q_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level link graph: aggregate the outlink rows to
    (src_host, dst_host, n_links) edges — 8 self-edges per page plus
    the 3 arithmetic cross-host edges."""
    from document_extractor_spark.operators.links import (
        extract_outlinks,
        host_link_graph,
    )
    from document_extractor_spark.sources.docpages import pages_with_links

    return host_link_graph(
        extract_outlinks(pages_with_links(spark, sf_dir)))


# PageRank on the fixture graph: circulant + doubly stochastic
# (identical per-source transition probabilities), so the
# damped stationary vector is exactly uniform 1/37 — closed
# form. Non-uniform convergence is numpy-verified in pytest.
@query("""
    SELECT DISTINCT 'h' || (doc_id % 37) || '.example.org'
             AS host,
           ROUND(1.0::DOUBLE / 37, 9) AS pagerank
    FROM documents
""")
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host authority over the fixture link graph. The planted graph is
    circulant and doubly stochastic (every page carries 8 self-links +
    3 cross refs, so per-source transition probabilities are identical
    across hosts), which makes uniform 1/37 an exact fixed point of the
    damped iteration — the oracle states it in closed form. Convergence
    to a NON-uniform stationary vector is pytest-verified against a
    dense numpy reference (test_pagerank_matches_numpy_asymmetric).
    Rounded to 9 decimals so float summation order cannot flip the
    hash."""
    from document_extractor_spark.operators.links import (
        extract_outlinks,
        host_link_graph,
        pagerank,
    )
    from document_extractor_spark.sources.docpages import pages_with_links

    g = host_link_graph(extract_outlinks(pages_with_links(spark, sf_dir)))
    pr = pagerank(g, damping=0.85, iterations=3)
    return pr.select("host", F.round("pagerank", 9).alias("pagerank"))


# Incoming anchor-text profile: the same closed-form link table
# as the outlinks oracle, aggregated per destination host.
# top_anchor = most frequent, ties lexicographically smallest
# (binary collation in both engines).
@query("""
    WITH d AS (SELECT doc_id, doc_id % 37 AS m FROM documents),
    li AS (SELECT unnest(generate_series(1, 11)) AS link_index),
    o AS (
      SELECT CASE WHEN li.link_index IN (6, 7, 8)
               THEN 'h' || ((d.doc_id + 5 * (li.link_index - 5))
                            % 37) || '.example.org'
               ELSE 'h' || d.m || '.example.org'
             END AS dst_host,
             CASE li.link_index
               WHEN 1 THEN 'Home' WHEN 2 THEN 'About'
               WHEN 3 THEN 'Cat A' WHEN 4 THEN 'Cat B'
               WHEN 5 THEN 'Cat C' WHEN 9 THEN 'one'
               WHEN 10 THEN 'two' WHEN 11 THEN 'Terms'
               ELSE 'Ref ' || (li.link_index - 5)
                    || ' for document ' || d.doc_id
             END AS anchor
      FROM d, li),
    pa AS (SELECT dst_host, anchor, count(*) AS n
           FROM o GROUP BY 1, 2)
    SELECT dst_host,
           CAST(sum(n) AS BIGINT) AS n_inlinks,
           CAST(count(*) AS BIGINT) AS n_anchor_texts,
           (list(anchor ORDER BY n DESC, anchor))[1] AS top_anchor
    FROM pa GROUP BY dst_host
""")
def q_anchor_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incoming anchor-text stats per destination host over the fixture
    link graph. Every link's anchor is closed-form (8 chrome anchors per
    page + 'Ref k for document i' cross refs), so the oracle restates
    the identical extraction+aggregation in SQL."""
    from document_extractor_spark.operators.links import (
        extract_outlinks,
        incoming_anchor_profile,
    )
    from document_extractor_spark.sources.docpages import pages_with_links

    return incoming_anchor_profile(
        extract_outlinks(pages_with_links(spark, sf_dir)))


# As-of join vs DuckDB's NATIVE ASOF LEFT JOIN over identically
# synthesized sides (backward-inclusive: crawl_ts >= snap_ts).
@query("""
    WITH l AS (
      SELECT 'h' || (doc_id % 37) || '.example.org' AS host,
             doc_id % 250 AS crawl_ts, doc_id
      FROM documents),
    r AS (
      SELECT 'h' || j || '.example.org' AS host,
             10 + s * 50 AS snap_ts,
             (j + s) % 5 AS tier,
             CASE WHEN s <> 2 THEN 'p' || s END AS note
      FROM (SELECT unnest(generate_series(0, 36)) AS j) js,
           (SELECT unnest(generate_series(0, 4)) AS s) ss)
    SELECT l.host, l.crawl_ts, l.doc_id, r.tier, r.note
    FROM l ASOF LEFT JOIN r
      ON l.host = r.host AND l.crawl_ts >= r.snap_ts
""")
def q_asof_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: stamp each crawled doc with the host-policy snapshot
    in force at crawl time. Left = docs at crawl_ts = doc_id % 250 on
    their h{doc_id%37} hosts; right = 5 snapshots per host at ts
    {10,60,110,160,210} with closed-form tier and a deliberately-NULL
    note on the third snapshot (exercises the struct-carry rule: a NULL
    field in the matched snapshot must surface as NULL, never an older
    snapshot's value). Docs crawled before ts 10 match nothing (NULL
    tier). The oracle is DuckDB's NATIVE ASOF LEFT JOIN."""
    from document_extractor_spark.operators.asof import asof_join

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    m = F.col("doc_id") % 37
    left = docs.select(
        F.concat(F.lit("h"), m.cast("string"),
                 F.lit(".example.org")).alias("host"),
        (F.col("doc_id") % 250).alias("crawl_ts"),
        F.col("doc_id"),
    )
    snaps = (
        spark.range(37)
        .select(
            F.concat(F.lit("h"), F.col("id").cast("string"),
                     F.lit(".example.org")).alias("host"),
            F.col("id").alias("_j"),
            F.explode(F.array(*[F.lit(s) for s in range(5)])).alias("_s"),
        )
        .select(
            "host",
            (F.lit(10) + F.col("_s") * 50).alias("snap_ts"),
            ((F.col("_j") + F.col("_s")) % 5).alias("tier"),
            F.when(F.col("_s") != 2,
                   F.concat(F.lit("p"), F.col("_s").cast("string"))
                   ).alias("note"),
        )
    )
    return asof_join(left, snaps, on="host",
                     left_ts="crawl_ts", right_ts="snap_ts")


# Multi-resolution rollup: identical ROLLUP lattice + GROUPING
# bitmask; sums as integer cents for an exact hash.
@query("""
    WITH e AS (SELECT CAST(ts AS DATE) AS day, event_type, value
               FROM events)
    SELECT COALESCE(CAST(day AS VARCHAR), 'ALL') AS day,
           COALESCE(event_type, 'ALL') AS event_type,
           count(*) AS n_events,
           CAST(round(sum(value) * 100, 0) AS BIGINT)
             AS value_cents,
           CAST(GROUPING(day, event_type) AS INT) AS gid
    FROM e GROUP BY ROLLUP(day, event_type)
""")
def q_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: one pass produces the
    (day, event_type) leaf aggregates plus the per-day and grand-total
    tiers (the continuous-aggregate shape TimescaleDB/Druid serve
    dashboards from), disambiguated by grouping_id. At scale this is
    one shuffle with map-side partial aggregation; the coarser tiers
    reuse the leaf partials rather than rescanning. Money-style sums
    are emitted as integer cents so the cross-engine hash is exact.
    Session-timezone safety: the parquet ts column has no timezone, so
    Spark 4 reads it as TIMESTAMP_NTZ (inferTimestampNTZ defaults on)
    and to_date() is wall-clock truncation — verified identical to
    DuckDB's CAST(ts AS DATE) under an America/New_York session."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    agg = (
        ev.select(F.to_date("ts").alias("day"), "event_type", "value")
        .rollup("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value") * 100, 0).cast("bigint")
            .alias("value_cents"),
            F.grouping_id().cast("int").alias("gid"),
        )
    )
    # rolled-up tiers coalesce to 'ALL' (gid already disambiguates);
    # NULL grouping keys would make the driver's sorted-rowset compare
    # heterogeneous
    return agg.select(
        F.coalesce(F.col("day").cast("string"), F.lit("ALL")).alias("day"),
        F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
        "n_events", "value_cents", "gid",
    )


# Stratified sample: identical md5 ranking in both engines.
@query("""
    WITH r AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('strat1' || CAST(doc_id AS VARCHAR)))
               AS rn
      FROM documents)
    SELECT doc_id, lang FROM r WHERE rn <= 5
""")
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-5-per-language deterministic sample: each language keeps
    its 5 docs with the smallest md5('strat1' || doc_id) — md5 is
    identical in both engines, so the oracle reproduces the sample
    row-for-row."""
    from document_extractor_spark.operators.curation import (
        stratified_sample,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stratified_sample(docs.select("doc_id", "lang"),
                             group_col="lang", k=5)


# Snapshot diff: statuses are pure functions of doc_id.
@query("""
    SELECT 'https://docs.example.org/' || doc_id AS url,
           CASE WHEN doc_id < 50 THEN 'removed'
                WHEN doc_id % 10 = 0 THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM documents
    UNION ALL
    SELECT 'https://docs.example.org/' || (doc_id + 100000),
           'added'
    FROM documents WHERE doc_id < 10
""")
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-snapshot diff over planted edits: the new snapshot drops
    docs < 50 (removed), appends ' v2' to the text of every remaining
    doc_id % 10 == 0 (changed), and adds clones at id+100000 for docs
    0-9 (added); everything else is unchanged. Statuses are pure
    functions of doc_id — the oracle states them directly."""
    from document_extractor_spark.operators.diff import snapshot_diff

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    key = F.concat(F.lit("https://docs.example.org/"),
                   F.col("doc_id").cast("string")).alias("url")
    old = docs.select(key, "text")
    kept = docs.where(F.col("doc_id") >= 50).select(
        key,
        F.when(F.col("doc_id") % 10 == 0,
               F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")).alias("text"),
    )
    added = docs.where(F.col("doc_id") < 10).select(
        F.concat(F.lit("https://docs.example.org/"),
                 (F.col("doc_id") + 100000).cast("string")).alias("url"),
        "text",
    )
    return snapshot_diff(old, kept.unionByName(added), key_col="url")


# URL canonicalization: the messy fixture URL is a pure
# function of doc_id, so the canonical form is stated directly.
@query("""
    SELECT doc_id,
           'https://h' || (doc_id % 37) || '.example.org/d./~u%2Fv/'
             || doc_id || '?a=1&b=' || doc_id AS canonical_url
    FROM documents
""")
def q_canonical_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization over planted messy URLs: mixed-case
    scheme/host, explicit default port, tracking params (including a
    percent-encoded ``utm%5Fsource`` spelling), unsorted params, a
    fragment, and RFC 3986 §6.2.2 percent spellings (``%7e`` → ``~``,
    ``%2e`` → ``.``, reserved ``%2f`` uppercased in place) — all pure
    functions of doc_id, so the canonical form is closed-form for the
    oracle."""
    from document_extractor_spark.operators.curation import (
        canonicalize_urls,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id").cast("string")
    messy = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://H"), (F.col("doc_id") % 37).cast("string"),
            F.lit(".Example.ORG:443/d%2e/%7eu%2fv/"), did,
            F.lit("?utm%5Fsource=feed&b="), did, F.lit("&a=%31#frag"),
        ).alias("url"),
    )
    return canonicalize_urls(messy).select("doc_id", "canonical_url")


# Top-k characteristic terms: identical tokenization (the
# token_counts twin) + integer-only (tf DESC, df ASC, term)
# ranking — a deterministic total order in both engines.
@query("""
    WITH t AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(
               trim(lower(text)), '\\s+'), t -> t <> '')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf
           FROM t GROUP BY 1, 2),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    r AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf DESC, dfq.df ASC, tf.term ASC)
               AS rank
      FROM tf JOIN dfq USING (term))
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
           CAST(df AS BIGINT) AS df, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 3
""")
def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per doc: tf desc, then df asc (rarer
    term wins ties), then term asc — an integer-only total order, so
    the ranking has an exact SQL twin (ln-based tf-idf would risk
    last-ulp libm rank flips across engines)."""
    from document_extractor_spark.operators.textstats import doc_top_terms

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return doc_top_terms(docs, k=3)


# NFC normalization: chr(769) is the combining acute; DuckDB's
# nfc_normalize must compose it identically to unicodedata.
@query("""
    SELECT doc_id,
           nfc_normalize(text || ' e' || chr(769)
                         || CAST(doc_id AS VARCHAR)) AS norm_text
    FROM documents
""")
def q_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC canonicalization, cross-checked against DuckDB's
    nfc_normalize. The fixture text is ASCII (where NFC is the
    identity), so a decomposed suffix — 'e' + combining acute (U+0301)
    + the doc_id — is planted on every row; the engines must agree on
    the composed bytes, exercising real normalization, not the ASCII
    fast path."""
    from document_extractor_spark.operators.textnorm import normalize_text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    planted = docs.select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" e\u0301"),
                 F.col("doc_id").cast("string")).alias("text"),
    )
    return normalize_text(planted, "text", out_col="norm_text") \
        .select("doc_id", "norm_text")


# Robots longest-prefix policy: most specific rule wins, ties
# prefer allow, unmatched/ruleless default to allowed.
@query("""
    WITH l AS (
      SELECT doc_id, doc_id % 37 AS j,
             'https://h' || (doc_id % 37) || '.example.org/d/'
               || doc_id AS url,
             '/d/' || doc_id AS path
      FROM documents),
    js AS (SELECT unnest(generate_series(0, 29)) AS j),
    r AS (
      SELECT j, '/d' AS pfx, (j % 3 <> 0) AS allow FROM js
      UNION ALL SELECT j, '/d/1', true FROM js
      UNION ALL SELECT j, '/nope', false FROM js),
    m AS (
      SELECT l.url, r.pfx, r.allow,
             row_number() OVER (
               PARTITION BY l.doc_id
               ORDER BY length(r.pfx) DESC NULLS LAST,
                        CAST(r.allow AS INT) DESC) AS rn
      FROM l LEFT JOIN r
        ON l.j = r.j AND l.path LIKE r.pfx || '%')
    SELECT url, COALESCE(pfx, '') AS matched_prefix,
           COALESCE(allow, true) AS allowed
    FROM m WHERE rn = 1
""")
def q_robots_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-prefix robots policy over the fixture hosts. Hosts 0-29
    carry three rules — ('/d', allow iff host%3!=0), ('/d/1', allow),
    ('/nope', deny, never matches) — so docs whose id starts with '1'
    are allowed by the more specific rule even on denied hosts; hosts
    30-36 have no rules and default to allowed with NULL prefix."""
    from document_extractor_spark.operators.robots import (
        apply_robots_policy,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    m = (F.col("doc_id") % 37).cast("string")
    pages = docs.select(
        F.concat(F.lit("https://h"), m, F.lit(".example.org/d/"),
                 F.col("doc_id").cast("string")).alias("url"))
    js = spark.range(30).select(
        F.concat(F.lit("h"), F.col("id").cast("string"),
                 F.lit(".example.org")).alias("host"),
        F.col("id").alias("j"))
    rules = (
        js.select("host", F.lit("/d").alias("path_prefix"),
                  (F.col("j") % 3 != 0).alias("allow"))
        .unionByName(js.select(
            "host", F.lit("/d/1").alias("path_prefix"),
            F.lit(True).alias("allow")))
        .unionByName(js.select(
            "host", F.lit("/nope").alias("path_prefix"),
            F.lit(False).alias("allow")))
    )
    out = apply_robots_policy(pages, rules)
    # NULL prefixes (ruleless hosts) → '' sentinel: the driver's
    # sorted-rowset compare needs homogeneous sort keys
    return out.select(
        "url",
        F.coalesce("matched_prefix", F.lit("")).alias("matched_prefix"),
        "allowed",
    )


# KMV sketch: the oracle recomputes the k smallest md5 hashes
# of the exact distinct set — identical to the merged
# distributed sketch because k-smallest is a semilattice.
# 281474976710656 = 16^12 (the 48-bit hash-prefix fraction).
@query("""
    WITH d AS (SELECT DISTINCT event_type AS key,
                      md5(CAST(user_id AS VARCHAR)) AS h
               FROM events WHERE user_id IS NOT NULL),
    r AS (SELECT key, h,
                 row_number() OVER (PARTITION BY key
                                    ORDER BY h) AS rn,
                 count(*) OVER (PARTITION BY key) AS nd
          FROM d),
    s AS (SELECT key, nd, h AS kth FROM r
          WHERE rn = least(nd, 64))
    SELECT key,
           CAST(least(nd, 64) AS INT) AS n_kept,
           CAST(CASE WHEN nd < 64 THEN nd
                ELSE floor(63 /
                  (('0x' || substr(kth, 1, 12))::UBIGINT::DOUBLE
                   / 281474976710656.0))
                END AS BIGINT) AS est_distinct
    FROM s
""")
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch: distinct users per event type at
    k=64. KMV is exactly mergeable (k-smallest is a semilattice), so
    the distributed sketch is a pure function of the input set and the
    oracle recomputes the identical k minimum md5 hashes from the exact
    distinct set — hash-equal across engines, estimator and all."""
    from document_extractor_spark.operators.sketch import kmv_distinct

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return kmv_distinct(ev, key_col="event_type", value_col="user_id",
                        k=64)


# HLL twin lives next to the operator so the constants (M, CAP,
# alpha, fixed-point ln table) can never drift between engines.
_HLL_SQL = hll_oracle_sql("events", "event_type", "user_id")


@query(_HLL_SQL)
def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count sketch: distinct users per event type
    with m=64 registers. The whole sketch is pure relational algebra
    (values never shuffle — only (key, bucket, rank) integer triples
    with map-side partial max), and the estimator is integer-exact
    (rational alpha, fixed-point ln table), so the DuckDB oracle
    recomputes the identical registers AND the identical estimate."""
    from document_extractor_spark.operators.hll import hll_distinct

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return hll_distinct(ev, key_col="event_type", value_col="user_id")


# KMV set algebra: identical k-min sketches + union sketch +
# integer overlap estimates recomputed from the exact sets.
# est(n, kth) inlined thrice = the kmv_distinct estimator.
@query("""
    WITH a AS (SELECT DISTINCT
                 md5('https://docs.example.org/' ||
                     CAST(doc_id AS VARCHAR)) AS h
               FROM documents),
    b AS (SELECT md5('https://docs.example.org/' ||
                     CAST(doc_id AS VARCHAR)) AS h
          FROM documents WHERE doc_id >= 100
          UNION
          SELECT md5('https://docs.example.org/' ||
                     CAST(doc_id + 100000 AS VARCHAR))
          FROM documents WHERE doc_id < 50),
    sa AS (SELECT h FROM a ORDER BY h LIMIT 64),
    sb AS (SELECT h FROM b ORDER BY h LIMIT 64),
    ku AS (SELECT h FROM (SELECT h FROM sa
                          UNION SELECT h FROM sb) u
           ORDER BY h LIMIT 64),
    ef AS (SELECT
      (SELECT count(*) FROM ku) AS n_union,
      (SELECT count(*) FROM ku
       WHERE h IN (SELECT h FROM sa)
         AND h IN (SELECT h FROM sb)) AS n_both,
      (SELECT count(*) FROM sa) AS na,
      (SELECT max(h) FROM sa) AS ka,
      (SELECT count(*) FROM sb) AS nb,
      (SELECT max(h) FROM sb) AS kb,
      (SELECT max(h) FROM ku) AS kthu),
    est AS (SELECT n_union, n_both,
      CAST(CASE WHEN na < 64 THEN na ELSE floor(63 /
        (('0x' || substr(ka, 1, 12))::UBIGINT::DOUBLE
         / 281474976710656.0)) END AS BIGINT) AS est_a,
      CAST(CASE WHEN nb < 64 THEN nb ELSE floor(63 /
        (('0x' || substr(kb, 1, 12))::UBIGINT::DOUBLE
         / 281474976710656.0)) END AS BIGINT) AS est_b,
      CAST(CASE WHEN n_union < 64 THEN n_union ELSE floor(63 /
        (('0x' || substr(kthu, 1, 12))::UBIGINT::DOUBLE
         / 281474976710656.0)) END AS BIGINT) AS est_union
      FROM ef)
    SELECT CAST(n_union AS INT) AS n_union,
           CAST(n_both AS INT) AS n_both,
           est_a, est_b, est_union,
           CAST(CASE WHEN n_union > 0
                THEN floor(n_both * est_union / n_union)
                ELSE 0 END AS BIGINT) AS est_intersection,
           CAST(CASE WHEN n_union > 0
                THEN floor(1000 * n_both / n_union)
                ELSE 0 END AS INT) AS jaccard_milli
    FROM est
""")
def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set algebra between two planted crawl snapshots: A = every
    doc url, B = urls of doc_id >= 100 plus 50 brand-new urls — known
    |A∩B| and |A∪B|. Only sketch hashes move; the oracle recomputes
    the identical k-min sketches, union sketch, and integer overlap
    estimates from the exact distinct sets."""
    from document_extractor_spark.operators.sketch import kmv_overlap

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    url = F.concat(F.lit("https://docs.example.org/"),
                   F.col("doc_id").cast("string")).alias("url")
    snap_a = docs.select(url)
    snap_b = docs.where(F.col("doc_id") >= 100).select(url).unionByName(
        docs.where(F.col("doc_id") < 50).select(
            F.concat(F.lit("https://docs.example.org/"),
                     (F.col("doc_id") + 100000).cast("string"))
            .alias("url")))
    return kmv_overlap(snap_a, snap_b, "url", k=64)


# HDR quantile sketch: identical log-bucket floors (bin-length
# exponent, power-of-two division is exact in double in both
# engines) + identical lower-rank quantile picks.
@query("""
    WITH staged AS (SELECT source AS key,
                           CAST(n_chars AS BIGINT) AS v
                    FROM documents
                    WHERE n_chars IS NOT NULL AND n_chars >= 0),
    pb AS (SELECT key, v,
                  CAST(power(2, greatest(length(bin(v)) - 6, 0))
                       AS BIGINT) AS p
           FROM staged),
    hist AS (SELECT key,
                    CAST(CAST(floor(v / p) AS BIGINT) * p
                         AS BIGINT) AS b,
                    count(*) AS c
             FROM pb GROUP BY key, b),
    cum AS (SELECT key, b,
                   sum(c) OVER (PARTITION BY key ORDER BY b)
                     AS cum,
                   sum(c) OVER (PARTITION BY key) AS n
            FROM hist)
    SELECT key, CAST(max(n) AS BIGINT) AS n_values,
           CAST(min(CASE WHEN cum >= ceil(0.5 * n) THEN b END)
                AS BIGINT) AS q500,
           CAST(min(CASE WHEN cum >= ceil(0.95 * n) THEN b END)
                AS BIGINT) AS q950,
           CAST(min(CASE WHEN cum >= ceil(0.99 * n) THEN b END)
                AS BIGINT) AS q990
    FROM cum GROUP BY key
""")
def q_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDR log-bucket quantile sketch: per-source n_chars p50/p95/p99.
    The deterministic mergeable alternative to approx_percentile's
    t-digest — bucket floors are pure integer/bit functions of each
    value, so the DuckDB oracle recomputes the identical histogram and
    the identical lower-rank quantile picks (source_quantiles keeps the
    EXACT percentile twin; this is its bounded-memory 100-TB ladder
    rung, cross-engine-verified instead of trust-me)."""
    from document_extractor_spark.operators.sketch import hdr_quantiles

    return hdr_quantiles(_docs(spark, sf_dir), "source", "n_chars")


# streaming twin: final register state == batch sketch, so the
# batch oracle attests the streaming job too
@query(_HLL_SQL)
def q_stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HyperLogLog parity: the events table replayed as a
    REAL Structured Streaming job (file micro-batches, one file per
    trigger, register maxima held by a streaming aggregation,
    update-mode memory sink; the last emission of a key is its
    max-``n_rows`` row). Register max is commutative and idempotent,
    so the final per-key state equals the batch sketch EXACTLY
    regardless of batch slicing — the oracle is the identical batch
    HLL oracle."""
    import os
    import tempfile
    import uuid

    from document_extractor_spark.streaming.jobs import (
        run_stream_to_memory, stream_hll_distinct)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "user_id")
    inp = os.path.join(
        tempfile.mkdtemp(prefix="sg_stream_hll_"), "in")
    ev.repartition(4).write.mode("overwrite").parquet(inp)
    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1).parquet(inp))
    out = stream_hll_distinct(stream, "event_type", "user_id")
    name = f"stream_hll_{uuid.uuid4().hex[:8]}"
    run_stream_to_memory(out, name, output_mode="update")
    mem = spark.table(name)
    final = mem.groupBy("key").agg(
        F.max(F.struct("n_rows", "n_used", "est_distinct")).alias("s"))
    return final.select(
        "key", F.col("s.n_used").alias("n_used"),
        F.col("s.est_distinct").cast("bigint").alias("est_distinct"))


@query("""
    WITH s AS (SELECT source AS host, count(*) AS score
               FROM documents GROUP BY source),
    t AS (SELECT sum(score) AS total FROM s),
    b AS (SELECT host, score,
                 score * 99991 // total AS base,
                 score * 99991 % total AS rem
          FROM s, t),
    l AS (SELECT 99991 - sum(base) AS leftover FROM b),
    r AS (SELECT host,
                 row_number() OVER (ORDER BY rem DESC, host ASC)
                   AS rn
          FROM b)
    SELECT b.host, CAST(b.score AS BIGINT) AS score,
           CAST(b.base + CASE WHEN r.rn <= l.leftover
                              THEN 1 ELSE 0 END AS BIGINT)
             AS quota
    FROM b JOIN r USING (host), l
""")
def q_apportion_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder apportionment of a 99,991-fetch crawl budget
    across sources scored by their doc counts — quotas sum EXACTLY to
    the budget, remainder ties break by host name. All integer: the
    oracle recomputes bases, remainders, and the top-leftover picks
    bit-for-bit."""
    from document_extractor_spark.operators.frontier import (
        apportion_budget)

    scores = (_docs(spark, sf_dir).groupBy(F.col("source").alias("host"))
              .agg(F.count(F.lit(1)).alias("score")))
    return apportion_budget(scores, 99991)


# Rule join shared by the batch and streaming percolators.
_PERCOLATE_SQL = """
    WITH rules(query_id, terms) AS (VALUES
      ('r_the_and', ['the', 'and']),
      ('r_of_to', ['of', 'to']),
      ('r_never', ['the', 'zzznosuchtokenzzz'])),
    q AS (SELECT query_id,
                 len(list_distinct(list_transform(terms,
                     t -> lower(t)))) AS n_terms,
                 unnest(list_distinct(list_transform(terms,
                     t -> lower(t)))) AS term
          FROM rules),
    d AS (SELECT DISTINCT doc_id, tok AS term
          FROM (SELECT doc_id,
                       unnest(list_filter(
                         regexp_split_to_array(
                           trim(lower(text)), '\\s+'),
                         t -> t <> '')) AS tok
                FROM documents)),
    hits AS (SELECT d.doc_id, q.query_id,
                    count(*) AS h, max(q.n_terms) AS need
             FROM d JOIN q USING (term)
             GROUP BY d.doc_id, q.query_id)
    SELECT doc_id, query_id FROM hits WHERE h = need
"""


@query(_PERCOLATE_SQL)
def q_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standing-query percolation over the real corpus text: three
    keyword subscriptions (boolean AND) matched at ingest — rules
    broadcast, corpus text never shuffled, containment = term-count
    equality. The oracle restates the identical rule table inline and
    joins it against the shared tokenizer twin."""
    from document_extractor_spark.operators.percolate import percolate

    rules = spark.createDataFrame(
        [("r_the_and", ["the", "and"]),
         ("r_of_to", ["of", "to"]),
         ("r_never", ["the", "zzznosuchtokenzzz"])],
        "query_id string, terms array<string>")
    return percolate(_docs(spark, sf_dir), rules)


# Streaming percolation is the stateless in-row twin of the
# relational matcher: micro-batch slicing cannot change a
# per-row verdict, so the oracle is the identical rule join.
@query(_PERCOLATE_SQL)
def q_stream_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percolation as a REAL Structured Streaming job: the corpus
    replayed as file micro-batches through the STATELESS in-row
    matcher (no state store, no shuffle) — matches are identical to
    the batch operator, so the oracle is the same rule-table join."""
    import os
    import tempfile
    import uuid

    from document_extractor_spark.streaming.jobs import (
        run_stream_to_memory,
        stream_percolate,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    inp = os.path.join(tempfile.mkdtemp(prefix="sg_stream_perc_"), "in")
    d.repartition(4).write.mode("overwrite").parquet(inp)
    stream = (spark.readStream.schema(d.schema)
              .option("maxFilesPerTrigger", 1).parquet(inp))
    out = stream_percolate(
        stream,
        [("r_the_and", ["the", "and"]),
         ("r_of_to", ["of", "to"]),
         ("r_never", ["the", "zzznosuchtokenzzz"])],
        id_col="doc_id")
    name = f"stream_perc_{uuid.uuid4().hex[:8]}"
    run_stream_to_memory(out, name)
    return spark.table(name)


_LINMODEL_DIM = 512


def _linmodel_weights() -> list[int]:
    """Planted fastText-style model over the corpus vocabulary: milli
    log-odds for quality words (fast/vector/spark/query) vs junk words
    (slow/dup/small) plus two bigram features. Hash collisions sum —
    exactly as the hashing trick behaves in production models."""
    from document_extractor_spark.operators.linmodel import bucket_of

    w = [0] * _LINMODEL_DIM
    for tok, v in (("fast", 900), ("vector", 700), ("spark", 500),
                   ("query", 400), ("slow", -800), ("dup", -700),
                   ("small", -300), ("slow_slow", -500),
                   ("fast_key", 300)):
        w[bucket_of(tok, _LINMODEL_DIM)] += v
    return w


# fastText-style hashed linear model: the twin is generated by
# the operator module from the SAME weight list, so bucket math
# and NULL policy cannot drift.
_HASHED_QUALITY_SQL = linmodel_oracle_sql(
    "documents", "doc_id", "text", _linmodel_weights(),
    bias_milli=50, threshold_milli=0)


# The streaming gate is the same stateless expression tree —
# micro-batch slicing cannot change a per-row score, so the
# oracle is the identical batch-model twin.
@query(_HASHED_QUALITY_SQL)
def q_stream_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashed linear quality model run as a REAL streaming job —
    file micro-batches through the stateless scoring fold, append-mode
    memory sink. Verdicts are per-row, so the oracle is the identical
    batch model twin (hashed_quality's SQL)."""
    import os
    import tempfile
    import uuid

    from document_extractor_spark.streaming.jobs import (
        run_stream_to_memory,
        stream_quality_gate,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    inp = os.path.join(tempfile.mkdtemp(prefix="sg_stream_q_"), "in")
    d.repartition(4).write.mode("overwrite").parquet(inp)
    stream = (spark.readStream.schema(d.schema)
              .option("maxFilesPerTrigger", 1).parquet(inp))
    out = stream_quality_gate(
        stream, _linmodel_weights(), bias_milli=50).select(
        "doc_id", "q_n_feats", "q_score_milli", "q_keep")
    name = f"stream_q_{uuid.uuid4().hex[:8]}"
    run_stream_to_memory(out, name)
    return spark.table(name)


@query("""
    WITH keyed AS (
      SELECT CAST(doc_id % 256 AS INT) AS x,
             CAST((doc_id * 7) % 256 AS INT) AS y,
             CAST(list_aggregate(list_transform(range(0, 8),
               i -> ((((doc_id % 256) >> i) & 1) << (2*i))
                  + (((((doc_id * 7) % 256) >> i) & 1)
                     << (2*i+1))),
               'sum') AS BIGINT) >> 10 AS zone
      FROM documents),
    z AS (SELECT zone, count(*) AS n_rows,
                 min(x) AS x_min, max(x) AS x_max,
                 min(y) AS y_min, max(y) AS y_max
          FROM keyed GROUP BY zone)
    SELECT zone, n_rows, x_min, x_max, y_min, y_max,
           (x_max >= 32 AND x_min <= 47
            AND y_max >= 64 AND y_min <= 95) AS scanned
    FROM z
""")
def q_zone_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map pruning report over the Morton layout: the planted 2-D
    grid (x = d%256, y = 7d%256) keyed at bits=8, zoned by the key's
    high 6 bits (64 spatial blocks), against the conjunctive predicate
    x∈[32,47] ∧ y∈[64,95]. Per zone: the row-group min-max envelope a
    writer would persist and the reader's scan/skip verdict — the
    oracle restates the interleave algebra, envelopes, and verdicts."""
    from document_extractor_spark.operators.layout import (
        with_zorder_key, zone_maps)

    d = F.col("doc_id")
    planted = _docs(spark, sf_dir).select(
        "doc_id",
        (d % 256).cast("int").alias("x"),
        ((d * 7) % 256).cast("int").alias("y"))
    keyed = with_zorder_key(planted, ["x", "y"], bits=8).withColumn(
        "zone", F.shiftright("zorder_key", 10))
    return zone_maps(keyed, "zone", ["x", "y"],
                     {"x": (32, 47), "y": (64, 95)})


_FLEET_8 = [f"fetcher-{i}" for i in range(8)]
_FLEET_9 = [f"fetcher-{i}" for i in range(9)]
_RDV_URL = "'https://docs.example.org/' || CAST(doc_id AS VARCHAR)"


@query(f"""
    SELECT doc_id,
           {rendezvous_oracle_expr(_RDV_URL, _FLEET_8)} AS shard_8,
           {rendezvous_oracle_expr(_RDV_URL, _FLEET_9)} AS shard_9,
           {rendezvous_oracle_expr(_RDV_URL, _FLEET_8)}
             <> {rendezvous_oracle_expr(_RDV_URL, _FLEET_9)}
             AS moved
    FROM documents
""")
def q_rendezvous_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (HRW) routing of every doc url to an 8-fetcher fleet
    and to the same fleet plus one — per-url stable shard assignment
    with the minimal-disruption property (moved ⇒ moved to the added
    fetcher; pytest asserts it exactly). Zero shuffle: the fleet is an
    inlined array literal and assignment is an in-row argmax; the
    oracle runs the identical list_max over identical md5 weights."""
    from document_extractor_spark.operators.routing import (
        rendezvous_assign)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    url = F.concat(F.lit("https://docs.example.org/"),
                   F.col("doc_id").cast("string")).alias("url")
    base = docs.select("doc_id", url)
    a = rendezvous_assign(base, "url", _FLEET_8, out_col="shard_8")
    b = rendezvous_assign(a, "url", _FLEET_9, out_col="shard_9")
    return b.select(
        "doc_id", "shard_8", "shard_9",
        (F.col("shard_8") != F.col("shard_9")).alias("moved"))


# Range join vs the plain SQL inequality join (half-open
# [lo, hi) campaign windows over crawl_ts = doc_id % 250).
@query("""
    WITH l AS (SELECT doc_id, doc_id % 250 AS crawl_ts
               FROM documents),
    r AS (SELECT c AS campaign_id, c * 25 AS lo, c * 25 + 40 AS hi
          FROM (SELECT unnest(generate_series(0, 9)) AS c) cs)
    SELECT l.doc_id, l.crawl_ts, r.campaign_id
    FROM l JOIN r ON l.crawl_ts >= r.lo AND l.crawl_ts < r.hi
""")
def q_range_campaigns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: tag each doc with every (overlapping) crawl-campaign
    window containing its crawl_ts. 10 windows [c*25, c*25+40) over
    crawl_ts = doc_id % 250, so docs match 1-2 campaigns each and the
    overlap regions exercise multi-match. Oracle is the plain SQL
    inequality join; the Spark side is the grid-bucket equi-join."""
    from document_extractor_spark.operators.ranges import range_join

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    left = docs.select(
        F.col("doc_id"), (F.col("doc_id") % 250).alias("crawl_ts"))
    right = spark.range(10).select(
        F.col("id").alias("campaign_id"),
        (F.col("id") * 25).alias("lo"),
        (F.col("id") * 25 + 40).alias("hi"),
    )
    return range_join(left, right, left_point="crawl_ts",
                      right_lo="lo", right_hi="hi",
                      bucket_width=25).select(
        "doc_id", "crawl_ts", "campaign_id")


# Curation family — mechanical SQL twins of the Catalyst chains.
@query(r"""
    WITH toks AS (
      SELECT doc_id,
             regexp_split_to_array(
               lower(trim(regexp_replace(lower(text),
                 '[^\p{L}\p{N}\s]+', '', 'g'))), '\s+') AS tk
      FROM documents),
    sh AS (
      SELECT doc_id, list_distinct(list_transform(
        range(1, greatest(len(tk) - 12, 1) + 1),
        i -> array_to_string(tk[i:i+12], ' '))) AS s
      FROM toks),
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    bench AS (SELECT DISTINCT g FROM ex WHERE doc_id < 10),
    bad AS (SELECT DISTINCT e.doc_id FROM ex e JOIN bench b USING (g))
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM bad)
""")
def q_decontam_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (13-gram rule): docs 0-9 ARE the
    benchmark, so they (and anything sharing a 13-gram with them) must
    drop; the oracle runs the identical gram join in SQL."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    bench = d.filter(F.col("doc_id") < 10).select("text")
    return decontaminate(d, bench).select("doc_id")


# Deterministic data-mix weights for the sample_mix contract query —
# derived from the stable src0..src19 source names so the oracle can
# state the same CASE thresholds.
_MIX_WEIGHTS = {f"src{i}": ((i % 5) + 1) / 10 for i in range(20)}

# Oracle-side CASE thresholds for the mix twins, derived from the SAME
# helper the Spark operator uses, so the two engines cannot drift.
_MIX_CASE = " ".join(
    f"WHEN '{s}' THEN '{mix_threshold_hex(w)}'"
    for s, w in _MIX_WEIGHTS.items()
)


@query(
    "SELECT doc_id, source FROM documents"
    " WHERE substr(md5('mix1' || CAST(doc_id AS VARCHAR)), 1, 8)"
    " < CASE source " + _MIX_CASE + " ELSE '0' END"
)
def q_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sample_mix(_docs(spark, sf_dir), _MIX_WEIGHTS).select(
        "doc_id", "source")


@query(f"""
    WITH p AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com ip 10.0.'
                  || (doc_id % 256) || '.7 ssn 123-45-6789 call +1 (415) 555-01'
                  || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS t0
      FROM documents),
    s1 AS (SELECT doc_id, t0,
             len(regexp_extract_all(t0, '{_PII[0][1]}')) AS n_email,
             regexp_replace(t0, '{_PII[0][1]}', '{_PII[0][2]}', 'g') AS t1
           FROM p),
    s2 AS (SELECT doc_id, t1, n_email,
             len(regexp_extract_all(t1, '{_PII[1][1]}')) AS n_ssn,
             regexp_replace(t1, '{_PII[1][1]}', '{_PII[1][2]}', 'g') AS t2
           FROM s1),
    s3 AS (SELECT doc_id, t2, n_email, n_ssn,
             len(regexp_extract_all(t2, '{_PII[2][1]}')) AS n_ip,
             regexp_replace(t2, '{_PII[2][1]}', '{_PII[2][2]}', 'g') AS t3
           FROM s2),
    s4 AS (SELECT doc_id, n_email, n_ssn, n_ip,
             len(regexp_extract_all(t3, '{_PII[3][1]}')) AS n_phone,
             regexp_replace(t3, '{_PII[3][1]}', '{_PII[3][2]}', 'g') AS redacted
           FROM s3)
    SELECT doc_id, redacted, n_email, n_ssn, n_ip, n_phone FROM s4
""")
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII planted deterministically per doc (email, IP, SSN, phone),
    then the staged redaction chain — redacted text and per-rule counts
    are oracle-exact (identical Java∩RE2 patterns run in DuckDB)."""
    d = _docs(spark, sf_dir)
    planted = F.concat(
        F.col("text"), F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ip 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 ssn 123-45-6789 call +1 (415) 555-01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
    )
    return redact_pii(d.select("doc_id", planted.alias("text"))).select(
        "doc_id", "redacted", "n_email", "n_ssn", "n_ip", "n_phone")


# C4 line/page cleaning over the planted line fixtures: the
# identical planted expression + filter chain, stated in SQL.
@query(r"""
    WITH planted AS (
      SELECT doc_id,
        repeat('This is a complete planted sentence. ',
               CAST(doc_id % 6 + 2 AS INT))
        || chr(10) || 'short line.'
        || chr(10) || 'no terminal punctuation line'
        || chr(10) || 'please enable javascript today.'
        || CASE WHEN doc_id % 7 = 0
             THEN chr(10) || 'lorem ipsum dolor sit amet.'
             ELSE '' END
        || CASE WHEN doc_id % 11 = 0
             THEN chr(10) || 'curly code { weird }.'
             ELSE '' END AS text
      FROM documents),
    kept AS (
      SELECT doc_id, text,
        list_filter(
          list_transform(string_split(text, chr(10)), x -> trim(x)),
          ln -> regexp_matches(ln, '[.!?"]$')
            AND len(list_filter(regexp_split_to_array(ln, '\s+'),
                                t -> t <> '')) >= 3
            AND NOT contains(lower(ln), 'javascript')) AS k
      FROM planted),
    c AS (SELECT doc_id, text, k,
                 array_to_string(k, chr(10)) AS clean_text
          FROM kept)
    SELECT doc_id, clean_text,
           CAST(len(k) AS INT) AS n_lines_kept,
           CAST(len(regexp_extract_all(clean_text, '[.!?]')) AS INT)
             AS n_sentences,
           (len(regexp_extract_all(clean_text, '[.!?]')) >= 5
            AND NOT contains(lower(text), 'lorem ipsum')
            AND NOT contains(text, '{')) AS keep
    FROM c
""")
def q_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line/page cleaning rules over planted line fixtures: every
    rule (terminal punctuation, ≥3 words, javascript lines, the
    5-sentence floor, lorem-ipsum and curly-brace page drops) is
    exercised by construction, and the identical planted expression +
    filter chain runs in DuckDB — a full closed-form oracle."""
    from document_extractor_spark.operators.textstats import (
        c4_quality_filter,
    )

    d = _docs(spark, sf_dir)
    base = F.expr("repeat('This is a complete planted sentence. ', "
                  "CAST(doc_id % 6 + 2 AS INT))")
    planted = F.concat(
        base,
        F.lit("\nshort line.\nno terminal punctuation line"
              "\nplease enable javascript today."),
        F.when(F.col("doc_id") % 7 == 0,
               F.lit("\nlorem ipsum dolor sit amet.")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0,
               F.lit("\ncurly code { weird }.")).otherwise(F.lit("")),
    )
    return c4_quality_filter(d.select("doc_id", planted.alias("text")))


# URL triage over planted URLs: verdicts are a closed form of
# doc_id (each mod-13 branch exercises one drop rule).
@query("""
    WITH u AS (SELECT doc_id, doc_id % 13 AS m FROM documents)
    SELECT doc_id,
      CASE m
        WHEN 0 THEN 'ftp://files.example.com/f/' || doc_id
        WHEN 1 THEN 'https://a.example.com/' || repeat('x', 3000)
        WHEN 2 THEN 'https://img.example.com/p/' || doc_id || '.JPG'
        WHEN 3 THEN 'https://t.example.com/q?' || repeat('a=1&', 9)
                    || 'z=2'
        WHEN 4 THEN 'https://spam.badsite' || (doc_id % 3)
                    || '.com/page/' || doc_id
        ELSE 'https://h' || (doc_id % 37) || '.example.org/d/'
             || doc_id END AS url,
      CASE m
        WHEN 0 THEN 'files.example.com'
        WHEN 1 THEN 'a.example.com'
        WHEN 2 THEN 'img.example.com'
        WHEN 3 THEN 't.example.com'
        WHEN 4 THEN 'spam.badsite' || (doc_id % 3) || '.com'
        ELSE 'h' || (doc_id % 37) || '.example.org' END AS host,
      (m > 4) AS url_keep,
      CASE m
        WHEN 0 THEN 'bad_scheme'
        WHEN 1 THEN 'too_long'
        WHEN 2 THEN 'binary_extension'
        WHEN 3 THEN 'query_spam'
        WHEN 4 THEN 'blocked_domain'
        ELSE NULL END AS url_reason
    FROM u
""")
def q_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style URL triage over planted URLs: one doc_id-mod
    branch per drop rule (scheme, length, binary extension, query spam,
    blocked domain) plus the kept default, so every reason code is
    exercised and the verdict is a closed form of doc_id."""
    from document_extractor_spark.operators.curation import url_filter

    d = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 13
    url = (
        F.when(m == 0, F.concat(F.lit("ftp://files.example.com/f/"), did))
        .when(m == 1, F.concat(F.lit("https://a.example.com/"),
                               F.expr("repeat('x', 3000)")))
        .when(m == 2, F.concat(F.lit("https://img.example.com/p/"), did,
                               F.lit(".JPG")))
        .when(m == 3, F.concat(F.lit("https://t.example.com/q?"),
                               F.expr("repeat('a=1&', 9)"), F.lit("z=2")))
        .when(m == 4, F.concat(F.lit("https://spam.badsite"),
                               (F.col("doc_id") % 3).cast("string"),
                               F.lit(".com/page/"), did))
        .otherwise(F.concat(F.lit("https://h"),
                            (F.col("doc_id") % 37).cast("string"),
                            F.lit(".example.org/d/"), did))
    )
    bl = spark.createDataFrame(
        [("badsite0.com",), ("badsite1.com",), ("badsite2.com",)],
        "domain string")
    return url_filter(d.select("doc_id", url.alias("url")), bl).select(
        "doc_id", "url", "host", "url_keep", "url_reason")


# Boilerplate line strip: both planted boilerplate lines exceed
# the doc-frequency cap and vanish everywhere; 'ok.' survives
# on the min-length floor; unique lines survive — closed form.
@query("""
    SELECT doc_id,
           'Unique opening line number ' || doc_id || ' alpha.'
           || chr(10) || 'ok.'
           || chr(10) || 'Closing remark ' || doc_id || ' omega.'
             AS text
    FROM documents
""")
def q_drop_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate line strip over planted lines: two
    boilerplate lines (corpus-wide and every-4th-doc — both far over
    the doc-frequency cap) drop from every document, the short 'ok.'
    line survives the cap by the min-length floor, and the two unique
    lines always survive — the output text is a closed form of
    doc_id."""
    from document_extractor_spark.operators.dedup import (
        drop_boilerplate_lines,
    )

    d = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    text = F.concat(
        F.lit("Unique opening line number "), did, F.lit(" alpha."),
        F.lit("\nSubscribe to our newsletter today."),
        F.when(F.col("doc_id") % 4 == 0,
               F.lit("\nShare this article with friends."))
        .otherwise(F.lit("")),
        F.lit("\nok."),
        F.lit("\nClosing remark "), did, F.lit(" omega."),
    )
    return drop_boilerplate_lines(d.select("doc_id", text.alias("text")))


# Snapshot-dedup survivors, shared by the exact and Bloom gates.
_SNAPSHOT_FRESH_SQL = """
    SELECT doc_id, text FROM documents WHERE doc_id >= 100
"""


# Snapshot-ingestion dedup: known index covers docs < 100 and
# the in-batch clones duplicate docs 100-109 → survivors are
# exactly the docs ≥ 100 (no natural dups in the corpus).
@query(_SNAPSHOT_FRESH_SQL)
def q_snapshot_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-snapshot ingestion dedup over planted batches: the known
    index holds fingerprints of docs < 100; the incoming batch
    re-ingests every doc PLUS in-batch clones (id+100000) of docs
    100-109. Known docs drop by the index anti-join, clones drop by
    the in-batch min-id rule — exactly docs ≥ 100 survive (closed form;
    the generator corpus has no natural exact dups)."""
    from document_extractor_spark.functions.text import fingerprint
    from document_extractor_spark.operators.dedup import (
        drop_known_duplicates,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    known = d.filter(F.col("doc_id") < 100).select(
        fingerprint("text").alias("fingerprint"))
    clones = d.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 110)) \
        .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    return drop_known_duplicates(d.unionByName(clones), known)


# Full inverted-index build: the inverted_index answer, and the
# rebuild that index_delta_merge must equal.
_INVERTED_INDEX_SQL = """
    WITH raw AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(
               trim(lower(text)), '\\s+'), t -> t <> '')) AS term
      FROM documents),
    t AS (SELECT DISTINCT doc_id, term FROM raw),
    d AS (SELECT term, count(*) AS df FROM t GROUP BY 1
          HAVING count(*) BETWEEN 2 AND 100)
    SELECT d.term, CAST(d.df AS BIGINT) AS df,
           string_agg(CAST(t.doc_id AS VARCHAR), ','
                      ORDER BY t.doc_id) AS postings
    FROM d JOIN t USING (term) GROUP BY d.term, d.df
"""


# Inverted index: identical tokenization to token_counts /
# top_terms; df-banded terms with ascending posting CSV.
@query(_INVERTED_INDEX_SQL)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-capped inverted index over the documents table: terms in
    2..100 docs with their sorted posting CSV (corpus-wide stopwords
    fall above the df cap and never materialize a posting list — the
    scale guard under test). Tokenization is the token_counts /
    top_terms twin."""
    from document_extractor_spark.operators.invindex import inverted_index

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return inverted_index(docs, min_df=2, max_df=100)


# Host-level curation: hosts are doc_id%37 (doc 0 NULL-host,
# doc 1 a singleton host), per-doc verdict doc_id%4 <> 0 —
# every fraction is exact integer arithmetic.
@query("""
    WITH p AS (
      SELECT doc_id,
             CASE WHEN doc_id = 0 THEN NULL
                  WHEN doc_id = 1 THEN 'h999'
                  ELSE 'h' || (doc_id % 37) END AS host,
             (doc_id % 4) <> 0 AS ok
      FROM documents),
    v AS (
      SELECT host, count(*) AS n,
             sum(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS nf
      FROM p WHERE host IS NOT NULL GROUP BY host)
    SELECT p.doc_id,
           CAST(nf AS DOUBLE) / n AS host_fail_frac,
           coalesce(n < 2 OR CAST(nf AS DOUBLE) / n
                    <= 0.3::DOUBLE, TRUE) AS host_keep
    FROM p LEFT JOIN v USING (host)
""")
def q_host_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level curation over planted verdicts: doc quality is the
    closed form (doc_id % 4 != 0) and hosts are doc_id % 37, so each
    host's failing fraction — and the keep verdict at max_fail_frac=0.3
    — is exact integer arithmetic in both engines. Host 999's singleton
    (below min_docs) and a NULL-host row exercise the keep-by-default
    rules."""
    from document_extractor_spark.operators.curation import (
        host_quality_filter,
    )

    d = _docs(spark, sf_dir).select("doc_id")
    did = F.col("doc_id").cast("string")
    planted = d.select(
        "doc_id",
        F.when(F.col("doc_id") == 0, F.lit(None).cast("string"))
        .when(F.col("doc_id") == 1,
              F.lit("https://h999.example.org/solo"))
        .otherwise(F.concat(F.lit("https://h"),
                            (F.col("doc_id") % 37).cast("string"),
                            F.lit(".example.org/d/"), did)).alias("url"),
        ((F.col("doc_id") % 4) != 0).alias("passes_gopher"),
    )
    return host_quality_filter(
        planted, max_fail_frac=0.3).select(
        "doc_id", "host_fail_frac", "host_keep")


@query(_HASHED_QUALITY_SQL)
def q_hashed_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed linear quality score over the real corpus
    text: unigram+bigram md5 buckets, integer milli-weights, in-row
    fold — ONE narrow projection, no shuffle. The oracle twin
    recomputes every score bit-for-bit from the same weight list."""
    from document_extractor_spark.operators.linmodel import (
        hashed_linear_score)

    return hashed_linear_score(
        _docs(spark, sf_dir), _linmodel_weights(), bias_milli=50,
        threshold_milli=0).select(
        "doc_id", "q_n_feats", "q_score_milli", "q_keep")


# Soft dedup: inverse-multiplicity ppm weights over the same
# augmented corpus as exact_dup_groups.
@query(f"""
    WITH aug AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, text FROM documents
      WHERE doc_id < 50),
    k AS (SELECT doc_id, md5({_NORM}) AS h FROM aug
          WHERE text IS NOT NULL),
    c AS (SELECT h, count(*) AS n FROM k GROUP BY h)
    SELECT k.doc_id, CAST(c.n AS BIGINT) AS n_dups,
           CAST(1000000 // c.n AS BIGINT) AS weight_ppm
    FROM k JOIN c USING (h)
""")
def q_soft_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-multiplicity sampling weights over the corpus augmented
    with planted clones of docs 0..49 (the exact_dup_groups fixture),
    so clone pairs weigh 500000 ppm and singletons 1000000."""
    from document_extractor_spark.operators.dedup import soft_dedup_weights

    d = _docs(spark, sf_dir).select("doc_id", "text")
    aug = d.union(
        d.where(F.col("doc_id") < 50)
        .select((F.col("doc_id") + 100000).alias("doc_id"), "text"))
    return soft_dedup_weights(aug)


# Reciprocity closed form on the planted 37-host ring: odd
# hosts 1/1 reciprocated, even hosts 1/2.
@query("""
    WITH ms AS (SELECT DISTINCT doc_id % 37 AS m FROM documents),
    e AS (
      SELECT 'h' || m || '.example.org' AS s,
             'h' || ((m + 1) % 37) || '.example.org' AS d
      FROM ms
      UNION
      SELECT 'h' || m || '.example.org',
             'h' || ((m + 36) % 37) || '.example.org'
      FROM ms WHERE m % 2 = 0),
    r AS (
      SELECT e.s, e.d,
             CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END AS back
      FROM e LEFT JOIN e b ON e.s = b.d AND e.d = b.s)
    SELECT s AS host, count(*) AS n_out_hosts,
           CAST(sum(back) AS BIGINT) AS n_reciprocal,
           CAST(sum(back) * 1000000 // count(*) AS BIGINT)
             AS reciprocity_ppm
    FROM r GROUP BY s
""")
def q_reciprocal_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host reciprocity over a planted 37-host ring: every host links
    forward (+1 mod 37), even hosts also link backward (−1), so odd
    hosts are fully reciprocated (1000000 ppm) and even hosts half
    (500000) — the closed form the oracle states."""
    from document_extractor_spark.operators.links import reciprocity

    ms = (_docs(spark, sf_dir)
          .select((F.col("doc_id") % 37).alias("m")).distinct())

    def h(c):
        return F.concat(F.lit("h"), c.cast("string"),
                        F.lit(".example.org"))

    fwd = ms.select(h(F.col("m")).alias("src_host"),
                    h((F.col("m") + 1) % 37).alias("dst_host"))
    bwd = (ms.where(F.col("m") % 2 == 0)
           .select(h(F.col("m")).alias("src_host"),
                   h((F.col("m") + 36) % 37).alias("dst_host")))
    return reciprocity(fwd.union(bwd))


# Hard negatives: exact different-label cosine top-5 per
# anchor, rounded-then-ranked exactly like the operator.
@query("""
    WITH a AS (SELECT vec_id AS anchor_id, embedding AS av,
                      label AS albl
               FROM embeddings WHERE vec_id < 8),
    s AS (
      SELECT a.anchor_id, e.vec_id AS neg_id,
        round(
          list_sum(list_transform(range(1, 65),
            i -> e.embedding[i]::DOUBLE * a.av[i]::DOUBLE))
          / nullif(
              sqrt(list_sum(list_transform(range(1, 65),
                i -> e.embedding[i]::DOUBLE
                     * e.embedding[i]::DOUBLE)))
              * sqrt(list_sum(list_transform(range(1, 65),
                i -> a.av[i]::DOUBLE * a.av[i]::DOUBLE))),
              0), 6) AS cosine
      FROM embeddings e JOIN a ON e.label <> a.albl),
    r AS (
      SELECT anchor_id, neg_id, cosine,
             row_number() OVER (PARTITION BY anchor_id
                                ORDER BY cosine DESC, neg_id)
               AS rnk
      FROM s WHERE cosine IS NOT NULL)
    SELECT anchor_id, neg_id, cosine, CAST(rnk AS INT) AS rnk
    FROM r WHERE rnk <= 5
""")
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: vectors 0..7 are the training
    batch; per anchor, the 5 most-cosine-similar DIFFERENT-label
    corpus vectors, ranked after 6-place rounding so both engines
    order identically."""
    from document_extractor_spark.operators.similarity import (
        hard_negatives)

    emb = _emb(spark, sf_dir)
    return hard_negatives(emb, emb.where(F.col("vec_id") < 8), k=5)


# Incremental near-dup gate closed form: exact clones carry an
# identical shingle set, so all 32 MinHash components agree
# (est = 1.0, dropped; ties among token-identical historical
# docs break to min id); the fresh docs' shingles exist
# nowhere in history, so no band can collide at est >= 0.8.
@query(r"""
    WITH t AS (
      SELECT doc_id, list_filter(regexp_split_to_array(
               trim(lower(text)), '\s+'), x -> x <> '') AS tk
      FROM documents),
    c AS (SELECT doc_id + 200000 AS id, tk FROM t
          WHERE doc_id < 50),
    m AS (SELECT c.id, min(t2.doc_id) AS best
          FROM c JOIN t t2 ON t2.tk = c.tk GROUP BY c.id)
    SELECT id, best AS best_match_id, 1.0::DOUBLE AS jaccard_est,
           false AS keep
    FROM m
    UNION ALL
    SELECT doc_id + 300000, CAST(-1 AS BIGINT), 0.0::DOUBLE, true
    FROM documents WHERE doc_id < 50
""")
def q_ingest_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup gate: the corpus is the historical LSH
    index; the 'new snapshot' is 50 exact clones (est 1.0 → dropped,
    best match = min token-equal historical id) plus 50 fresh docs
    whose shingles exist nowhere in history (no candidate → kept,
    NULL match) — the closed form the oracle states."""
    from document_extractor_spark.operators.dedup import (
        ingest_near_dups,
        minhash_index,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    idx = minhash_index(d)
    clones = (d.where(F.col("doc_id") < 50)
              .select((F.col("doc_id") + 200000).alias("doc_id"), "text"))
    fresh = (d.where(F.col("doc_id") < 50)
             .select((F.col("doc_id") + 300000).alias("doc_id"),
                     F.concat(F.lit("zzz qqq www d"),
                              F.col("doc_id").cast("string"))
                     .alias("text")))
    out = ingest_near_dups(clones.union(fresh), idx)
    # unmatched docs carry NULL match/estimate; the value-hash compare
    # sorts rows, so surface them as (-1, 0.0) sentinels in BOTH engines
    return out.select(
        "id",
        F.coalesce("best_match_id", F.lit(-1)).alias("best_match_id"),
        F.coalesce("jaccard_est", F.lit(0.0)).alias("jaccard_est"),
        "keep")


# Move detection: structural recompute of the same fingerprint
# grouping (handles accidental corpus text collisions exactly
# like the operator).
@query(f"""
    WITH o AS (
      SELECT md5({_NORM}) AS h,
             'https://old.example.org/' || doc_id AS u
      FROM documents WHERE text IS NOT NULL),
    n AS (
      SELECT md5({_NORM}) AS h,
             'https://new.example.org/' || doc_id AS u
      FROM documents WHERE doc_id < 30 AND text IS NOT NULL
      UNION ALL
      SELECT md5({_NORM}),
             'https://old.example.org/' || doc_id
      FROM documents
      WHERE doc_id >= 30 AND doc_id < 60 AND text IS NOT NULL),
    og AS (SELECT h, list_sort(list(DISTINCT u))[1:64]
               AS old_urls,
             count(DISTINCT u) AS no
           FROM o GROUP BY h),
    ng AS (SELECT h, list_sort(list(DISTINCT u))[1:64]
               AS new_urls,
             count(DISTINCT u) AS nn
           FROM n GROUP BY h)
    SELECT og.h AS content_hash, old_urls, new_urls,
           len(list_intersect(old_urls, new_urls)) = 0 AS moved,
           (no > 64 OR nn > 64) AS capped
    FROM og JOIN ng USING (h)
""")
def q_detect_moves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot move detection: docs 0..29 keep their text but
    change URL host (moved), docs 30..59 keep both (not moved), the
    rest vanish from the new snapshot (no row). The oracle recomputes
    the same fingerprint grouping, so accidental text collisions in
    the corpus classify identically in both engines."""
    from document_extractor_spark.operators.diff import detect_moves

    d = _docs(spark, sf_dir).select("doc_id", "text")

    def u(prefix):
        return F.concat(F.lit(prefix),
                        F.col("doc_id").cast("string")).alias("url")

    old = d.select(u("https://old.example.org/"), "text")
    new = (d.where(F.col("doc_id") < 30)
           .select(u("https://new.example.org/"), "text")
           .union(d.where((F.col("doc_id") >= 30) & (F.col("doc_id") < 60))
                  .select(u("https://old.example.org/"), "text")))
    return detect_moves(old, new)


# Sitemap coverage closed form on the planted 37-host layout.
@query("""
    WITH d AS (SELECT doc_id, doc_id % 37 AS m FROM documents),
    a AS (SELECT m, count(*) AS nd,
                 sum(CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END)
                   AS nc
          FROM d GROUP BY m)
    SELECT 'h' || m || '.example.org' AS host,
           nd AS n_declared,
           CAST(nc AS BIGINT) AS n_crawled_of_declared,
           CAST(nc * 1000000 // nd AS BIGINT) AS coverage_ppm
    FROM a
""")
def q_sitemap_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-completeness audit over planted declarations: every doc
    declares one URL on host doc_id%37, the crawl fetched the
    doc_id%3 != 0 two-thirds (plus crawled-only extras the metric
    ignores) — per-host coverage is exact integer arithmetic."""
    from document_extractor_spark.operators.frontier import (
        sitemap_coverage)

    d = _docs(spark, sf_dir).select("doc_id")
    loc = F.concat(F.lit("https://h"),
                   (F.col("doc_id") % 37).cast("string"),
                   F.lit(".example.org/p/"),
                   F.col("doc_id").cast("string"))
    declared = d.select(loc.alias("loc"))
    crawled = (d.where(F.col("doc_id") % 3 != 0).select(loc.alias("url"))
               .union(d.select(
                   F.concat(F.lit("https://extra.example.org/"),
                            F.col("doc_id").cast("string")).alias("url"))))
    return sitemap_coverage(declared, crawled)


# Length-bucket batching plan: integer-exact power-of-two
# buckets (1 << length(bin(n-1)) — no float log2).
@query(r"""
    WITH t AS (
      SELECT least(len(list_filter(regexp_split_to_array(
               trim(text), '\s+'), x -> x <> '')), 256) AS n
      FROM documents WHERE text IS NOT NULL),
    b AS (SELECT CASE WHEN n <= 1 THEN 1
                      ELSE 1 << length(bin(n - 1)) END AS raw, n
          FROM t),
    c AS (SELECT greatest(least(raw, 256), 32) AS bucket, n
          FROM b)
    SELECT bucket, count(*) AS n_docs,
           CAST(sum(n) AS BIGINT) AS sum_tokens,
           CAST(sum(bucket - n) AS BIGINT) AS sum_pad,
           CAST(sum(bucket - n) * 1000000
                // (sum(bucket - n) + sum(n)) AS BIGINT)
             AS pad_waste_ppm
    FROM c GROUP BY bucket
""")
def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two length-bucket batching plan over the corpus
    (max_len=256, min_bucket=32): per-bucket doc counts and exact
    integer padding-waste ppm. Bucket = 1 << length(bin(n-1)) — no
    float log2 — so both engines bucket identically."""
    from document_extractor_spark.operators.curation import (
        length_bucket_stats)

    return length_bucket_stats(_docs(spark, sf_dir), max_len=256,
                               min_bucket=32)


# Per-host quota: same planted host/quality arithmetic as the
# Spark side; survivors are exact window arithmetic (md5 of the
# same id strings breaks the planted quality ties identically).
@query("""
    WITH p AS (
      SELECT doc_id,
             CASE WHEN doc_id = 0 THEN NULL
                  ELSE 'h' || (doc_id % 7) END AS host,
             ((doc_id * 7) % 13)::DOUBLE AS q
      FROM documents),
    r AS (
      SELECT doc_id,
             CAST(row_number() OVER (
               PARTITION BY host
               ORDER BY q DESC, md5(doc_id::VARCHAR)) AS INT)
               AS host_rank
      FROM p WHERE host IS NOT NULL)
    SELECT p.doc_id, r.host_rank,
           coalesce(r.host_rank <= 3, TRUE) AS host_cap_keep
    FROM p LEFT JOIN r USING (doc_id)
""")
def q_cap_per_host(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host quota over planted hosts: host = doc_id % 7, quality =
    (doc_id*7) % 13 (deliberately collides within a host so the md5 tie
    break is exercised), k=3; doc 0 carries a NULL url for the
    keep-by-default rule. Survivor set is exact window arithmetic in
    both engines."""
    from document_extractor_spark.operators.curation import cap_per_host

    d = _docs(spark, sf_dir).select("doc_id")
    did = F.col("doc_id").cast("string")
    planted = d.select(
        "doc_id",
        F.when(F.col("doc_id") == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("https://h"),
                            (F.col("doc_id") % 7).cast("string"),
                            F.lit(".example.org/d/"), did)).alias("url"),
        ((F.col("doc_id") * 7) % 13).cast("double").alias("quality"),
    )
    return cap_per_host(planted, k=3, quality_col="quality").select(
        "doc_id", "host_rank", "host_cap_keep")


# SemDeDup: the planting (2·v under id+300000) and the
# md5-priority local-maximum keep rule replayed exactly; doubling
# is exact in IEEE floats, so normalized twins are bit-identical
# (cosine 1) and the organic pairs sit ≈0.37 — both engines agree
# on every verdict with margin.
@query("""
    WITH aug AS (
      SELECT vec_id, embedding, label FROM embeddings
      UNION ALL
      SELECT vec_id + 300000,
             list_transform(embedding,
                            x -> CAST(x * 2 AS FLOAT)), label
      FROM embeddings WHERE vec_id BETWEEN 1 AND 10),
    n AS (
      SELECT vec_id, label, md5(vec_id::VARCHAR) AS pri,
        list_transform(embedding, x -> x::DOUBLE /
          sqrt(list_sum(list_transform(embedding,
            y -> y::DOUBLE * y::DOUBLE)))) AS v
      FROM aug),
    drp AS (
      SELECT DISTINCT b.vec_id
      FROM n a JOIN n b
        ON a.label = b.label AND a.pri < b.pri
      WHERE list_sum(list_transform(range(1, 65),
              i -> a.v[i] * b.v[i])) >= 0.95)
    SELECT n.vec_id, drp.vec_id IS NULL AS sem_keep
    FROM n LEFT JOIN drp USING (vec_id)
""")
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table blocked by its topic label:
    vec_ids 1..10 get planted same-label duplicates (2·v — doubling is
    exact in IEEE floats, so the normalized twin is bit-identical and
    cosine is exactly 1 ≥ 0.95, while the best organic pair is ≈0.37,
    nowhere near the threshold) under id+300000; the md5-priority keep
    rule then picks the same survivor in both engines."""
    from document_extractor_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = _emb(spark, sf_dir)
    planted = emb.filter(F.col("vec_id").between(1, 10)).select(
        (F.col("vec_id") + 300000).alias("vec_id"),
        F.transform("embedding",
                    lambda x: (x * F.lit(2.0)).cast("float"))
        .alias("embedding"),
        "label",
    )
    return semantic_dedup(emb.unionByName(planted), dim=64,
                          threshold=0.95, cluster_col="label")


# Bloom-pre-filtered twin: result must be identical.
@query(_SNAPSHOT_FRESH_SQL)
def q_snapshot_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bloom-pre-filtered twin of ``snapshot_dedup``: identical
    planted batches, identical closed-form survivors — the bitmap
    pre-filter must be invisible in the result (no false negatives;
    candidates exactly re-checked)."""
    from document_extractor_spark.functions.text import fingerprint
    from document_extractor_spark.operators.bloom import (
        drop_known_duplicates_bloom,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    known = d.filter(F.col("doc_id") < 100).select(
        fingerprint("text").alias("fingerprint"))
    clones = d.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 110)) \
        .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    return drop_known_duplicates_bloom(d.unionByName(clones), known)


def _sitemap_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted sitemap corpus shared by q_sitemap_urls and
    q_revisit_schedule: even docs urlset (2 <url> blocks with
    loc/lastmod/changefreq/priority), odd docs sitemapindex (2
    <sitemap> blocks, loc+lastmod only) — every field a pure function
    of (doc_id, k)."""
    did = F.col("doc_id").cast("string")
    parts = []
    for k in ("0", "1"):
        lastmod = F.concat(F.lit("2026-0"),
                           ((F.col("doc_id") % 8) + 1).cast("string"),
                           F.lit(f"-0{int(k) + 1}"))
        url_block = F.concat(
            F.lit("<url><loc>https://s.example.org/"), did,
            F.lit(f"/{k}</loc><lastmod>"), lastmod,
            F.lit("</lastmod><changefreq>"),
            F.lit("daily" if k == "0" else "weekly"),
            F.lit("</changefreq><priority>0."),
            (F.col("doc_id") % 10).cast("string"),
            F.lit("</priority></url>"))
        idx_block = F.concat(
            F.lit("<sitemap><loc>https://maps.example.org/"), did,
            F.lit(f"/child{k}</loc><lastmod>"), lastmod,
            F.lit("</lastmod></sitemap>"))
        parts.append(F.when((F.col("doc_id") % 2) == 0,
                            url_block).otherwise(idx_block))
    xml = F.concat(
        F.lit('<?xml version="1.0"?>'),
        F.when((F.col("doc_id") % 2) == 0,
               F.lit('<urlset xmlns="http://www.sitemaps.org/schemas'
                     '/sitemap/0.9">')).otherwise(F.lit("<sitemapindex>")),
        *parts,
        F.when((F.col("doc_id") % 2) == 0,
               F.lit("</urlset>")).otherwise(F.lit("</sitemapindex>")))
    return _docs(spark, sf_dir).select(
        F.concat(F.lit("https://maps.example.org/"), did).alias("url"),
        F.encode(xml, "UTF-8").alias("html"))


# sitemap_urls: urlset blocks for even docs, sitemapindex for
# odd; priority parses "0.<d>" to double (correctly-rounded
# strtod in both engines → hash-identical).
@query("""
    SELECT 'https://maps.example.org/' || doc_id AS sitemap_url,
      CAST(k AS INTEGER) AS pos,
      CASE WHEN doc_id % 2 = 0
           THEN 'https://s.example.org/' || doc_id || '/' || k
           ELSE 'https://maps.example.org/' || doc_id
                || '/child' || k END AS block_loc,
      '2026-0' || ((doc_id % 8) + 1) || '-0' || (k + 1) AS lastmod,
      CASE WHEN doc_id % 2 = 0 THEN
        (CASE WHEN k = 0 THEN 'daily' ELSE 'weekly' END)
      END AS changefreq,
      CASE WHEN doc_id % 2 = 0
           THEN CAST('0.' || (doc_id % 10) AS DOUBLE)
      END AS priority,
      doc_id % 2 = 1 AS is_index
    FROM documents, (VALUES (0), (1)) AS t(k)
""")
def q_sitemap_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap extraction over the planted urlset/sitemapindex corpus —
    entity-escaped locs, optional-field NULLs, is_index marking."""
    from document_extractor_spark.sources.sitemaps import sitemap_urls

    # loc leads the name-sorted compare as the unique non-null key
    # (the NULL-mixed optional fields then only tie-break equal rows)
    return sitemap_urls(_sitemap_fixture(spark, sf_dir)) \
        .withColumnRenamed("loc", "block_loc")


# revisit_schedule: genuine relational twin — DuckDB recomputes
# the changefreq→interval table, lastmod epoch arithmetic, and
# the due verdict against the same fixed now.
@query("""
    WITH s AS (
      SELECT CASE WHEN doc_id % 2 = 0
             THEN 'https://s.example.org/' || doc_id || '/' || k
             ELSE 'https://maps.example.org/' || doc_id
                  || '/child' || k END AS loc,
        '2026-0' || ((doc_id % 8) + 1) || '-0' || (k + 1)
          AS lastmod,
        CASE WHEN doc_id % 2 = 0 THEN
          (CASE WHEN k = 0 THEN 'daily' ELSE 'weekly' END)
        END AS changefreq
      FROM documents, (VALUES (0), (1)) AS t(k)),
    r AS (
      SELECT loc,
        CAST(CASE WHEN changefreq = 'daily' THEN 86400
                  WHEN changefreq = 'weekly' THEN 604800
                  ELSE 604800 END AS BIGINT) AS interval_sec,
        CAST(epoch(TRY_CAST(lastmod AS TIMESTAMP)) AS BIGINT)
          AS lm_epoch
      FROM s)
    SELECT loc, interval_sec,
      lm_epoch + interval_sec AS next_fetch_epoch,
      lm_epoch + interval_sec <= 1780000000 AS fetch_due
    FROM r
""")
def q_revisit_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier revisit scheduling composed over real sitemap
    extraction output: interval from declared changefreq (absent →
    default weekly), next_fetch from lastmod epoch arithmetic, due
    verdict against a FIXED now (pure function — no wall clock). The
    oracle is a genuine relational twin recomputing the semantics."""
    from document_extractor_spark.operators.frontier import (
        revisit_schedule)
    from document_extractor_spark.sources.sitemaps import sitemap_urls

    rows = sitemap_urls(_sitemap_fixture(spark, sf_dir))
    return revisit_schedule(rows, now_epoch=1_780_000_000)


# feed_items: every field is a pure function of (doc_id, k);
# the channel/feed-level title+link sit OUTSIDE the item blocks
# and must not leak into any row.
@query("""
    SELECT 'https://feeds.example.org/' || doc_id AS feed_url,
           CAST(k AS INTEGER) AS pos,
           'Item ' || doc_id || ' & ' || k AS title,
           'https://e.org/' || doc_id || '/' || k AS link,
           'g-' || doc_id || '-' || k AS item_id,
           'd' || ((doc_id + k) % 9) AS published
    FROM documents, (VALUES (0), (1)) AS t(k)
""")
def q_feed_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSS/Atom feed-item extraction: even docs become RSS 2.0 feeds
    (CDATA titles, element-text links, guid/pubDate), odd docs Atom
    (entity-escaped titles, href-attribute links in BOTH attribute
    orders, id/published) — two items each, every field a pure function
    of (doc_id, k), so one closed form covers both dialects and the
    CDATA-vs-entity unescape paths produce identical bytes."""
    from document_extractor_spark.sources.feeds import feed_items

    did = F.col("doc_id").cast("string")
    parts = []
    for k in ("0", "1"):
        t = F.concat(F.lit("Item "), did, F.lit(" & "), F.lit(k))
        te = F.concat(F.lit("Item "), did, F.lit(" &amp; "), F.lit(k))
        url = F.concat(F.lit("https://e.org/"), did, F.lit("/"), F.lit(k))
        gid = F.concat(F.lit("g-"), did, F.lit("-"), F.lit(k))
        pub = F.concat(F.lit("d"),
                       ((F.col("doc_id") + int(k)) % 9).cast("string"))
        rss = F.concat(
            F.lit("<item><title><![CDATA["), t, F.lit("]]></title><link>"),
            url, F.lit("</link><guid>"), gid, F.lit("</guid><pubDate>"),
            pub, F.lit("</pubDate></item>"))
        alink = (
            F.concat(F.lit('<link rel="alternate" href="'), url,
                     F.lit('"/>')) if k == "0" else
            F.concat(F.lit('<link href="'), url,
                     F.lit('" rel="alternate"/>')))
        atom = F.concat(
            F.lit("<entry><title>"), te, F.lit("</title>"), alink,
            F.lit("<id>"), gid, F.lit("</id><published>"), pub,
            F.lit("</published></entry>"))
        parts.append(F.when((F.col("doc_id") % 2) == 0, rss).otherwise(atom))
    xml = F.concat(
        F.when((F.col("doc_id") % 2) == 0,
               F.lit('<rss version="2.0"><channel><title>Feed</title>'
                     "<link>https://chan.example.org</link>")
               ).otherwise(F.lit('<feed xmlns="http://www.w3.org/2005/Atom">'
                                 "<title>Feed</title>")),
        *parts,
        F.when((F.col("doc_id") % 2) == 0,
               F.lit("</channel></rss>")).otherwise(F.lit("</feed>")))
    feeds = _docs(spark, sf_dir).select(
        F.concat(F.lit("https://feeds.example.org/"), did).alias("url"),
        F.encode(xml, "UTF-8").alias("html"))
    return feed_items(feeds)


# segment_languages: the plant is 2 (or 3) paragraphs of lang
# doc_id%5 plus, on doc_id%3=0, one of lang (doc_id+1)%5 — the
# closed form states the majority verdicts directly.
@query("""
    SELECT doc_id,
      CASE CAST(doc_id % 5 AS INTEGER)
        WHEN 0 THEN 'en' WHEN 1 THEN 'de' WHEN 2 THEN 'fr'
        WHEN 3 THEN 'es' ELSE 'zh' END AS main_lang,
      CAST(3 AS BIGINT) AS n_paras,
      CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 3 END AS BIGINT)
        AS n_major_paras,
      CAST(CASE WHEN doc_id % 3 = 0 THEN 666666 ELSE 1000000 END
           AS BIGINT) AS major_ppm,
      doc_id % 3 = 0 AS is_mixed
    FROM documents
""")
def q_segment_languages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style paragraph language segmentation over planted
    3-paragraph documents: every doc gets two (three when unmixed)
    paragraphs of language ``doc_id % 5`` and — when ``doc_id % 3 = 0``
    — one of language ``(doc_id+1) % 5``, each with the per-doc noise
    token the lang_id oracle already proves the kernel tolerates. The
    closed form states majority lang, exact-ppm dominance, and the
    mixed flag directly."""
    from document_extractor_spark.operators.langseg import (
        segment_languages)

    sents = F.array(*[F.lit(s) for _, s in _LANG_SENTENCES])
    main = F.element_at(sents, (F.col("doc_id") % 5 + 1).cast("int"))
    other = F.element_at(sents, ((F.col("doc_id") + 1) % 5 + 1).cast("int"))
    noise = F.concat(F.lit(" doc "), F.col("doc_id").cast("string"))
    p_main = F.concat(main, noise)
    third = F.when((F.col("doc_id") % 3) == 0,
                   F.concat(other, noise)).otherwise(p_main)
    planted = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws("\n", p_main, p_main, third).alias("text"))
    return segment_languages(planted)


# readability_grade: integer counts exact; each score is ONE
# fixed composition of IEEE mul/div/add, rounded to 4 — the
# text_stats recipe, hash-identical cross-engine.
@query(f"""
    WITH c AS (
      SELECT doc_id,
        len({_TOKS}) AS nw,
        greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS ns,
        len(regexp_extract_all(lower(text), '[aeiouy]+')) AS nsyl
      FROM documents)
    SELECT doc_id, nw AS n_words, ns AS n_sentences,
      nsyl AS n_syllables,
      round(0.39 * (CAST(nw AS DOUBLE) / CAST(ns AS DOUBLE))
            + 11.8 * (CAST(nsyl AS DOUBLE)
                      / nullif(CAST(nw AS DOUBLE), 0.0))
            - 15.59, 4) AS fk_grade,
      round(206.835
            - 1.015 * (CAST(nw AS DOUBLE) / CAST(ns AS DOUBLE))
            - 84.6 * (CAST(nsyl AS DOUBLE)
                      / nullif(CAST(nw AS DOUBLE), 0.0)),
            4) AS reading_ease
    FROM c
""")
def q_readability_grade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade + reading ease over documents — exact
    integer word/sentence/vowel-group counts plus two single-
    composition float scores (the text_stats determinism recipe)."""
    from document_extractor_spark.operators.textstats import (
        readability_grade)

    return readability_grade(_docs(spark, sf_dir))


# ann_topk / ivf_topk / pq_topk: exact brute-force top-10 over the
# planted-neighbor augmentation (q + 0.1·v_i, i=1..10) — the
# approximate indexes must achieve full recall on strong neighbors.
_ANN_EXACT = """
    WITH q AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS qv
               FROM embeddings WHERE vec_id = 0),
    aug AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
      FROM embeddings
      UNION ALL
      SELECT b.vec_id + 200000,
             list_transform(range(1, 65),
               j -> q.qv[j] + 0.1 * b.embedding[j]::DOUBLE)
      FROM embeddings b, q WHERE b.vec_id BETWEEN 1 AND 10),
    s AS (SELECT a.vec_id,
            list_sum(list_transform(range(1, 65),
              j -> a.e[j] * q.qv[j])) AS dot,
            sqrt(list_sum(list_transform(a.e, x -> x * x))) AS nrm_e,
            sqrt(list_sum(list_transform(q.qv, x -> x * x))) AS nrm_q
          FROM aug a, q)
    SELECT vec_id, round(dot / (nrm_e * nrm_q), 6) AS cosine
    FROM s ORDER BY cosine DESC, vec_id LIMIT 10
"""


@query(_ANN_EXACT)
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC ANN (Jegou et al. 2011): sample-trained 8×16 codebooks,
    Arrow-batched encode, JVM literal-LUT ADC fold, shortlist-128 exact
    rerank — over the planted-neighbor corpus with the same exact
    brute-force oracle as ``ann_topk``/``ivf_topk``. Structural-recall
    argument: the 11 true neighbors sit at squared distance ≈0.02-0.3
    on the unit sphere vs ≈1.4-2 for the random corpus — far beyond PQ
    quantization distortion — so the 128-wide shortlist provably
    contains them and the exact rerank reproduces the oracle's top-10."""
    from document_extractor_spark.operators.similarity import (
        pq_encode, pq_topk, pq_train)

    emb = _augmented_emb(spark, sf_dir)
    books = pq_train(emb, dim=_EMB_DIM, m=8, k=16)
    enc = pq_encode(emb, books)
    return pq_topk(enc, books, _query_vec(spark, sf_dir), k=10,
                   shortlist=128)


# page_metadata: the fixture plants head tags as pure functions
# of (doc_id, source) with mixed attribute orders/quote styles
# and arithmetic omissions; the oracle states the plant.
@query("""
    SELECT doc_id,
      CASE WHEN doc_id % 11 = 0 THEN NULL
           ELSE 'Doc ' || doc_id || ' & ' || source END AS title,
      'https://example.org/d/' || doc_id AS canonical_url,
      'OG Doc ' || doc_id AS og_title,
      'site' || (doc_id % 7) AS og_site_name,
      CASE WHEN doc_id % 5 = 0 THEN NULL
           ELSE 'https://img.example.org/' || doc_id || '.png'
      END AS og_image
    FROM documents
""")
def q_page_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-metadata extraction off raw HTML bytes: title (with entity
    unescape), rel=canonical (both attribute orders), og:title /
    og:site_name / og:image (mixed orders and quote styles, og:image
    single-quoted). Values are planted as pure functions of
    (doc_id, source); tags are OMITTED on arithmetic subsets so the
    closed-form oracle also proves the NULL paths."""
    from document_extractor_spark.operators.pagemeta import page_metadata
    from document_extractor_spark.sources.docpages import (
        pages_with_head_metadata)

    pages = pages_with_head_metadata(spark, sf_dir)
    return page_metadata(pages).select(
        doc_id_from_url("url"), "title", "canonical_url",
        "og_title", "og_site_name", "og_image")


# jsonld_records: the fixture plants the two ld+json blocks as
# pure functions of doc_id (article omitted on %7, breadcrumb
# present on %4); the oracle states the plant per case —
# including the block-position arithmetic and the NULL row for
# block-free pages.
@query("""
    SELECT 0 AS block_pos, doc_id,
      CASE doc_id % 3 WHEN 0 THEN 'Article' WHEN 1 THEN 'Product'
           ELSE 'NewsArticle' END AS ld_type,
      'Item ' || doc_id AS ld_name,
      '2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
        AS ld_date_published,
      'Author ' || (doc_id % 5) AS ld_author
    FROM documents WHERE doc_id % 7 <> 0
    UNION ALL
    SELECT CASE WHEN doc_id % 7 <> 0 THEN 1 ELSE 0 END AS block_pos,
      doc_id,
      'BreadcrumbList' AS ld_type, 'Trail ' || doc_id AS ld_name,
      CAST(NULL AS VARCHAR) AS ld_date_published,
      CAST(NULL AS VARCHAR) AS ld_author
    FROM documents WHERE doc_id % 4 = 0
    UNION ALL
    SELECT -1 AS block_pos, doc_id,
      CAST(NULL AS VARCHAR) AS ld_type,
      CAST(NULL AS VARCHAR) AS ld_name,
      CAST(NULL AS VARCHAR) AS ld_date_published,
      CAST(NULL AS VARCHAR) AS ld_author
    FROM documents WHERE doc_id % 7 = 0 AND doc_id % 4 <> 0
""")
def q_jsonld_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema.org JSON-LD extraction off raw HTML bytes: an Article/
    Product/NewsArticle block (multiline JSON, nested author object,
    omitted on doc_id%7==0) plus a single-quoted BreadcrumbList block
    (present on doc_id%4==0, no date/author), next to the chrome's
    plain <script> negative control. Field values are pure functions
    of doc_id so the closed-form oracle also proves block positions,
    the no-block NULL row, and the missing-field NULL paths."""
    from document_extractor_spark.operators.structdata import jsonld_records
    from document_extractor_spark.sources.docpages import pages_with_jsonld

    pages = pages_with_jsonld(spark, sf_dir)
    # The no-block NULL position becomes -1 and the column is named to
    # sort before the nullable fields: the driver's order-insensitive
    # compare sorts rows lexicographically by alphabetical column order,
    # so the (block_pos, doc_id) prefix must be non-null and unique.
    return jsonld_records(pages).select(
        F.coalesce("ld_pos", F.lit(-1)).alias("block_pos"),
        doc_id_from_url("url"), "ld_type", "ld_name",
        "ld_date_published", "ld_author")


# hreflang_clusters: the fixture's alternates are doc_id
# arithmetic; the oracle states the plant per language and the
# min-href cluster key directly (de sorts before en before fr,
# so cluster = /de/{id} iff doc_id is even).
@query("""
    WITH c AS (
      SELECT doc_id,
        'https://docs.example.org/en/' || doc_id AS url,
        CASE WHEN doc_id % 2 = 0
             THEN 'https://docs.example.org/de/' || doc_id
             ELSE 'https://docs.example.org/en/' || doc_id
        END AS cluster_url
      FROM documents)
    SELECT url, cluster_url, 'en' AS hreflang,
           'https://docs.example.org/en/' || doc_id AS href FROM c
    UNION ALL
    SELECT url, cluster_url, 'de',
           'https://docs.example.org/de/' || doc_id
    FROM c WHERE doc_id % 2 = 0
    UNION ALL
    SELECT url, cluster_url, 'fr',
           'https://docs.example.org/fr/' || doc_id
    FROM c WHERE doc_id % 3 = 0
    UNION ALL
    SELECT url, cluster_url, 'x-default',
           'https://docs.example.org/en/' || doc_id
    FROM c WHERE doc_id % 5 = 0
""")
def q_hreflang_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hreflang alternate extraction + page-local translation-cluster
    representative: every page at /en/{id} declares en always, de on
    %2, fr on %3 (href-first attribute order, uppercase lang to prove
    normalization), x-default on %5 (pointing at the en URL), next to
    stylesheet and hreflang-less RSS negative controls. The planted
    arithmetic makes exploded rows AND the min-href cluster key
    closed-form."""
    from document_extractor_spark.operators.pagemeta import (
        hreflang_alternates)
    from document_extractor_spark.sources.docpages import (
        pages_with_hreflang)

    return hreflang_alternates(pages_with_hreflang(spark, sf_dir))


# containment_pairs: relational twin — same augmented corpus,
# same 3-shingle self-join, same min-side exact-ppm verdict.
@query(r"""
    WITH aug AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 120
      UNION ALL
      SELECT doc_id + 200000,
        array_to_string(list_filter(regexp_split_to_array(
          trim(lower(text)), '\s+'), x -> x <> '')[1:12], ' ')
      FROM documents WHERE doc_id < 40),
    sh AS (
      SELECT doc_id AS id,
        list_distinct(list_transform(
          range(1, greatest(len(regexp_split_to_array(
            lower(trim(text)), '\s+')) - 2, 1) + 1),
          i -> array_to_string((regexp_split_to_array(
            lower(trim(text)), '\s+'))[i:i+2], ' ')
        )) AS s
      FROM aug),
    ex AS (SELECT id, len(s) AS n_sh, unnest(s) AS tok FROM sh),
    exf AS (SELECT * FROM ex WHERE tok <> ''),
    p AS (
      SELECT a.id AS id_a, b.id AS id_b,
             a.n_sh AS na, b.n_sh AS nb, COUNT(*) AS n_common
      FROM exf a JOIN exf b ON a.tok = b.tok AND a.id < b.id
      GROUP BY 1, 2, 3, 4)
    SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common,
           CAST(n_common * 1000000 // least(na, nb) AS BIGINT)
             AS containment_ppm
    FROM p
    WHERE n_common * 1000000 // least(na, nb) >= 800000
""")
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excerpt/quote detection: 12-token excerpts of the first 40
    documents join the sub-120 corpus as new docs (id+200000); each
    excerpt's shingles sit inside its parent, so containment ≈ 1.0
    where symmetric Jaccard is ≈ 0. The DuckDB twin recomputes the
    identical shingle self-join and min-side normalization."""
    from document_extractor_spark.operators.dedup import containment_pairs
    from document_extractor_spark.functions.text import tokens

    base = _docs(spark, sf_dir).where(F.col("doc_id") < 120) \
        .select("doc_id", "text")
    excerpt = (
        _docs(spark, sf_dir).where(F.col("doc_id") < 40)
        .select((F.col("doc_id") + 200000).alias("doc_id"),
                F.array_join(
                    F.slice(tokens(F.lower(F.col("text"))), 1, 12), " ")
                .alias("text")))
    return containment_pairs(base.unionByName(excerpt), n=3,
                             threshold_ppm=800_000)


# TrustRank planted fixture: seeds h0-h4 cycle among
# themselves, every non-seed links INTO a seed → the teleport
# vector (1/5 per seed, 0 elsewhere) is the exact fixed point.
@query("""
    SELECT DISTINCT 'h' || (doc_id % 37) || '.example.org'
             AS host,
           ROUND(CASE WHEN doc_id % 37 < 5
                      THEN 0.2::DOUBLE ELSE 0.0::DOUBLE END, 9)
             AS trustrank
    FROM documents
""")
def q_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded trust propagation (TrustRank) over a planted host graph:
    the 5 seed hosts h0-h4 form a cycle among themselves and every
    non-seed host h5-h36 links INTO seed h(m%5) — so the teleport
    vector is the exact fixed point (seeds 1/5, non-seeds 0, reached
    in round 1 by the early exit). Convergence to a NON-trivial trust
    vector is pytest-verified against dense numpy
    (test_trustrank_matches_numpy_asymmetric); the spam-isolation
    property (unreferenced cluster gets exactly 0) has its own test."""
    from document_extractor_spark.operators.links import trustrank

    m = (F.col("doc_id") % 37).cast("int")

    def host(ix):
        return F.concat(F.lit("h"), ix.cast("string"),
                        F.lit(".example.org"))

    hosts = _docs(spark, sf_dir).select(m.alias("_m")).distinct()
    edges = hosts.select(
        host(F.col("_m")).alias("src_host"),
        host(F.when(F.col("_m") < 5, (F.col("_m") + 1) % 5)
             .otherwise(F.col("_m") % 5)).alias("dst_host"),
        F.lit(1).cast("bigint").alias("n_links"))
    seeds = hosts.where(F.col("_m") < 5).select(
        host(F.col("_m")).alias("host"))
    tr = trustrank(edges, seeds, damping=0.85, iterations=10)
    return tr.select("host", F.round("trustrank", 9).alias("trustrank"))


# Centroid distances: micro-quantized means + nano-quantized
# squared terms — order-free exact in both engines.
@query("""
    WITH ex AS (
      SELECT vec_id, label, i AS pos,
             embedding[CAST(i AS INT)]::DOUBLE AS x
      FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
      WHERE label IS NOT NULL AND embedding IS NOT NULL),
    m AS (
      SELECT label, pos,
             CAST(sum(CAST(round(x * 1000000.0) AS BIGINT))
                  AS DOUBLE)
             / CAST(count(*) * 1000000 AS DOUBLE) AS mean
      FROM ex GROUP BY 1, 2),
    t AS (
      SELECT ex.vec_id, ex.label,
             CAST(round((x - mean) * (x - mean) * 1e9) AS BIGINT)
               AS term
      FROM ex JOIN m USING (label, pos))
    SELECT vec_id, label,
           round(sqrt(CAST(sum(term) AS DOUBLE) / 1e9), 6) AS dist
    FROM t GROUP BY 1, 2
""")
def q_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid distance over the real embeddings table —
    the topic-purity outlier signal. The DuckDB twin recomputes the
    full pipeline relationally: micro-quantized per-dimension integer
    sums (so the mean is order-free exact), nano-quantized squared
    terms, one sqrt/round composition."""
    from document_extractor_spark.operators.similarity import (
        centroid_distances)

    return centroid_distances(_emb(spark, sf_dir))


# Matryoshka: identical slice/fold/sqrt/divide composition.
@query("""
    WITH s AS (
      SELECT vec_id,
             sqrt(list_sum(list_transform(range(1, 17),
               i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)))
               AS nrm
      FROM embeddings)
    SELECT e.vec_id,
           round(e.embedding[1]::DOUBLE / s.nrm, 6) AS c1,
           round(sqrt(list_sum(list_transform(range(1, 17),
             i -> (e.embedding[i]::DOUBLE / s.nrm)
                * (e.embedding[i]::DOUBLE / s.nrm)))), 6)
             AS norm_chk
    FROM embeddings e JOIN s USING (vec_id)
""")
def q_matryoshka_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation over the real embeddings table: keep the
    16-dim prefix and L2-renormalize; emit the first renormed
    component and the post-renorm norm (≡ 1). The DuckDB twin
    recomputes the identical slice/fold/sqrt/divide composition, so
    the serving-tier derivation is engine-exact."""
    from document_extractor_spark.operators.similarity import (
        truncate_embeddings)

    t = truncate_embeddings(_emb(spark, sf_dir), 16)
    v = F.col("embedding")
    sq = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    return t.select(
        "vec_id",
        F.round(F.element_at(v, 1), 6).alias("c1"),
        F.round(F.sqrt(sq), 6).alias("norm_chk"))


# dHash near-dups: byte-identical planted clones → Hamming 0;
# the clone-pair set is the closed form.
@query("""
    SELECT 'img://' || lpad(CAST(a.doc_id AS VARCHAR), 2, '0')
             AS url_a,
           'img://' || lpad(CAST(b.doc_id AS VARCHAR), 2, '0')
             AS url_b,
           CAST(0 AS INT) AS hamming
    FROM documents a JOIN documents b
      ON a.doc_id % 20 = b.doc_id % 20 AND a.doc_id < b.doc_id
    WHERE a.doc_id < 60 AND b.doc_id < 60
""")
def q_image_dhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs over 60 planted RAW1 frames derived from
    doc_id (payloads generated in an Arrow batch, seed = doc_id % 20 →
    three byte-identical clones per seed): identical payloads hash to
    identical dHashes (Hamming 0), while distinct random 16×16 frames
    sit ~32 bits apart, so the ≤4 pair set is exactly the same-seed
    clone pairs — a closed form the oracle states directly. URLs are
    zero-padded so the operator's lexicographic id ordering equals the
    oracle's numeric pair ordering."""
    from document_extractor_spark.operators.multimodal import (
        fake_image_from_seed, image_near_dups)

    imgs = (_docs(spark, sf_dir).where(F.col("doc_id") < 60)
            .select(
                F.concat(F.lit("img://"),
                         F.lpad(F.col("doc_id").cast("string"), 2, "0"))
                .alias("url"),
                fake_image_from_seed((F.col("doc_id") % 20).cast("int"))
                .alias("payload")))
    return image_near_dups(imgs, max_hamming=4)


# SQ8: full relational twin — exact per-dim min/max, the same
# floor(+0.5) code arithmetic, dequant + cosine fold in list
# order (list_transform keeps index order; per-dim params are
# ORDER BY i lists, never an unordered group).
@query("""
    WITH mm AS (
      SELECT i,
             min(embedding[CAST(i AS INT)]::DOUBLE) AS mn,
             max(embedding[CAST(i AS INT)]::DOUBLE) AS mx
      FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
      WHERE embedding IS NOT NULL
      GROUP BY i),
    p AS (
      SELECT list(mn ORDER BY i) AS mns,
             list(CASE WHEN mx > mn THEN 255.0 / (mx - mn)
                       ELSE 0.0 END ORDER BY i) AS scs,
             list(CASE WHEN mx > mn THEN (mx - mn) / 255.0
                       ELSE 0.0 END ORDER BY i) AS stps
      FROM mm),
    q AS (SELECT embedding AS qv FROM embeddings
          WHERE vec_id = 0),
    d AS (
      SELECT e.vec_id,
             list_transform(range(1, 65), i ->
               least(255, greatest(0, CAST(floor(
                 (e.embedding[i]::DOUBLE - mns[i]) * scs[i]
                 + 0.5) AS INT)))::DOUBLE
               * stps[i] + mns[i]) AS dq
      FROM embeddings e, p
      WHERE e.embedding IS NOT NULL),
    s AS (
      SELECT d.vec_id,
             list_sum(list_transform(range(1, 65),
               i -> dq[i] * q.qv[i]::DOUBLE)) AS dot,
             sqrt(list_sum(list_transform(range(1, 65),
               i -> dq[i] * dq[i]))) AS nrm_e,
             sqrt(list_sum(list_transform(range(1, 65),
               i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE))) AS nrm_q
      FROM d CROSS JOIN q)
    SELECT vec_id, round(dot / (nrm_e * nrm_q), 6) AS cosine
    FROM s ORDER BY cosine DESC, vec_id LIMIT 10
""")
def q_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-bit scalar-quantized cosine top-10 over the real embeddings
    table (faiss ScalarQuantizer QT_8bit shape, asymmetric distance:
    query full-precision, database vectors dequantized in-plan).
    Deterministic quantization makes this approximate tier EXACTLY
    oracle-able: the DuckDB twin recomputes per-dim min/max, the
    floor(+0.5) code arithmetic, dequantization, and the identical
    cosine fold relationally."""
    from document_extractor_spark.operators.similarity import (
        sq8_encode, sq8_topk, sq8_train)

    emb = _emb(spark, sf_dir)
    mins, maxs = sq8_train(emb)
    return sq8_topk(sq8_encode(emb, mins, maxs), mins, maxs,
                    _query_vec(spark, sf_dir), k=10)


# Skew profiler: same planted hosts, same count/floor/ceil
# integer arithmetic, same tie-broken top-10.
@query("""
    WITH hosts AS (
      SELECT CASE WHEN doc_id % 5 < 4 THEN 'hot.example.org'
                  ELSE 'h' || ((doc_id * 7) % 97)
                       || '.example.org' END AS key
      FROM documents),
    c AS (SELECT key, count(*) AS n_rows FROM hosts GROUP BY 1),
    t AS (SELECT sum(n_rows) AS total FROM c)
    SELECT key, n_rows,
           CAST(floor(n_rows * 1000000.0 / total) AS BIGINT)
             AS share_ppm,
           CAST(ceil(n_rows / 50.0) AS INT) AS salt_factor
    FROM c, t
    ORDER BY n_rows DESC, key
    LIMIT 10
""")
def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-skew diagnostic over a planted Zipf-extreme crawl: 80% of
    rows land on one hot host, the rest spread across 97 cold hosts.
    ``skew_profile`` parses hosts with the engine's ``host_col`` and
    reports top-10 keys with corpus share (ppm) and the salt factor
    that caps a (key, salt) slice at 50 rows — the number
    ``salted_repartition`` needs. The DuckDB twin recomputes the same
    planted hosts, counts, floor/ceil integer arithmetic; boundary
    ties at the limit break on the key in both engines."""
    from document_extractor_spark.operators.extract import skew_profile

    d = F.col("doc_id")
    pages = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("https://"),
            F.when(d % 5 < 4, F.lit("hot.example.org"))
            .otherwise(F.concat(F.lit("h"), ((d * 7) % 97).cast("string"),
                                F.lit(".example.org"))),
            F.lit("/d/"), d.cast("string")).alias("url"))
    return skew_profile(pages, target_rows_per_task=50, top=10)


# nDCG@10: full relational twin — identical windows, identical
# per-term nano-quantized gain/log2 composition.
@query("""
    WITH base AS (
      SELECT CAST(doc_id % 20 AS INT) AS query,
             'd' || doc_id AS _doc,
             CAST((doc_id * 7) % 100 AS DOUBLE) AS _s,
             CAST((doc_id * 13) % 4 AS BIGINT) AS _rel
      FROM documents),
    ranked AS (
      SELECT query, _rel,
             pow(2.0::DOUBLE, CAST(_rel AS DOUBLE)) - 1.0 AS _g,
             row_number() OVER (PARTITION BY query
               ORDER BY _s DESC, _doc ASC) AS _r,
             row_number() OVER (PARTITION BY query
               ORDER BY _rel DESC, _doc ASC) AS _ir
      FROM base),
    agg AS (
      SELECT query,
             CAST(sum(CASE WHEN _r <= 10 THEN
               CAST(round(_g / log2(CAST(_r AS DOUBLE) + 1.0)
                          * 1e9) AS BIGINT)
               ELSE 0 END) AS BIGINT) AS dcg_nano,
             CAST(sum(CASE WHEN _ir <= 10 THEN
               CAST(round(_g / log2(CAST(_ir AS DOUBLE) + 1.0)
                          * 1e9) AS BIGINT)
               ELSE 0 END) AS BIGINT) AS idcg_nano
      FROM ranked GROUP BY query)
    SELECT query, dcg_nano, idcg_nano,
           CASE WHEN idcg_nano > 0 THEN
             round(CAST(dcg_nano AS DOUBLE)
                   / CAST(idcg_nano AS DOUBLE), 6)
           END AS ndcg
    FROM agg
""")
def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 over planted ranked lists (query = d%20, graded
    relevance (13d)%4, score (7d)%100 — deliberately COLLIDING scores
    so the doc-ASC tie-break is itself under test). The DuckDB twin
    recomputes the identical windows and the per-term nano-quantized
    gain/log2 arithmetic — a genuine relational twin."""
    from document_extractor_spark.operators.metrics import ndcg_at_k

    d, did = F.col("doc_id"), F.col("doc_id").cast("string")
    planted = _docs(spark, sf_dir).select(
        (d % 20).cast("int").alias("query_id"),
        F.concat(F.lit("d"), did).alias("doc_id"),
        ((d * 7) % 100).cast("double").alias("score"),
        ((d * 13) % 4).cast("int").alias("relevance"))
    return ndcg_at_k(planted, k=10)


# Compression buckets: planted extremes make the verdict pure
# parity arithmetic.
@query("""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'template'
                ELSE 'normal' END AS verdict
    FROM documents
""")
def q_compression_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-redundancy verdicts over planted extremes: even docs
    are one phrase repeated 150× (zlib ratio ~30×, far under the 300k
    ppm line), odd docs are 64 chained md5 hex strings (hex is
    near-incompressible, far above it) — so the bucket verdict is
    closed-form with huge margins while exact byte counts (which pin
    the stdlib zlib build, not the operator) stay pytest-verified."""
    from document_extractor_spark.operators.textstats import (
        compression_ratio)

    d, did = F.col("doc_id"), F.col("doc_id").cast("string")
    rand = F.concat_ws(" ", F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda j: F.md5(F.concat(did, F.lit("-"), j.cast("string")))))
    planted = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(d % 2 == 0,
               F.concat(F.lit("row of boilerplate text " * 150), did))
        .otherwise(rand).alias("text"))
    r = compression_ratio(planted)
    return r.select(
        "doc_id",
        F.when(F.col("ratio_ppm") < 300000, F.lit("template"))
        .otherwise(F.lit("normal")).alias("verdict"))


# RFC 9309 wildcard verdicts in closed form.
@query("""
    SELECT 'https://h' || (doc_id % 37) || '.example.org'
           || CASE doc_id % 4
                WHEN 0 THEN '/files/doc' || doc_id || '.pdf'
                WHEN 1 THEN '/files/doc' || doc_id || '.pdf?dl=1'
                WHEN 2 THEN '/page/' || doc_id || '?sessionid='
                            || doc_id
                ELSE '/page/' || doc_id END AS url,
           CASE doc_id % 4
             WHEN 0 THEN '/*.pdf$'
             WHEN 1 THEN ''
             WHEN 2 THEN '/*sessionid='
             ELSE '/page/' END AS matched_rule,
           CASE WHEN doc_id % 4 IN (0, 2) THEN FALSE
                ELSE TRUE END AS allowed
    FROM documents
""")
def q_robots_wildcards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 wildcard matching ('*' spans octets, trailing '$'
    anchors, match target = path+query): planted URLs sweep four
    arithmetic cases — anchored .pdf$ hit, .pdf?dl=1 anchored MISS
    (the query defeats the anchor), a query-targeting *sessionid=
    rule out-speccing the /page/ allow, and the plain prefix allow.
    The oracle states every verdict in closed form."""
    from document_extractor_spark.operators.robots import (
        apply_robots_policy)

    d, did = F.col("doc_id"), F.col("doc_id").cast("string")
    m = d % 4
    tail = (
        F.when(m == 0, F.concat(F.lit("/files/doc"), did, F.lit(".pdf")))
        .when(m == 1, F.concat(F.lit("/files/doc"), did,
                               F.lit(".pdf?dl=1")))
        .when(m == 2, F.concat(F.lit("/page/"), did,
                               F.lit("?sessionid="), did))
        .otherwise(F.concat(F.lit("/page/"), did)))
    pages = _docs(spark, sf_dir).select(
        F.concat(F.lit("https://h"), (d % 37).cast("string"),
                 F.lit(".example.org"), tail).alias("url"))
    hosts = _docs(spark, sf_dir).select(
        F.concat(F.lit("h"), (d % 37).cast("string"),
                 F.lit(".example.org")).alias("host")).distinct()
    # staged array, then explode a plain column (repo explode rule)
    staged_rules = hosts.select(
        "host",
        F.array(
            F.struct(F.lit("/*.pdf$").alias("path_prefix"),
                     F.lit(False).alias("allow")),
            F.struct(F.lit("/*sessionid=").alias("path_prefix"),
                     F.lit(False).alias("allow")),
            F.struct(F.lit("/page/").alias("path_prefix"),
                     F.lit(True).alias("allow")),
        ).alias("_rs"))
    rules = staged_rules.select(
        "host", F.explode_outer("_rs").alias("_r")) \
        .select("host", "_r.path_prefix", "_r.allow")
    out = apply_robots_policy(pages, rules)
    return out.select(
        "url",
        F.coalesce("matched_prefix", F.lit("")).alias("matched_rule"),
        "allowed")


# BPE training: the planted distribution's merge sequence is
# hand-derivable; counts scale with corpus size.
@query("""
    WITH n AS (SELECT count(*) AS n FROM documents)
    SELECT CAST(1 AS INT) AS merge_rank, 'a' AS s1, 'a' AS s2,
           CAST(4 * n AS BIGINT) AS pair_count FROM n
    UNION ALL
    SELECT CAST(2 AS INT), 'a', 'b', CAST(3 * n AS BIGINT) FROM n
    UNION ALL
    SELECT CAST(3 AS INT), 'aa', 'ab', CAST(2 * n AS BIGINT) FROM n
""")
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-rule training over a planted word distribution
    ({aaab: 2N, ab: N} — every doc contributes the same phrase, so
    counts scale with corpus size while the learned sequence stays the
    hand-derivable closed form): rounds learn (a,a)=4N, (a,b)=3N,
    (aa,ab)=2N then stop early with no pairs left. Corpus-shaped
    inputs, ties, and greedy overlap semantics are pytest-verified."""
    from document_extractor_spark.operators.bpe import bpe_learn_merges

    planted = _docs(spark, sf_dir).select(
        "doc_id", F.lit("aaab aaab ab").alias("text"))
    return bpe_learn_merges(planted, 5)


#: fixed English-ish merge table for the bpe_encode query — the SAME
#: literals are inlined in the oracle via bpe_encode_oracle_sql
_BPE_ENCODE_RULES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("in", "g"),
    ("e", "r"), ("o", "n"), ("a", "n"), ("an", "d"),
]


@query(bpe_encode_oracle_sql(
    "documents", _BPE_ENCODE_RULES))
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE side of the BPE tokenizer: segment every document with a
    fixed 8-rule merge table (rank-ordered greedy passes). The merge
    table is inlined vocabulary metadata, so the corpus pass is one
    narrow projection — no join, no shuffle, no Python; the oracle
    runs the IDENTICAL double-separator replace fold in DuckDB and
    hash-matches the full encoded subword sequence of every doc."""
    from document_extractor_spark.operators.bpe import bpe_apply_merges

    merges = spark.createDataFrame(
        [(i + 1, a, b) for i, (a, b) in enumerate(_BPE_ENCODE_RULES)],
        "merge_rank int, s1 string, s2 string")
    return bpe_apply_merges(_docs(spark, sf_dir), merges)


# Morton key: identical interleave bit algebra in SQL.
@query("""
    SELECT doc_id,
           CAST(doc_id % 256 AS INT) AS x,
           CAST((doc_id * 7) % 256 AS INT) AS y,
           CAST(list_aggregate(list_transform(range(0, 8),
             i -> ((((doc_id % 256) >> i) & 1) << (2*i))
                + (((((doc_id * 7) % 256) >> i) & 1) << (2*i+1))),
             'sum') AS BIGINT) AS zorder_key
    FROM documents
""")
def q_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton layout keys over a planted 2-D grid (x = d%256,
    y = 7d%256, bits=8): the oracle restates the identical interleave
    bit algebra in SQL, so the key every row-group would be range-
    sorted by at write time is engine-exact."""
    from document_extractor_spark.operators.layout import with_zorder_key

    d = F.col("doc_id")
    planted = _docs(spark, sf_dir).select(
        "doc_id",
        (d % 256).cast("int").alias("x"),
        ((d * 7) % 256).cast("int").alias("y"))
    return with_zorder_key(planted, ["x", "y"], bits=8)


# Template mining: skeleton = f(doc_id%3) by construction, so
# the host histogram is pure modular arithmetic.
@query("""
    WITH pages AS (
      SELECT 'h' || (doc_id % 37) || '.example.org' AS host,
             doc_id % 3 AS tpl
      FROM documents),
    t AS (SELECT host, tpl, count(*) AS c FROM pages GROUP BY 1, 2)
    SELECT host, CAST(sum(c) AS BIGINT) AS n_pages,
           CAST(count(*) AS BIGINT) AS n_templates,
           CAST(max(c) AS BIGINT) AS top_template_pages,
           max(c) * 1000000 // sum(c) AS template_share_ppm
    FROM t GROUP BY host
""")
def q_template_farms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOM-template mining through the REAL block-profile kernel:
    planted pages whose skeleton (h1 + 2..4 <p> blocks) is a pure
    function of doc_id%3, hosts of doc_id%37 — so each host's template
    histogram is modular arithmetic the relational oracle recomputes
    without needing the classifier (the skeleton is known by
    construction; the kernel's own classification is oracle-checked
    elsewhere via block_profile/extract_roundtrip)."""
    from document_extractor_spark.operators.blocks import (
        block_profile,
        template_profile,
    )

    d, did = F.col("doc_id"), F.col("doc_id").cast("string")
    para = "<p>five words are here now</p>"
    body = F.concat(
        F.lit("<html><body><h1>Title "), did, F.lit("</h1>"),
        F.lit(para * 2),
        F.when(d % 3 >= 1, F.lit(para)).otherwise(F.lit("")),
        F.when(d % 3 == 2, F.lit(para)).otherwise(F.lit("")),
        F.lit("</body></html>"))
    pages = _docs(spark, sf_dir).select(
        F.concat(F.lit("https://h"), (d % 37).cast("string"),
                 F.lit(".example.org/t/"), did).alias("url"),
        body.cast("binary").alias("html"))
    return template_profile(block_profile(pages))


@query("""
    SELECT 'https://h' || (doc_id % 37) || '.example.org/wat/'
             || doc_id AS url,
           '2024-03-' || lpad(CAST(10 + doc_id % 2 AS VARCHAR),
                              2, '0') AS warc_day,
           'Title ' || doc_id || ' café' AS title,
           CAST(1 + doc_id % 3 AS INT) AS n_links,
           CASE doc_id % 3
             WHEN 0 THEN 'https://l0.example/' || doc_id
             WHEN 1 THEN 'https://l0.example/' || doc_id
               || ' https://l1.example/' || doc_id
             ELSE 'https://l0.example/' || doc_id
               || ' https://l1.example/' || doc_id
               || ' https://l2.example/' || doc_id
           END AS links_joined
    FROM documents WHERE doc_id < 48
""")
def q_wat_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAT (metadata) ingest roundtrip completing the Common Crawl
    triple: 48 planted metadata records (title and 1+d%3 outlinks, all
    closed forms of doc_id) written as two real WAT archives (gzip +
    plain wire shapes), ingested through ``read_wat_meta`` (Python does
    record framing only; title/links extraction is JVM
    get_json_object/from_json), reduced to (url, warc_day, title,
    n_links, links_joined)."""
    import os
    import shutil
    import tempfile

    from document_extractor_spark.sources.warc import (
        build_wat,
        read_wat_meta,
    )

    def rec(i: int):
        return (f"https://h{i % 37}.example.org/wat/{i}",
                f"2024-03-{10 + i % 2:02d}T09:{i % 60:02d}:00Z",
                f"Title {i} café",
                [f"https://l{j}.example/{i}" for j in range(1 + i % 3)])

    recs = [rec(i) for i in range(48)]
    base = tempfile.mkdtemp(prefix="sg_wat_rt_")
    wat_dir = os.path.join(base, "wat")
    os.makedirs(wat_dir)
    with open(os.path.join(wat_dir, "seg-00000.warc.wat.gz"), "wb") as f:
        f.write(build_wat(recs[:24], per_record_gzip=True))
    with open(os.path.join(wat_dir, "seg-00001.warc.wat"), "wb") as f:
        f.write(build_wat(recs[24:], per_record_gzip=False))
    out = (
        read_wat_meta(spark, wat_dir)
        .select(
            "url", "warc_day", "title",
            F.size("link_urls").alias("n_links"),
            F.array_join("link_urls", " ").alias("links_joined"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(base, ignore_errors=True)
    return out


# Gale-Church alignment: equal-length plant → all-1-1 diagonal
# at the category-prior cost exactly (length evidence is 0 at
# delta=0).
@query("""
    SELECT doc_id AS pair_id,
           CAST(j AS INT) AS align_idx,
           CAST(j AS INT) AS src_start, CAST(1 AS INT) AS src_n,
           CAST(j AS INT) AS tgt_start, CAST(1 AS INT) AS tgt_n,
           CAST(round(-ln(0.89::DOUBLE) * 1000) AS BIGINT)
             AS cost_milli
    FROM (SELECT doc_id, unnest(range(0, 2 + doc_id % 4)) AS j
          FROM documents)
""")
def q_sentence_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gale-Church sentence alignment over planted bitext pairs: doc d
    becomes a pair of 2+d%4 sentences with IDENTICAL char lengths on
    both sides, so the optimal alignment is the all-1-1 diagonal and
    every bead costs exactly -ln(0.89) (the length model contributes 0
    at delta=0) — the closed form the oracle states. Non-trivial
    alignments (2-1 merges, insertions, DP-vs-bruteforce optimality)
    are pytest-verified."""
    from document_extractor_spark.operators.bitext import gale_church_align

    d = F.col("doc_id")
    sents = F.transform(
        F.sequence(F.lit(0), (d % 4 + 1).cast("int")),
        lambda i: F.repeat(F.lit("a"), (F.lit(10) + F.lit(5) * i)
                           .cast("int")))
    planted = _docs(spark, sf_dir).select(
        d.alias("pair_id"),
        sents.alias("src_sents"),
        sents.alias("tgt_sents"))
    return gale_church_align(planted)


# Banned-term gate: planted-hit closed form (the fold path is
# exercised because the d%5 plant only matches through
# confusables folding).
@query("""
    SELECT doc_id,
           CAST((CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
                + (CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)
                + (CASE WHEN doc_id % 7 = 0 THEN 2 ELSE 0 END)
                AS BIGINT) AS n_hits,
           ((CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
            + (CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)
            + (CASE WHEN doc_id % 7 = 0 THEN 2 ELSE 0 END)) <= 1
             AS keep
    FROM documents
""")
def q_blocked_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banned-term gate over the real corpus with planted hits: docs
    d%3==0 carry one plain blocklisted token, d%5==0 one
    Cyrillic-а-obfuscated spelling (matched only because fold=True),
    d%7==0 two more — so n_hits sweeps 0..4 and the max_hits=1
    density threshold splits keeps both ways. The oracle states the
    arithmetic closed form."""
    from document_extractor_spark.operators.curation import (
        term_blocklist_filter)

    d = F.col("doc_id")
    k = (d % 4).cast("string")
    planted = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(d % 3 == 0, F.concat(F.lit(" zzban"), k))
            .otherwise(F.lit("")),
            # Cyrillic а — matches only through confusables folding
            F.when(d % 5 == 0, F.concat(F.lit(" zzbаn"), k))
            .otherwise(F.lit("")),
            F.when(d % 7 == 0, F.lit(" zzban1 zzban1"))
            .otherwise(F.lit("")),
        ).alias("text"))
    terms = spark.range(4).select(
        F.concat(F.lit("zzban"), F.col("id").cast("string")).alias("term"))
    return term_blocklist_filter(planted, terms, max_hits=1, fold=True)


# Interpolated Kneser-Ney bigram LM: full relational twin —
# the interpolation expression is stated with the EXACT
# association order of the Spark operator so every IEEE op
# matches: greatest(c-D,0)/ctx + (D*n1p_ctx/ctx)*(n1p_cont/NT).
@query("""
    WITH t AS (
      SELECT doc_id, list_filter(regexp_split_to_array(
               trim(lower(text)), '\\s+'), x -> x <> '') AS tk
      FROM documents),
    pairs AS (
      SELECT doc_id,
             unnest(tk[1:greatest(len(tk) - 1, 0)]) AS w1,
             unnest(tk[2:len(tk)]) AS w2
      FROM t),
    occ AS (SELECT doc_id, w1, w2, count(*) AS occ_n
            FROM pairs GROUP BY 1, 2, 3),
    cb AS (SELECT w1, w2, sum(occ_n) AS c_bg FROM occ GROUP BY 1, 2),
    cc AS (SELECT w1, sum(c_bg) AS c_ctx, count(*) AS n1p_ctx
           FROM cb GROUP BY 1),
    co AS (SELECT w2, count(*) AS n1p_cont FROM cb GROUP BY 1),
    nt AS (SELECT count(*) AS nt FROM cb),
    model AS (
      SELECT cb.w1, cb.w2,
             CAST(round(-ln(
               greatest(c_bg - 0.75::DOUBLE, 0.0::DOUBLE) / c_ctx
               + (0.75::DOUBLE * n1p_ctx / c_ctx)
                 * (n1p_cont / CAST(nt.nt AS DOUBLE))
             ) * 1e9) AS BIGINT) AS nll_nano
      FROM cb JOIN cc USING (w1) JOIN co USING (w2), nt),
    scored AS (
      SELECT occ.doc_id, sum(occ.occ_n) AS nb,
             sum(occ.occ_n * m.nll_nano) AS snn
      FROM occ JOIN model m USING (w1, w2) GROUP BY 1)
    SELECT d.doc_id,
           CAST(coalesce(s.nb, 0) AS BIGINT) AS n_bigrams,
           CAST(s.snn AS BIGINT) AS sum_nll_nano,
           round(CAST(s.snn AS DOUBLE) / CAST(s.nb AS DOUBLE)
                 / 1e9, 6) AS avg_nll
    FROM documents d LEFT JOIN scored s USING (doc_id)
""")
def q_kn_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring over the real corpus —
    the smoothing upgrade over ``lm_perplexity``'s Laplace model. The
    DuckDB twin recomputes the FULL KN estimator relationally (type
    table, context totals + distinct continuations, continuation
    counts, N1+(··), the exact interpolation expression) with the same
    nano-nat fixed-point contract, so the two engines' ln AND float
    composition are cross-checked per distinct bigram."""
    from document_extractor_spark.operators.lm import kn_bigram_lm_scores

    return kn_bigram_lm_scores(_docs(spark, sf_dir).select("doc_id", "text"))


@query("""
    SELECT 'https://h' || (doc_id % 37) || '.example.org/wet/'
             || doc_id AS url,
           '2024-02-' || lpad(CAST(10 + doc_id % 2 AS VARCHAR),
                              2, '0') AS warc_day,
           'wet doc ' || doc_id || ' café body ' || (doc_id % 5)
             AS text
    FROM documents WHERE doc_id < 48
""")
def q_wet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET (extracted-text conversion) ingest roundtrip: 48 planted
    conversion records (urls, timestamps, texts all closed forms of
    doc_id, non-ASCII included so UTF-8 decode itself is checked) are
    written as two real WET archives — per-record-gzipped and plain,
    each with a leading warcinfo record the type filter must skip —
    ingested through ``read_wet_docs`` (binaryFile scan → streaming
    record parser), and reduced to (url, warc_day, text). The oracle
    restates every row from doc_id."""
    import os
    import shutil
    import tempfile

    from document_extractor_spark.sources.warc import (
        build_wet,
        read_wet_docs,
    )

    def rec(i: int):
        return (f"https://h{i % 37}.example.org/wet/{i}",
                f"2024-02-{10 + i % 2:02d}T09:{i % 60:02d}:00Z",
                f"wet doc {i} café body {i % 5}")

    recs = [rec(i) for i in range(48)]
    base = tempfile.mkdtemp(prefix="sg_wet_rt_")
    wet_dir = os.path.join(base, "wet")
    os.makedirs(wet_dir)
    with open(os.path.join(wet_dir, "seg-00000.warc.wet.gz"), "wb") as f:
        f.write(build_wet(recs[:24], per_record_gzip=True))
    with open(os.path.join(wet_dir, "seg-00001.warc.wet"), "wb") as f:
        f.write(build_wet(recs[24:], per_record_gzip=False))
    out = (
        read_wet_docs(spark, wet_dir)
        .select("url", "warc_day", "text")
        # eager localCheckpoint so the temp archive dir can be deleted
        # immediately (same leak-avoidance as q_warc_roundtrip)
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(base, ignore_errors=True)
    return out


# Cho & Garcia-Molina change-rate estimation: the twin
# regenerates the capture plant and recomputes the FULL
# estimator (lag window, null-safe change pairs, bias-corrected
# -ln rate, revisit floor) — a genuine relational twin.
@query("""
    WITH caps AS (
      SELECT 'https://example.org/' || doc_id AS url,
             doc_id*1000 + j*(100 + doc_id%7) AS ts_epoch,
             md5(doc_id || '-' ||
                 CAST(j // (1 + doc_id%3) AS VARCHAR)) AS digest
      FROM (SELECT doc_id,
                   unnest(range(0, CASE WHEN doc_id%5 = 0 THEN 1
                                 ELSE 2 + doc_id%4 END)) AS j
            FROM documents)
    ), p AS (
      SELECT url, ts_epoch, digest,
             row_number() OVER w AS rn,
             lag(digest) OVER w AS prev
      FROM caps
      WINDOW w AS (PARTITION BY url
                   ORDER BY ts_epoch ASC, digest ASC)
    ), a AS (
      SELECT url, COUNT(*) AS n_captures,
             CAST(SUM(CASE WHEN rn > 1
                            AND digest IS DISTINCT FROM prev
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
             MAX(ts_epoch) - MIN(ts_epoch) AS span_sec
      FROM p GROUP BY url
    )
    SELECT url AS loc, n_captures, n_changed, span_sec,
           CASE WHEN n_captures > 1 THEN
             ROUND(-ln((n_captures - 1 - n_changed + 0.5)
                       / (n_captures - 1 + 0.5)), 9)
           END AS rate,
           CASE WHEN n_captures > 1 AND n_changed > 0 THEN
             CAST(FLOOR((CAST(span_sec AS DOUBLE)
                         / (n_captures - 1))
                  / ROUND(-ln((n_captures - 1 - n_changed + 0.5)
                              / (n_captures - 1 + 0.5)), 9))
                  AS BIGINT)
           END AS revisit_interval_sec
    FROM a
""")
def q_change_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observed change-frequency estimation (Cho & Garcia-Molina) over
    planted capture histories: doc d gets 2+d%4 captures (d%5==0 docs
    only 1 — the unobservable path), timestamps on a d-dependent
    stride, digests stepping buckets every 1+d%3 captures so change
    counts sweep 0..all. The DuckDB twin recomputes the FULL estimator
    (lag window, null-safe pair changes, bias-corrected -ln rate,
    revisit-interval floor) — a genuine relational twin."""
    from document_extractor_spark.operators.frontier import (
        change_rate_estimates)

    d = F.col("doc_id")
    k = F.when(d % 5 == 0, F.lit(1).cast("bigint")) \
        .otherwise((d % 4 + 2).cast("bigint"))
    staged = _docs(spark, sf_dir).select(
        "doc_id", F.sequence(F.lit(0).cast("bigint"), k - 1).alias("_js"))
    caps = staged.select("doc_id", F.explode_outer("_js").alias("_j")) \
        .select(
            F.concat(F.lit("https://example.org/"),
                     d.cast("string")).alias("url"),
            (d * 1000 + F.col("_j") * (100 + d % 7)).cast("bigint")
            .alias("ts_epoch"),
            F.md5(F.concat(d.cast("string"), F.lit("-"),
                           F.floor(F.col("_j") / (1 + d % 3))
                           .cast("string"))).alias("digest"))
    # driver-compare rows sort by alphabetical column order — the
    # UNIQUE key must sort first, so url→loc and change_rate→rate
    # (nullable columns must never lead the sort)
    return change_rate_estimates(caps).select(
        F.col("url").alias("loc"), "n_captures", "n_changed", "span_sec",
        F.col("change_rate").alias("rate"), "revisit_interval_sec")


# calibration_buckets: twin recomputes the identical
# clamp/bin arithmetic over the integer-grid plant.
@query("""
    WITH d AS (
      SELECT CAST((doc_id * 7) % 100 AS DOUBLE) AS s,
             CASE WHEN (doc_id * 31) % 100 < (doc_id * 7) % 100
                  THEN 1 ELSE 0 END AS l
      FROM documents)
    SELECT CAST(least(greatest(
             floor((s - 0.0) / 100.0 * 10), 0), 9) AS INT)
             AS bucket,
           COUNT(*) AS n,
           CAST(SUM(l) AS BIGINT) AS n_pos,
           CAST(SUM(l) * 1000000 // COUNT(*) AS BIGINT)
             AS pos_ppm
    FROM d GROUP BY 1
""")
def q_calibration_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram buckets over planted (score, label) pairs —
    integer-grid scores on [0,100) into 10 bins, label correlated with
    score so rates climb by bin; the twin recomputes the identical
    clamp/bin/rate arithmetic."""
    from document_extractor_spark.operators.metrics import (
        calibration_buckets)

    d = F.col("doc_id")
    planted = _docs(spark, sf_dir).select(
        ((d * 7) % 100).cast("double").alias("score"),
        F.when((d * 31) % 100 < (d * 7) % 100, F.lit(1))
        .otherwise(F.lit(0)).alias("label"))
    return calibration_buckets(planted, n_buckets=10, lo=0.0, hi=100.0)


# resolve_redirects: per-doc chain of 1+doc_id%4 edges; every
# hop j resolves to the tail with exactly (len - j) hops.
@query("""
    WITH j AS (
      SELECT doc_id, unnest(range(0, 1 + doc_id % 4)) AS hop,
             1 + doc_id % 4 AS len
      FROM documents)
    SELECT 'https://r.example.org/' || doc_id || '/' || hop
             AS url,
           'https://r.example.org/' || doc_id || '/' || len
             AS final_url,
           CAST(len - hop AS BIGINT) AS hops,
           TRUE AS resolved
    FROM j
""")
def q_resolve_redirects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect resolution over per-document planted chains of length
    1+doc_id%4 (self-contained per doc, so the closed-form oracle
    never assumes corpus id contiguity): every non-terminal hop must
    resolve to the chain tail with the exact remaining hop count."""
    from document_extractor_spark.operators.links import resolve_redirects

    d, did = F.col("doc_id"), F.col("doc_id").cast("string")
    staged = _docs(spark, sf_dir).select(
        "doc_id", F.sequence(F.lit(0), (d % 4).cast("int")).alias("_js"))
    hops = staged.select(
        "doc_id", F.posexplode_outer("_js").alias("_p", "_j"))
    edges = hops.select(
        F.concat(F.lit("https://r.example.org/"), did, F.lit("/"),
                 F.col("_j").cast("string")).alias("src_url"),
        F.concat(F.lit("https://r.example.org/"), did, F.lit("/"),
                 (F.col("_j") + 1).cast("string")).alias("dst_url"))
    return resolve_redirects(edges)


# parse_robots: the plant is doc_id arithmetic; the oracle
# states every parsed rule row per case.
@query("""
    SELECT doc_id, '*' AS agent, 'disallow' AS rule_type,
           '/private' || (doc_id % 5) || '/' AS value
    FROM documents
    UNION ALL
    SELECT doc_id, '*', 'allow', '/public/' FROM documents
    UNION ALL
    SELECT doc_id, '*', 'crawl_delay',
           CAST(1 + doc_id % 4 AS VARCHAR) FROM documents
    UNION ALL
    SELECT doc_id, 'badbot' || (doc_id % 7), 'disallow', '/'
    FROM documents WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id, '', 'sitemap',
           'https://h' || (doc_id % 37)
             || '.example.org/sitemap.xml'
    FROM documents
""")
def q_parse_robots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt parsing over planted files: a wildcard group (two
    path rules + Crawl-delay), an arithmetic second group on %3, a
    global Sitemap line, comments and CRLF noise. The closed-form
    oracle states every (agent, rule_type, value) row per case."""
    from document_extractor_spark.operators.robots import parse_robots_txt

    d = F.col("doc_id")
    txt = F.concat(
        F.lit("# generated\r\nUser-agent: *\nDisallow: /private"),
        (d % 5).cast("string"),
        F.lit("/\nAllow: /public/  # keep\nCrawl-Delay: "),
        (1 + d % 4).cast("string"), F.lit("\n\n"),
        F.when(d % 3 == 0, F.concat(
            F.lit("User-agent: badbot"), (d % 7).cast("string"),
            F.lit("\nDisallow: /\n"))).otherwise(F.lit("")),
        F.lit("Sitemap: https://h"), (d % 37).cast("string"),
        F.lit(".example.org/sitemap.xml\n"))
    planted = _docs(spark, sf_dir).select(
        "doc_id", txt.alias("robots_txt"))
    return parse_robots_txt(planted)


# assign_splits: thresholds come from the SAME Python helper
# the operator uses (mix_threshold_hex), so the hex-string
# bucket comparisons are engine-identical by construction.
@query(
    "SELECT doc_id, CASE"
    " WHEN substr(md5('split1' || CAST(doc_id AS VARCHAR)), 1, 8)"
    f" < '{mix_threshold_hex(0.8)}' THEN 'train'"
    " WHEN substr(md5('split1' || CAST(doc_id AS VARCHAR)), 1, 8)"
    f" < '{mix_threshold_hex(0.9)}' THEN 'val'"
    " WHEN substr(md5('split1' || CAST(doc_id AS VARCHAR)), 1, 8)"
    f" < '{mix_threshold_hex(1.0)}' THEN 'test'"
    " END AS split FROM documents"
)
def q_assign_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment over the real
    corpus — the oracle evaluates the identical md5-prefix bucket
    comparisons (thresholds injected from the SAME Python function the
    operator uses, so the engines cannot drift)."""
    from document_extractor_spark.operators.curation import assign_splits

    return assign_splits(
        _docs(spark, sf_dir),
        {"train": 0.8, "val": 0.1, "test": 0.1}).select("doc_id", "split")


# title_overlap: twin rebuilds the same planted titles and
# recomputes the identical distinct-token set intersection.
@query(r"""
    WITH t AS (
      SELECT doc_id, text,
        CASE WHEN doc_id % 7 = 0 THEN NULL
             WHEN doc_id % 5 = 0 THEN 'zzqx1 zzqx2'
             ELSE array_to_string(list_filter(
               regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> x <> '')[1:3], ' ') || ' zzupdate'
        END AS title
      FROM documents),
    d AS (
      SELECT doc_id,
        list_distinct(list_filter(regexp_split_to_array(
          trim(lower(title)), '\s+'), x -> x <> '')) AS tt,
        list_distinct(list_filter(regexp_split_to_array(
          trim(lower(text)), '\s+'), x -> x <> '')) AS bt
      FROM t)
    SELECT doc_id,
      CAST(COALESCE(len(tt), 0) AS BIGINT) AS n_title_tokens,
      CAST(CASE WHEN COALESCE(len(tt), 0) > 0
           THEN len(list_intersect(tt, bt)) ELSE 0 END
           AS BIGINT) AS n_overlap,
      CAST(CASE WHEN COALESCE(len(tt), 0) > 0
           THEN len(list_intersect(tt, bt)) * 1000000 // len(tt)
           END AS BIGINT) AS overlap_ppm
    FROM d
""")
def q_title_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Title↔body overlap over planted titles: %7 → NULL title (ppm
    NULL), %5 → disjoint keyword-stuffed title (ppm 0), else the
    body's own first 3 tokens plus a guaranteed-absent marker. The
    DuckDB twin rebuilds the same titles and recomputes the identical
    set intersection."""
    from document_extractor_spark.operators.textstats import (
        title_content_overlap)
    from document_extractor_spark.functions.text import tokens

    d = F.col("doc_id")
    first3 = F.array_join(
        F.slice(tokens(F.lower(F.col("text"))), 1, 3), " ")
    title = (
        F.when(d % 7 == 0, F.lit(None).cast("string"))
        .when(d % 5 == 0, F.lit("zzqx1 zzqx2"))
        .otherwise(F.concat(first3, F.lit(" zzupdate"))))
    planted = _docs(spark, sf_dir).select(
        "doc_id", title.alias("title"), "text")
    return title_content_overlap(planted)


# host_dup_stats / shingle_novelty: genuine relational twins
# over the real corpus — same normalization, same corpus-wide
# verdicts, same integer-ppm rollups.
@query(f"""
    WITH k AS (
      SELECT source AS host, md5({_NORM}) AS h FROM documents),
    c AS (SELECT h, COUNT(*) > 1 AS isdup FROM k GROUP BY h)
    SELECT host, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN isdup THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_docs,
           CAST(SUM(CASE WHEN isdup THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS dup_ppm
    FROM k JOIN c USING (h) GROUP BY host
""")
def q_host_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication report over the REAL documents table —
    genuine relational twin (same md5-of-normalized-text key, same
    corpus-wide dup verdict, same per-host rollup)."""
    from document_extractor_spark.operators.dedup import host_dup_stats

    return host_dup_stats(_docs(spark, sf_dir))


@query(r"""
    WITH sh AS (
      SELECT doc_id AS id,
        list_distinct(list_transform(
          range(1, greatest(len(regexp_split_to_array(
            lower(trim(text)), '\s+')) - 4, 1) + 1),
          i -> array_to_string((regexp_split_to_array(
            lower(trim(text)), '\s+'))[i:i+4], ' ')
        )) AS s
      FROM documents WHERE text IS NOT NULL),
    ex AS (
      SELECT id, tok FROM (
        SELECT id, unnest(s) AS tok FROM sh) WHERE tok <> ''),
    cnt AS (SELECT tok, COUNT(*) AS c FROM ex GROUP BY tok),
    per AS (
      SELECT id, COUNT(*) AS n_shingles,
             SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n_unique
      FROM ex JOIN cnt USING (tok) GROUP BY id)
    SELECT id AS doc_id,
           CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(n_unique AS BIGINT) AS n_unique,
           CAST(n_unique * 1000000 // n_shingles AS BIGINT)
             AS novelty_ppm
    FROM per
""")
def q_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-gram novelty over the REAL documents table — genuine
    relational twin of the staged-shingle explode, corpus-wide
    uniqueness verdict, and exact-ppm rollup."""
    from document_extractor_spark.operators.dedup import shingle_novelty

    return shingle_novelty(_docs(spark, sf_dir), n=5)


# politeness_schedule: relational twin — same host extract,
# same delay lookup with default, same url-ordered row_number
# lanes and per-host drain maxima, all integers.
@query("""
    WITH plan AS (
      SELECT 'https://h' || (doc_id % 37)
               || '.example.org/p/' || doc_id AS url,
             'h' || (doc_id % 37) || '.example.org' AS host,
             doc_id % 37 AS hh
      FROM documents),
    k AS (
      SELECT url, host,
        CAST(CASE WHEN hh < 20 THEN 100 * (1 + hh % 5)
                  ELSE 250 END AS BIGINT) AS delay_ms
      FROM plan),
    s AS (
      SELECT url, host, delay_ms,
        (ROW_NUMBER() OVER (PARTITION BY host ORDER BY url) - 1)
          * delay_ms AS slot_ms
      FROM k)
    SELECT url, host, delay_ms,
           CAST(slot_ms AS BIGINT) AS slot_ms,
           CAST(MAX(slot_ms + delay_ms)
                OVER (PARTITION BY host) AS BIGINT)
             AS host_drain_ms
    FROM s
""")
def q_politeness_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl-delay lanes over the h{id%37} plan: hosts h0-h19
    carry a planted Crawl-delay (100·(1+h%5) ms), the rest fall back to
    the 250 ms default. The DuckDB twin recomputes the same row_number
    lanes and drain maxima."""
    from document_extractor_spark.operators.frontier import (
        politeness_schedule)

    d, did = F.col("doc_id"), F.col("doc_id").cast("string")
    plan = _docs(spark, sf_dir).select(
        F.concat(F.lit("https://h"), (d % 37).cast("string"),
                 F.lit(".example.org/p/"), did).alias("url"))
    delays = spark.range(20).select(
        F.concat(F.lit("h"), F.col("id").cast("string"),
                 F.lit(".example.org")).alias("host"),
        (100 * (1 + F.col("id") % 5)).cast("bigint").alias("delay_ms"))
    return politeness_schedule(plan, delays)


# bitext_candidates: the plant is doc_id arithmetic; the oracle
# states surviving declared pairs per case (de kept when the
# (1+i%3) scale is <= 2 — boundary inclusive — fr always).
@query("""
    WITH b AS (
      SELECT doc_id, 50 + doc_id % 37 AS en_len FROM documents)
    SELECT 'https://docs.example.org/en/' || doc_id AS src_url,
           'https://docs.example.org/de/' || doc_id AS dst_url,
           'en' AS src_lang, 'de' AS dst_lang,
           CAST(en_len AS BIGINT) AS src_tokens,
           CAST(en_len * (1 + doc_id % 3) AS BIGINT) AS dst_tokens
    FROM b WHERE doc_id % 2 = 0 AND doc_id % 3 <> 2
    UNION ALL
    SELECT 'https://docs.example.org/en/' || doc_id,
           'https://docs.example.org/fr/' || doc_id,
           'en', 'fr',
           CAST(en_len AS BIGINT),
           CAST(en_len + 10 AS BIGINT)
    FROM b WHERE doc_id % 3 = 0
""")
def q_bitext_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext candidate pairs over a planted multilingual corpus: en
    pages always (len 50+i%37), de on %2 with length scaled by
    (1+i%3) — so the factor-2 ratio bound keeps i%3∈{0,1} including
    the exact-2.0 boundary — fr on %3 (len +10, always kept); the en
    page declares the alternates. Closed-form oracle per case."""
    from document_extractor_spark.operators.bitext import bitext_candidates

    d, did = F.col("doc_id"), F.col("doc_id").cast("string")
    base = _docs(spark, sf_dir).select("doc_id",
                                       (50 + d % 37).alias("en_len"))

    def url(lang):
        return F.concat(F.lit(f"https://docs.example.org/{lang}/"), did)

    en = base.select(url("en").alias("url"), F.lit("en").alias("lang"),
                     F.col("en_len").alias("n_tokens"))
    de = base.where(d % 2 == 0).select(
        url("de").alias("url"), F.lit("de").alias("lang"),
        (F.col("en_len") * (1 + d % 3)).alias("n_tokens"))
    fr = base.where(d % 3 == 0).select(
        url("fr").alias("url"), F.lit("fr").alias("lang"),
        (F.col("en_len") + 10).alias("n_tokens"))
    corpus = en.unionByName(de).unionByName(fr)
    alts = (
        base.where(d % 2 == 0)
        .select(url("en").alias("url"), url("de").alias("href"))
        .unionByName(
            base.where(d % 3 == 0)
            .select(url("en").alias("url"), url("fr").alias("href")))
    )
    return bitext_candidates(corpus, alts)


# meta_robots: the head shape is doc_id%4 arithmetic with a
# %13 invalid-UTF-8 override; the oracle states the boolean
# verdicts (NULL for undecodable) per case.
@query("""
    SELECT doc_id,
      CASE WHEN doc_id % 13 = 0 THEN NULL
           ELSE doc_id % 4 = 0 END AS meta_noindex,
      CASE WHEN doc_id % 13 = 0 THEN NULL
           ELSE doc_id % 4 IN (0, 1) END AS meta_nofollow,
      CASE WHEN doc_id % 13 = 0 THEN NULL
           ELSE FALSE END AS meta_noarchive
    FROM documents
""")
def q_meta_robots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meta-robots directive extraction over planted heads: %4 selects
    the tag shape (noindex+nofollow / attribute-swapped uppercase
    NOFOLLOW / content="all" / no tag), %13 overrides the payload with
    invalid UTF-8 (verdict NULL — unknown, not allowed). Closed-form
    oracle per arithmetic case."""
    from document_extractor_spark.operators.pagemeta import (
        robots_directives)

    d = F.col("doc_id")
    head = (
        F.when(d % 4 == 0,
               F.lit('<meta name="robots" content="noindex, nofollow">'))
        .when(d % 4 == 1, F.lit("<meta content='NOFOLLOW' name='robots'>"))
        .when(d % 4 == 2, F.lit('<meta name="robots" content="all">'))
        .otherwise(F.lit("")))
    html = F.concat(F.lit("<html><head>"), head,
                    F.lit("</head><body><p>hi</p></body></html>"))
    payload = F.when(d % 13 == 0, F.unhex(F.lit("FF00"))) \
        .otherwise(F.encode(html, "UTF-8"))
    planted = _docs(spark, sf_dir).select("doc_id", payload.alias("html"))
    return robots_directives(planted).select(
        "doc_id", "meta_noindex", "meta_nofollow", "meta_noarchive")


# surt_keys: relational twin — DuckDB rebuilds the same planted
# URLs and runs the identical lower / port-strip / www-strip /
# label-reverse / param-sort chain with its own list functions.
@query("""
    WITH u AS (
      SELECT doc_id,
        CASE
          WHEN doc_id % 4 = 0 THEN 'https://WWW.Example'
            || (doc_id % 9) || '.ORG/Path/' || doc_id
            || '?b=' || (doc_id % 3) || '&a=' || (doc_id % 5)
          WHEN doc_id % 4 = 1 THEN 'https://sub' || (doc_id % 7)
            || '.site' || (doc_id % 9) || '.co.uk/'
          WHEN doc_id % 4 = 2 THEN 'https://example'
            || (doc_id % 9) || '.org:8080/x/' || doc_id
          ELSE 'nota url ' || doc_id
        END AS url
      FROM documents),
    h AS (
      SELECT doc_id,
        regexp_replace(regexp_replace(lower(regexp_extract(url,
          '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1)), ':.*$', ''),
          '^www\\.', '') AS host,
        lower(regexp_extract(url,
          '^[a-z][a-z0-9+.-]*://[^/?#]+([^#]*)', 1)) AS pathq
      FROM u)
    SELECT doc_id,
      CASE WHEN host = '' THEN NULL
        ELSE array_to_string(list_reverse(
               string_split(host, '.')), ',') || ')'
          || CASE WHEN pathq = '' THEN '/'
                  ELSE regexp_replace(pathq, '\\?.*$', '') END
          || CASE WHEN regexp_extract(pathq, '\\?(.*)$', 1) = ''
                  THEN ''
                  ELSE '?' || array_to_string(list_sort(
                    string_split(regexp_extract(pathq,
                      '\\?(.*)$', 1), '&')), '&') END
      END AS surt
    FROM h
""")
def q_surt_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURT key generation over planted mixed-shape URLs (uppercase
    www host with unsorted params, deep ccTLD host, ported host,
    unparseable junk). The DuckDB twin recomputes the identical
    lower/strip/reverse/sort chain with its own list functions."""
    from document_extractor_spark.sources.cdx import surt_key

    d, did = F.col("doc_id"), F.col("doc_id").cast("string")
    url = (
        F.when(d % 4 == 0, F.concat(
            F.lit("https://WWW.Example"), (d % 9).cast("string"),
            F.lit(".ORG/Path/"), did, F.lit("?b="),
            (d % 3).cast("string"), F.lit("&a="), (d % 5).cast("string")))
        .when(d % 4 == 1, F.concat(
            F.lit("https://sub"), (d % 7).cast("string"),
            F.lit(".site"), (d % 9).cast("string"), F.lit(".co.uk/")))
        .when(d % 4 == 2, F.concat(
            F.lit("https://example"), (d % 9).cast("string"),
            F.lit(".org:8080/x/"), did))
        .otherwise(F.concat(F.lit("nota url "), did)))
    planted = _docs(spark, sf_dir).select("doc_id", url.alias("url"))
    return surt_key(planted).select("doc_id", "surt")


# chunk_passages: relational twin — same tokenizer, stride
# starts via range(0, n, 24), same 1-based 32-token slice and
# single-space rejoin.
@query("""
    WITH t AS (
      SELECT doc_id, list_filter(regexp_split_to_array(
        trim(text), '\\s+'), x -> x <> '') AS toks
      FROM documents),
    s AS (
      SELECT doc_id, toks,
             unnest(range(0, len(toks), 24)) AS st
      FROM t WHERE len(toks) > 0)
    SELECT doc_id, CAST(st // 24 AS INT) AS chunk_id,
           CAST(len(list_slice(toks, st + 1, st + 32))
                AS BIGINT) AS n_tokens,
           array_to_string(list_slice(toks, st + 1, st + 32), ' ')
             AS chunk_text
    FROM s
""")
def q_chunk_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token passage windows (32 tokens, 8 overlap) over the real
    documents table; the DuckDB twin recomputes the identical
    tokenize → stride-range → slice → rejoin chain, so boundaries,
    overlap, tails, and the empty-doc rule all cross-check."""
    from document_extractor_spark.operators.chunking import chunk_passages

    return chunk_passages(_docs(spark, sf_dir), chunk_tokens=32, overlap=8)


# triangle_counts: genuine algorithmic cross-check — DuckDB
# enumerates triangles by 3-way self-join over id-ordered
# canonical edges, Spark by degree-ordered wedges; the exact
# per-vertex counts must agree.
@query("""
    WITH raw AS (
      SELECT 'h' || (doc_id % 37) AS s,
             'h' || ((doc_id * 3 + 1) % 37) AS t
      FROM documents),
    e AS (
      SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
      FROM raw WHERE s <> t),
    deg AS (
      SELECT x, COUNT(*) AS degree FROM (
        SELECT a AS x FROM e UNION ALL SELECT b FROM e)
      GROUP BY x),
    tri AS (
      SELECT e1.a AS x1, e1.b AS x2, e2.b AS x3
      FROM e e1
      JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
      JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
    credit AS (
      SELECT x, COUNT(*) AS triangles FROM (
        SELECT x1 AS x FROM tri UNION ALL SELECT x2 FROM tri
        UNION ALL SELECT x3 FROM tri) GROUP BY x)
    SELECT deg.x AS host, degree,
           CAST(COALESCE(triangles, 0) AS BIGINT) AS triangles,
           CAST(CASE WHEN degree >= 2
                THEN (COALESCE(triangles, 0) * 2000000)
                     // (degree * (degree - 1))
                ELSE 0 END AS BIGINT) AS clustering_ppm
    FROM deg LEFT JOIN credit ON credit.x = deg.x
""")
def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-graph triangle counting + local clustering over the
    arithmetic circulant plant (h{id%37} → h{(id·3+1)%37}): Spark runs
    the degree-ordered node-iterator, DuckDB the straightforward
    3-way self-join — two different exact algorithms, one answer."""
    from document_extractor_spark.operators.links import triangle_counts

    d = F.col("doc_id")
    edges = _docs(spark, sf_dir).select(
        F.concat(F.lit("h"), (d % 37).cast("string")).alias("src_host"),
        F.concat(F.lit("h"), ((d * 3 + 1) % 37).cast("string"))
        .alias("dst_host"))
    return triangle_counts(edges)


# cdx_fetch_plan: the plant is doc_id arithmetic; the oracle
# states the surviving fetch plan per case — 404s (%7) and
# PDFs (%11) dropped, the 2026 recrawl (%3) beating the 2025
# capture everywhere it exists.
@query("""
    SELECT 'https://example.org/' || doc_id AS url,
      CASE WHEN doc_id % 3 = 0 THEN '20260101000000'
           ELSE '20250101' || lpad(CAST(doc_id % 24 AS VARCHAR),
                                   2, '0') || '0000'
      END AS ts_raw,
      CASE WHEN doc_id % 3 = 0 THEN 'w9.warc.gz'
           ELSE 'w' || (doc_id % 4) || '.warc.gz'
      END AS filename,
      CAST(CASE WHEN doc_id % 3 = 0 THEN doc_id * 1000 + 500
                ELSE doc_id * 1000 END AS BIGINT) AS offset,
      CAST(CASE WHEN doc_id % 3 = 0 THEN 120 ELSE 100 END
           AS BIGINT) AS length
    FROM documents
    WHERE doc_id % 7 <> 0 AND doc_id % 11 <> 0
""")
def q_cdx_fetch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDXJ index → fetch plan over planted capture lines built IN
    SPARK: every doc gets a 2025 capture (hour = id%24), id%3==0 docs
    a second 2026 capture, id%7==0 are 404s, id%11==0 are PDFs. The
    operator parses real CDXJ text and plans latest-HTML-200 fetches;
    the closed-form oracle states the surviving (url, ts, filename,
    offset, length) per arithmetic case."""
    from document_extractor_spark.sources.cdx import (cdx_fetch_plan,
                                                      cdx_lines_to_captures)

    d, did = F.col("doc_id"), F.col("doc_id").cast("string")
    mime = F.when(d % 11 == 0, F.lit("application/pdf")) \
        .otherwise(F.lit("text/html"))
    status = F.when(d % 7 == 0, F.lit("404")).otherwise(F.lit("200"))

    def line(ts, offset, length, fname):
        return F.concat(
            F.lit("org,example)/"), did, F.lit(" "), ts,
            F.lit(' {"url": "https://example.org/'), did,
            F.lit('", "mime": "'), mime, F.lit('", "status": "'), status,
            F.lit('", "digest": "sha1:'), F.md5(did),
            F.lit('", "length": "'), length,
            F.lit('", "offset": "'), offset,
            F.lit('", "filename": "'), fname, F.lit('"}'))

    docs = _docs(spark, sf_dir)
    ts_a = F.concat(F.lit("20250101"),
                    F.lpad((d % 24).cast("string"), 2, "0"), F.lit("0000"))
    a = docs.select(line(
        ts_a, (d * 1000).cast("string"), F.lit("100"),
        F.concat(F.lit("w"), (d % 4).cast("string"), F.lit(".warc.gz"))
    ).alias("value"))
    b = docs.where(d % 3 == 0).select(line(
        F.lit("20260101000000"), (d * 1000 + 500).cast("string"),
        F.lit("120"), F.lit("w9.warc.gz")).alias("value"))
    return cdx_fetch_plan(cdx_lines_to_captures(a.unionByName(b), "value"))


# roc_auc: relational twin — same per-score collapse, same
# cumulative-negatives window, same all-BIGINT pair count,
# same single final division.
@query("""
    WITH d AS (
      SELECT CAST((doc_id * 7) % 100 AS DOUBLE) AS s,
             CASE WHEN (doc_id * 13) % 100 < (doc_id * 7) % 100
                  THEN 1 ELSE 0 END AS l
      FROM documents),
    per AS (
      SELECT s,
             SUM(CASE WHEN l = 1 THEN 1 ELSE 0 END) AS p,
             SUM(CASE WHEN l = 0 THEN 1 ELSE 0 END) AS n
      FROM d GROUP BY s),
    cum AS (
      SELECT p, n,
             COALESCE(SUM(n) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS nb
      FROM per)
    SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
           CAST(SUM(n) AS BIGINT) AS n_neg,
           CAST(2 * SUM(p * nb) + SUM(p * n) AS BIGINT)
             AS pairs_won_x2,
           CAST(2 * SUM(p * nb) + SUM(p * n) AS DOUBLE)
             / (2.0 * SUM(p) * SUM(n)) AS auc
    FROM cum
""")
def q_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Mann-Whitney ROC-AUC over planted (score, label) pairs —
    score = (id·7)%100 with heavy ties, label correlated with score so
    the AUC is non-trivial. The oracle recomputes the identical
    integer pair-count formula; only the final division is float, so
    the match is bit-exact."""
    from document_extractor_spark.operators.metrics import roc_auc

    d = F.col("doc_id")
    planted = _docs(spark, sf_dir).select(
        ((d * 7) % 100).cast("double").alias("score"),
        F.when((d * 13) % 100 < (d * 7) % 100, F.lit(1))
        .otherwise(F.lit(0)).alias("label"))
    return roc_auc(planted)


# prototype_prune: relational twin over the exact-double plant
# — same assignment arithmetic, same 1/sqrt(1+p*p) similarity
# (all intermediates exactly representable), same percent_rank
# window and band filter.
@query("""
    WITH s AS (
      SELECT doc_id, CAST(doc_id % 2 AS INT) AS cell,
             1.0 / sqrt(1.0 + (0.25 * (doc_id % 5))
                        * (0.25 * (doc_id % 5))) AS proto_sim
      FROM documents),
    r AS (
      SELECT doc_id, cell, proto_sim,
             percent_rank() OVER (PARTITION BY cell
                                  ORDER BY proto_sim) AS pr
      FROM s)
    SELECT doc_id, cell, proto_sim FROM r
    WHERE pr >= 0.2 AND pr <= 0.8
""")
def q_prototype_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSL-prototypes pruning over planted embeddings: two axis
    clusters (cell = doc_id%2), perturbation 0.25·(doc_id%5) — every
    intermediate double (p, p², 1+p²) is EXACTLY representable, so
    proto_sim = 1/sqrt(1+p²) is bit-identical cross-engine and the
    DuckDB twin recomputes assignment, similarity, percent_rank, and
    the keep band directly."""
    from document_extractor_spark.operators.similarity import (
        prototypicality_prune)

    d = F.col("doc_id")
    p = (d % 5).cast("double") * F.lit(0.25)
    emb = F.when(d % 2 == 0,
                 F.array(F.lit(1.0), F.lit(0.0), p, F.lit(0.0))) \
        .otherwise(F.array(F.lit(0.0), F.lit(1.0), F.lit(0.0), p))
    planted = _docs(spark, sf_dir).select("doc_id", emb.alias("embedding"))
    return prototypicality_prune(
        planted, [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]],
        keep_low=0.2, keep_high=0.8)


# url_templates: relational twin — same planted URLs, same
# host extract, same hex-then-digit collapse (DuckDB needs the
# explicit 'g' flag Spark applies by default), same counts.
@query("""
    WITH u AS (
      SELECT 'https://h' || (doc_id % 37) || '.example.org' ||
        CASE
          WHEN doc_id % 5 = 0 THEN '/cal/' || (2020 + doc_id % 7)
               || '/' || (1 + doc_id % 12) || '/'
               || (1 + doc_id % 28)
          WHEN doc_id % 5 = 1 THEN '/p/' || doc_id
          WHEN doc_id % 5 = 2 THEN '/s?sid='
               || md5(CAST(doc_id AS VARCHAR))
          WHEN doc_id % 5 = 3 THEN '/about'
          ELSE '/tag/' || (doc_id % 3) || '/page/'
               || (doc_id % 50)
        END AS url
      FROM documents),
    t AS (
      SELECT url,
        lower(regexp_extract(url,
          '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1)) AS host,
        regexp_replace(regexp_replace(
          CASE WHEN regexp_extract(url,
            '^[a-z][a-z0-9+.-]*://[^/?#]+([^#]*)', 1) = ''
            THEN '/'
            ELSE regexp_extract(url,
              '^[a-z][a-z0-9+.-]*://[^/?#]+([^#]*)', 1) END,
          '[0-9a-fA-F]{16,}', '{hex}', 'g'),
          '[0-9]+', '{n}', 'g') AS template
      FROM u)
    SELECT host, template,
           COUNT(DISTINCT url) AS n_urls,
           COUNT(*) AS n_fetches,
           COUNT(DISTINCT url) >= 25 AS is_trap
    FROM t GROUP BY host, template
""")
def q_url_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawler-trap template mining over planted URL families (calendar
    dates, product ids, hex session ids, a static page, tag/pagination)
    on the h{id%37} host scheme. The oracle is a genuine relational
    twin: DuckDB derives the same planted URLs and runs the identical
    host-extract + hex/digit-collapse + distinct-count chain."""
    from document_extractor_spark.operators.urlpatterns import url_templates

    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://h"), (d % 37).cast("string"), F.lit(".example.org"),
        F.when(d % 5 == 0, F.concat(
            F.lit("/cal/"), (2020 + d % 7).cast("string"),
            F.lit("/"), (1 + d % 12).cast("string"),
            F.lit("/"), (1 + d % 28).cast("string")))
        .when(d % 5 == 1, F.concat(F.lit("/p/"), d.cast("string")))
        .when(d % 5 == 2, F.concat(F.lit("/s?sid="),
                                   F.md5(d.cast("string"))))
        .when(d % 5 == 3, F.lit("/about"))
        .otherwise(F.concat(F.lit("/tag/"), (d % 3).cast("string"),
                            F.lit("/page/"), (d % 50).cast("string"))),
    )
    planted = _docs(spark, sf_dir).select(url.alias("url"))
    return url_templates(planted, trap_min_urls=25)


# weighted_sample: the genuine relational twin — identical
# md5-hex uniform (0x-cast in DuckDB, conv in Spark; 60-bit so
# both are IEEE-exact through the double conversion), identical
# ln(u)/w ordering, identical tie-break.
@query("""
    WITH s AS (
      SELECT doc_id, length(text) AS n_chars,
        ln((CAST('0x' || substr(
              md5('es1' || CAST(doc_id AS VARCHAR)), 1, 15)
            AS BIGINT) + 1) / 1152921504606846976.0)
        / CAST(length(text) AS DOUBLE) AS o
      FROM documents WHERE length(text) > 0)
    SELECT doc_id, n_chars FROM s
    ORDER BY o DESC, doc_id LIMIT 100
""")
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis exactly-100 weighted sample of documents,
    length-proportional (w = char count). The oracle recomputes the
    identical deterministic formula — md5-seeded uniform, ln(u)/w
    ordering, doc_id tie-break — so the sampled SET must match
    row-for-row."""
    from document_extractor_spark.operators.curation import weighted_sample

    docs = _docs(spark, sf_dir).withColumn("n_chars", F.length("text"))
    return weighted_sample(docs, 100, "n_chars").select("doc_id", "n_chars")


# script_profile: planted script char repeated 10+id%5 times
# plus a 3-Latin-letter tail — counts and the dominant verdict
# are doc_id arithmetic (chars[id%9]; the id%9==0 branch IS
# latin so its count absorbs the tail).
@query("""
    WITH c AS (
      SELECT doc_id,
        CASE doc_id % 9
          WHEN 0 THEN 'latin'    WHEN 1 THEN 'cyrillic'
          WHEN 2 THEN 'han'      WHEN 3 THEN 'arabic'
          WHEN 4 THEN 'greek'    WHEN 5 THEN 'hangul'
          WHEN 6 THEN 'hiragana' WHEN 7 THEN 'katakana'
          ELSE 'devanagari' END AS dominant_script,
        CAST(CASE WHEN doc_id % 9 = 0 THEN 13 + doc_id % 5
                  ELSE 10 + doc_id % 5 END AS BIGINT)
          AS script_chars,
        CAST(13 + doc_id % 5 AS BIGINT) AS letter_chars
      FROM documents)
    SELECT doc_id, dominant_script, script_chars, letter_chars,
           CAST(script_chars * 1000000 // letter_chars AS BIGINT)
             AS dominant_ppm
    FROM c
""")
def q_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script detection over planted text: doc_id%9 selects
    one of the nine profiled scripts, repeated 10+doc_id%5 times, plus
    a fixed ' 123 abc' tail (digits ignored, 3 Latin letters prove
    mixed-script counting). Counts, dominant pick, and the exact
    integer ppm are all closed-form doc_id arithmetic."""
    from document_extractor_spark.operators.textstats import script_profile

    chars = F.array(*[F.lit(c) for c in
                      ["a", "д", "中", "ا", "α", "한", "ひ", "カ", "द"]])
    planted = (
        _docs(spark, sf_dir)
        .select("doc_id",
                F.element_at(chars, (F.col("doc_id") % 9 + 1).cast("int"))
                .alias("_ch"))
        .select("doc_id",
                F.concat(F.expr("repeat(_ch, int(doc_id % 5) + 10)"),
                         F.lit(" 123 abc")).alias("text"))
    )
    return script_profile(planted)


# sniff_types: payload family is doc_id arithmetic (%13 empty
# override, else %7 selects the magic/BOM/HTML/text family);
# the oracle states the expected verdict per branch.
@query("""
    SELECT doc_id,
      CASE WHEN doc_id % 13 = 0 THEN 'empty'
           WHEN doc_id % 7 = 0 THEN 'application/pdf'
           WHEN doc_id % 7 = 1 THEN 'application/gzip'
           WHEN doc_id % 7 = 2 THEN 'image/png'
           WHEN doc_id % 7 = 3 THEN 'image/jpeg'
           WHEN doc_id % 7 = 4 THEN 'text/plain'
           WHEN doc_id % 7 = 5 THEN 'text/html'
           ELSE 'text/plain' END AS sniffed_type,
      CASE WHEN doc_id % 13 = 0 THEN NULL
           WHEN doc_id % 7 = 4 THEN 'utf-16le'
           WHEN doc_id % 7 IN (5, 6) THEN 'utf-8'
           ELSE NULL END AS sniffed_charset
    FROM documents
""")
def q_sniff_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magic-byte content-type + charset sniffing over a mixed-payload
    corpus built in Spark (PDF/gzip/PNG/JPEG magics, UTF-16LE BOM,
    HTML root tag, bare text, empty override on %13) — the verdict is
    a pure doc_id CASE the oracle states directly, covering every rule
    branch including magic-beats-text precedence."""
    from document_extractor_spark.operators.sniff import sniff_content_type
    from document_extractor_spark.sources.docpages import (
        pages_with_mixed_payloads)

    pages = pages_with_mixed_payloads(spark, sf_dir)
    return sniff_content_type(pages).select(
        doc_id_from_url("url"), "sniffed_type", "sniffed_charset")


# frequent_tokens: the exact GROUP BY answer — integer-exact
# threshold test (cnt*10^6 >= ppm*N) and floor-div ppm, which the
# Spark aggregation must reproduce bit-for-bit.
@query("""
    WITH toks AS (
      SELECT unnest(list_filter(regexp_split_to_array(
        trim(lower(text)), '\\s+'), t -> t <> '')) AS token
      FROM documents
    ), tot AS (SELECT COUNT(*) AS n FROM toks)
    SELECT token, COUNT(*) AS cnt,
           CAST(COUNT(*) * 1000000 // (SELECT n FROM tot)
                AS BIGINT) AS freq_ppm
    FROM toks GROUP BY token
    HAVING COUNT(*) * 1000000 >= 1000 * (SELECT n FROM tot)
""")
def q_frequent_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters at 1000 ppm (0.1% of all corpus tokens):
    one exact token count against a broadcast corpus token total,
    with no Python node. The oracle is the same exact GROUP BY."""
    from document_extractor_spark.operators.heavyhitters import (
        frequent_tokens)

    return frequent_tokens(_docs(spark, sf_dir), min_freq_ppm=1000)


# CM-sketch point-query words: two corpus-frequent, one corpus-absent
# ('zebra' — exercises the pure-collision path where est > 0, exact = 0),
# plus mid-frequency fillers. Width 16 over the small fixture vocabulary
# FORCES collisions so the one-sided overcount guarantee is actually
# exercised, not vacuously equal.
_CMS_WORDS = ["join", "hash", "zebra", "spark", "query", "the"]
_CMS_DEPTH, _CMS_WIDTH = 3, 16


@query(f"""
    WITH toks AS (
      SELECT unnest(list_filter(regexp_split_to_array(
               trim(lower(text)), '\\s+'), t -> t <> '')) AS tok
      FROM documents),
    rows_ AS (SELECT unnest(range({_CMS_DEPTH})) AS i),
    sketch AS (
      SELECT r.i AS row,
             ('0x' || substr(md5(CAST(r.i AS VARCHAR) || ':' || tok),
              1, 12))::UBIGINT % {_CMS_WIDTH} AS bucket,
             count(*) AS cnt
      FROM toks, rows_ r GROUP BY 1, 2),
    keys AS (SELECT unnest({_CMS_WORDS!r}) AS word),
    fan AS (
      SELECT word, r.i AS row,
             ('0x' || substr(md5(CAST(r.i AS VARCHAR) || ':' || word),
              1, 12))::UBIGINT % {_CMS_WIDTH} AS bucket
      FROM keys, rows_ r),
    est AS (
      SELECT word, min(coalesce(cnt, 0)) AS est
      FROM fan LEFT JOIN sketch USING (row, bucket) GROUP BY word),
    exact AS (
      SELECT word, count(*) AS n FROM keys
      JOIN toks ON tok = word GROUP BY word)
    SELECT word, CAST(est AS BIGINT) AS est,
           CAST(coalesce(n, 0) AS BIGINT) AS exact,
           CAST(est - coalesce(n, 0) AS BIGINT) AS overcount
    FROM est LEFT JOIN exact USING (word)
""")
def q_count_min_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch build + point queries vs exact counts. The
    DuckDB oracle rebuilds the IDENTICAL sketch (counters are exact
    sums of md5-derived bucket assignments — partitioning-independent),
    so the estimates match cell-for-cell, and ``overcount = est -
    exact`` is certified ≥ 0 by construction."""
    from document_extractor_spark.functions.text import exploded_tokens
    from document_extractor_spark.operators.countmin import (
        count_min_build,
        count_min_estimate,
    )

    toks = exploded_tokens(_docs(spark, sf_dir), "doc_id", "text")
    sketch = count_min_build(toks, "tok", depth=_CMS_DEPTH,
                             width=_CMS_WIDTH)
    keys = spark.createDataFrame([(w,) for w in _CMS_WORDS], "word string")
    est = count_min_estimate(sketch, keys, "word",
                             depth=_CMS_DEPTH, width=_CMS_WIDTH)
    exact = (
        toks.join(F.broadcast(keys), toks["tok"] == keys["word"], "inner")
        .groupBy("word").agg(F.count(F.lit(1)).alias("exact"))
    )
    return (
        est.withColumnRenamed("key", "word")
        .join(exact, "word", "left")
        .select(
            "word", F.col("est").cast("bigint").alias("est"),
            F.coalesce("exact", F.lit(0)).cast("bigint").alias("exact"),
            (F.col("est") - F.coalesce("exact", F.lit(0)))
            .cast("bigint").alias("overcount"),
        )
    )


@query(
    "SELECT doc_id, '# Document ' || doc_id || chr(10) || chr(10)"
    " || '***' || text || '***' AS markdown FROM documents"
)
def q_render_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown serialization of extracted items over the formatting
    fixture: '# Document {id}' then the bold+italic paragraph as
    '***text***' — header levels, blank-line block joins, and
    formatting wrappers all closed-form."""
    from document_extractor_spark.operators.extract import extract_pages
    from document_extractor_spark.operators.render import render_markdown
    from document_extractor_spark.sources.docpages import (
        pages_with_formatting)

    out = render_markdown(extract_pages(
        pages_with_formatting(spark, sf_dir), with_items=True))
    return out.select(doc_id_from_url("url"), "markdown")


@query("""
    WITH t0 AS (
      SELECT doc_id, text,
             list_filter(regexp_split_to_array(trim(text),
               '\\s+'), x -> x <> '') AS t
      FROM documents),
    m0 AS (
      SELECT doc_id, text, t, len(t) AS n,
        list_transform(range(1, len(t) + 1), i ->
          (('0x' || substr(md5('sc:' || doc_id || ':' || i),
            1, 12))::UBIGINT % 100 < 8)
          OR (i >= 2 AND ('0x' || substr(md5('sc:' || doc_id
            || ':' || (i - 1)), 1, 12))::UBIGINT % 100 < 8)
          OR (i >= 3 AND ('0x' || substr(md5('sc:' || doc_id
            || ':' || (i - 2)), 1, 12))::UBIGINT % 100 < 8))
        AS m
      FROM t0),
    s0 AS (
      SELECT *,
        list_filter(range(1, n + 1),
          i -> m[i] AND (i = 1 OR NOT m[i - 1])) AS starts,
        list_filter(range(1, n + 1),
          i -> m[i] AND (i = n OR NOT m[i + 1])) AS ends
      FROM m0),
    built AS (
      SELECT doc_id, text, len(starts) AS k,
        CASE WHEN len(starts) = 0
             THEN coalesce(array_to_string(t, ' '), '')
             ELSE coalesce(array_to_string(list_transform(
                    range(1, len(starts) + 1), i ->
                    coalesce(array_to_string(
                      t[(CASE WHEN i = 1 THEN 1
                         ELSE ends[i - 1] + 1 END)
                        :(starts[i] - 1)], ' '), '')
                    || ' <extra_id_' || (i - 1) || '>'), ' '), '')
                  || ' ' || coalesce(array_to_string(
                       t[ends[len(ends)] + 1:n], ' '), '')
        END AS raw_inputs,
        CASE WHEN len(starts) = 0 THEN ''
             ELSE coalesce(array_to_string(list_transform(
                    range(1, len(starts) + 1), i ->
                    '<extra_id_' || (i - 1) || '> '
                    || coalesce(array_to_string(
                         t[starts[i]:ends[i]], ' '), '')), ' '), '')
        END AS targets
      FROM s0)
    SELECT doc_id,
           CASE WHEN text IS NULL THEN NULL
                ELSE trim(regexp_replace(raw_inputs, ' +', ' ',
                                         'g')) END AS sc_inputs,
           CASE WHEN text IS NULL THEN NULL ELSE targets END
             AS sc_targets,
           CAST(CASE WHEN text IS NULL THEN NULL ELSE k END
                AS INT) AS sc_n_spans
    FROM built
""")
def q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 span corruption at 8% seed rate: the oracle rebuilds the
    masked bitmap, merged runs, sentinel numbering, and both output
    strings with the same md5 draws and list algebra."""
    from document_extractor_spark.operators.transforms import (
        span_corruption)

    return span_corruption(_docs(spark, sf_dir)).select(
        "doc_id", "sc_inputs", "sc_targets", "sc_n_spans")


@query(f"""
    WITH docs_t AS (
      SELECT list_filter(regexp_split_to_array(
               trim(lower(text)), '\\s+'), t -> t <> '') AS t
      FROM documents),
    uc AS (SELECT x, count(*) AS cx FROM (
             SELECT unnest(t) AS x FROM docs_t) GROUP BY x),
    bc AS (SELECT bigram, count(*) AS cxy FROM (
             SELECT unnest(CASE WHEN len(t) >= 2 THEN
               list_transform(range(1, len(t)),
                              i -> t[i] || ' ' || t[i + 1])
               ELSE [] END) AS bigram FROM docs_t)
           GROUP BY bigram),
    tot AS (SELECT (SELECT sum(cx) FROM uc) AS n,
                   (SELECT sum(cxy) FROM bc) AS nb),
    j AS (SELECT bigram, cxy,
                 string_split(bigram, ' ')[1] AS x,
                 string_split(bigram, ' ')[2] AS y
          FROM bc WHERE cxy >= 5)
    SELECT bigram, CAST(cxy AS BIGINT) AS n_xy,
           CAST(round(ln((cxy::DOUBLE / nb::DOUBLE)
                / ((ux.cx::DOUBLE / n::DOUBLE)
                   * (uy.cx::DOUBLE / n::DOUBLE))) * 1000, 0)
                AS BIGINT) AS pmi_milli
    FROM j JOIN uc ux ON ux.x = j.x
           JOIN uc uy ON uy.x = j.y, tot
    ORDER BY pmi_milli DESC, bigram LIMIT 40
""")
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-40 adjacent-bigram collocations by MILLI-quantized PMI,
    min_count 5; exact counts, in-row bigram construction, total order
    by (pmi, bigram)."""
    from document_extractor_spark.operators.textstats import (
        pmi_collocations)

    return pmi_collocations(_docs(spark, sf_dir), min_count=5, top_k=40)


@query("""
    SELECT doc_id, 0 AS table_idx, CAST(r.x AS INT) AS row,
           CAST(c.x AS INT) AS col,
           CASE WHEN r.x = 0 THEN 'c' || c.x
                ELSE 'v' || ((doc_id + r.x * 3 + c.x) % 10)
           END AS value
    FROM documents, unnest(range(0, 3)) AS r(x),
         unnest(range(0, 3)) AS c(x)
""")
def q_table_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational cell export of the planted 3×3 arithmetic table:
    header row 'c0 c1 c2' then v-cells by (doc_id + r·3 + c) mod 10 —
    every index and value closed-form."""
    from document_extractor_spark.operators.tables import table_cells
    from document_extractor_spark.sources.docpages import (
        pages_with_tables)

    out = table_cells(pages_with_tables(spark, sf_dir))
    return out.select(doc_id_from_url("url"), "table_idx", "row", "col",
                      "value")


#: every family the cleaner handles: CRLF, curly quotes, NBSP join,
#: em-dash, ellipsis char, zero-width, a C0 control, space runs, edges
_DIRTY_SUFFIX = ("\r\n“Tidy” up—now… "
                 "​ok\x07  done  ")


@query(
    "SELECT doc_id, text || chr(10) ||"
    " '\"Tidy\" up-now... ok done' AS cleaned FROM documents"
)
def q_normalize_web_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ftfy-lite typography/control cleanup roundtrip: a dirty suffix
    exercising every rule family is appended IN SPARK; the oracle is
    the original text plus the suffix's closed-form cleaned spelling."""
    from document_extractor_spark.operators.textnorm import (
        normalize_web_text)

    dirty = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(_DIRTY_SUFFIX)).alias("text"))
    return normalize_web_text(dirty).select(
        "doc_id", F.col("text").alias("cleaned"))


@query(f"""
    WITH toks AS (
      SELECT source, unnest(list_filter(regexp_split_to_array(
               trim(lower(text)), '\\s+'), t -> t <> '')) AS tok
      FROM documents WHERE source IN ('src0', 'src1')),
    cnt AS (SELECT source, tok, count(*) AS c
            FROM toks GROUP BY 1, 2),
    m AS (SELECT tok, coalesce(a.c, 0) AS ca, coalesce(b.c, 0) AS cb
          FROM (SELECT tok, c FROM cnt WHERE source = 'src0') a
          FULL JOIN (SELECT tok, c FROM cnt WHERE source = 'src1') b
          USING (tok)),
    st AS (SELECT sum(ca) AS na, sum(cb) AS nb, count(*) AS v
           FROM m)
    SELECT CAST(v AS BIGINT) AS n_types,
           CAST(na AS BIGINT) AS n_base_tokens,
           CAST(nb AS BIGINT) AS n_target_tokens,
           CAST(greatest(sum(CAST(round(
             ((cb + 1)::DOUBLE / (nb + v)::DOUBLE)
             * ln(((cb + 1)::DOUBLE / (nb + v)::DOUBLE)
                  / ((ca + 1)::DOUBLE / (na + v)::DOUBLE))
             * 1e12, 0) AS BIGINT)), 0) // 1000000 AS BIGINT)
             AS kl_micro
    FROM m, st GROUP BY v, na, nb
""")
def q_token_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(src1 ‖ src0) between two sources' token distributions,
    add-one smoothed over the union vocabulary, pico-quantized exact
    sum → micro-nats."""
    from document_extractor_spark.operators.textstats import (
        token_kl_divergence)

    return token_kl_divergence(_docs(spark, sf_dir), "source",
                               base_group="src0", target_group="src1")


@query("""
    WITH d AS (
      SELECT doc_id, text, length(text) AS L,
        ('0x' || substr(md5('fim:' || CAST(doc_id AS VARCHAR)),
         1, 12))::UBIGINT::BIGINT % 100 < 50
        AND text IS NOT NULL AND length(text) >= 20 AS applied,
        1 + ('0x' || substr(md5('fim1:' || CAST(doc_id AS VARCHAR)),
         1, 12))::UBIGINT::BIGINT % (length(text) - 1) AS a,
        1 + ('0x' || substr(md5('fim2:' || CAST(doc_id AS VARCHAR)),
         1, 12))::UBIGINT::BIGINT % (length(text) - 1) AS b
      FROM documents)
    SELECT doc_id, applied AS fim_applied,
           CASE WHEN applied THEN
             '<PRE>' || substr(text, 1, least(a, b))
             || '<SUF>' || substr(text, greatest(a, b) + 1)
             || '<MID>' || substr(text, least(a, b) + 1,
                                  greatest(a, b) - least(a, b))
           ELSE text END AS fim_text
    FROM d
""")
def q_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIM training transform at 50%: id-seeded selection and split
    points, PSM rewrite; the oracle recomputes the identical md5 draws
    and substring algebra, and reassembly-identity is pytest-pinned."""
    from document_extractor_spark.operators.transforms import fim_transform

    return fim_transform(_docs(spark, sf_dir)).select(
        "doc_id", "fim_applied", "fim_text")


@query(f"""
    WITH toks AS (
      SELECT unnest(list_filter(regexp_split_to_array(
               trim(lower(text)), '\\s+'), t -> t <> '')) AS tok
      FROM documents),
    freqs AS (SELECT tok, count(*) AS freq FROM toks GROUP BY tok),
    top AS (SELECT sum(freq) AS topk_tokens FROM (
              SELECT freq FROM freqs
              ORDER BY freq DESC, tok LIMIT 100)),
    a AS (SELECT sum(freq) AS n_tokens, count(*) AS n_types,
                 sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END)
                   AS n_singletons,
                 sum(CASE WHEN freq = 2 THEN 1 ELSE 0 END)
                   AS n_doubletons
          FROM freqs)
    SELECT CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_types AS BIGINT) AS n_types,
           CAST(n_singletons AS BIGINT) AS n_singletons,
           CAST(n_doubletons AS BIGINT) AS n_doubletons,
           CAST(CASE WHEN n_tokens = 0 THEN 0 ELSE
                (n_singletons * 1000000) // n_tokens END AS BIGINT)
             AS unseen_mass_ppm,
           CAST(CASE WHEN n_tokens = 0 THEN 0 ELSE
                (coalesce(topk_tokens, 0) * 1000000) // n_tokens
                END AS BIGINT) AS topk_coverage_ppm
    FROM a, top
""")
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing unseen-mass + top-100 coverage report — exact
    integer ppm over the collapsed vocabulary."""
    from document_extractor_spark.operators.textstats import vocab_coverage

    return vocab_coverage(_docs(spark, sf_dir))


def _cdc_side_sql(text_expr: str) -> str:
    """DuckDB twin of cdc_chunks for one side: (doc_id, hs) with hs the
    distinct chunk-hash list of ``text_expr`` (w=16, divisor=64)."""
    return f"""
      SELECT doc_id, list_distinct(list_transform(
               range(1, len(ends) + 1),
               k -> md5(substr(t, starts[k], ends[k] - starts[k] + 1))))
             AS hs
      FROM (
        SELECT doc_id, t, ends,
               [1] || list_transform(ends[1:len(ends) - 1], e -> e + 1)
               AS starts
        FROM (
          SELECT doc_id, t,
                 list_sort(list_distinct(list_transform(
                   CASE WHEN length(t) >= 16 THEN
                     list_filter(range(1, length(t) - 14),
                       i -> ('0x' || substr(md5(substr(t, i, 16)), 1, 12))
                            ::UBIGINT % 64 = 0)
                   ELSE [] END, i -> i + 15) || [length(t)])) AS ends
          FROM (SELECT doc_id, {text_expr} AS t FROM documents)
          WHERE t IS NOT NULL AND length(t) > 0))
    """


@query(f"""
    WITH a AS ({_cdc_side_sql("text")}),
    b AS ({_cdc_side_sql("'EDIT EDIT EDIT ' || text")}),
    u AS (SELECT doc_id, unnest(hs) AS h FROM a
          UNION ALL
          SELECT doc_id + 1000000, unnest(hs) FROM b),
    keep AS (SELECT h FROM (SELECT h, count(*) AS c
                            FROM u GROUP BY h)
             WHERE c BETWEEN 2 AND 20),
    k AS (SELECT u.doc_id, u.h FROM u JOIN keep USING (h))
    SELECT x.doc_id AS id_a, y.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM k x JOIN k y ON x.h = y.h AND x.doc_id < y.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 2
""")
def q_cdc_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide CDC partial-duplicate candidates over documents plus
    planted prefix-edited copies (doc_id+1000000): the candidate set
    must pair each original with its edit through the re-synchronized
    chunk hashes, df-capped so template chunks cannot fan out."""
    from document_extractor_spark.operators.cdc import (
        cdc_chunks,
        cdc_dup_candidates,
    )

    d = _docs(spark, sf_dir)
    corpus = d.select("doc_id", "text").unionByName(d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit("EDIT EDIT EDIT "), F.col("text")).alias("text")))
    return cdc_dup_candidates(cdc_chunks(corpus), min_shared=2,
                              max_chunk_df=20)


@query(f"""
    WITH a AS ({_cdc_side_sql("text")}),
    b AS ({_cdc_side_sql("'EDIT EDIT EDIT ' || text")})
    SELECT a.doc_id, CAST(len(a.hs) AS BIGINT) AS n_a,
           CAST(len(b.hs) AS BIGINT) AS n_b,
           CAST(len(list_intersect(a.hs, b.hs)) AS BIGINT)
             AS n_shared,
           CAST(len(list_intersect(a.hs, b.hs)) * 1000000
                // least(len(a.hs), len(b.hs)) AS BIGINT)
             AS shared_ppm
    FROM a JOIN b USING (doc_id)
""")
def q_cdc_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking overlap between each document and a
    prefix-edited copy ('EDIT EDIT EDIT ' prepended): CDC boundaries
    re-synchronize after the edit, so most chunk hashes survive the
    15-char offset shift — the property byte-offset chunking lacks.
    The oracle rebuilds both chunkings with the same md5 boundary
    draw."""
    from document_extractor_spark.operators.cdc import (
        cdc_chunks,
        chunk_overlap,
    )

    d = _docs(spark, sf_dir)
    orig = cdc_chunks(d.select("doc_id", "text"))
    edited = cdc_chunks(d.select(
        "doc_id",
        F.concat(F.lit("EDIT EDIT EDIT "), F.col("text")).alias("text")))
    return chunk_overlap(orig, edited)


@query("""
    WITH d AS (SELECT doc_id, doc_id % 3 AS k FROM documents),
    nodes AS (
      SELECT doc_id, 0 AS pos, 0 AS level,
             'Chapter 1' AS title, 0 AS page_idx FROM d
      UNION ALL
      SELECT doc_id, CAST(u.j AS INT), 1,
             'Section 1.' || u.j, 1
      FROM d, unnest(range(1, k + 1)) AS u(j)
      UNION ALL
      SELECT doc_id, CAST(k + 1 AS INT), 0, 'Chapter 2', 1 FROM d)
    SELECT doc_id, CAST(pos AS INT) AS pos,
           CAST(level AS INT) AS level, title,
           CAST(page_idx AS INT) AS page_idx
    FROM nodes
""")
def q_pdf_outline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF /Outlines bookmark extraction over two-page PDFs with a
    doc_id-arithmetic tree: pre-order positions, nesting levels, and
    /Dest page resolution all closed-form (the %3==0 docs prove the
    childless path)."""
    from document_extractor_spark.operators.media import pdf_outline_probe
    from document_extractor_spark.sources.docpages import (
        pdf_pages_with_outlines)

    out = pdf_outline_probe(pdf_pages_with_outlines(spark, sf_dir))
    return out.select(
        F.element_at(F.split("url", "/"), -1).cast("bigint")
        .alias("doc_id"),
        "pos", "level", "title", "page_idx")


@query(f"""
    WITH toks AS (
      SELECT unnest(list_filter(regexp_split_to_array(
               trim(lower(text)), '\\s+'), t -> t <> '')) AS tok
      FROM documents),
    freqs AS (SELECT tok, count(*) AS freq FROM toks GROUP BY tok),
    ranked AS (SELECT freq,
                 row_number() OVER (ORDER BY freq DESC, tok) AS r
               FROM freqs),
    pts AS (SELECT freq,
              CAST(round(ln(r::DOUBLE) * 1000, 0) AS BIGINT) AS x,
              CAST(round(ln(freq::DOUBLE) * 1000, 0) AS BIGINT) AS y
            FROM ranked),
    a AS (SELECT count(*) AS k, sum(freq) AS n_tokens,
                 sum(x) AS sx, sum(y) AS sy,
                 sum(x * y) AS sxy, sum(x * x) AS sxx
          FROM pts)
    SELECT CAST(k AS BIGINT) AS n_types,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(CASE WHEN k::DOUBLE * sxx::DOUBLE
                          - sx::DOUBLE * sx::DOUBLE = 0 THEN 0
                ELSE round((k::DOUBLE * sxy::DOUBLE
                            - sx::DOUBLE * sy::DOUBLE)
                           / (k::DOUBLE * sxx::DOUBLE
                              - sx::DOUBLE * sx::DOUBLE) * 1000,
                           0) END AS BIGINT) AS zipf_slope_milli
    FROM a
""")
def q_zipf_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus Zipf slope in milli fixed point — per-point ln values
    quantize to MILLI integers before the (exact, order-independent)
    regression sums; ranks are exact row_numbers; one final double
    division both engines perform on identical integers."""
    from document_extractor_spark.operators.textstats import (
        zipf_diagnostics)

    return zipf_diagnostics(_docs(spark, sf_dir))


@query("""
    SELECT CAST(9 * count(*) AS BIGINT) AS n,
           CAST(2 * count(*) AS BIGINT) AS tp,
           CAST(count(*) AS BIGINT) AS fp,
           CAST(count(*) AS BIGINT) AS fn,
           CAST(666666 AS BIGINT) AS precision_ppm,
           CAST(666666 AS BIGINT) AS recall_ppm,
           CAST(666666 AS BIGINT) AS f1_ppm
    FROM documents
""")
def q_extraction_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction-quality evaluation: micro P/R/F1 of the block
    classifier against gold content labels on the adversarial eval
    fixture, where gold and classifier DISAGREE by construction on two
    blocks per page (a link-list reference paragraph the author wrote →
    FN; a 45-word cookie banner outside main → FP). Closed form:
    tp=2, fp=1, fn=1 per page → 666666 ppm across the board — a
    non-vacuous pin on the NumWords rule set's behavior."""
    from document_extractor_spark.operators.blocks import block_profile
    from document_extractor_spark.operators.metrics import (
        classification_prf)
    from document_extractor_spark.sources.docpages import (
        pages_with_eval_blocks)

    prof = block_profile(pages_with_eval_blocks(spark, sf_dir))
    labeled = prof.select(
        F.col("is_content").alias("pred"),
        F.col("block_idx").isin(4, 5, 6).alias("gold"))
    return classification_prf(labeled, "pred", "gold")


@query("""
    WITH ch AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ''),
               c -> c <> '')) AS c
      FROM documents WHERE text IS NOT NULL),
    cnts AS (SELECT doc_id, c, count(*) AS cnt
             FROM ch GROUP BY doc_id, c),
    s AS (SELECT doc_id, sum(cnt) AS n, count(*) AS k,
                 sum(CAST(round(cnt * ln(cnt::DOUBLE) * 1000000,
                                0) AS BIGINT)) AS sl
          FROM cnts GROUP BY doc_id)
    SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
           CAST(k AS INT) AS n_distinct_chars,
           CAST(round(ln(n::DOUBLE) * 1000000 - sl / n::DOUBLE,
                      0) AS BIGINT) AS entropy_micro
    FROM s
""")
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-unigram Shannon entropy per document in micro-nat
    fixed point: per-char c·ln c terms quantize to integers before the
    (order-independent, exact) sum, so Spark and DuckDB agree to the
    last digit."""
    from document_extractor_spark.operators.textstats import char_entropy

    return char_entropy(_docs(spark, sf_dir))


#: exact two-sided 95% normal quantile — shared literal so both engines
#: square the identical double
_WILSON_Z = 1.959963984540054


@query(f"""
    WITH g AS (
      SELECT source,
             CASE WHEN len({_TOKS}) >= 40 THEN 1 ELSE 0 END AS s
      FROM documents),
    a AS (SELECT source, count(*) AS n, sum(s) AS n_pos
          FROM g GROUP BY source),
    w AS (SELECT source, n, n_pos,
                 n::DOUBLE AS nd, n_pos::DOUBLE / n::DOUBLE AS p,
                 {_WILSON_Z!r}::DOUBLE AS z,
                 {_WILSON_Z * _WILSON_Z!r}::DOUBLE AS z2
          FROM a)
    SELECT source, n, CAST(n_pos AS BIGINT) AS n_pos,
           round((p + z2 / (2 * nd)
                  - z * sqrt(p * (1 - p) / nd
                             + z2 / (4 * nd * nd)))
                 / (1 + z2 / nd), 6) AS wilson_lb
    FROM w
""")
def q_wilson_host_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson lower-bound ranking of sources by share of long (≥40
    token) documents — the small-sample-honest quality ranking. Exact
    integers until one sqrt per GROUP (IEEE-identical cross-engine),
    rounded to 6."""
    from document_extractor_spark.operators.metrics import (
        wilson_lower_bound)

    d = _docs(spark, sf_dir).select(
        "source", (token_count("text") >= 40).alias("good"))
    return wilson_lower_bound(d, "source", "good", z=_WILSON_Z).select(
        F.col("group").alias("source"), "n", "n_pos", "wilson_lb")


@query("""
    WITH pairs AS (
      SELECT doc_id, text AS a,
             CASE WHEN doc_id % 13 = 0 THEN NULL
                  WHEN doc_id % 3 = 0 THEN 'x' || substr(text, 2)
                  WHEN doc_id % 3 = 1
                    THEN text || ' appended tail here'
                  ELSE reverse(text) END AS b
      FROM documents),
    d AS (SELECT doc_id, levenshtein(a, b) AS distance,
                 greatest(length(a), length(b)) AS longest
          FROM pairs)
    SELECT doc_id,
           CAST(coalesce(distance, -1) AS INT) AS distance,
           CAST(coalesce(CASE WHEN longest = 0 THEN 1000000
                ELSE ((longest - distance) * 1000000) // longest
                END, -1) AS BIGINT) AS sim_ppm,
           CASE WHEN distance IS NULL THEN 'unverifiable'
                WHEN (CASE WHEN longest = 0 THEN 1000000
                      ELSE ((longest - distance) * 1000000)
                           // longest END) >= 900000 THEN 'dup'
                ELSE 'distinct' END AS verdict
    FROM d
""")
def q_edit_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein verification of planted candidate pairs: per doc a
    variant by doc_id%3 — first-char substitution / 19-char append /
    full reverse — and a NULL variant on %13 (NULL-safe verdict path).
    Both engines run the same DP on the same strings, so distance,
    integer-ppm similarity, and verdict match exactly."""
    from document_extractor_spark.operators.dedup import (
        verify_pairs_editdistance)

    d = _docs(spark, sf_dir)
    variant = F.when((F.col("doc_id") % 13) == 0,
                     F.lit(None).cast("string")) \
        .when((F.col("doc_id") % 3) == 0,
              F.concat(F.lit("x"), F.substring("text", 2, 1 << 30))) \
        .when((F.col("doc_id") % 3) == 1,
              F.concat(F.col("text"), F.lit(" appended tail here"))) \
        .otherwise(F.reverse("text"))
    pairs = d.select("doc_id", F.col("text").alias("text_a"),
                     variant.alias("text_b"))
    out = verify_pairs_editdistance(pairs)
    # NULL-propagated verdicts surface as 'unverifiable' (the compare
    # harness sorts rowsets, so numeric columns must not mix NULLs)
    return out.select(
        "doc_id",
        F.coalesce(F.col("distance"), F.lit(-1)).cast("int")
        .alias("distance"),
        F.coalesce(F.col("sim_ppm"), F.lit(-1)).cast("bigint")
        .alias("sim_ppm"),
        F.when(F.col("is_dup").isNull(), "unverifiable")
        .when(F.col("is_dup"), "dup").otherwise("distinct")
        .alias("verdict"),
    )


_BM25_TERMS = ["stream", "vector", "window"]


@query(f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(regexp_split_to_array(
               trim(lower(text)), '\\s+'), t -> t <> '')) AS tok
      FROM documents),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
           WHERE tok IN ({", ".join(f"'{t}'" for t in sorted(_BM25_TERMS))})
           GROUP BY doc_id, tok),
    dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    sc AS (SELECT t.doc_id,
             ln(1 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
             * t.tf / (t.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))
             AS w
           FROM tf t JOIN dfq USING (tok) JOIN dl USING (doc_id), st)
    SELECT doc_id, CAST(count(*) AS INT) AS n_hit_terms,
           CAST(round(sum(w) * 1000, 0) AS BIGINT) AS score_milli
    FROM sc GROUP BY doc_id
    ORDER BY score_milli DESC, doc_id LIMIT 15
""")
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-15 against three corpus terms. Exact-integer tf/df/
    doclen until the final score; the per-term ln quantizes identically
    under MILLI fixed-point and ties break on doc_id, so both engines
    return the identical ranked set."""
    from document_extractor_spark.operators.bm25 import bm25_topk

    return bm25_topk(_docs(spark, sf_dir), _BM25_TERMS, k=15)


@query(
    "SELECT doc_id, text || ' twenty-Three state-of-the-art'"
    " AS fixed FROM documents"
)
def q_dehyphenate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-wrap hyphenation repair roundtrip: every document is
    line-wrapped IN SPARK with the exact typographic forward transform
    (a hyphen+newline inside lowercase letter pairs), plus a planted
    'twenty-\\nThree' (wrap before a capital — hyphen must SURVIVE,
    break must not) and a planted 'state-of-the-art' (lexical hyphens
    untouched). The oracle is the original text plus the two planted
    constants' repaired forms — a closed-form identity that the repair
    chain inverts the wrap exactly, cross-engine."""
    from document_extractor_spark.operators.textnorm import dehyphenate

    wrapped = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.regexp_replace(F.col("text"), r"([a-z])([mnop])", "$1-\n$2"),
            F.lit(" twenty-\nThree state-of-the-art"),
        ).alias("text"),
    )
    return dehyphenate(wrapped).select(
        "doc_id", F.col("text").alias("fixed"))


# fix_mojibake: Spark corrupts the planted text with the exact
# UTF-8-as-cp1252 forward transform and repairs it; a correct
# repair is byte-identical to the planted original, so the
# oracle is just the plant — the strongest possible check on
# the translate/encode/is_valid_utf8/decode chain.
@query(
    "SELECT doc_id, text || '" + _MOJIBAKE_SUFFIX + "'"
    " || CAST(doc_id AS VARCHAR) AS text,"
    " TRUE AS mojibake_fixed FROM documents"
)
def q_fix_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake repair roundtrip: every document gets a non-ASCII
    suffix (accents, em-dash, curly quote, euro — the classic cp1252
    victims), is then corrupted with the exact UTF-8-read-as-cp1252
    forward transform IN SPARK, and repaired by fix_mojibake. The
    oracle is simply the planted original — a byte-identity check that
    the repair chain (translate → encode ISO-8859-1 → is_valid_utf8 →
    decode UTF-8) inverts the accident exactly, cross-engine."""
    from document_extractor_spark.operators.mojibake import (
        corrupt_utf8_as_cp1252, fix_mojibake)

    planted = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.col("text"),
                 F.lit(_MOJIBAKE_SUFFIX),
                 F.col("doc_id").cast("string")).alias("text"),
    )
    mangled = corrupt_utf8_as_cp1252(planted, "text")
    return fix_mojibake(mangled, "text").select(
        "doc_id", "text", "mojibake_fixed")


@query("""
    WITH toks AS (
      SELECT source AS domain,
             unnest(list_filter(regexp_split_to_array(
               trim(lower(text)), '\\s+'), t -> t <> '')) AS tok
      FROM documents
    ), per_type AS (
      SELECT domain, tok, COUNT(*) AS occ
      FROM toks GROUP BY domain, tok
    )
    SELECT domain,
           CAST(SUM(occ) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_types,
           CAST(SUM(CASE WHEN occ = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hapax,
           CAST((COUNT(*) * 1000000) // SUM(occ)
                AS BIGINT) AS ttr_ppm,
           CAST((SUM(CASE WHEN occ = 1 THEN 1 ELSE 0 END)
                 * 1000000) // SUM(occ) AS BIGINT) AS hapax_ppm
    FROM per_type GROUP BY domain
""")
def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical diversity (type-token + hapax ratios as exact
    integer ppm) — the domain-level corpus-health rollup read next to
    domain_mixture when deriving a training mix."""
    from document_extractor_spark.operators.textstats import (
        lexical_diversity)

    return lexical_diversity(_docs(spark, sf_dir), group_col="source")


@query(domain_mixture_sql(
    table="documents", group_col="source", temperature=0.5,
    budget_tokens=1_000_000_000))
def q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled training-data mixture (mT5/XLM-R sampling
    temperature, τ=0.5) over the documents table grouped by source:
    exact BIGINT weight_ppm + epochs_milli for a 10^9-token budget.
    The sqrt-composition keeps the DuckDB twin hash-identical (IEEE
    sqrt/mul are correctly rounded in both engines; pow is not)."""
    from document_extractor_spark.operators.mixing import domain_mixture

    return domain_mixture(_docs(spark, sf_dir), group_col="source",
                          temperature=0.5, budget_tokens=1_000_000_000)


# DSIR: full relational twin — same md5 feature bucketing, same
# one-ln fixed-point λ quantization as lm_perplexity, same
# (log w, md5) deterministic top-k as the Spark side.
@query("""
    WITH t AS (
      SELECT doc_id, source, list_filter(regexp_split_to_array(
               trim(lower(text)), '\\s+'), x -> x <> '') AS tk
      FROM documents),
    uni AS (SELECT doc_id, source, unnest(tk) AS f FROM t),
    pairs AS (
      SELECT doc_id, source,
             unnest(tk[1:greatest(len(tk) - 1, 0)]) AS w1,
             unnest(tk[2:len(tk)]) AS w2
      FROM t),
    feats AS (
      SELECT doc_id, source, f FROM uni
      UNION ALL
      SELECT doc_id, source, w1 || ' ' || w2 FROM pairs),
    occ AS (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5(f), 1, 8))::UBIGINT % 2048
                  AS BIGINT) AS bucket,
             count(*) AS occ_n
      FROM feats GROUP BY 1, 2, 3),
    raw_b AS (SELECT bucket, sum(occ_n) AS r_n FROM occ GROUP BY 1),
    tgt_b AS (SELECT bucket, sum(occ_n) AS t_n FROM occ
              WHERE source = 'src0' GROUP BY 1),
    tot AS (SELECT (SELECT sum(r_n) FROM raw_b) AS r_tot,
                   (SELECT coalesce(sum(t_n), 0) FROM tgt_b) AS t_tot),
    lam AS (
      SELECT raw_b.bucket,
             CAST(round(ln(
               CAST((coalesce(t_n, 0) + 1) * (r_tot + 2048)
                    AS DOUBLE)
               / CAST((r_n + 1) * (t_tot + 2048) AS DOUBLE)
             ) * 1e9) AS BIGINT) AS lam_nano
      FROM raw_b LEFT JOIN tgt_b USING (bucket), tot),
    scored AS (
      SELECT occ.doc_id, sum(occ.occ_n) AS nf,
             sum(occ.occ_n * lam.lam_nano) AS lw
      FROM occ JOIN lam USING (bucket) GROUP BY 1)
    SELECT d.doc_id,
           CAST(coalesce(s.nf, 0) AS BIGINT) AS n_features,
           CAST(s.lw AS BIGINT) AS log_w_nano
    FROM documents d LEFT JOIN scored s USING (doc_id)
    ORDER BY s.lw DESC NULLS LAST,
             md5('dsir1' || CAST(d.doc_id AS VARCHAR))
    LIMIT 100
""")
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance-resampled selection (Xie et al. 2023): target =
    the src0 documents, raw corpus = all documents; hashed unigram+bigram
    buckets (md5 mod 2048), Laplace-smoothed log ratios as exact
    nano-nat BIGINTs, deterministic top-100 by (log w, md5 tiebreak).
    The oracle is the full relational twin — same bucketing hash, same
    one-ln fixed-point quantization as lm_perplexity."""
    from document_extractor_spark.operators.dsir import dsir_select

    d = _docs(spark, sf_dir).select("doc_id", "text", "source")
    target = d.where(F.col("source") == "src0").select("doc_id", "text")
    return dsir_select(d.select("doc_id", "text"), target, k=100,
                       n_buckets=2048)


# Bigram-LM perplexity: the same tokenizer as token_counts, the
# same Laplace model math re-stated relationally; per-bigram
# nano-nat quantization (round(-ln(p)*1e9) as BIGINT) makes the
# per-doc totals exact integer sums in both engines.
@query("""
    WITH t AS (
      SELECT doc_id, list_filter(regexp_split_to_array(
               trim(lower(text)), '\\s+'), x -> x <> '') AS tk
      FROM documents),
    pairs AS (
      SELECT doc_id,
             unnest(tk[1:greatest(len(tk) - 1, 0)]) AS w1,
             unnest(tk[2:len(tk)]) AS w2
      FROM t),
    occ AS (SELECT doc_id, w1, w2, count(*) AS occ_n
            FROM pairs GROUP BY 1, 2, 3),
    v AS (SELECT count(DISTINCT tok) AS v FROM (
            SELECT w1 AS tok FROM occ
            UNION ALL SELECT w2 FROM occ)),
    cb AS (SELECT w1, w2, sum(occ_n) AS c_bg FROM occ GROUP BY 1, 2),
    cc AS (SELECT w1, sum(occ_n) AS c_ctx FROM occ GROUP BY 1),
    model AS (
      SELECT cb.w1, cb.w2,
             CAST(round(-ln((c_bg + 1) / (c_ctx + v.v)) * 1e9)
                  AS BIGINT) AS nll_nano
      FROM cb JOIN cc USING (w1), v),
    scored AS (
      SELECT occ.doc_id, sum(occ.occ_n) AS nb,
             sum(occ.occ_n * m.nll_nano) AS snn
      FROM occ JOIN model m USING (w1, w2) GROUP BY 1)
    SELECT d.doc_id,
           CAST(coalesce(s.nb, 0) AS BIGINT) AS n_bigrams,
           CAST(s.snn AS BIGINT) AS sum_nll_nano,
           round(CAST(s.snn AS DOUBLE) / CAST(s.nb AS DOUBLE)
                 / 1e9, 6) AS avg_nll
    FROM documents d LEFT JOIN scored s USING (doc_id)
""")
def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style model-based quality scoring: a Laplace-smoothed
    bigram LM trained on the corpus itself, scored back per document.
    Per-document totals are exact BIGINT sums of fixed-point nano-nats,
    so float summation order can never flip a value; the one float op
    per distinct bigram (a single ``ln``) quantizes identically in both
    engines (probed over 400k count pairs: raw ln bits differ ~1.8 %,
    nano-rounded values 0 mismatches)."""
    from document_extractor_spark.operators.lm import bigram_lm_scores

    return bigram_lm_scores(_docs(spark, sf_dir))


# CCNet buckets: cutoffs are exact order statistics (the
# ceil(k*n/3)-th smallest score per lang), documents bucket by
# value comparison — rank logic identical in both engines
# because the ordering key is a deterministic BIGINT/BIGINT
# double division.
@query("""
    WITH t AS (
      SELECT doc_id, list_filter(regexp_split_to_array(
               trim(lower(text)), '\\s+'), x -> x <> '') AS tk
      FROM documents),
    pairs AS (
      SELECT doc_id,
             unnest(tk[1:greatest(len(tk) - 1, 0)]) AS w1,
             unnest(tk[2:len(tk)]) AS w2
      FROM t),
    occ AS (SELECT doc_id, w1, w2, count(*) AS occ_n
            FROM pairs GROUP BY 1, 2, 3),
    v AS (SELECT count(DISTINCT tok) AS v FROM (
            SELECT w1 AS tok FROM occ
            UNION ALL SELECT w2 FROM occ)),
    cb AS (SELECT w1, w2, sum(occ_n) AS c_bg FROM occ GROUP BY 1, 2),
    cc AS (SELECT w1, sum(occ_n) AS c_ctx FROM occ GROUP BY 1),
    model AS (
      SELECT cb.w1, cb.w2,
             CAST(round(-ln((c_bg + 1) / (c_ctx + v.v)) * 1e9)
                  AS BIGINT) AS nll_nano
      FROM cb JOIN cc USING (w1), v),
    scored AS (
      SELECT occ.doc_id, sum(occ.occ_n) AS nb,
             sum(occ.occ_n * m.nll_nano) AS snn
      FROM occ JOIN model m USING (w1, w2) GROUP BY 1),
    s AS (
      SELECT d.doc_id, d.lang,
             CAST(snn AS DOUBLE) / CAST(nb AS DOUBLE) AS score,
             snn, nb
      FROM documents d JOIN scored USING (doc_id) WHERE nb > 0),
    ranked AS (
      SELECT lang, score,
             row_number() OVER (PARTITION BY lang
                                ORDER BY score, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM s),
    cuts AS (
      SELECT lang,
             max(CASE WHEN rn = ceil(1 * n / 3) THEN score END) AS c1,
             max(CASE WHEN rn = ceil(2 * n / 3) THEN score END) AS c2
      FROM ranked GROUP BY lang),
    b AS (
      SELECT s.lang,
             CASE WHEN score <= c1 THEN 1
                  WHEN score <= c2 THEN 2
                  ELSE 3 END AS bucket,
             snn, nb
      FROM s JOIN cuts USING (lang))
    SELECT lang, bucket, count(*) AS n_docs,
           round(min(CAST(snn AS DOUBLE) / CAST(nb AS DOUBLE))
                 / 1e9, 6) AS min_avg_nll,
           round(max(CAST(snn AS DOUBLE) / CAST(nb AS DOUBLE))
                 / 1e9, 6) AS max_avg_nll
    FROM b GROUP BY 1, 2
""")
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language head/middle/tail perplexity buckets (the CCNet
    split): cutoffs are exact order statistics on a narrow
    (lang, score) projection, documents bucket by value comparison —
    ties share a bucket, and the corpus is never globally sorted."""
    from document_extractor_spark.operators.lm import perplexity_buckets

    return perplexity_buckets(_docs(spark, sf_dir))


# All-pairs tf-idf cosine: full relational twin of the Spark
# operator — sublinear-tf × idf weights milli-quantized to
# BIGINT, integer dot products, IEEE sqrt norms; the planted
# +10000 clones guarantee pairs at cosine 1.0.
@query("""
    WITH base AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000 AS doc_id, text FROM documents
      WHERE doc_id < 20),
    tok AS (
      SELECT doc_id, unnest(list_filter(regexp_split_to_array(
               trim(lower(text)), '\\s+'), t -> t <> '')) AS term
      FROM base),
    tf AS (SELECT doc_id, term, count(*) AS tf
           FROM tok GROUP BY 1, 2),
    n AS (SELECT count(DISTINCT doc_id) AS n FROM base),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1
            HAVING count(*) BETWEEN 2 AND 400),
    w AS (
      SELECT doc_id, term,
             CAST(round((1 + ln(tf)) * ln(n.n / df) * 1000)
                  AS BIGINT) AS w
      FROM tf JOIN dfq USING (term), n),
    wp AS (SELECT * FROM w WHERE w > 0),
    norms AS (SELECT doc_id, sqrt(CAST(sum(w * w) AS DOUBLE)) AS norm
              FROM wp GROUP BY 1),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             sum(a.w * b.w) AS dot
      FROM wp a JOIN wp b USING (term)
      WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           round(CAST(dot AS DOUBLE) / (na.norm * nb.norm), 6)
             AS cosine
    FROM dots
    JOIN norms na ON na.doc_id = dots.doc_a
    JOIN norms nb ON nb.doc_id = dots.doc_b
    WHERE round(CAST(dot AS DOUBLE) / (na.norm * nb.norm), 6)
          >= 0.95
""")
def q_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs tf-idf cosine mining through the inverted index, with
    20 planted exact clones guaranteeing non-trivial pairs; the oracle
    is the full relational twin (not a closed form), exact because
    weights are milli-quantized BIGINTs and the dot product is an
    integer sum. max_df=400 exercises the prefix-filter band at fixture
    scale (corpus stopwords appear in >400 of the 520 docs)."""
    from document_extractor_spark.operators.invindex import (
        tfidf_cosine_pairs,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    clones = d.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text")
    return tfidf_cosine_pairs(
        d.unionByName(clones), threshold=0.95, max_df=400)


# HITS on the complete-bipartite fixture: the L1-normalized
# fixed point in closed form (hubs 1/5, authorities 1/3).
@query("""
    SELECT 'hub' || i AS host, round(1.0 / 5, 9) AS hub,
           0.0 AS authority
    FROM (SELECT unnest(generate_series(0, 4)) AS i)
    UNION ALL
    SELECT 'auth' || j, 0.0, round(1.0 / 3, 9)
    FROM (SELECT unnest(generate_series(0, 2)) AS j)
""")
def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities on a planted complete-bipartite host graph
    (hub0..4 each link auth0..2): with L1 normalization the fixed point
    is exactly rational — hubs 1/5 with authority 0, authorities 1/3
    with hub 0 — reached in round 1 (the tol early-exit stops round 2).
    Convergence on asymmetric graphs is numpy-verified in pytest.
    Rounded to 9 decimals so ulp-level multiply order cannot flip the
    hash."""
    from document_extractor_spark.operators.links import hits

    edges = (
        spark.range(5)
        .select(F.concat(F.lit("hub"), F.col("id")).alias("src_host"),
                F.array(*[F.lit(f"auth{j}") for j in range(3)])
                .alias("_dsts"))
        .select("src_host", F.explode_outer("_dsts").alias("dst_host"))
        .withColumn("n_links", F.lit(1))
    )
    out = hits(edges, iterations=10)
    return out.select(
        "host", F.round("hub", 9).alias("hub"),
        F.round("authority", 9).alias("authority"))


# Incremental index merge: the oracle is the FULL REBUILD over
# all documents (identical SQL to inverted_index) — merge ≡
# rebuild is the operator's equivalence contract.
@query(_INVERTED_INDEX_SQL)
def q_index_delta_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance: build state on doc_id < 300,
    fold the rest in as an append-only delta (no re-tokenization of
    the old corpus), serve the [2,100] band. The oracle is the FULL
    REBUILD over all documents — the merge must be row-identical to
    it, including terms that crossed min_df or max_df at the merge."""
    from document_extractor_spark.operators.invindex import (
        index_state_from_docs,
        index_state_merge,
        served_index,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    state = index_state_from_docs(d.where(F.col("doc_id") < 300))
    merged = index_state_merge(state, d.where(F.col("doc_id") >= 300))
    return served_index(merged, min_df=2, max_df=100)


# Quality-gated export: the perplexity-bucket chain at doc
# level (bucket 1 = head), then the stratified_sample md5 rank
# — the composition of two independently-verified stages.
@query("""
    WITH t AS (
      SELECT doc_id, list_filter(regexp_split_to_array(
               trim(lower(text)), '\\s+'), x -> x <> '') AS tk
      FROM documents),
    pairs AS (
      SELECT doc_id,
             unnest(tk[1:greatest(len(tk) - 1, 0)]) AS w1,
             unnest(tk[2:len(tk)]) AS w2
      FROM t),
    occ AS (SELECT doc_id, w1, w2, count(*) AS occ_n
            FROM pairs GROUP BY 1, 2, 3),
    v AS (SELECT count(DISTINCT tok) AS v FROM (
            SELECT w1 AS tok FROM occ
            UNION ALL SELECT w2 FROM occ)),
    cb AS (SELECT w1, w2, sum(occ_n) AS c_bg FROM occ GROUP BY 1, 2),
    cc AS (SELECT w1, sum(occ_n) AS c_ctx FROM occ GROUP BY 1),
    model AS (
      SELECT cb.w1, cb.w2,
             CAST(round(-ln((c_bg + 1) / (c_ctx + v.v)) * 1e9)
                  AS BIGINT) AS nll_nano
      FROM cb JOIN cc USING (w1), v),
    scored AS (
      SELECT occ.doc_id, sum(occ.occ_n) AS nb,
             sum(occ.occ_n * m.nll_nano) AS snn
      FROM occ JOIN model m USING (w1, w2) GROUP BY 1),
    s AS (
      SELECT d.doc_id, d.lang,
             CAST(snn AS DOUBLE) / CAST(nb AS DOUBLE) AS score
      FROM documents d JOIN scored USING (doc_id) WHERE nb > 0),
    ranked AS (
      SELECT lang, score,
             row_number() OVER (PARTITION BY lang
                                ORDER BY score, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM s),
    cuts AS (
      SELECT lang,
             max(CASE WHEN rn = ceil(1 * n / 3) THEN score END) AS c1
      FROM ranked GROUP BY lang),
    head AS (
      SELECT s.doc_id, s.lang
      FROM s JOIN cuts USING (lang) WHERE score <= c1),
    r AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('strat1' || CAST(doc_id AS VARCHAR)))
               AS rn
      FROM head)
    SELECT doc_id, lang FROM r WHERE rn <= 10
""")
def q_quality_gated_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition of the model-based tier with deterministic
    sampling: per-language CCNet HEAD-bucket documents (most fluent
    third), then an exactly-10-per-language md5-stratified export —
    the 'carve a balanced high-quality eval slice' move. Verifies the
    doc-level bucket assignment THREADS into downstream sampling."""
    from document_extractor_spark.operators.curation import (
        stratified_sample,
    )
    from document_extractor_spark.operators.lm import (
        perplexity_bucket_assignments,
    )

    asg = perplexity_bucket_assignments(_docs(spark, sf_dir))
    head = asg.where(F.col("bucket") == 1).select("doc_id", "lang")
    return stratified_sample(head, group_col="lang", k=10)


# Naive Bayes confusion matrix: the full relational twin of the
# trained classifier — token-class counts, nano-nat log-probs,
# the algebraic unseen-token decomposition (delta + n_toks·def
# + prior), integer argmin with lexicographic tiebreak.
@query("""
    WITH d AS (SELECT doc_id, lang, text FROM documents
               WHERE lang IS NOT NULL),
    tok AS (
      SELECT doc_id, lang, unnest(list_filter(
               regexp_split_to_array(trim(lower(text)), '\\s+'),
               t -> t <> '')) AS tok
      FROM d),
    occ AS (SELECT doc_id, lang, tok, count(*) AS tf
            FROM tok GROUP BY 1, 2, 3),
    tc AS (SELECT lang AS k, tok, sum(tf) AS c_tk
           FROM occ GROUP BY 1, 2),
    ck AS (SELECT k, sum(c_tk) AS c_k FROM tc GROUP BY 1),
    v AS (SELECT count(DISTINCT tok) AS v FROM tc),
    nk AS (SELECT lang AS k, count(*) AS n_k FROM d GROUP BY 1),
    nt AS (SELECT count(*) AS n FROM d),
    klass AS (
      SELECT ck.k,
             CAST(round(-ln(1.0 / (c_k + v.v)) * 1e9) AS BIGINT)
               AS def_nano,
             CAST(round(-ln(CAST(n_k AS DOUBLE) / nt.n) * 1e9)
                  AS BIGINT) AS prior_nano
      FROM ck JOIN nk USING (k), v, nt),
    model AS (
      SELECT tc.k, tc.tok,
             CAST(round(-ln((c_tk + 1) / (c_k + v.v)) * 1e9)
                  AS BIGINT) - def_nano AS dn
      FROM tc JOIN ck USING (k) JOIN klass USING (k), v),
    deltas AS (
      SELECT o.doc_id, m.k, sum(o.tf * m.dn) AS delta
      FROM occ o JOIN model m USING (tok) GROUP BY 1, 2),
    ntk AS (SELECT doc_id, sum(tf) AS n_toks FROM occ GROUP BY 1),
    cand AS (
      SELECT d.doc_id, d.lang, coalesce(ntk.n_toks, 0) AS n_toks,
             klass.k, def_nano, prior_nano
      FROM d LEFT JOIN ntk USING (doc_id), klass),
    scored AS (
      SELECT c.doc_id, c.lang, c.k,
             coalesce(dl.delta, 0) + c.n_toks * c.def_nano
               + c.prior_nano AS score
      FROM cand c LEFT JOIN deltas dl
        ON dl.doc_id = c.doc_id AND dl.k = c.k),
    best AS (
      SELECT doc_id, lang, k,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score, k) AS rn
      FROM scored)
    SELECT lang, k AS predicted, count(*) AS n_docs
    FROM best WHERE rn = 1 GROUP BY 1, 2
""")
def q_nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-classifier curation tier: multinomial Naive Bayes fit on
    (text, lang), predicted back over the corpus, reported as a
    confusion matrix. All log-probs are nano-nat BIGINTs, so the argmin
    is exact integer comparison in both engines."""
    from document_extractor_spark.operators.nb import nb_confusion

    return nb_confusion(_docs(spark, sf_dir))


# Deterministic export shuffle: identical md5 arithmetic.
@query("""
    WITH h AS (
      SELECT doc_id, md5('shuf1' || CAST(doc_id AS VARCHAR)) AS hh
      FROM documents),
    s AS (
      SELECT doc_id, hh,
             CAST(('0x' || substr(hh, 1, 8))::UBIGINT % 64 AS INT)
               AS shard
      FROM h)
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard
                                   ORDER BY hh, doc_id) - 1 AS INT)
             AS shard_pos
    FROM s
""")
def q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-export shuffle: shard assignment and
    in-shard position are pure md5 functions of (seed, doc_id), so the
    oracle computes the identical hash arithmetic."""
    from document_extractor_spark.operators.curation import shuffle_shards

    d = _docs(spark, sf_dir).select("doc_id")
    return shuffle_shards(d, n_shards=64).select(
        "doc_id", "shard", "shard_pos")


# curation_pipeline: the full extract → gopher → dedup → decontam →
# redact → mix chain, each stage the SQL twin of its operator.
@query(f"""
    WITH ex AS (
      SELECT doc_id,
             'Document ' || doc_id || chr(10) || chr(10) || text AS text
      FROM documents),
    aug AS (
      SELECT doc_id, text FROM ex
      UNION ALL
      SELECT doc_id + 100000, text FROM ex WHERE doc_id < 50),
    gstats AS (
      SELECT doc_id,
        len({_TOKS}) AS n_words,
        length(regexp_replace(text, '\\s+', '', 'g'))
          / nullif(len({_TOKS})::DOUBLE, 0.0) AS mwl,
        coalesce(len(regexp_extract_all(text, '#|\\.\\.\\.|…'))
          / nullif(len({_TOKS})::DOUBLE, 0.0), 0.0) AS symr
      FROM aug),
    g AS (
      SELECT doc_id FROM gstats
      WHERE n_words BETWEEN 50 AND 100000
        AND mwl BETWEEN 3.0 AND 10.0 AND symr <= 0.1),
    ok AS (SELECT a.doc_id, a.text FROM aug a JOIN g USING (doc_id)),
    ded AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               row_number() OVER (PARTITION BY md5({_NORM})
                                  ORDER BY doc_id) AS rn
        FROM ok) WHERE rn = 1),
    ntoks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(regexp_replace(
        lower(text), '[^\\p{{L}}\\p{{N}}\\s]+', '', 'g'))), '\\s+') AS tk
      FROM ded),
    btoks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(regexp_replace(
        lower(text), '[^\\p{{L}}\\p{{N}}\\s]+', '', 'g'))), '\\s+') AS tk
      FROM ex WHERE doc_id < 10),
    dsh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
        range(1, greatest(len(tk) - 12, 1) + 1),
        i -> array_to_string(tk[i:i+12], ' ')))) AS gm
      FROM ntoks),
    bsh AS (
      SELECT DISTINCT unnest(list_distinct(list_transform(
        range(1, greatest(len(tk) - 12, 1) + 1),
        i -> array_to_string(tk[i:i+12], ' ')))) AS gm
      FROM btoks),
    bad AS (SELECT DISTINCT s.doc_id FROM dsh s JOIN bsh b USING (gm)),
    clean AS (
      SELECT doc_id, text FROM ded
      WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
    p AS (
      SELECT doc_id,
             text || ' reach user' || doc_id
                  || '@example.net call 415-555-01'
                  || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS t0
      FROM clean),
    s1 AS (SELECT doc_id, t0,
             len(regexp_extract_all(t0, '{_PII[0][1]}')) AS n_email,
             regexp_replace(t0, '{_PII[0][1]}', '{_PII[0][2]}', 'g')
               AS t1
           FROM p),
    s2 AS (SELECT doc_id, n_email,
             regexp_replace(t1, '{_PII[1][1]}', '{_PII[1][2]}', 'g')
               AS t2
           FROM s1),
    s3 AS (SELECT doc_id, n_email,
             regexp_replace(t2, '{_PII[2][1]}', '{_PII[2][2]}', 'g')
               AS t3
           FROM s2),
    s4 AS (SELECT doc_id, n_email,
             len(regexp_extract_all(t3, '{_PII[3][1]}')) AS n_phone,
             regexp_replace(t3, '{_PII[3][1]}', '{_PII[3][2]}', 'g')
               AS redacted
           FROM s3)
    SELECT s4.doc_id, dd.source, s4.redacted, s4.n_email, s4.n_phone
    FROM s4 JOIN documents dd ON s4.doc_id = dd.doc_id
    WHERE substr(md5('mix1' || CAST(s4.doc_id AS VARCHAR)), 1, 8)
          < CASE dd.source {_MIX_CASE} ELSE '0' END
""")
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation composition: extract → Gopher quality filter
    → exact dedup (planted clones) → 13-gram benchmark decontamination
    → PII redaction (planted PII) → deterministic mix sampling. Each
    stage is individually oracle-verified; this query verifies the
    COMPOSITION — stage order, column threading, and the survivor sets
    each stage hands the next — against one closed-form SQL chain."""
    from document_extractor_spark.operators.dedup import (
        drop_exact_duplicates,
    )
    from document_extractor_spark.operators.textstats import (
        gopher_quality_flags,
    )

    pages = pages_from_documents(spark, sf_dir)
    ex = extract_pages(pages).select(
        doc_id_from_url("url"), F.col("extracted_text").alias("text"))
    clones = ex.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text")
    aug = ex.unionByName(clones)
    # Content-agnostic Gopher rules only: the synthetic corpus is not
    # English prose, so the has_english stop-word rule (and with it the
    # full passes_gopher conjunction) would empty the pipeline — a
    # vacuous composition verifies nothing. The word-count / word-length
    # / symbol-ratio rules pass 282 of 500 docs: a real filter stage.
    flags = gopher_quality_flags(aug)
    ok = aug.join(
        flags.filter("ok_word_count AND ok_mean_word_len AND "
                     "ok_symbol_ratio").select("doc_id"),
        "doc_id")
    ded = drop_exact_duplicates(ok)
    bench = ex.filter(F.col("doc_id") < 10).select("text")
    clean = decontaminate(ded, bench)
    planted = F.concat(
        F.col("text"), F.lit(" reach user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.net call 415-555-01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
    )
    red = redact_pii(clean.select("doc_id", planted.alias("text")))
    src = _docs(spark, sf_dir).select("doc_id", "source")
    out = sample_mix(red.join(src, "doc_id"), _MIX_WEIGHTS)
    return out.select("doc_id", "source", "redacted", "n_email", "n_phone")


# Streaming ingest dedup, stated at group level (survivor
# identity is first-seen order — nondeterministic by design):
# originals doc_id<50 are cloned once, every group keeps one.
@query("""
    SELECT doc_id AS group_id,
           CAST(CASE WHEN doc_id < 50 THEN 2 ELSE 1 END AS BIGINT)
             AS n_in,
           CAST(1 AS BIGINT) AS n_kept
    FROM documents
""")
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest dedup parity: the planted-clone corpus
    (``_augmented_exact``: doc i duplicated as i+100000 for i<50) runs
    through ``stream_dedup_exact`` as a REAL Structured Streaming job —
    file-source micro-batches, ``dropDuplicatesWithinWatermark`` state,
    ``foreachBatch`` parquet sink, ``availableNow`` trigger — and the
    survivors must match the batch dedup contract group-for-group:
    every content group keeps exactly one page. Which clone survives is
    first-seen order (legitimately nondeterministic across micro-batch
    schedules), so parity is stated at group level: (group, n_in,
    n_kept), all closed-form."""
    import os
    import shutil
    import tempfile

    from document_extractor_spark.streaming.jobs import (
        run_stream_dedup_foreach_batch,
    )

    base = tempfile.mkdtemp(prefix="sg_stream_dedup_")
    inp, outp, ckpt = (os.path.join(base, x) for x in ("in", "out", "ckpt"))
    d = _augmented_exact(spark, sf_dir)
    pages = d.select(
        F.concat(F.lit("https://docs.example.org/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode("text", "UTF-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit("en").alias("lang"),
    )
    # several input files → several micro-batches → dedup state must
    # carry across triggers, not just within one batch
    pages.repartition(8).write.mode("overwrite").parquet(inp)
    kept = run_stream_dedup_foreach_batch(spark, inp, outp, ckpt)
    kept_groups = (
        kept.select((F.element_at(F.split("url", "/"), -1).cast("bigint")
                     % 100000).alias("group_id"))
        .groupBy("group_id").agg(F.count(F.lit(1)).alias("n_kept"))
    )
    n_in = (
        d.select((F.col("doc_id") % 100000).alias("group_id"))
        .groupBy("group_id").agg(F.count(F.lit(1)).alias("n_in"))
    )
    out = (
        kept_groups.join(n_in, "group_id")
        .select("group_id", "n_in", "n_kept")
        # eager localCheckpoint so the temp input/sink/checkpoint dirs
        # can be deleted immediately (the result is tiny); without it
        # every bench/oracle invocation leaked a corpus-sized /tmp dir
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(base, ignore_errors=True)
    return out


# WARC roundtrip: the archives are BUILT from these closed forms
# of doc_id, so the oracle restates them; md5 of the payload
# string equals Spark's md5 of the ingested binary column (both
# hash the UTF-8 bytes).
@query("""
    SELECT 'https://h' || (doc_id % 37) || '.example.org/d/'
             || doc_id AS url,
           '2024-01-' || lpad(CAST(15 + doc_id % 2 AS VARCHAR),
                              2, '0') AS warc_day,
           md5('<html><body><h1>Doc ' || doc_id || '</h1><p>body '
               || (doc_id % 7) || '</p></body></html>')
             AS payload_md5
    FROM documents WHERE doc_id < 64
""")
def q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingest roundtrip: 64 planted records (urls, timestamps and
    HTML payloads all closed forms of doc_id) are written as two real
    Common-Crawl-shaped archives — one per-record-gzipped, one plain,
    covering both wire paths — ingested through ``warc_to_pages_table``
    (binaryFile scan → streaming record parser → day-partitioned
    parquet), read back from the partitioned table, and reduced to
    (url, warc_day, payload_md5). The oracle restates the md5 of each
    payload directly from doc_id. Fixture construction is a bounded
    64-record driver-side loop — the ingest itself is the distributed
    path under test."""
    import os
    import shutil
    import tempfile

    from document_extractor_spark.sources.warc import (
        build_warc,
        warc_to_pages_table,
    )

    def payload(i: int) -> bytes:
        return (f"<html><body><h1>Doc {i}</h1><p>body {i % 7}</p>"
                f"</body></html>").encode()

    def url(i: int) -> str:
        return f"https://h{i % 37}.example.org/d/{i}"

    def ts(i: int) -> str:
        return f"2024-01-{15 + i % 2:02d}T10:{i % 60:02d}:00Z"

    recs = [(url(i), ts(i), payload(i)) for i in range(64)]
    base = tempfile.mkdtemp(prefix="sg_warc_rt_")
    warc_dir, table = os.path.join(base, "warc"), os.path.join(base, "t")
    os.makedirs(warc_dir)
    with open(os.path.join(warc_dir, "seg-00000.warc.gz"), "wb") as f:
        f.write(build_warc(recs[:32], per_record_gzip=True))
    with open(os.path.join(warc_dir, "seg-00001.warc"), "wb") as f:
        f.write(build_warc(recs[32:], per_record_gzip=False))
    warc_to_pages_table(spark, warc_dir, table)
    out = (
        spark.read.parquet(table)
        .select("url", F.col("warc_day").cast("string").alias("warc_day"),
                F.md5("html").alias("payload_md5"))
        # eager localCheckpoint so the temp archive + table dirs can be
        # deleted immediately (same leak-avoidance as q_stream_dedup)
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(base, ignore_errors=True)
    return out


def _span_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted ExactSubstr corpus: every doc is 30 closed-form tokens;
    docs 0-29 carry a 10-token run shared within their doc_id%5 group at
    token positions 10..19 (tokens ``g{g}s{j}`` — group-unique), all
    other tokens ``d{i}w{j}`` are doc-unique. With min_tokens=8 the
    duplicated windows are exactly starts 10..12, merging to span
    [10, 20); the group minimum (doc_id == g < 5) is the surviving
    copy."""
    d = _docs(spark, sf_dir).select("doc_id")
    did = F.col("doc_id").cast("string")
    g = (F.col("doc_id") % 5).cast("string")
    shared = (F.col("doc_id") < 30)
    tok = lambda j: F.when(  # noqa: E731
        shared & (j >= 10) & (j < 20),
        F.concat(F.lit("g"), g, F.lit("s"), j.cast("string")),
    ).otherwise(F.concat(F.lit("d"), did, F.lit("w"), j.cast("string")))
    return d.select(
        "doc_id",
        F.array_join(
            F.transform(F.sequence(F.lit(0), F.lit(29)), tok), " "
        ).alias("text"),
    )


# ExactSubstr duplicate spans over the planted corpus (see
# _span_planted): group winners are doc_id < 5; every other
# doc_id < 30 reports the maximal merged span [10, 20).
@query("""
    SELECT doc_id, CAST(10 AS INT) AS span_start,
           CAST(20 AS INT) AS span_end
    FROM documents WHERE doc_id >= 5 AND doc_id < 30
""")
def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr duplicate-span detection over the planted corpus:
    every non-first copy of the shared 10-token run is reported as the
    maximal token span [10, 20) — closed form of doc_id."""
    from document_extractor_spark.operators.spans import duplicate_spans

    return duplicate_spans(_span_planted(spark, sf_dir), min_tokens=8)


# ExactSubstr rewrite: non-winners lose exactly tokens 10..19 of
# the planted 30-token doc; everyone else is byte-identical.
@query("""
    SELECT doc_id,
           array_to_string(list_transform(
             list_filter(generate_series(0, 29),
               j -> NOT (doc_id >= 5 AND doc_id < 30
                         AND j >= 10 AND j < 20)),
             j -> CASE WHEN doc_id < 30 AND j >= 10 AND j < 20
                       THEN 'g' || (doc_id % 5) || 's' || j
                       ELSE 'd' || doc_id || 'w' || j END),
             ' ') AS text
    FROM documents
""")
def q_drop_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr rewrite: non-first copies lose exactly tokens 10..19;
    group winners and unduplicated docs come back byte-identical."""
    from document_extractor_spark.operators.spans import (
        drop_duplicate_spans,
    )

    return drop_duplicate_spans(_span_planted(spark, sf_dir), min_tokens=8)


@query("""
    WITH base AS (SELECT doc_id FROM documents WHERE doc_id < 50)
    SELECT doc_id, doc_id AS cluster_id FROM base
    UNION ALL
    SELECT doc_id + 100000, doc_id FROM base
    UNION ALL
    SELECT doc_id + 200000, doc_id FROM base WHERE doc_id < 20
""")
def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over planted duplicate chains: doc i links to
    i+100000 (i<50) and i+100000 links to i+200000 (i<20) — transitive
    closure must label every member with the chain's min id."""
    from document_extractor_spark.operators.dedup import duplicate_clusters

    d = _docs(spark, sf_dir).select("doc_id").filter(F.col("doc_id") < 50)
    p1 = d.select(F.col("doc_id").alias("id_a"),
                  (F.col("doc_id") + 100000).alias("id_b"))
    p2 = d.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 100000).alias("id_a"),
        (F.col("doc_id") + 200000).alias("id_b"))
    return duplicate_clusters(p1.unionByName(p2))


@query("""
    SELECT source,
           round(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
           round(quantile_cont(n_chars, 0.95), 4) AS p95_chars,
           count(*) AS n_docs
    FROM documents GROUP BY source
""")
def q_source_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length quantiles. EXACT interpolated ``percentile`` so
    DuckDB ``quantile_cont`` is a bit-exact oracle; exact percentile
    buffers each group's values, so the 100-TB path is the same query
    with ``approx_percentile`` (t-digest sketch, bounded memory,
    map-side combinable) — the ladder mirrors
    ngram_jaccard (exact verifier) vs MinHash-LSH (scale path)."""
    d = _docs(spark, sf_dir)
    return d.groupBy("source").agg(
        F.round(F.expr("percentile(n_chars, 0.5)"), 4).alias("p50_chars"),
        F.round(F.expr("percentile(n_chars, 0.95)"), 4).alias("p95_chars"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@query("""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN
      (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
""")
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join shape (§2.9: left_anti mismatch detection): customers
    who never placed a high-value order (threshold keeps the result
    non-empty at every sf — every synthetic customer has some order)."""
    c = _tpch(spark, sf_dir, "customer")
    o = _tpch(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 300000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


# ---------------------------------------------------------------------------
# Similarity family
# ---------------------------------------------------------------------------


@query("""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    s AS (
      SELECT e.vec_id,
        list_sum(list_transform(range(1, 65),
          i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE)) AS dot,
        sqrt(list_sum(list_transform(range(1, 65),
          i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))) AS nrm_e,
        sqrt(list_sum(list_transform(range(1, 65),
          i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE))) AS nrm_q
      FROM embeddings e CROSS JOIN q)
    SELECT vec_id, round(dot / (nrm_e * nrm_q), 6) AS cosine
    FROM s ORDER BY cosine DESC, vec_id LIMIT 10
""")
def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return brute_force_topk(_emb(spark, sf_dir), _query_vec(spark, sf_dir), k=10)


def _augmented_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings plus 10 planted STRONG neighbors of the query vector:
    ``q + 0.1·v_i`` for corpus vectors i=1..10 (cosine ≈0.995 vs q — the
    best organic neighbor is ≈0.37, so the true top-10 is q plus the 9
    closest planted rows, closed-form computable by the oracle's exact
    brute force). Recall on them is structural, not lucky: a 0.1-mix
    perturbation moves q by ≈5.7°, so SRP bucket signs agree within
    Hamming 1 of q's bucket (inside the default multiprobe set) and the
    IVF quantizer assigns the same cell — which is what lets an EXACT
    SQL oracle verify the approximate indexes."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == 0) \
        .select(F.col("embedding").alias("qv"))
    base = emb.filter(F.col("vec_id").between(1, 10))
    planted = base.crossJoin(F.broadcast(q)).select(
        (F.col("vec_id") + 200000).alias("vec_id"),
        F.zip_with(
            "qv", "embedding",
            lambda a, b: a.cast("double") + F.lit(0.1) * b.cast("double"),
        ).alias("embedding"),
        "label",
    )
    wide = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
        "label",
    )
    return wide.unionByName(planted)


@query(_ANN_EXACT)
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH ANN over the planted-neighbor corpus: bucket prune +
    exact rerank must return the TRUE top-10 (structural recall on the
    planted strong neighbors — see ``_augmented_emb``), so the oracle
    is the exact brute-force SQL over the same augmented set."""
    emb = _augmented_emb(spark, sf_dir)
    idx = srp_index(emb, dim=_EMB_DIM)
    return ann_topk(idx, _query_vec(spark, sf_dir), k=10, dim=_EMB_DIM)


@query(_ANN_EXACT)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (KMeans cell pruning, nprobe=3 of 8) over the
    planted-neighbor corpus — same structural-recall argument and same
    exact brute-force oracle as ``ann_topk``."""
    from document_extractor_spark.operators.similarity import (
        ivf_index,
        ivf_topk,
    )

    emb = _augmented_emb(spark, sf_dir)
    indexed, centers = ivf_index(emb, n_cells=8)
    return ivf_topk(indexed, centers, _query_vec(spark, sf_dir), k=10,
                    nprobe=3)


# embedding_near_dups: exact all-pairs cosine ≥ τ over the planted
# union — feasible at contract scale, and the strongest possible
# check (no false positives AND no misses vs the true pair set).
@query("""
    WITH aug AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 100000, embedding FROM embeddings
      WHERE vec_id < 20),
    v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e,
            sqrt(list_sum(list_transform(embedding,
              x -> x::DOUBLE * x::DOUBLE))) AS nrm
          FROM aug),
    p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            round(list_sum(list_transform(range(1, 65),
              j -> a.e[j] * b.e[j])) / nullif(a.nrm * b.nrm, 0), 6)
              AS cosine
          FROM v a JOIN v b ON a.vec_id < b.vec_id)
    SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.99
""")
def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-SRP embedding near-dups vs an EXACT all-pairs oracle: the
    oracle computes every pair ≥ τ by brute force in SQL (feasible at
    contract scale). Precision is structural (candidates are verified
    with exact cosine); recall on the planted identical pairs is
    structural too (identical vectors share every SRP band), and the
    corpus has no organic pair within 0.48 of τ=0.99 — so approximate
    blocking must reproduce the exact answer."""
    emb = _emb(spark, sf_dir)
    dup = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    return embedding_near_duplicates(emb.unionByName(dup), dim=_EMB_DIM,
                                     threshold=0.99)


# ---------------------------------------------------------------------------
# Structural operator families: KV pivot (R5-R8), JSON repair (S7),
# multi-page continuation merge (M1-M3), media explode + link (S3/I2)
# ---------------------------------------------------------------------------


@query("""
    SELECT doc_id, 0 AS record_id,
           'A' || doc_id AS name, CAST(n_chars AS VARCHAR) AS chars
    FROM documents
    UNION ALL
    SELECT doc_id, 1 AS record_id,
           'B' || doc_id AS name, CAST(n_chars + 1 AS VARCHAR) AS chars
    FROM documents
""")
def q_kv_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5 relational form: synthesize 2-record KV text per document
    in-query (closed-form oracle), parse + pivot with pure Catalyst."""
    d = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    nch = F.col("n_chars").cast("string")
    kv_text = F.concat(
        F.lit("Name: A"), did, F.lit("\nChars: "), nch,
        F.lit("\n\nName: B"), did, F.lit("\nChars: "),
        (F.col("n_chars") + 1).cast("string"),
    )
    src = d.select("doc_id", kv_text.alias("text"))
    out = kv_records_to_table(src, keys=["Name", "Chars"])
    return out.select(
        "doc_id", "record_id",
        F.col("Name").alias("name"), F.col("Chars").alias("chars"),
    )


@query("""
    SELECT doc_id, doc_id AS id, lang AS json_lang, n_chars AS n,
           (doc_id % 3 = 0) AS was_repaired, TRUE AS parse_ok
    FROM documents
""")
def q_json_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: PERMISSIVE parse + deterministic repair; every third doc's
    JSON is corrupted (markdown fences + trailing comma) in-query."""
    from pyspark.sql import types as T

    d = _docs(spark, sf_dir)
    good = F.concat(
        F.lit('{"id": '), F.col("doc_id").cast("string"),
        F.lit(', "lang": "'), F.col("lang"), F.lit('", "n": '),
        F.col("n_chars").cast("string"), F.lit("}"),
    )
    bad = F.concat(F.lit("```json\n"),
                   F.regexp_replace(good, r"\}$", ",}"), F.lit("\n```"))
    raw = F.when(F.col("doc_id") % 3 == 0, bad).otherwise(good)
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("n", T.LongType()),
    ])
    parsed = parse_json_relaxed(d.select("doc_id", raw.alias("raw")), schema)
    return parsed.select(
        "doc_id",
        F.col("parsed.id").alias("id"),
        F.col("parsed.lang").alias("json_lang"),
        F.col("parsed.n").alias("n"),
        "was_repaired", "parse_ok",
    )


_SPLIT_PAT = r"^(.{100,}? )([a-z].*)$"


@query(r"""
    WITH b AS (
      SELECT doc_id,
             regexp_replace(trim(text), '\s+', ' ', 'g') AS base
      FROM documents)
    SELECT doc_id AS article_id, 0 AS "order",
           'paragraph' AS type, base AS content,
           CASE WHEN regexp_matches(base, '^.{100,} [a-z]')
                THEN 2 ELSE 1 END AS n_merged
    FROM b
""")
def q_multipage_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1-M3 roundtrip: split each document's (whitespace-normalized)
    text into two pages at a mid-sentence boundary, then merge the
    continuation back — output must equal the original text."""
    d = _docs(spark, sf_dir)
    base = F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
    p1 = F.regexp_extract(base, _SPLIT_PAT, 1)
    p2 = F.regexp_extract(base, _SPLIT_PAT, 2)
    src = d.select(F.col("doc_id").alias("article_id"),
                   base.alias("base"), p1.alias("p1"), p2.alias("p2"))
    page1 = src.select(
        "article_id", F.lit(1).alias("page_num"), F.lit(0).alias("order"),
        F.lit("paragraph").alias("type"),
        F.when(F.col("p2") != "", F.rtrim("p1")).otherwise(F.col("base"))
        .alias("content"),
        F.lit(None).cast("string").alias("html"),
        F.lit(0).alias("row_count"), F.lit(0).alias("column_count"),
    )
    page2 = src.filter(F.col("p2") != "").select(
        "article_id", F.lit(2).alias("page_num"), F.lit(0).alias("order"),
        F.lit("paragraph").alias("type"), F.col("p2").alias("content"),
        F.lit(None).cast("string").alias("html"),
        F.lit(0).alias("row_count"), F.lit(0).alias("column_count"),
    )
    merged = merge_continuations(page1.unionByName(page2))
    return merged.select("article_id", "order", "type", "content", "n_merged")


@query("""
    SELECT doc_id, k AS image_index,
           '/img/' || doc_id || '-' || k || '.jpg' AS src,
           'chart' AS alt
    FROM documents, (SELECT unnest([1, 2]) AS k)
""")
def q_image_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: JVM-only <img> explode over figure-bearing pages."""
    pages = pages_with_figures(spark, sf_dir)
    imgs = explode_images(pages)
    return imgs.select(doc_id_from_url("url"), "image_index", "src", "alt")


@query("""
    SELECT doc_id, 6 AS n_items, 0 AS n_tables, 1 AS n_paragraphs,
           1 AS n_headers, 0 AS n_table_cells,
           (length(text) > 500) AS issue_long_paragraph
    FROM documents
""")
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H9: per-doc structural stats over the extracted item array —
    figure pages give a closed-form item census (1 header, 1 paragraph,
    2 images, 2 captions)."""
    from document_extractor_spark.operators.render import readability_stats

    pages = pages_with_figures(spark, sf_dir)
    out = readability_stats(extract_pages(pages, with_items=True))
    return out.select(
        doc_id_from_url("url"), "n_items", "n_tables", "n_paragraphs",
        "n_headers", "n_table_cells", "issue_long_paragraph",
    )


@query("""
    SELECT doc_id, k AS image_index,
           '/img/' || doc_id || '-' || k || '.jpg' AS src,
           'chart' AS image_type, 'chart' AS description,
           '<div class="image-container"><img src="/img/' || doc_id
             || '-' || k || '.jpg" alt="chart"/></div>' AS rendered
    FROM documents, (SELECT unnest([1, 2]) AS k)
""")
def q_image_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/H4: figure images surface as typed ``image`` CONTENT ITEMS
    (openai_content_extractor.py:164,186) and the H4 renderer emits the
    image container (html_generator.py:395-497) — closed-form over the
    figure template."""
    from pyspark.sql import Window as W

    from document_extractor_spark.operators.render import render_item_column

    pages = pages_with_figures(spark, sf_dir)
    ex = extract_pages(pages, with_items=True)
    it = ex.select(
        "url",
        F.explode(
            F.filter(F.col("content_items"), lambda i: i["type"] == "image")
        ).alias("item"),
    )
    w = W.partitionBy("url").orderBy(F.col("item.order"))
    return it.withColumn("image_index", F.row_number().over(w)).select(
        doc_id_from_url("url"),
        "image_index",
        F.col("item.src").alias("src"),
        F.col("item.image_type").alias("image_type"),
        F.col("item.content").alias("description"),
        render_item_column(F.col("item")).alias("rendered"),
    )


@query("""
    SELECT doc_id, TRUE AS bold, TRUE AS italic, FALSE AS underline,
           'center' AS alignment,
           '<p style="text-align: center;"><strong><em>'
             || replace(replace(replace(replace(replace(text,
                  '&', '&amp;'), '<', '&lt;'), '>', '&gt;'),
                  '"', '&quot;'), chr(39), '&#x27;')
             || '</em></strong></p>' AS rendered
    FROM documents
""")
def q_formatting_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Formatting flags end-to-end: a centered <strong><em> paragraph
    must carry {bold, italic, alignment} on its item and the H3 renderer
    must re-emit <strong>/<em> + the alignment style
    (openai_content_extractor.py:158-200, html_generator.py:343-393)."""
    from document_extractor_spark.operators.render import render_item_column

    pages = pages_with_formatting(spark, sf_dir)
    ex = extract_pages(pages, with_items=True)
    it = ex.select(
        "url",
        F.explode(
            F.filter(F.col("content_items"),
                     lambda i: i["type"] == "paragraph")
        ).alias("item"),
    )
    return it.select(
        doc_id_from_url("url"),
        F.col("item.bold").alias("bold"),
        F.col("item.italic").alias("italic"),
        F.col("item.underline").alias("underline"),
        F.col("item.alignment").alias("alignment"),
        render_item_column(F.col("item")).alias("rendered"),
    )


@query("""
    SELECT doc_id, 1 AS n_page_headers, 'Home About' AS header_text,
           1 AS n_page_footers,
           'Copyright 2026 Example. Terms' AS footer_text,
           1 AS layout_columns, TRUE AS has_header,
           TRUE AS has_footer
    FROM documents
""")
def q_page_chrome_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """page_header/page_footer typed items + the page layout struct
    (openai_content_extractor.py:146-149, 190-199) — closed-form over
    the chrome template (header links, footer copyright, 1 column)."""
    pages = pages_from_documents(spark, sf_dir)
    ex = extract_pages(pages, with_items=True, with_layout=True,
                       emit_chrome=True)
    items = F.col("content_items")
    heads = F.filter(items, lambda i: i["type"] == "page_header")
    feet = F.filter(items, lambda i: i["type"] == "page_footer")
    return ex.select(
        doc_id_from_url("url"),
        F.size(heads).alias("n_page_headers"),
        F.concat_ws("|", F.transform(heads, lambda i: i["content"])).alias(
            "header_text"),
        F.size(feet).alias("n_page_footers"),
        F.concat_ws("|", F.transform(feet, lambda i: i["content"])).alias(
            "footer_text"),
        F.col("layout.columns").alias("layout_columns"),
        F.col("layout.has_header").alias("has_header"),
        F.col("layout.has_footer").alias("has_footer"),
    )


# Fixed PDF layout (pdf_pages_from_documents): 18pt title at
# (72, 720), two 12pt body lines at (72, 680) with 1.2 leading,
# 612x792 mediabox, 0.55 em/char advance estimate — every
# coordinate below is that geometry stated in SQL.
@query("""
    WITH src AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(trim(text), '\\s+', ' ', 'g'),
               '[^ -~]', '', 'g') AS a
      FROM documents
    ), ok AS (SELECT doc_id, a FROM src WHERE length(a) >= 80)
    SELECT doc_id, 0 AS item_order, 'header' AS type,
           'Document ' || doc_id AS content,
           11.76::DOUBLE AS x_start, 6.82::DOUBLE AS y_start,
           round(100*(72 + 0.55*18*(9 +
                 length(CAST(doc_id AS VARCHAR))))/612, 2) AS x_end,
           9.09::DOUBLE AS y_end, 18.0::DOUBLE AS font_size,
           6.82::DOUBLE AS margin_top, 84.04::DOUBLE AS margin_bottom,
           11.76::DOUBLE AS margin_left, 45.1::DOUBLE AS margin_right
    FROM ok
    UNION ALL
    SELECT doc_id, 1, 'paragraph',
           trim(substr(a, 1, 40)) || chr(10) || trim(substr(a, 41, 40)),
           11.76::DOUBLE, 12.63::DOUBLE, 54.9::DOUBLE, 15.96::DOUBLE,
           12.0::DOUBLE,
           6.82::DOUBLE, 84.04::DOUBLE, 11.76::DOUBLE, 45.1::DOUBLE
    FROM ok
""")
def q_pdf_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item position bboxes + layout margins over the fixed-layout PDF
    corpus (openai_content_extractor.py:167-173, 195-198): every
    coordinate is a closed-form page percentage the oracle states
    directly — an end-to-end gate over the content-stream geometry
    (mediabox parse, baseline/ascent math, advance estimation)."""
    pages = pdf_pages_from_documents(spark, sf_dir)
    ex = extract_pages(pages, with_items=True, with_layout=True)
    it = F.explode("content_items").alias("it")
    return ex.select(
        doc_id_from_url("url"), F.col("layout"), it,
    ).select(
        "doc_id",
        F.col("it.order").alias("item_order"),
        F.col("it.type").alias("type"),
        F.col("it.content").alias("content"),
        F.col("it.position.x_start").alias("x_start"),
        F.col("it.position.y_start").alias("y_start"),
        F.col("it.position.x_end").alias("x_end"),
        F.col("it.position.y_end").alias("y_end"),
        F.col("it.font_size").alias("font_size"),
        F.col("layout.margin_top_percent").alias("margin_top"),
        F.col("layout.margin_bottom_percent").alias("margin_bottom"),
        F.col("layout.margin_left_percent").alias("margin_left"),
        F.col("layout.margin_right_percent").alias("margin_right"),
    )


# pdf_metadata: every /Info field is a pure function of doc_id
# (planted by pdf_pages_from_documents); the length filter mirrors
# the source's ascii-body floor, same as pdf_positions.
@query(r"""
    WITH src AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(trim(text), '\s+', ' ', 'g'),
               '[^ -~]', '', 'g') AS a
      FROM documents
    ), ok AS (SELECT doc_id FROM src WHERE length(a) >= 80)
    SELECT doc_id,
           'Document ' || doc_id AS title,
           'Author ' || (doc_id % 7) AS author,
           'Subject ' || (doc_id % 3) AS subject,
           'docgen' AS creator,
           'document-extractor-spark' AS producer,
           'D:2026010' || (doc_id % 9 + 1) || '120000Z'
             AS creation_date,
           'D:2026020' || (doc_id % 9 + 1) || '120000Z'
             AS modification_date,
           CAST(1 AS INTEGER) AS total_pages,
           612.0::DOUBLE AS page_width,
           792.0::DOUBLE AS page_height
    FROM ok
""")
def q_pdf_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 full metadata surface (pdf_to_png_converter.py:198-236): the
    PDF source plants an ``/Info`` dict whose every field is a pure
    function of doc_id, so title/author/subject/creator/producer/dates
    plus page count and first-page dims are all closed-form."""
    from document_extractor_spark.operators.media import pdf_metadata_probe

    pages = pdf_pages_from_documents(spark, sf_dir)
    return pdf_metadata_probe(pages).select(
        doc_id_from_url("url"), "title", "author", "subject", "creator",
        "producer", "creation_date", "modification_date", "total_pages",
        "page_width", "page_height",
    )


@query("""
    SELECT doc_id, k AS image_index,
           '/img/' || doc_id || '-' || k || '.jpg' AS src,
           'Caption ' || k || ' for document ' || doc_id AS caption
    FROM documents, (SELECT unnest([1, 2]) AS k)
""")
def q_image_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I2: the reference's only join-shaped operator — extracted images
    equi-joined to extracted caption items on (url, index)."""
    pages = pages_with_figures(spark, sf_dir)
    imgs = explode_images(pages)
    caps = caption_items(extract_pages(pages, with_items=True))
    out = link_images_to_content(imgs, caps)
    return out.select(doc_id_from_url("url"), "image_index", "src", "caption")


# ---------------------------------------------------------------------------
# Relational shell (SURVEY.md §2.9): agg / join / window / pivot
# ---------------------------------------------------------------------------


@query("""
    SELECT 'h' || (doc_id % 37) || '.example.org' AS host,
           CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(CASE WHEN doc_id % 50 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS parse_failures,
           CAST(sum(length(text)) AS BIGINT) AS bytes_in
    FROM documents GROUP BY 1
""")
def q_host_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch per-host crawl-health counters (the streaming A4 counters'
    batch twin): hosts, planted parse failures (every 50th doc), and
    byte mass derive from doc_id so the oracle is closed-form."""
    from document_extractor_spark.operators.textstats import host_stats

    d = _docs(spark, sf_dir)
    pages = d.select(
        F.concat(F.lit("https://h"), (F.col("doc_id") % 37).cast("string"),
                 F.lit(".example.org/d/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.length("text").cast("bigint").alias("n_bytes_in"),
        F.when(F.col("doc_id") % 50 == 0, F.lit("SimulatedError"))
        .otherwise(F.lit(None).cast("string")).alias("parse_error"),
    )
    return host_stats(pages, bytes_col="n_bytes_in",
                      error_col="parse_error")


@query("""
    SELECT l_returnflag, l_linestatus,
      round(sum(l_quantity), 2) AS sum_qty,
      round(sum(l_extendedprice), 2) AS sum_base_price,
      round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      round(avg(l_discount), 6) AS avg_disc,
      count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
""")
def q_report_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 summary-report analog (pdf_processor.py:599-640) in TPC-H Q1
    shape: grouped multi-aggregate over the big fact table."""
    li = _tpch(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query("""
    SELECT n_name,
      round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      count(*) AS n_lineitems
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
""")
def q_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I2 join analog at TPC-H Q5 shape; dims broadcast (nation/region are
    tiny at every scale — no shuffle for them)."""
    li = _tpch(spark, sf_dir, "lineitem")
    o = _tpch(spark, sf_dir, "orders")
    c = _tpch(spark, sf_dir, "customer")
    n = _tpch(spark, sf_dir, "nation")
    r = _tpch(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@query("""
    SELECT user_id, event_id, value, rn FROM (
      SELECT user_id, event_id, value,
        row_number() OVER (PARTITION BY user_id
                           ORDER BY value DESC, event_id) AS rn
      FROM events) WHERE rn <= 3
""")
def q_window_topk_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "value", "rn")
    )


@query("""
    WITH g AS (
      SELECT user_id,
        CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
             OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
             THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions,
      count(*) AS n_events
    FROM g GROUP BY user_id
""")
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min-gap lag window + cumulative flags — the M1
    'previous-page context' analog over an event stream."""
    from pyspark.sql import Window as W

    ev = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 30 * 60 * 1_000_000
    ts_us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    new_s = F.when(
        F.lag(ts_us).over(w).isNull()
        | ((ts_us - F.lag(ts_us).over(w)) > gap_us),
        1,
    ).otherwise(0)
    return (
        ev.withColumn("new_s", new_s)
        .groupBy("user_id")
        .agg(
            F.sum("new_s").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query("""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
      round(sum(value) FILTER (WHERE event_type = 'click'), 2) AS v_click,
      round(sum(value) FILTER (WHERE event_type = 'error'), 2) AS v_error,
      round(sum(value) FILTER (WHERE event_type = 'purchase'), 2) AS v_purchase,
      round(sum(value) FILTER (WHERE event_type = 'signup'), 2) AS v_signup,
      round(sum(value) FILTER (WHERE event_type = 'view'), 2) AS v_view
    FROM events GROUP BY 1
""")
def q_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .groupBy("day")
        .pivot("event_type", types)
        .agg(F.round(F.sum("value"), 2))
        .select(
            "day", *[F.col(t).alias(f"v_{t}") for t in types]
        )
    )


# ---------------------------------------------------------------------------
# Driver API
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: chrome-wrapped pages → vectorized extraction → per-lang
    profile, on sf0.001."""
    return q_extract_lang_profile(spark, "/root/testdata/sf0.001")


def _attestation_order() -> list[str]:
    """Registry names sorted by (attested, declaration index). Attested
    means a green row (rows and hash match, no error) in any
    CORRECTNESS_r*.json next to this module; the external correctness
    run attests a prefix of queries(), so never-attested names lead."""
    attested = set()
    for path in Path(__file__).resolve().parent.glob("CORRECTNESS_r*.json"):
        for name, row in json.loads(path.read_text()).items():
            if row.get("rows_match") and row.get("hash_match") and row.get("err") is None:
                attested.add(name)
    # sorted() is stable: ties keep declaration order
    return sorted(_REGISTRY, key=lambda name: name in attested)


def queries() -> dict[str, Builder]:
    return {name: _REGISTRY[name][0] for name in _attestation_order()}


def oracle_sql() -> dict[str, str]:
    return {name: _REGISTRY[name][1] for name in _attestation_order()}
