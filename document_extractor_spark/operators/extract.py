"""THE core operator (SURVEY.md §2.2 E1): vectorized main-content
extraction over the ``html`` binary column.

Spark mapping of the reference's per-page GPT-4V extraction + structural
fix pipeline (``openai_content_extractor.py:63-307`` →
``content_structure_fixer.py:179-197`` → ``key_value_converter.py:359-397``
in EricBui619/document-extractor), collapsed into ONE narrow stage:

    select(url, html, lang) [→ salted repartition] → mapInArrow (extract)

Scale design (the 100 TB story):
- **No per-row Python**: ``mapInArrow`` receives whole Arrow
  batches and returns one Arrow batch per input batch (built by
  ``record_batch``), with no pandas frame in between. The plan contains
  only ``MapInArrow`` / Arrow nodes — asserted by
  ``plans.assert_vectorized_python_only``.
- **Narrow by default — never shuffle raw payloads.** With
  ``num_partitions=None`` (the default) extraction is a zero-shuffle map
  over the scan: task sizing comes from ``spark.sql.files
  .maxPartitionBytes`` row-group splits, which are host-agnostic, so the
  Zipfian host distribution cannot skew the *extraction* stage at all.
  Measured on this box: the payload shuffle costs 3.7× throughput at 32
  cores (9.5k → 2.6k docs/s); at 100 TB it would be a 100 TB shuffle.
- **Skew**: ``salted_repartition`` spreads rows by ``(host,
  pmod(xxhash64(url), SALT))`` so a hot host fans out over SALT
  partitions instead of one straggler task (AQE only re-plans joins, not
  UDF stages). Its only caller is this operator: pass ``num_partitions``
  to salt *before* extraction when the source layout itself is skewed
  (few giant unsplittable files).
- **Bounded memory**: Spark's ``spark.sql.execution.arrow.maxBytesPerBatch``
  (default 64 MiB) caps the bytes of each Arrow batch the worker
  receives, alongside ``maxRecordsPerBatch`` for rows, so giant pages
  arrive in size-capped batches; empty batches are skipped.
- **Error isolation — a malformed payload never fails the task.** A
  row whose kernel raises becomes exactly one error row: its key, the
  error column set to ``"<ExcType>: <message>"``, every other field
  NULL (reference semantics: per-page try/except,
  ``pdf_processor.py:227-235``). ``_map_payloads`` is the only place
  that rule is enforced: it is the one ``mapInArrow`` batch loop
  behind every per-document kernel — this operator,
  ``blocks.block_profile``, the PDF probes in ``media``, the image
  kernels in ``multimodal`` and ``bitext``'s aligner. Its strings
  cross through ``functions.text.valid_utf8``, and every output key
  field is nullable, so a NULL key comes back as its own row.
"""

from __future__ import annotations

from typing import Callable, Iterator, Optional

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..extractor.core import extract_payload
from ..functions.text import valid_utf8

SPAN_TYPE = T.ArrayType(
    T.StructType([
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("type", T.StringType(), False),
    ])
)

EXTRACT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), True),
    T.StructField("extracted_text", T.StringType(), True),
    T.StructField("spans", SPAN_TYPE, True),
    T.StructField("lang", T.StringType(), True),
    T.StructField("parse_error", T.StringType(), True),
    T.StructField("n_blocks", T.IntegerType(), True),
    T.StructField("n_bytes_in", T.LongType(), True),
    T.StructField("n_bytes_out", T.LongType(), True),
])

# The reference's core record shape (openai_content_extractor.py:158-200):
# typed items with formatting flags {bold, italic, underline}, image src,
# list_type (ol/ul), text alignment, and PDF font size — opt-in via
# extract_pages(with_items=True)
ITEM_TYPE = T.ArrayType(
    T.StructType([
        T.StructField("order", T.IntegerType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("content", T.StringType(), True),
        T.StructField("html", T.StringType(), True),
        T.StructField("level", T.IntegerType(), True),
        T.StructField("row_count", T.IntegerType(), True),
        T.StructField("column_count", T.IntegerType(), True),
        T.StructField("converted_from_kv", T.BooleanType(), True),
        T.StructField("src", T.StringType(), True),
        T.StructField("image_type", T.StringType(), True),
        T.StructField("bold", T.BooleanType(), True),
        T.StructField("italic", T.BooleanType(), True),
        T.StructField("underline", T.BooleanType(), True),
        T.StructField("alignment", T.StringType(), True),
        T.StructField("list_type", T.StringType(), True),
        T.StructField("font_size", T.DoubleType(), True),
        # Position bbox as page percentages from the top-left
        # (openai_content_extractor.py:167-173). PDF items: real
        # line/column extents from the content stream; HTML items:
        # reading-order substitute (character-offset pct — web pages
        # have no pixel geometry).
        T.StructField("position", T.StructType([
            T.StructField("x_start", T.DoubleType(), True),
            T.StructField("y_start", T.DoubleType(), True),
            T.StructField("x_end", T.DoubleType(), True),
            T.StructField("y_end", T.DoubleType(), True),
        ]), True),
    ])
)

# Page layout struct (openai_content_extractor.py:190-199) — opt-in via
# extract_pages(with_layout=True). PDF column count comes from the x-gap
# column split (pdf_extract.py); HTML from CSS column-count + semantic
# <header>/<footer> presence.
LAYOUT_TYPE = T.StructType([
    T.StructField("columns", T.IntegerType(), True),
    T.StructField("has_header", T.BooleanType(), True),
    T.StructField("has_footer", T.BooleanType(), True),
    # Text-extent page margins as percentages
    # (margin_*_percent, openai_content_extractor.py:195-198) — PDF
    # only (mediabox vs item-bbox union); NULL for HTML pages.
    T.StructField("margin_top_percent", T.DoubleType(), True),
    T.StructField("margin_bottom_percent", T.DoubleType(), True),
    T.StructField("margin_left_percent", T.DoubleType(), True),
    T.StructField("margin_right_percent", T.DoubleType(), True),
])

def record_batch(rows: list, schema: T.StructType) -> pa.RecordBatch:
    """Output row tuples in ``schema`` order → one Arrow batch of
    ``to_arrow_schema(schema)``: how every ``mapInArrow`` kernel hands
    rows back to Spark. A struct value is a dict (or a tuple, the same
    for the whole column), an array a list, a timestamp a tz-aware
    ``datetime``."""
    arrow = to_arrow_schema(schema)
    cols = zip(*rows) if rows else ([] for _ in arrow)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow)


def _map_payloads(df: DataFrame, cols: list[str],
                  fn: Callable[..., list], schema: T.StructType,
                  error_col: Optional[str]) -> DataFrame:
    """The one per-document ``mapInArrow`` loop every payload kernel
    runs on (``extract_pages``, ``blocks.block_profile``, the PDF probes
    in ``media``, the image kernels in ``multimodal``, the sentence
    aligner in ``bitext``).

    Selects only ``cols`` (the scan's ``ReadSchema`` prunes to them),
    repairs their strings with ``valid_utf8``, zips each Arrow batch's
    columns as Python values (NULL is ``None``, an array a list) and
    calls ``fn(*values)`` per row; ``fn`` returns a list of output
    tuples in ``schema`` order (one per output row — fan-out kernels
    return many).
    If ``fn`` raises, the row becomes exactly one error row: the key
    (the first of ``cols``), ``error_col = "<ExcType>: <message>"`` and
    NULL everywhere else. ``error_col=None`` lets the exception fail the
    task — only for schemas without an error column whose ``fn`` is
    already total."""
    names = schema.fieldNames()

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows: list = []
            for values in zip(*(c.to_pylist() for c in batch.columns)):
                try:
                    rows += fn(*values)
                except Exception as exc:  # per-row isolation, never the task
                    if error_col is None:
                        raise
                    err = dict.fromkeys(names)
                    err[names[0]] = values[0]
                    err[error_col] = f"{type(exc).__name__}: {exc}"
                    rows.append(tuple(err.values()))
            if rows:
                yield record_batch(rows, schema)

    return valid_utf8(df.select(*cols)).mapInArrow(run, schema=schema)


def host_col(url: Column = None) -> Column:
    """Canonical URL host: built-in try_parse_url (JVM-side, codegen'd),
    lowercased. The try_ variant: Spark 4 parse_url RAISES on malformed
    URLs — one hostile crawl row must not fail a task; a NULL host groups
    the junk under one key instead. Lowercased because the authority is
    case-insensitive (RFC 3986 §6.2.2.1) — without it 'Example.com' and
    'example.com' split host stats, link-graph nodes, and, worst,
    mixed-case hosts BYPASS the lowercased blocklist join in
    ``url_filter``. Every host-keyed operator must parse through here."""
    u = url if url is not None else F.col("url")
    return F.lower(F.try_parse_url(u, F.lit("HOST")))


def salted_repartition(df: DataFrame, num_partitions: int,
                       salt: int = 16) -> DataFrame:
    """Spread Zipfian hosts: partition by (host, salt-of-url). Rows of one
    host land in ≤``salt`` partitions — co-location for downstream per-host
    ops, no single-host straggler."""
    return df.repartition(
        num_partitions,
        host_col(),
        F.pmod(F.xxhash64("url"), F.lit(salt)),
    )


def skew_profile(df: DataFrame, key_col: str = "url",
                 parse_host: bool = True,
                 target_rows_per_task: int = 1_000_000,
                 top: int = 20) -> DataFrame:
    """Key-skew diagnostic that *plans* ``salted_repartition``: the
    ``top`` hottest keys with row count, corpus share (ppm) and the
    salt factor needed to cap any single (key, salt) slice at
    ``target_rows_per_task`` rows. On a Zipfian crawl the top-1 share
    decides whether a host-keyed shuffle stragglers — run this BEFORE
    picking ``salt`` instead of guessing.

    Scale shape: one map-side-combinable ``groupBy(key).count()`` on a
    key-only projection (payload columns never enter the shuffle); the
    corpus total is a 1-row aggregate broadcast back, never a global
    window. Output is host-cardinality metadata capped at ``top``.
    """
    key = host_col(F.col(key_col)) if parse_host else F.col(key_col)
    counts = (df.select(key.alias("key"))
              .groupBy("key").agg(F.count(F.lit(1)).alias("n_rows")))
    total = counts.agg(F.sum("n_rows").alias("_total"))
    return (counts.crossJoin(F.broadcast(total))
            .select(
                "key", "n_rows",
                F.floor(F.col("n_rows") * 1_000_000 / F.col("_total"))
                .cast("bigint").alias("share_ppm"),
                F.ceil(F.col("n_rows") / F.lit(target_rows_per_task))
                .cast("int").alias("salt_factor"))
            .orderBy(F.desc("n_rows"), F.asc("key"))
            .limit(top))


def extract_pages(df: DataFrame, num_partitions: Optional[int] = None,
                  salt: int = 16, keep_warc_day: bool = False,
                  with_items: bool = False,
                  with_layout: bool = False,
                  emit_chrome: bool = False) -> DataFrame:
    """pages(url, html[, lang][, warc_day]) → north-star output rows.

    Column pruning: selects ONLY the columns the UDF needs before the
    shuffle, so the parquet scan reads just ``url``/``html``(/``lang``) —
    check ``ReadSchema`` in the plan.
    """
    cols = ["url", "html"]
    if "lang" in df.columns:
        cols.append("lang")
    if keep_warc_day and "warc_day" in df.columns:
        cols.append("warc_day")
    narrow = df.select(*cols)
    if num_partitions:
        narrow = salted_repartition(narrow, num_partitions, salt=salt)
    fields = list(EXTRACT_SCHEMA.fields)
    if with_items:
        fields.append(T.StructField("content_items", ITEM_TYPE, True))
    if with_layout:
        fields.append(T.StructField("layout", LAYOUT_TYPE, True))
    if "warc_day" in cols:
        fields.append(T.StructField("warc_day", T.StringType(), True))
    schema = T.StructType(fields)
    names = schema.fieldNames()

    def extract_one(*values) -> list:
        row = dict(zip(cols, values))
        lang = row.get("lang")
        rec = extract_payload(row["html"], url=row["url"],
                              lang_hint=lang if isinstance(lang, str)
                              and lang else None,
                              include_items=with_items,
                              include_layout=with_layout,
                              emit_chrome=emit_chrome)
        rec["warc_day"] = row.get("warc_day")
        return [tuple(rec[n] for n in names)]

    return _map_payloads(narrow, cols, extract_one, schema, "parse_error")


def observe_extract(df: DataFrame):
    """North-rule counters (SURVEY.md §2.7 A4): docs parsed, parse failures,
    bytes in/out — collected with ``observe`` (piggybacks on the write
    action, no extra pass). Returns (df, Observation)."""
    from pyspark.sql import Observation

    obs = Observation("extract_metrics")
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.when(F.col("parse_error").isNotNull(), 1).otherwise(0)).alias(
            "parse_failures"
        ),
        F.coalesce(F.sum("n_bytes_in"), F.lit(0)).alias("bytes_in"),
        F.coalesce(F.sum("n_bytes_out"), F.lit(0)).alias("bytes_out"),
    )
    return out, obs
