"""Boilerpipe-style block-scoring profile export — the north rule's
"text-density + link-density DOM heuristics (block scoring over a
flattened DOM node array)" surfaced as ROWS instead of buried inside
the extraction kernel.

The reference keeps its keep/drop reasoning opaque inside the GPT-4V
prompt (openai_content_extractor.py:63-157 asks the model to "ignore
navigation, ads, boilerplate"); the Spark-native replacement makes the
decision auditable: one row per flattened DOM block with the exact
word-count / link-density features the classifier
(extractor/html_extract.py:702-782, the public Boilerpipe
NumWordsRulesClassifier decision list) used, plus its verdict. The
web-corpus use: threshold tuning and per-host boilerplate drift
dashboards — "which hosts' pages started classifying 40% of their
blocks as chrome this snapshot?" — without re-running extraction in a
debugger.

Scale shape: a zero-shuffle map over the pruned ``(url, html)`` scan
through ``extract._map_payloads`` — the same batch loop and error-row
rule as extraction (a NULL page yields a single ``parse_error`` row,
never a task failure). Output fan-out is ~10-60 rows/page of
fixed-width features — a fraction of the input payload bytes — so the
profile is cheaper than extraction itself at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..extractor.html_extract import classify_blocks, flatten
from .extract import _map_payloads, host_col

BLOCK_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), True),
    T.StructField("block_idx", T.IntegerType(), True),
    T.StructField("tag", T.StringType(), True),
    T.StructField("n_words", T.IntegerType(), True),
    T.StructField("n_link_words", T.IntegerType(), True),
    T.StructField("link_density", T.DoubleType(), True),
    T.StructField("is_content", T.BooleanType(), True),
    T.StructField("parse_error", T.StringType(), True),
])


def _profile_rows(url, payload) -> list:
    if payload is None:
        return [(url, None, None, None, None, None, None, "null payload")]
    html = payload.decode("utf-8", errors="replace") \
        if isinstance(payload, (bytes, bytearray)) else payload
    fl = flatten(html)
    classify_blocks(fl.blocks)
    return [(url, b.index, b.tag, b.n_words, b.n_link_words,
             round(b.link_density, 6), b.is_content, None)
            for b in fl.blocks]


def block_profile(pages: DataFrame) -> DataFrame:
    """pages(url, html, ...) → one row per flattened DOM block:
    ``(url, block_idx, tag, n_words, n_link_words, link_density,
    is_content, parse_error)``. Narrow (no shuffle); input pruned to
    the two columns the kernel reads."""
    return _map_payloads(pages, ["url", "html"], _profile_rows,
                         BLOCK_SCHEMA, "parse_error")


def template_profile(blocks: DataFrame, url_col: str = "url") -> DataFrame:
    """Per-host DOM-template mining over :func:`block_profile` rows —
    the structural twin of ``host_dup_stats`` (that one catches hosts
    whose TEXT repeats; this one catches hosts whose PAGE SKELETON
    repeats: auto-generated listing farms, tag/category archives,
    parked-domain templates — pages that are structurally one template
    with slot-filled text, a classic low-value-corpus signal).

    A page's skeleton is the md5 of its document-order flattened block
    tag sequence; output per host: ``(host, n_pages, n_templates,
    top_template_pages, template_share_ppm)`` — a host with thousands
    of pages and template_share_ppm near 1e6 is a template farm.

    Scale shape: skeletons aggregate narrow ``(url, block_idx, tag)``
    rows (never block text) into one md5 per page; the host rollup
    shuffles only (host, 16-byte skeleton) pairs — host-scale keys,
    map-side combined. Pages whose profile row is a ``parse_error``
    carry no blocks and are excluded (no skeleton to judge). The ppm
    share is exact integer division, engine-identical.
    """
    from pyspark.sql import functions as F

    valid = blocks.where(
        F.col("parse_error").isNull() & F.col("block_idx").isNotNull())
    sk = (
        valid.select(F.col(url_col).alias("url"), "block_idx", "tag")
        .groupBy("url")
        .agg(
            F.md5(F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct("block_idx", "tag"))),
                    lambda s: s["tag"],
                ), " ")).alias("_skel"))
        .select(host_col(F.col("url")).alias("host"), "_skel")
    )
    t = sk.groupBy("host", "_skel").agg(F.count(F.lit(1)).alias("_c"))
    return (
        t.groupBy("host")
        .agg(
            F.sum("_c").alias("n_pages"),
            F.count(F.lit(1)).alias("n_templates"),
            F.max("_c").alias("top_template_pages"),
        )
        .select(
            "host", "n_pages", "n_templates", "top_template_pages",
            F.expr("top_template_pages * 1000000 DIV n_pages")
            .alias("template_share_ppm"),
        )
    )
