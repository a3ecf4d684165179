"""S3 / I1 / I2 — embedded image extraction and image↔content linking.

Reference behavior being re-expressed (EricBui619/document-extractor):
- S3 ``extract_images_from_pdf`` walks pages and emits one record per
  embedded image with index + bbox (``pdf_to_png_converter.py:126-196``).
- I2 ``_link_images_to_content`` matches extracted images back to
  content items by 1-based ``image_index`` with positional-order
  fallback (``pdf_processor.py:510-555``) — the reference's only
  join-shaped operator.

Spark mapping (SURVEY.md §2.1 S3, §2.4 I2): for web payloads the
embedded images are ``<img>``/``<figure>`` occurrences in the HTML —
extracted entirely JVM-side with ``regexp_extract_all`` + ``posexplode``
(a narrow generate: no shuffle, no Python), then linked to extracted
caption items with an equi-join on ``(url, image_index)`` where the
caption index is a ``row_number`` over item order (the positional
fallback, expressed relationally). The caption side is tiny relative to
raw pages, so the join shuffles only metadata rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..extractor.pdf_extract import is_pdf, pdf_metadata, pdf_outline
from .extract import _map_payloads

_IMG_TAG = r"<img[^>]*>"
_SRC = r"""src=['"]([^'"]+)['"]"""
_ALT = r"""alt=['"]([^'"]+)['"]"""


def explode_images(df: DataFrame, url_col: str = "url",
                   html_col: str = "html") -> DataFrame:
    """pages(url, html BINARY) → one row per embedded ``<img>``:
    ``(url, image_index 1-based, src, alt)``. Pure Catalyst."""
    # cast, not decode(.., 'UTF-8'): Spark 4 decode RAISES on malformed
    # bytes — binary garbage in the html column must not fail the task
    html_str = F.col(html_col).cast("string")
    tags = F.regexp_extract_all(html_str, F.lit(_IMG_TAG), F.lit(0))
    return (
        df.select(F.col(url_col), F.posexplode(tags).alias("pos", "tag"))
        .select(
            url_col,
            (F.col("pos") + 1).alias("image_index"),
            F.regexp_extract("tag", _SRC, 1).alias("src"),
            F.regexp_extract("tag", _ALT, 1).alias("alt"),
        )
    )


def caption_items(extracted: DataFrame, url_col: str = "url",
                  items_col: str = "content_items") -> DataFrame:
    """Extraction output (with_items=True) → caption rows with a 1-based
    positional index (row_number over item order — the I2 fallback)."""
    w = Window.partitionBy(url_col).orderBy("item_order")
    # staged explode_outer (repo explode rule): a bare explode over the
    # inlined array-filter would re-evaluate the filter once more per
    # row via the implicit size>0 pushdown
    return (
        extracted.select(
            F.col(url_col),
            F.filter(items_col, lambda it: it["type"] == "caption")
            .alias("_caps"),
        )
        .select(F.col(url_col), F.explode_outer("_caps").alias("item"))
        .where(F.col("item").isNotNull())
        .select(url_col, F.col("item.order").alias("item_order"),
                F.col("item.content").alias("caption"))
        .withColumn("caption_index", F.row_number().over(w))
    )


def link_images_to_content(images: DataFrame, captions: DataFrame,
                           url_col: str = "url") -> DataFrame:
    """I2 — equi-join images to captions on ``(url, index)``; images
    without a caption survive with NULL caption (left join, matching the
    reference's tolerant linking)."""
    return (
        images.join(
            captions.select(url_col, F.col("caption_index").alias("image_index"),
                            "caption"),
            on=[url_col, "image_index"],
            how="left",
        )
        .select(url_col, "image_index", "src", "alt", "caption")
    )


def pdf_metadata_probe(df: DataFrame, url_col: str = "url",
                       html_col: str = "html") -> DataFrame:
    """S1 — per-row PDF metadata over the binary column (one row per
    input through ``extract._map_payloads``; non-PDF payloads yield
    is_pdf=false with null fields)."""
    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("is_pdf", T.BooleanType()),
        T.StructField("title", T.StringType()),
        T.StructField("author", T.StringType()),
        T.StructField("subject", T.StringType()),
        T.StructField("creator", T.StringType()),
        T.StructField("producer", T.StringType()),
        T.StructField("creation_date", T.StringType()),
        T.StructField("modification_date", T.StringType()),
        T.StructField("total_pages", T.IntegerType()),
        T.StructField("page_width", T.DoubleType()),
        T.StructField("page_height", T.DoubleType()),
    ])
    meta_cols = schema.fieldNames()[2:]

    def probe(url, payload) -> list:
        if payload is None or not is_pdf(payload):
            return [(url, False, *[None] * len(meta_cols))]
        m = pdf_metadata(payload)
        return [(url, True, *(m[k] for k in meta_cols))]

    return _map_payloads(df, [url_col, html_col], probe, schema, None)


def pdf_outline_probe(df: DataFrame, url_col: str = "url",
                      html_col: str = "html") -> DataFrame:
    """PDF bookmark tree → one row per outline node in pre-order:
    ``(url, pos, level, title, page_idx)`` — document structure the
    reference's rasterize flow never surfaces (pdf_to_png_converter.py
    renders pixels; /Outlines dies there). Non-PDF or bookmark-less
    payloads yield no rows; malformed trees are cycle-guarded in the
    parser and never fail the task. Same narrow zero-shuffle
    ``extract._map_payloads`` shape as the metadata probe above."""
    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("pos", T.IntegerType()),
        T.StructField("level", T.IntegerType()),
        T.StructField("title", T.StringType()),
        T.StructField("page_idx", T.IntegerType()),
    ])

    def probe(url, payload) -> list:
        if payload is None or not is_pdf(payload):
            return []
        return [(url, n["pos"], n["level"], n["title"], n["page_idx"])
                for n in pdf_outline(payload)]

    return _map_payloads(df, [url_col, html_col], probe, schema, None)
