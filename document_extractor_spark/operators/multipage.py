"""M1-M3 — multi-page continuation merge (SURVEY.md §2.6).

The reference's context-aware mode links content items across pages with
``continuation_of`` ids assigned by the LLM and merges them: tables are
row-spliced, paragraphs/lists concatenated with a space, ``pages[]``
tracked per merged item (``openai_content_extractor_multipage.py:
193-289`` in EricBui619/document-extractor). The deterministic
replacement detects continuations structurally:

- a page's FIRST item is a *paragraph/list continuation* of the previous
  page's last merged item when both are prose and the new page starts
  mid-sentence (leading lowercase letter);
- it is a *table continuation* (M3) when both are tables with the same
  column_count and their HTML splices — rows are spliced before the
  parent's ``</table>`` by ``html_extract.splice_table_rows``, the splice
  and the rule of the single-page adjacent-table fix
  (openai_content_extractor_multipage.py:257-289).

Spark mapping: one hash shuffle on the article id (small item rows,
not raw payloads), an in-partition sort, then one streaming
``mapInPandas`` whose strings cross through ``valid_utf8``. Zipfian
skew in pages-per-article is bounded by documents' page counts, not by
host popularity.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..extractor.html_extract import splice_table_rows
from ..functions.text import valid_utf8

MERGED_SCHEMA = T.StructType([
    T.StructField("article_id", T.LongType(), False),
    T.StructField("order", T.IntegerType(), False),
    T.StructField("type", T.StringType(), False),
    T.StructField("content", T.StringType(), True),
    T.StructField("html", T.StringType(), True),
    T.StructField("row_count", T.IntegerType(), True),
    T.StructField("column_count", T.IntegerType(), True),
    T.StructField("pages", T.ArrayType(T.IntegerType()), True),
    T.StructField("n_merged", T.IntegerType(), False),
    # Source-item lineage — the structural twin of the reference's
    # continuation_of id links (openai_content_extractor_multipage.py:
    # 92-137, 214): every (page, item_order) that merged into this item,
    # in merge order, so a merged row is auditable back to its sources.
    T.StructField("merged_from", T.ArrayType(T.StructType([
        T.StructField("page", T.IntegerType(), False),
        T.StructField("item_order", T.IntegerType(), False),
    ])), True),
])

_PROSE = {"paragraph", "list"}

def _merge_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
    """One pandas frame = one batch of whole articles (not one article):
    the per-group overhead of applyInPandas is ~0.5 ms and per-article
    pandas frames cost ~1.5 ms each, so grouping directly by article_id
    at corpus scale (millions of 1-2 page articles) drowns in
    bookkeeping — measured 20× slower at bench scale. Instead: ONE sort
    of the whole batch by (article, page, order), one linear pass with
    article-boundary detection, one output frame."""
    # Arrow→pandas turns nullable int columns into float64 with NaN, and
    # int(NaN or 0) raises (NaN is truthy) — normalize once up front,
    # into a new frame: ``pdf`` may be a slice of the caller's batch.
    pdf = pdf.assign(**{
        col: pd.to_numeric(pdf[col], errors="coerce").fillna(0)
        .astype("int64")
        for col in ("row_count", "column_count", "page_num", "order")
        if col in pdf.columns
    }).sort_values(["article_id", "page_num", "order"], kind="mergesort")
    out: list[dict] = []
    cur_article = object()
    article_start = 0
    prev_page = None
    for row in pdf.itertuples(index=False):
        if row.article_id != cur_article:
            cur_article = row.article_id
            article_start = len(out)
            prev_page = None
        item = {
            "article_id": int(row.article_id),
            "type": row.type,
            "content": row.content or "",
            "html": row.html,
            "row_count": int(row.row_count),
            "column_count": int(row.column_count),
            "pages": [int(row.page_num)],
            "n_merged": 1,
            "merged_from": [{"page": int(row.page_num),
                             "item_order": int(row.order)}],
        }
        first_of_page = prev_page is not None and row.page_num != prev_page
        prev_page = row.page_num
        if first_of_page and len(out) > article_start:
            last = out[-1]
            c = item["content"]
            if (
                item["type"] in _PROSE
                and last["type"] in _PROSE
                and c[:1].islower()
            ):
                # M2: prose continuation — concat with a space
                last["content"] = last["content"] + " " + c
                last["pages"].append(item["pages"][0])
                last["n_merged"] += 1
                last["merged_from"].extend(item["merged_from"])
                continue
            html = (
                item["type"] == "table"
                and last["type"] == "table"
                and item["column_count"] == last["column_count"]
                and item["column_count"] > 0
                and splice_table_rows(last["html"], item["html"])
            )
            if html:
                # M3: table continuation — splice rows, only when both
                # tables' HTML splices (``fix_adjacent_tables``' rule)
                last["content"] = last["content"] + "\n" + c
                last["html"] = html
                last["row_count"] += item["row_count"]
                last["pages"].append(item["pages"][0])
                last["n_merged"] += 1
                last["merged_from"].extend(item["merged_from"])
                continue
        item["order"] = len(out) - article_start
        out.append(item)
    # orders shift when later items merge away — renumber per article
    order = 0
    prev_aid = object()
    for it in out:
        if it["article_id"] != prev_aid:
            prev_aid = it["article_id"]
            order = 0
        it["order"] = order
        order += 1
    cols = [f.name for f in MERGED_SCHEMA.fields]
    return pd.DataFrame(out, columns=cols)


def _merge_stream(batches):
    """mapInPandas kernel: consume sorted Arrow batches, carrying the
    trailing (possibly incomplete) article across batch boundaries so no
    pandas frame ever exceeds one Arrow batch + one article. This is the
    memory bound the fixed-bucket applyInPandas design lacked: there,
    one Python worker materialized corpus/buckets rows at once, which at
    100× scale is a driver-sized frame per worker."""
    carry = None
    for pdf in batches:
        if pdf.empty:
            continue
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
        last_aid = pdf["article_id"].iloc[-1]
        open_mask = pdf["article_id"] == last_aid
        carry = pdf[open_mask]
        done = pdf[~open_mask]
        if len(done):
            yield _merge_bucket(done)
    if carry is not None and len(carry):
        yield _merge_bucket(carry)


def merge_continuations(df: DataFrame, article_col: str = "article_id",
                        partitions: int | None = None) -> DataFrame:
    """Item rows ``(article_id, page_num, order, type, content[, html,
    row_count, column_count])`` → merged items.

    One hash shuffle on the article id (small item rows, not raw
    payloads) + in-partition sort, then a STREAMING merge: each Python
    worker sees one byte-capped Arrow batch at a time and carries only
    the open trailing article between batches. Peak per-worker memory is
    O(arrow_batch + largest_article) — independent of corpus size, so
    the plan survives a 100× scale-up where any whole-group
    materialization (``groupBy.applyInPandas``) would not.

    Without ``partitions`` the shuffle is sized by AQE (building the
    plan starts no Spark job)."""
    keyed = df.withColumnRenamed(article_col, "article_id")
    parted = (
        (keyed.repartition(partitions, "article_id") if partitions
         else keyed.repartition("article_id"))
        .sortWithinPartitions("article_id", "page_num", "order")
    )
    return valid_utf8(parted).mapInPandas(_merge_stream,
                                          schema=MERGED_SCHEMA)
