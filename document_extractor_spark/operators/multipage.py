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
``mapInArrow`` whose strings cross through ``valid_utf8``. Zipfian
skew in pages-per-article is bounded by documents' page counts, not by
host popularity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..extractor.html_extract import splice_table_rows
from ..functions.text import valid_utf8
from .extract import record_batch

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

#: the item columns the merge reads, in its sort order first
_ITEM_COLS = ("article_id", "page_num", "order", "type", "content", "html",
              "row_count", "column_count")


def _merge_rows(rows: list) -> list:
    """Merge a run of whole articles' item rows, already in (article,
    page, order) order, in one linear pass with article-boundary
    detection, not one group per article (per-article groups drowned
    in bookkeeping at corpus scale: 20× slower at bench scale). A NULL
    int is 0. Returns ``MERGED_SCHEMA`` tuples; a merge only changes
    the last item, so each item keeps the ``order`` it was appended
    with."""
    out: list[dict] = []
    cur_article = object()
    article_start = 0
    prev_page = None
    for aid, page, order, typ, content, html, n_rows, n_cols in rows:
        page, order = page or 0, order or 0
        if aid != cur_article:
            cur_article = aid
            article_start = len(out)
            prev_page = None
        item = {
            "article_id": aid,
            "order": len(out) - article_start,
            "type": typ,
            "content": content or "",
            "html": html,
            "row_count": n_rows or 0,
            "column_count": n_cols or 0,
            "pages": [page],
            "n_merged": 1,
            "merged_from": [{"page": page, "item_order": order}],
        }
        first_of_page = prev_page is not None and page != prev_page
        prev_page = page
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
                last["pages"].append(page)
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
                last["pages"].append(page)
                last["n_merged"] += 1
                last["merged_from"].extend(item["merged_from"])
                continue
        out.append(item)
    names = MERGED_SCHEMA.fieldNames()
    return [tuple(it[n] for n in names) for it in out]


def _merge_stream(batches):
    """mapInArrow kernel: consume sorted Arrow batches, carrying the
    trailing (possibly incomplete) article across batch boundaries so
    no merge ever holds more than one Arrow batch + one article. This
    is the memory bound the fixed-bucket applyInPandas design lacked:
    there, one Python worker materialized corpus/buckets rows at once,
    which at 100× scale is a driver-sized frame per worker."""
    carry: list = []
    for batch in batches:
        rows = carry + list(zip(*(c.to_pylist() for c in batch.columns)))
        if not rows:
            continue
        cut = len(rows)
        while cut and rows[cut - 1][0] == rows[-1][0]:
            cut -= 1
        carry = rows[cut:]
        if cut:
            yield record_batch(_merge_rows(rows[:cut]), MERGED_SCHEMA)
    if carry:
        yield record_batch(_merge_rows(carry), MERGED_SCHEMA)


def merge_continuations(df: DataFrame, article_col: str = "article_id",
                        partitions: int | None = None) -> DataFrame:
    """Item rows ``(article_id, page_num, order, type, content, html,
    row_count, column_count)`` → merged items (other columns are
    dropped before the shuffle).

    One hash shuffle on the article id (small item rows, not raw
    payloads) + in-partition sort, then a STREAMING merge: each Python
    worker sees one byte-capped Arrow batch at a time and carries only
    the open trailing article between batches. Peak per-worker memory is
    O(arrow_batch + largest_article) — independent of corpus size, so
    the plan survives a 100× scale-up where any whole-group
    materialization (``groupBy.applyInPandas``) would not.

    Without ``partitions`` the shuffle is sized by AQE (building the
    plan starts no Spark job)."""
    keyed = df.withColumnRenamed(article_col, "article_id").select(
        *_ITEM_COLS)
    parted = (
        (keyed.repartition(partitions, "article_id") if partitions
         else keyed.repartition("article_id"))
        .sortWithinPartitions("article_id", "page_num", "order")
    )
    return valid_utf8(parted).mapInArrow(_merge_stream, schema=MERGED_SCHEMA)
