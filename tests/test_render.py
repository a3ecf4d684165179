"""Rendering operators (H1-H10 analogs) over the content-item array —
JVM-only plans, reference render semantics."""

import pytest
from pyspark.sql import functions as F

from document_extractor_spark.operators.extract import extract_pages
from document_extractor_spark.operators.render import (
    apply_readability_rewrite,
    concat_pages,
    legacy_projection,
    readability_stats,
    render_html,
)
from document_extractor_spark.plans import assert_no_python
from document_extractor_spark.sources.generator import fixture_rows
from document_extractor_spark.sources.pages import PAGES_SCHEMA


@pytest.fixture(scope="module")
def extracted(spark):
    pages = spark.createDataFrame(fixture_rows(), schema=PAGES_SCHEMA)
    return extract_pages(pages, with_items=True).cache()


def _one(df, url_suffix):
    return df.filter(F.col("url").endswith(url_suffix)).head()


def test_items_roundtrip_spans(extracted):
    row = _one(extracted, "section_table_reorder")
    items = row["content_items"]
    assert [i["type"] for i in items] == [
        "header", "paragraph", "header", "table", "paragraph", "header",
        "paragraph"]
    # R1 applied: the 'II.' header precedes the table
    assert items[2]["content"].startswith("II.")
    assert items[2]["level"] == 2


ITEMS_DDL = ("url string, content_items array<struct<order:int,type:string,"
             "content:string,html:string,level:int,row_count:int,"
             "column_count:int,converted_from_kv:boolean,src:string,"
             "image_type:string,bold:boolean,italic:boolean,"
             "underline:boolean,alignment:string,list_type:string,"
             "font_size:double>>")


def _item(order, typ, content, html=None, level=0, rc=0, cc=0, kv=False,
          src=None, image_type=None, bold=False, italic=False,
          underline=False, alignment=None, list_type=None, font_size=None):
    return (order, typ, content, html, level, rc, cc, kv, src, image_type,
            bold, italic, underline, alignment, list_type, font_size)


def _items_df(spark):
    rows = [("u", [
        _item(0, "header", "T", level=1),
        _item(1, "paragraph", "p"),
    ])]
    return spark.createDataFrame(rows, ITEMS_DDL)


def test_render_plans_jvm_only(spark):
    df = _items_df(spark)
    assert_no_python(render_html(df))
    assert_no_python(readability_stats(df))
    assert_no_python(legacy_projection(df))


def test_render_html_flow(spark, extracted):
    html_df = render_html(extracted)
    row = _one(html_df, "plain_article")
    html = row["html"]
    assert html.startswith('<div class="page">')
    assert "<h1>Understanding Distributed Extraction</h1>" in html
    assert "<p>This article explains" in html


def test_render_newline_preservation(extracted):
    html = _one(render_html(extracted), "hard_newlines")["html"]
    assert "line one of the poem stays alone<br/>\n" in html


def test_render_table_container(extracted):
    html = _one(render_html(extracted), "merged_cells")["html"]
    assert '<div class="table-container">' in html
    assert "rowspan='2'" in html  # exact table HTML preserved


def test_render_kv_table(extracted):
    html = _one(render_html(extracted), "kv_blank_line")["html"]
    assert "<thead><tr><th>Name</th><th>Age</th><th>Email</th></tr></thead>" \
        in html


def test_render_escaping(extracted):
    html = _one(render_html(extracted), "html_entities")["html"]
    assert "&lt;angle&gt;" in html
    assert "&amp;" in html


def test_readability_stats(extracted):
    stats = {r["url"].rsplit("/", 1)[1]: r
             for r in readability_stats(extracted).collect()}
    s = stats["section_table_reorder"]
    assert s["n_tables"] == 1
    assert s["n_headers"] == 3
    assert s["n_paragraphs"] == 3
    assert not s["issue_large_table"]


def test_readability_rewrite(extracted):
    html_df = apply_readability_rewrite(render_html(extracted))
    html = _one(html_df, "kv_blank_line")["html"]
    assert ('<th class="hdr" style="padding: 10px; background-color: #4a90e2; color: white; font-weight: bold; text-align: left">') in html
    assert '<table class="readable">' in html


def test_legacy_projection(extracted):
    proj = legacy_projection(extracted)
    row = _one(proj, "section_table_reorder")
    assert len(row["tables"]) == 1
    assert len(row["text_blocks"]) == 6


# ---------------------------------------------------------------------------
# Round 2: image/H4 branch, formatting/H3, ol/H8, chrome, H10 zebra
# ---------------------------------------------------------------------------


def _render_one(spark, item):
    df = spark.createDataFrame([("u", [item])], ITEMS_DDL)
    return render_html(df).head()["html"]


def test_render_image_container(spark):
    html = _render_one(spark, _item(0, "image", "a chart", src="/p.jpg"))
    assert ('<div class="image-container">'
            '<img src="/p.jpg" alt="a chart"/></div>') in html


def test_render_image_placeholder_fallback(spark):
    """H4 fallback (html_generator.py:395-497): no source → placeholder
    with the description."""
    html = _render_one(spark, _item(0, "image", "missing figure", src=None))
    assert '<div class="image-placeholder"><p>missing figure</p></div>' in html


def test_render_formatting_flags(spark):
    html = _render_one(spark, _item(0, "paragraph", "hot take", bold=True,
                                    italic=True, underline=True))
    assert "<p><strong><em><u>hot take</u></em></strong></p>" in html


def test_render_alignment_style(spark):
    html = _render_one(spark, _item(0, "paragraph", "centered",
                                    alignment="center"))
    assert '<p style="text-align: center;">centered</p>' in html


def test_render_ordered_list(spark):
    html = _render_one(spark, _item(0, "list", "one\ntwo",
                                    list_type="ordered"))
    assert "<ol><li>one</li><li>two</li></ol>" in html
    html2 = _render_one(spark, _item(0, "list", "one\ntwo"))
    assert "<ul><li>one</li><li>two</li></ul>" in html2


def test_render_page_chrome(spark):
    html = _render_one(spark, _item(0, "page_header", "Home About"))
    assert '<div class="page_header"><p>Home About</p></div>' in html


def test_readability_zebra_striping(spark):
    """H10 (html_formatter.py:80-321): tbody rows get alternating
    even/odd classes BY ROW INDEX; thead rows untouched."""
    table = ("<table><thead><tr><th>K</th></tr></thead>"
             "<tbody><tr><td>a</td></tr><tr><td>b</td></tr>"
             "<tr><td>c</td></tr></tbody></table>")
    df = spark.createDataFrame([(table,)], "html string")
    out = apply_readability_rewrite(df).head()["html"]
    expected = ('<table class="readable"><thead><tr>'
                '<th class="hdr" style="padding: 10px; background-color: #4a90e2; color: white; font-weight: bold; text-align: left">K</th>'
                '</tr></thead><tbody><tr class="even"><td>a</td></tr>'
                '<tr class="odd"><td>b</td></tr>'
                '<tr class="even"><td>c</td></tr></tbody></table>')
    assert out == expected


def test_render_plans_jvm_only_new_branches(spark):
    rows = [("u", [
        _item(0, "image", "c", src="/p.jpg"),
        _item(1, "paragraph", "p", bold=True, alignment="center"),
        _item(2, "list", "a\nb", list_type="ordered"),
        _item(3, "page_footer", "f"),
    ])]
    df = spark.createDataFrame(rows, ITEMS_DDL)
    assert_no_python(apply_readability_rewrite(render_html(df)))


def test_render_multicolumn_css_from_layout(spark):
    """H8: layout.columns > 1 → column-count CSS on the page container
    (html_generator_v2.py:98-229)."""
    ddl = ITEMS_DDL + ", layout struct<columns:int,has_header:boolean," \
        "has_footer:boolean>"
    rows = [
        ("u1", [_item(0, "paragraph", "two col")], (3, False, False)),
        ("u2", [_item(0, "paragraph", "one col")], (1, False, False)),
    ]
    df = spark.createDataFrame(rows, ddl)
    out = {r["url"]: r["html"]
           for r in render_html(df, layout_col="layout").collect()}
    assert out["u1"].startswith('<div class="page" style="column-count: 3;">')
    assert out["u2"].startswith('<div class="page">\n')


def test_zebra_striping_multi_table(spark):
    """Two tables on one page: the SECOND table's <thead> row must stay
    unstriped (the segment after a <tbody> runs past </tbody> into the
    next table — only the part before </tbody> may be rewritten;
    reference stripes tbody rows only, html_formatter.py:188-240)."""
    t1 = ("<table><thead><tr><th>A</th></tr></thead>"
          "<tbody><tr><td>1</td></tr><tr><td>2</td></tr></tbody></table>")
    t2 = ("<table><thead><tr><th>B</th></tr></thead>"
          "<tbody><tr><td>3</td></tr></tbody></table>")
    df = spark.createDataFrame([(t1 + t2,)], "html string")
    out = apply_readability_rewrite(df).head()["html"]
    exp = ('<table class="readable"><thead><tr>'
           '<th class="hdr" style="padding: 10px; background-color: #4a90e2; color: white; font-weight: bold; text-align: left">A</th>'
           '</tr></thead><tbody><tr class="even"><td>1</td></tr>'
           '<tr class="odd"><td>2</td></tr></tbody></table>'
           '<table class="readable"><thead><tr>'
           '<th class="hdr" style="padding: 10px; background-color: #4a90e2; color: white; font-weight: bold; text-align: left">B</th>'
           '</tr></thead><tbody><tr class="even"><td>3</td></tr>'
           '</tbody></table>')
    assert out == exp


def test_th_inline_style_merge(spark):
    """H10 style merge (html_formatter.py:146-156, 305-321): a
    pre-styled <th> keeps its non-conflicting properties in place,
    conflicting ones are overridden IN POSITION (dict.update), and the
    remaining reference properties append — plus it gains the header
    class."""
    table = ('<table><thead><tr>'
             "<th style='border: 1px solid; color: red'>K</th>"
             '</tr></thead><tbody><tr><td>a</td></tr></tbody></table>')
    df = spark.createDataFrame([(table,)], "html string")
    out = apply_readability_rewrite(df).head()["html"]
    assert ('<th class="hdr" style="border: 1px solid; color: white; '
            'padding: 10px; background-color: #4a90e2; font-weight: bold; '
            'text-align: left">K</th>') in out
    # plan stays fully JVM
    from document_extractor_spark.plans import assert_no_python
    assert_no_python(apply_readability_rewrite(df))


def test_render_markdown_structures(spark):
    from document_extractor_spark.operators.extract import extract_pages
    from document_extractor_spark.operators.render import render_markdown

    page = (b"<html><body><main><h2>Section</h2>"
            b"<p>plain paragraph here</p>"
            b"<table><tr><th>a</th><th>b</th></tr>"
            b"<tr><td>1</td><td>2</td></tr></table>"
            b"<ul><li>first item words enough to keep it around yes</li>"
            b"<li>second item words enough to keep it around too</li></ul>"
            b"</main></body></html>")
    df = spark.createDataFrame(
        [("https://x.example.org/1", bytearray(page))],
        "url string, html binary")
    md = render_markdown(extract_pages(df, with_items=True)) \
        .collect()[0]["markdown"]
    blocks = md.split("\n\n")
    assert "## Section" in blocks
    assert "plain paragraph here" in blocks
    table = [b for b in blocks if b.startswith("| a | b |")]
    assert table and table[0].splitlines()[1] == "| --- | --- |"
    assert table[0].splitlines()[2] == "| 1 | 2 |"
    lists = [b for b in blocks if b.startswith("- ")]
    assert lists and lists[0].count("- ") == 2


def test_render_markdown_empty_and_null_items(spark):
    from pyspark.sql import functions as F

    from document_extractor_spark.operators.extract import extract_pages
    from document_extractor_spark.operators.render import render_markdown

    df = spark.createDataFrame(
        [("https://x.example.org/1",
          bytearray(b"<html><body></body></html>"))],
        "url string, html binary")
    out = render_markdown(extract_pages(df, with_items=True))
    assert out.collect()[0]["markdown"] == ""


def test_concat_pages_orders_pages_and_marks_breaks(spark):
    """H6: per group, page bodies joined in page order (not row order)
    with one page-break marker between pages, inside one shell."""
    df = spark.createDataFrame(
        [("d1", 3, "<p>three</p>"), ("d2", 1, "<p>solo</p>"),
         ("d1", 1, "<p>one</p>"), ("d1", 2, "<p>two</p>")],
        "doc string, page_num int, html string").repartition(3)
    out = {r["doc"]: r["html"] for r in concat_pages(df, "doc").collect()}
    brk = '\n<div class="page-break"></div>\n'
    assert out == {
        "d1": "<html><body>\n<p>one</p>" + brk + "<p>two</p>" + brk
              + "<p>three</p>\n</body></html>",
        "d2": "<html><body>\n<p>solo</p>\n</body></html>",
    }
    assert_no_python(concat_pages(df, "doc"))
