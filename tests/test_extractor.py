"""t1 — pure-Python extractor tests: byte-identical goldens, span
invariants, structural-fix semantics (SURVEY.md §5 test plan)."""

import json
import os

import pytest

from document_extractor_spark.extractor.core import extract_payload
from document_extractor_spark.extractor.html_extract import (
    Item,
    convert_kv_items,
    extract_html,
    fix_adjacent_tables,
    fix_header_levels,
    fix_section_table_order,
    parse_multi_record_kv,
)
from document_extractor_spark.extractor.langid import detect_lang
from document_extractor_spark.extractor.pdf_extract import extract_pdf, is_pdf
from document_extractor_spark.sources.generator import (
    build_pdf,
    corpus_rows,
    fixture_rows,
)

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "expected.json")


@pytest.fixture(scope="module")
def golden():
    with open(GOLDEN, encoding="utf-8") as f:
        return {g["url"]: g for g in json.load(f)}


@pytest.fixture(scope="module")
def fixtures():
    return fixture_rows()


# ---------------------------------------------------------------------------
# Byte-identical golden corpus (the north-rule invariant)
# ---------------------------------------------------------------------------


def test_golden_byte_identical(golden, fixtures):
    assert len(fixtures) == len(golden)
    for row in fixtures:
        rec = extract_payload(row["html"], url=row["url"],
                              lang_hint=row["lang"])
        exp = golden[row["url"]]
        assert rec["extracted_text"] == exp["extracted_text"], row["url"]
        assert rec["extracted_text"].encode("utf-8") == \
            exp["extracted_text"].encode("utf-8")
        assert rec["spans"] == exp["spans"], row["url"]
        assert rec["lang"] == exp["lang"]
        assert rec["parse_error"] == exp["parse_error"]


def test_determinism(fixtures):
    a = [extract_payload(r["html"], url=r["url"]) for r in fixtures]
    b = [extract_payload(r["html"], url=r["url"]) for r in fixtures]
    assert a == b


def test_span_reconstruction(fixtures):
    """Spans tile the text: text[start:end] is each block, blocks joined by
    exactly two newlines reconstruct extracted_text."""
    for row in fixtures:
        rec = extract_payload(row["html"], url=row["url"])
        text = rec["extracted_text"]
        parts = [text[s["start"]:s["end"]] for s in rec["spans"]]
        assert "\n\n".join(parts) == text, row["url"]
        for s in rec["spans"]:
            assert 0 <= s["start"] <= s["end"] <= len(text)


# ---------------------------------------------------------------------------
# Structural fixes — R1/R2/R3 semantics (content_structure_fixer.py)
# ---------------------------------------------------------------------------


def _items(*specs):
    out = []
    for i, (typ, content, level) in enumerate(specs):
        out.append(Item(order=i, type=typ, content=content, level=level,
                        html="<table><tr><td>x</td></tr></table>"
                        if typ == "table" else None))
    return out


def test_r1_section_header_moves_before_table():
    items = _items(
        ("paragraph", "intro text", 0),
        ("table", "Owner\tInterest", 0),
        ("header", "II. MINERAL OWNERSHIP:", 2),
    )
    fixed = fix_section_table_order(items)
    assert [it.type for it in fixed] == ["paragraph", "header", "table"]
    assert [it.order for it in fixed] == [0, 1, 2]


def test_r1_plain_header_not_moved():
    items = _items(
        ("table", "t", 0),
        ("header", "No numbering here", 1),
    )
    fixed = fix_section_table_order(items)
    assert [it.type for it in fixed] == ["table", "header"]


def test_r2_header_levels():
    items = _items(
        ("header", "I. RECITALS", 4),
        ("header", "1. Definitions", 4),
        ("header", "Plain Title", 0),
    )
    fix_header_levels(items)
    assert [it.level for it in items] == [2, 3, 1]


def test_r3_adjacent_tables_merge():
    a = Item(order=0, type="table", content="h\nr1", row_count=2,
             column_count=2,
             html="<table><tr><th>h</th><th>h2</th></tr>"
                  "<tr><td>r1</td><td>x</td></tr></table>")
    b = Item(order=1, type="table", content="r2", row_count=1, column_count=2,
             html="<table><tr><td>r2</td><td>y</td></tr></table>")
    out = fix_adjacent_tables([a, b])
    assert len(out) == 1
    assert out[0].row_count == 3
    assert out[0].html.count("<tr") == 3
    assert out[0].content == "h\nr1\nr2"


def test_r3_different_width_not_merged():
    a = Item(order=0, type="table", content="x", row_count=1, column_count=2,
             html="<table><tr><td>a</td><td>b</td></tr></table>")
    b = Item(order=1, type="table", content="y", row_count=1, column_count=3,
             html="<table><tr><td>a</td><td>b</td><td>c</td></tr></table>")
    assert len(fix_adjacent_tables([a, b])) == 2


# ---------------------------------------------------------------------------
# KV conversion — R5-R8 semantics (key_value_converter.py)
# ---------------------------------------------------------------------------


def test_kv_blank_line_split():
    text = "Name: John\nAge: 35\n\nName: Jane\nAge: 28"
    headers, records = parse_multi_record_kv(text)
    assert headers == ["Name", "Age"]
    assert records == [{"Name": "John", "Age": "35"},
                       {"Name": "Jane", "Age": "28"}]


def test_kv_repeated_first_key_split():
    text = "Product: Laptop\nPrice: 1200\nProduct: Mouse\nPrice: 25"
    headers, records = parse_multi_record_kv(text)
    assert headers == ["Product", "Price"]
    assert len(records) == 2


def test_kv_single_record_rejected():
    assert parse_multi_record_kv("Name: Solo\nAge: 99") is None


def test_kv_inconsistent_headers_rejected():
    assert parse_multi_record_kv(
        "Name: A\nAge: 1\n\nCity: B\nCountry: C") is None


def test_kv_first_separator_wins():
    text = "Key: a = b\nVal: x\n\nKey: c\nVal: y"
    headers, records = parse_multi_record_kv(text)
    assert records[0]["Key"] == "a = b"


def test_kv_html_escaping():
    items = [Item(order=0, type="paragraph",
                  content="K: <a>&\"'\nV: 1\n\nK: x\nV: 2")]
    convert_kv_items(items)
    assert items[0].type == "kv_table"
    assert "&lt;a&gt;&amp;&quot;&#x27;" in items[0].html


# ---------------------------------------------------------------------------
# PDF extraction
# ---------------------------------------------------------------------------


def test_pdf_magic():
    assert is_pdf(b"%PDF-1.4\n")
    assert not is_pdf(b"<html>")


def test_pdf_flate_roundtrip():
    raw = build_pdf([[(72, 720, 12, ["hello world"])]], compress=True)
    res = extract_pdf(raw)
    assert res.error is None
    assert res.text == "hello world"


def test_pdf_reading_order_two_columns():
    raw = build_pdf([[
        (72, 720, 12, ["L1", "L2", "L3"]),
        (340, 720, 12, ["R1", "R2", "R3"]),
    ]])
    res = extract_pdf(raw)
    assert res.text.index("L3") < res.text.index("R1")


def test_pdf_multipage_order():
    raw = build_pdf([
        [(72, 720, 12, ["page one text"])],
        [(72, 720, 12, ["page two text"])],
    ])
    res = extract_pdf(raw)
    assert res.n_pages == 2
    assert res.text.index("page one") < res.text.index("page two")


def _table_page(y_rows, cells_fn, size=10):
    return [(x, y, size, [cells_fn(r, c)])
            for r, y in enumerate(y_rows)
            for c, x in enumerate((72, 200, 330))]


def test_pdf_table_detection():
    """Column-aligned line grids become table items with html + counts;
    surrounding single-run lines stay paragraphs."""
    page = [(72, 740, 12, ["intro paragraph line"])] + \
        _table_page([700, 688, 676], lambda r, c: f"r{r}c{c}")
    res = extract_pdf(build_pdf([page]))
    tables = [it for it in res.items if it["type"] == "table"]
    assert len(tables) == 1
    t = tables[0]
    assert t["rows"] == 3 and t["cols"] == 3
    assert "<table><tbody><tr><td>r0c0</td>" in t["html"]
    assert t["text"].splitlines()[0] == "r0c0 | r0c1 | r0c2"
    assert [it["type"] for it in res.items] == ["paragraph", "table"]


def test_pdf_adjacent_tables_merge_iff_gap_under_5pct():
    """R3, the real pct rule (content_structure_fixer.py:120-177): two
    stacked tables merge iff the vertical gap is under 5% of page
    height (39.6 pt at 792)."""
    def pdf_with_gap(y2_top):
        page = (_table_page([700, 688], lambda r, c: f"a{r}{c}")
                + _table_page([y2_top, y2_top - 12],
                              lambda r, c: f"b{r}{c}"))
        return extract_pdf(build_pdf([page]))

    near = pdf_with_gap(650)      # gap ≈3.5% of page height → merge
    tables = [it for it in near.items if it["type"] == "table"]
    assert len(tables) == 1
    assert tables[0]["rows"] == 4
    assert tables[0]["html"].count("<tbody>") == 1
    assert "a10" in tables[0]["text"] and "b00" in tables[0]["text"]
    assert tables[0]["pos"]["y_end"] > 13.0   # extended to 2nd table

    far = pdf_with_gap(600)       # gap ≈9.9% → two tables survive
    tables = [it for it in far.items if it["type"] == "table"]
    assert len(tables) == 2
    assert [t["rows"] for t in tables] == [2, 2]


def test_pdf_table_items_through_extract_payload():
    """Table items surface through the unified dispatch with html,
    row/column counts, positions, and a table span."""
    from document_extractor_spark.extractor.core import extract_payload

    page = _table_page([700, 688], lambda r, c: f"v{r}{c}")
    rec = extract_payload(build_pdf([page]), "u", include_items=True)
    assert rec["parse_error"] is None
    its = [i for i in rec["content_items"] if i["type"] == "table"]
    assert len(its) == 1 and its[0]["row_count"] == 2
    assert its[0]["column_count"] == 3
    assert its[0]["position"]["y_start"] < its[0]["position"]["y_end"]
    assert any(s["type"] == "table" for s in rec["spans"])


def test_pdf_two_columns_not_a_table():
    """A wide-gap 2-run layout stays a 2-column page (the documented
    2-column-table ambiguity resolves in favor of page columns)."""
    raw = build_pdf([[
        (72, 720, 12, ["L1", "L2", "L3"]),
        (340, 720, 12, ["R1", "R2", "R3"]),
    ]])
    res = extract_pdf(raw)
    assert not [it for it in res.items if it["type"] == "table"]
    assert res.max_columns == 2


def test_pdf_escapes_and_hex():
    raw = build_pdf([[(72, 720, 12, ["paren (x) and \\ slash"])]])
    res = extract_pdf(raw)
    assert "paren (x) and \\ slash" in res.text


# ---------------------------------------------------------------------------
# Error isolation — never raise (X1 semantics, pdf_processor.py:227-235)
# ---------------------------------------------------------------------------


def test_garbage_payload_yields_error_record():
    rec = extract_payload(b"%PDF-\x00\xff garbage", url="u")
    assert rec["extracted_text"] == ""
    # a broken PDF may parse to zero pages (empty text, no error) or error;
    # either way the record survives and the task does not fail
    rec2 = extract_payload(None, url="u")
    assert rec2["parse_error"] == "EmptyPayload"
    rec3 = extract_payload(b"", url="u")
    assert rec3["parse_error"] == "EmptyPayload"


def test_empty_html_ok():
    rec = extract_payload(b"<html><body></body></html>", url="u")
    assert rec["parse_error"] is None
    assert rec["extracted_text"] == ""


# ---------------------------------------------------------------------------
# Language ID
# ---------------------------------------------------------------------------


def test_langid():
    assert detect_lang("the cat is on the mat and it is warm") == "en"
    assert detect_lang("der hund ist nicht mit der katze und über alles") == "de"
    assert detect_lang("これは日本語のテキストです。抽出を検証します。") == "ja"
    assert detect_lang("") == "und"
    assert detect_lang("zzz qqq xxx") == "und"


# ---------------------------------------------------------------------------
# Corpus generator
# ---------------------------------------------------------------------------


def test_corpus_deterministic():
    a = list(corpus_rows(50, seed=7))
    b = list(corpus_rows(50, seed=7))
    assert a == b
    assert len({r["url"] for r in a}) == 50


def test_corpus_zipfian_hosts():
    hosts = [r["url"].split("/")[2] for r in corpus_rows(500, seed=42)]
    from collections import Counter
    top = Counter(hosts).most_common(1)[0][1]
    assert top > 500 * 0.05  # head host clearly hot → salting is exercised


def test_corpus_mixed_payloads():
    rows = list(corpus_rows(200, seed=42))
    n_pdf = sum(1 for r in rows if r["html"][:5] == b"%PDF-")
    assert 0 < n_pdf < 40
    for r in rows[:20]:
        rec = extract_payload(r["html"], url=r["url"])
        assert rec["parse_error"] is None
        assert rec["extracted_text"]


# ---------------------------------------------------------------------------
# Table structure refinement (E4/E5 — openai_content_extractor.py:355-444)
# ---------------------------------------------------------------------------


def test_table_span_expansion():
    """colspan/rowspan cover their grid positions with the spanning cell's
    text; ragged rows are padded; result is rectangular."""
    from document_extractor_spark.extractor.html_extract import extract_html
    html = (b"<main><p>Intro paragraph with enough words to satisfy the "
            b"content classifier threshold comfortably today.</p>"
            b"<table><tr><th rowspan='2'>A</th><th colspan='2'>BC</th></tr>"
            b"<tr><td>B</td><td>C</td></tr>"
            b"<tr><td>x</td><td>1</td></tr></table></main>")
    res = extract_html(html)
    tables = [it for it in res.items if it.type == "table"]
    assert len(tables) == 1
    t = tables[0]
    assert t.row_count == 3 and t.column_count == 3
    assert t.content.split("\n") == ["A\tBC\tBC", "A\tB\tC", "x\t1\t"]


def test_table_ragged_rows_padded():
    from document_extractor_spark.extractor.html_extract import extract_html
    html = (b"<main><p>Intro paragraph with enough words to satisfy the "
            b"content classifier threshold comfortably today.</p>"
            b"<table><tr><td>a</td><td>b</td><td>c</td></tr>"
            b"<tr><td>d</td></tr></table></main>")
    res = extract_html(html)
    t = [it for it in res.items if it.type == "table"][0]
    assert t.content.split("\n") == ["a\tb\tc", "d\t\t"]
    assert t.row_count == 2 and t.column_count == 3


def test_refine_table_html_idempotent():
    from document_extractor_spark.extractor.html_extract import refine_table_html
    src = ("<table><tr><th rowspan='2'>A</th><th colspan='2'>BC</th></tr>"
           "<tr><td>B</td><td>C</td></tr></table>")
    once = refine_table_html(src)
    assert refine_table_html(once) == once
    assert once.count("<tr>") == 2
    assert once.count("<td>") == 6


# ---------------------------------------------------------------------------
# S1 PDF metadata + binary-payload guard
# ---------------------------------------------------------------------------


def test_pdf_metadata_info_dict():
    from document_extractor_spark.extractor.pdf_extract import pdf_metadata
    from document_extractor_spark.sources.generator import build_pdf

    pdf = build_pdf([[(72, 720, 12, ["Line one"])], [(72, 720, 12, ["p2"])]],
                    compress=True,
                    info={"Title": "A (nested) title", "Author": "Jane",
                          "Producer": "gen", "CreationDate": "D:20260301"})
    m = pdf_metadata(pdf)
    assert m["title"] == "A (nested) title"
    assert m["author"] == "Jane"
    assert m["creation_date"] == "D:20260301"
    assert m["total_pages"] == 2
    assert m["page_width"] == 612.0 and m["page_height"] == 792.0


def test_pdf_metadata_never_raises():
    from document_extractor_spark.extractor.pdf_extract import pdf_metadata

    assert pdf_metadata(b"%PDF-1.4 truncated")["total_pages"] == 0
    assert pdf_metadata(b"not a pdf")["is_pdf"] is False


def test_binary_payload_guard():
    rec = extract_payload(bytes(range(256)) * 8, url="u")
    assert rec["parse_error"] == "BinaryPayload"
    assert rec["extracted_text"] == ""
    # real text with a couple of stray control bytes is NOT flagged
    ok = extract_payload(b"<p>normal\x01 text with plenty of words to "
                         b"score as content in the classifier</p>" * 3,
                         url="u")
    assert ok["parse_error"] is None


# ---------------------------------------------------------------------------
# Hostile-input bounds (round-2 ADVICE: unclamped colspan/rowspan wedge)
# ---------------------------------------------------------------------------


def test_hostile_colspan_bounded_time_and_size():
    """A tiny page with colspan=5000000 rowspan=40 must neither wedge the
    CPU nor allocate a multi-GB grid: spans are clamped to the HTML-spec
    limits and the expanded grid obeys a total cell budget."""
    import time
    from document_extractor_spark.extractor.html_extract import extract_html

    hostile = (b"<table><tr><td colspan='5000000' rowspan='40'>x</td></tr>"
               b"</table>")
    t0 = time.monotonic()
    res = extract_html(hostile)
    assert time.monotonic() - t0 < 5.0
    assert len(res.text) < 2_000_000

    # the MemoryError-range value, and a hostile rowspan for symmetry
    for blob in (b"<table><tr><td colspan='2000000000'>x</td></tr></table>",
                 b"<table><tr><td rowspan='2000000000'>x</td></tr></table>"):
        t0 = time.monotonic()
        res = extract_html(blob)
        assert time.monotonic() - t0 < 5.0
        assert res.error is None


def test_hostile_many_rows_one_wide_row_bounded():
    """Padding every row to one hostile wide row must obey the same cell
    budget (rows x width would otherwise explode)."""
    import time
    from document_extractor_spark.extractor.html_extract import extract_html

    rows = b"<tr><td>a</td></tr>" * 5000
    hostile = (b"<table><tr><td colspan='1000'>w</td></tr>" + rows
               + b"</table>")
    t0 = time.monotonic()
    res = extract_html(hostile)
    assert time.monotonic() - t0 < 5.0
    assert len(res.text) < 4_000_000


def test_legit_spans_unaffected_by_clamp():
    """Spec-range spans still expand exactly as before the clamp."""
    from document_extractor_spark.extractor.html_extract import refine_table_html
    src = ("<table><tr><td colspan='3'>abc</td></tr>"
           "<tr><td>a</td><td>b</td><td>c</td></tr></table>")
    out = refine_table_html(src)
    assert out.count("abc") == 3  # replicated into all 3 covered cells


def test_unquoted_trailing_slash_is_not_selfclosing():
    """`<a href=/about/>` — html.parser treats the slash as part of the
    unquoted attribute value, so the anchor must stay OPEN and its text
    must count as link words (link-density boilerplate classification
    depends on this)."""
    from document_extractor_spark.extractor.html_extract import flatten

    fl = flatten("<html><body><p><a href=/about/>click here now</a> and "
                 "surrounding prose words</p></body></html>")
    blk = [b for b in fl.blocks if "click here now" in b.text][0]
    assert blk.n_link_words == 3

    # genuinely self-closing forms still close
    fl2 = flatten("<p>one<br/>two<br />three<img src='x'/>four</p>")
    assert "one" in fl2.blocks[0].text and "four" in fl2.blocks[0].text


# ---------------------------------------------------------------------------
# Round 2: formatting flags, image items, chrome items, layout
# ---------------------------------------------------------------------------

_CONTENT_P = ("<p>Intro paragraph with enough words to satisfy the content "
              "classifier threshold comfortably today.</p>")


def test_formatting_flags_on_items():
    html = ("<main>" + _CONTENT_P +
            "<p><strong><em>Fully bold italic sentence with plenty of words "
            "to classify as content.</em></strong></p>"
            "<p><b>Only the start is bold</b> but the rest of this long "
            "sentence is plain prose text.</p></main>").encode()
    res = extract_html(html)
    paras = [it for it in res.items if it.type == "paragraph"]
    assert paras[1].bold and paras[1].italic and not paras[1].underline
    # mixed formatting → flags only when ALL words are formatted
    assert not paras[2].bold


def test_alignment_from_style():
    html = ("<main>" + _CONTENT_P +
            "<p style='text-align: center'>A centered paragraph long enough "
            "to be kept by the classifier as content today.</p></main>"
            ).encode()
    res = extract_html(html)
    paras = [it for it in res.items if it.type == "paragraph"]
    assert paras[0].alignment is None
    assert paras[1].alignment == "center"


def test_image_items_block_level():
    html = ("<main>" + _CONTENT_P +
            "<figure><img src='/pic.jpg' alt='a nice chart'>"
            "<figcaption>The caption</figcaption></figure></main>").encode()
    res = extract_html(html)
    types = [it.type for it in res.items]
    assert types == ["paragraph", "image", "caption"]
    img = res.items[1]
    assert img.src == "/pic.jpg" and img.content == "a nice chart"


def test_inline_image_does_not_split_paragraph():
    html = ("<main><p>Leading words of a long sentence "
            "<img src='/icon.png' alt='icon'> trailing words keep flowing "
            "in the same paragraph for the classifier.</p></main>").encode()
    res = extract_html(html)
    assert [it.type for it in res.items] == ["paragraph"]
    assert "icon" not in res.text


def test_list_type_ordered():
    html = ("<main>" + _CONTENT_P +
            "<ol><li>first step of procedure</li><li>second step follows"
            "</li><li>third step concludes the sequence</li></ol>"
            "<ul><li>alpha bullet one here</li><li>beta bullet two here</li>"
            "<li>gamma bullet three here</li></ul></main>").encode()
    res = extract_html(html)
    lists = [it for it in res.items if it.type == "list"]
    assert [lt.list_type for lt in lists] == ["ordered", "unordered"]


def test_emit_chrome_typed_items():
    html = ("<html><body><header><a href='/'>Home</a> <a href='/x'>X</a>"
            "</header><nav><ul><li><a href='/a'>A</a></li></ul></nav>"
            "<main>" + _CONTENT_P + "</main>"
            "<footer><p>Copyright 2026 Example.</p></footer></body></html>"
            ).encode()
    off = extract_html(html)
    assert [it.type for it in off.items] == ["paragraph"]
    on = extract_html(html, emit_chrome=True)
    types = [it.type for it in on.items]
    assert types == ["page_header", "paragraph", "page_footer"]
    assert on.items[0].content == "Home X"
    assert on.items[2].content == "Copyright 2026 Example."
    # nav stays dropped even with chrome emission
    assert not any("A" == it.content for it in on.items)
    # spans still tile the (chrome-bearing) text
    parts = [on.text[s:e] for s, e, _t in on.spans]
    assert "\n\n".join(parts) == on.text


def test_layout_struct_html_and_pdf():
    html = ("<html><body><header><p>Top</p></header><main "
            "style='column-count: 3'>" + _CONTENT_P + "</main></body></html>"
            ).encode()
    rec = extract_payload(html, url="u", include_layout=True)
    assert {k: v for k, v in rec["layout"].items()
            if not k.startswith("margin_")} == {
        "columns": 3, "has_header": True, "has_footer": False}
    two_col = build_pdf([[
        (72, 700, 12, "Left column text"), (400, 700, 12, "Right column"),
        (72, 680, 12, "more left"), (400, 680, 12, "more right"),
    ]])
    rec2 = extract_payload(two_col, url="u", include_layout=True)
    assert rec2["layout"]["columns"] == 2
    assert rec2["layout"]["has_header"] is False


def test_pdf_items_carry_font_size():
    pdf = build_pdf([[(72, 700, 18, "Big Title"),
                      (72, 660, 10, "Body text paragraph here")]])
    rec = extract_payload(pdf, url="u", include_items=True)
    sizes = {it["type"]: it["font_size"] for it in rec["content_items"]}
    assert sizes.get("header") == 18.0


def test_pdf_item_positions_two_column():
    """Position bboxes (page pct from top-left, openai_content_extractor.py
    :167-173): a two-column page must yield items whose x_start separates
    the columns and whose y coords come from baseline/ascent math on the
    612x792 mediabox."""
    pdf = build_pdf([[
        (72, 720, 12, ["left column line one", "left column line two"]),
        (340, 720, 12, ["right column line one", "right column line two"]),
    ]])
    rec = extract_payload(pdf, url="u", include_items=True,
                          include_layout=True)
    items = rec["content_items"]
    assert len(items) == 2
    left, right = items[0]["position"], items[1]["position"]
    assert left["x_start"] == round(100 * 72 / 612, 2)
    assert right["x_start"] == round(100 * 340 / 612, 2)
    assert left["x_start"] < right["x_start"] <= right["x_end"] <= 100.0
    # first-line top = baseline 720 + 12pt ascent; last baseline 705.6
    assert left["y_start"] == round(100 * (792 - 732) / 792, 2)
    assert left["y_end"] == round(100 * (792 - 705.6) / 792, 2)
    assert rec["layout"]["columns"] == 2


def test_pdf_layout_margins_from_text_extents():
    """margin_*_percent (openai_content_extractor.py:195-198): distance
    from each page edge to the union of item bboxes, as percentages."""
    pdf = build_pdf([[(100, 692, 12, ["x" * 20])]])
    rec = extract_payload(pdf, url="u", include_items=True,
                          include_layout=True)
    lay = rec["layout"]
    assert lay["margin_left_percent"] == round(100 * 100 / 612, 2)
    assert lay["margin_top_percent"] == round(100 * (792 - 704) / 792, 2)
    assert lay["margin_bottom_percent"] == round(100 * 692 / 792, 2)
    # right margin backs out the 0.55 em/char advance estimate
    x_end = 100 + 0.55 * 12 * 20
    assert lay["margin_right_percent"] == round(100 - 100 * x_end / 612, 2)
    # HTML pages have no pixel geometry — margins stay NULL
    rec2 = extract_payload(b"<html><body><main><p>" + b"w " * 60
                           + b"</p></main></body></html>",
                           url="u", include_layout=True)
    assert rec2["layout"]["margin_left_percent"] is None


def test_html_item_positions_reading_order():
    """HTML items carry the reading-order position substitute: y pct =
    char-offset pct of the assembled text, monotone in order."""
    html = (b"<html><body><main><h1>Title here</h1><p>"
            + b"alpha " * 40 + b"</p><p>" + b"beta " * 40
            + b"</p></main></body></html>")
    rec = extract_payload(html, url="u", include_items=True)
    ps = [it["position"] for it in rec["content_items"]]
    assert len(ps) >= 3
    assert ps[0]["y_start"] == 0.0 and ps[-1]["y_end"] == 100.0
    for a, b in zip(ps, ps[1:]):
        assert a["y_end"] <= b["y_start"]
    assert all(p["x_start"] == 0.0 and p["x_end"] == 100.0 for p in ps)


def test_langid_batch_parity_corpus():
    """The vectorized batch kernel must agree with the scalar reference
    on the full fixture + synthetic corpus and on adversarial samples."""
    from document_extractor_spark.extractor.langid import (
        detect_lang,
        detect_langs_batch,
    )

    texts = []
    for row in fixture_rows():
        rec = extract_payload(row["html"], url=row["url"])
        texts.append(rec["extracted_text"])
    for row in corpus_rows(120, seed=5):
        texts.append((row.get("html") or b"").decode("utf-8", "replace")[:3000])
    texts += [
        "", None, "\x00\x00", "a b", "the and", "the and is",
        "это русский текст кириллица здесь преобладает явно и всюду",
        "한국어 본문 음절 글자 비율이 높습니다 한국어 본문 글자",
        "word " * 500 + "the and is of to in",   # stopwords past the cutoff
        "the and is of to in " + "word " * 500,
        "mixed 中文 characters but mostly english the and is of to",
    ]
    batch = detect_langs_batch(texts)
    for t, b in zip(texts, batch):
        assert detect_lang(t or "") == b, repr((t or "")[:60])




def test_image_type_classification():
    from document_extractor_spark.extractor.html_extract import (
        classify_image_type,
        extract_html,
    )

    assert classify_image_type("/img/q3-chart.png", "", None, None) == "chart"
    assert classify_image_type("/logo.svg", "", None, None) == "logo"
    assert classify_image_type("/x.png", "system diagram", None, None) \
        == "diagram"
    assert classify_image_type("/x.png", "", 16, 16) == "decoration"
    assert classify_image_type("/holiday.jpg", "beach", 800, 600) == "photo"

    html = ("<main>" + _CONTENT_P +
            "<figure><img src='/sales-chart.png' alt='Q3 sales' "
            "width='640' height='480'></figure></main>").encode()
    res = extract_html(html)
    img = [it for it in res.items if it.type == "image"][0]
    assert img.image_type == "chart"


# ---------------------------------------------------------------------------
# Whitespace the flattener does not collapse: NBSP, U+2003, U+3000, NEL and
# the \x1c-\x1f separators stay in the text, but ``str.split`` (word
# counts) and ``str.strip`` (block edges) treat them as whitespace.
# ---------------------------------------------------------------------------

_ODD_WS = "\xa0\u2003\u3000\x85\x1c\x1d\x1e\x1f"


@pytest.mark.parametrize("html, text, n_words, n_link_words", [
    # one fragment
    (f"<p>{_ODD_WS}one{_ODD_WS}two \xa0 three{_ODD_WS}</p>",
     f"one{_ODD_WS}two \xa0 three", 3, 0),
    # several fragments
    (f"<p>{_ODD_WS}one <b>two{_ODD_WS}three</b>{_ODD_WS}four "
     f"<a href=/x>five\u3000six</a>{_ODD_WS}</p>",
     f"one two{_ODD_WS}three{_ODD_WS}four five\u3000six", 6, 2),
    # <pre> keeps everything but its edge newlines
    (f"<pre>{_ODD_WS}one{_ODD_WS}two\n  three{_ODD_WS}</pre>",
     f"{_ODD_WS}one{_ODD_WS}two\n  three{_ODD_WS}", 3, 0),
    # table cells
    (f"<table><tr><td>{_ODD_WS}one{_ODD_WS}two</td>"
     f"<td>a\x85b <i>c\u2003d</i>{_ODD_WS}</td></tr></table>",
     f"one{_ODD_WS}two\ta\x85b c\u2003d", 6, 0),
])
def test_odd_whitespace_kept_in_text_but_splits_words(html, text, n_words,
                                                      n_link_words):
    from document_extractor_spark.extractor.html_extract import flatten

    (b,) = flatten(html).blocks
    assert (b.text, b.n_words, b.n_link_words) == (text, n_words,
                                                   n_link_words)
    if b.tag == "table":
        assert b.table_grid == [text.split("\t")]


def test_entities_kept_raw_in_text_after_the_last_tag():
    """Entities are decoded in text runs that end at a tag; the run after
    the last tag of a page (a truncated page) is kept as it stands."""
    from document_extractor_spark.extractor.html_extract import flatten

    raw = flatten("<p>a</p>Tom &amp; Jerry").blocks
    assert [(b.tag, b.text, b.n_words) for b in raw] == [
        ("p", "a", 1), ("body", "Tom &amp; Jerry", 3)]
    decoded = flatten("<p>a</p>Tom &amp; Jerry<br>").blocks
    assert decoded[1].text == "Tom & Jerry"


def test_inline_tag_opened_in_a_table_outlives_the_table():
    """Inside a table every start tag is pushed on the open-tag stack, so
    an inline tag left open there stays an ancestor of what follows once
    an outer end tag has popped the table itself."""
    from document_extractor_spark.extractor.html_extract import flatten

    fl = flatten("<div><table><tr><td></div><span>x</td></table><p>y</p>z")
    assert [(b.tag, b.ancestors, b.text) for b in fl.blocks] == [
        ("table", ("span",), "x"), ("p", ("span",), "y"),
        ("body", (), "z")]
    # column-count counts on any structural start tag, <body> included
    assert flatten('<body style="column-count:3"><p>a</p>').columns == 3


def test_text_run_of_invalid_char_refs_is_no_fragment():
    """``&#5;`` decodes to nothing: the empty run is no fragment, so it
    neither makes a block nor keeps the next image inline."""
    from document_extractor_spark.extractor.html_extract import flatten

    def blocks(html):
        return [(b.tag, b.text, b.n_words, b.table_grid)
                for b in flatten(html).blocks]

    assert blocks("<p>x</p>&#5;<p>y</p>") == [
        ("p", "x", 1, None), ("p", "y", 1, None)]
    assert blocks("<p>&#5;</p>") == []
    assert blocks("<p>a<b>&#5;</b></p><img src=i.png>") == [
        ("p", "a", 1, None), ("img", "", 0, None)]
    assert blocks("<table><tr><td>&#5;</td><td>&#1;x</td></tr></table>") \
        == [("table", "\tx", 1, [["", "x"]])]
