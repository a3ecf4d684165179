"""Relational table-cell export (operators/tables.py)."""

from document_extractor_spark.operators.tables import table_cells


def _pages(spark, payloads):
    rows = [(f"https://t.example.org/{i}", bytearray(p))
            for i, p in enumerate(payloads)]
    return spark.createDataFrame(rows, "url string, html binary")


def test_cells_ragged_and_multi_table(spark):
    page = (b"<html><body><main><h1>T</h1>"
            b"<table><tr><th>a</th><th>b</th></tr>"
            b"<tr><td>1</td><td>2</td></tr></table>"
            b"<p>between tables some words here</p>"
            b"<table><tr><td>x</td></tr>"
            b"<tr><td>y</td><td>z</td></tr></table>"  # ragged
            b"</main></body></html>")
    got = table_cells(_pages(spark, [page])).collect()
    by_key = {(r["table_idx"], r["row"], r["col"]): r["value"]
              for r in got}
    assert by_key[(0, 0, 0)] == "a" and by_key[(0, 1, 1)] == "2"
    assert by_key[(1, 0, 0)] == "x"
    assert by_key[(1, 1, 0)] == "y" and by_key[(1, 1, 1)] == "z"
    # ragged first row arrives E5-backfilled to the grid width
    assert by_key[(1, 0, 1)] == ""


def test_no_tables_no_rows(spark):
    page = b"<html><body><main><p>plain prose only here</p></main></body></html>"
    assert table_cells(_pages(spark, [page])).count() == 0


def test_cells_of_a_pdf_table(spark):
    """PDF table items carry the same tab grid as HTML tables, so a
    3-column PDF row gives three cells."""
    from document_extractor_spark.sources.generator import build_pdf

    page = [(72, 740, 12, ["intro paragraph line"])] + [
        (x, y, 10, [f"r{r}c{c}"]) for r, y in enumerate((700, 688))
        for c, x in enumerate((72, 200, 330))]
    got = table_cells(_pages(spark, [build_pdf([page])])).collect()
    assert {(r["table_idx"], r["row"], r["col"]): r["value"]
            for r in got} == {(0, r, c): f"r{r}c{c}"
                              for r in range(2) for c in range(3)}
