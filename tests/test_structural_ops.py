"""Unit tests for the structural operator families added per SURVEY.md:
KV pivot (R5-R8), JSON repair (S7), multi-page continuation merge
(M1-M3, incl. the table-splice path), media explode + link (S3/I2)."""

import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest

from document_extractor_spark.operators.kvpivot import kv_long, kv_records_to_table
from document_extractor_spark.operators.media import (
    caption_items,
    explode_images,
    link_images_to_content,
)
from document_extractor_spark.operators.multipage import merge_continuations
from document_extractor_spark.sources.jsonrepair import parse_json_relaxed


# ---------------------------------------------------------------------------
# KV pivot
# ---------------------------------------------------------------------------


def test_kv_long_first_separator_wins(spark):
    df = spark.createDataFrame(
        [(1, "Url: https://x/a\nRatio - 3:2")], ["doc_id", "text"]
    )
    rows = {r.key: r.value for r in kv_long(df).collect()}
    # ':' at offset 3 beats ' - '; ' - ' wins on the second line
    assert rows["Url"] == "https://x/a"
    assert rows["Ratio"] == "3:2"


def test_kv_pivot_roundtrip(spark):
    df = spark.createDataFrame(
        [(7, "Name: A\nAge: 30\n\nName: B\nAge: 31")], ["doc_id", "text"]
    )
    out = {
        (r.doc_id, r.record_id): (r.Name, r.Age)
        for r in kv_records_to_table(df, keys=["Name", "Age"]).collect()
    }
    assert out == {(7, 0): ("A", "30"), (7, 1): ("B", "31")}


# ---------------------------------------------------------------------------
# JSON repair
# ---------------------------------------------------------------------------


def test_json_repair_paths(spark):
    schema = T.StructType([
        T.StructField("a", T.LongType()), T.StructField("b", T.StringType())
    ])
    df = spark.createDataFrame(
        [
            (1, '{"a": 1, "b": "x"}'),                      # clean
            (2, '```json\n{"a": 2, "b": "y",}\n```'),       # fenced+comma
            (3, '{"a": 3, "b": "z\x01z"}'),                  # control char
            (4, "not json at all"),                          # unrepairable
        ],
        ["id", "raw"],
    )
    out = {r.id: r for r in parse_json_relaxed(df, schema).collect()}
    assert out[1].parse_ok and not out[1].was_repaired
    assert out[2].parse_ok and out[2].was_repaired
    assert out[2].parsed.a == 2 and out[2].parsed.b == "y"
    assert out[3].parse_ok and out[3].was_repaired
    assert out[3].parsed.b == "zz"
    assert not out[4].parse_ok and not out[4].was_repaired
    assert out[4].parsed is None


# ---------------------------------------------------------------------------
# Multi-page continuation merge
# ---------------------------------------------------------------------------

_ITEM_COLS = T.StructType([
    T.StructField("article_id", T.LongType()),
    T.StructField("page_num", T.IntegerType()),
    T.StructField("order", T.IntegerType()),
    T.StructField("type", T.StringType()),
    T.StructField("content", T.StringType()),
    T.StructField("html", T.StringType()),
    T.StructField("row_count", T.IntegerType()),
    T.StructField("column_count", T.IntegerType()),
])


def test_multipage_prose_merge(spark):
    rows = [
        (1, 1, 0, "header", "Title", None, 0, 0),
        (1, 1, 1, "paragraph", "The sentence starts here and", None, 0, 0),
        (1, 2, 0, "paragraph", "continues on the next page.", None, 0, 0),
        (1, 2, 1, "paragraph", "A fresh paragraph.", None, 0, 0),
    ]
    out = merge_continuations(spark.createDataFrame(rows, _ITEM_COLS)) \
        .orderBy("order").collect()
    assert [r.type for r in out] == ["header", "paragraph", "paragraph"]
    assert out[1].content == \
        "The sentence starts here and continues on the next page."
    assert out[1].pages == [1, 2] and out[1].n_merged == 2
    assert out[2].n_merged == 1


def test_multipage_merged_from_lineage(spark):
    """Every merged item carries (page, item_order) source lineage — the
    structural twin of the reference's continuation_of id links
    (openai_content_extractor_multipage.py:92-137), so a merged row is
    auditable back to exactly the items it absorbed."""
    rows = [
        (1, 1, 0, "header", "Title", None, 0, 0),
        (1, 1, 1, "paragraph", "The sentence starts here and", None, 0, 0),
        (1, 2, 0, "paragraph", "continues on the next page.", None, 0, 0),
        (1, 2, 1, "paragraph", "A fresh paragraph.", None, 0, 0),
    ]
    out = merge_continuations(spark.createDataFrame(rows, _ITEM_COLS)) \
        .orderBy("order").collect()
    lineage = [[(m.page, m.item_order) for m in r.merged_from] for r in out]
    assert lineage == [[(1, 0)], [(1, 1), (2, 0)], [(2, 1)]]


def test_multipage_table_splice(spark):
    t1 = "<table><tr><td>a</td><td>1</td></tr></table>"
    t2 = "<table><tr><td>b</td><td>2</td></tr></table>"
    rows = [
        (5, 1, 0, "table", "a\t1", t1, 1, 2),
        (5, 2, 0, "table", "b\t2", t2, 1, 2),
    ]
    out = merge_continuations(spark.createDataFrame(rows, _ITEM_COLS)).collect()
    assert len(out) == 1
    m = out[0]
    assert m.row_count == 2 and m.content == "a\t1\nb\t2"
    assert m.html == ("<table><tr><td>a</td><td>1</td></tr>"
                      "<tr><td>b</td><td>2</td></tr></table>")
    assert m.pages == [1, 2]


def test_multipage_no_merge_on_capital_start(spark):
    rows = [
        (9, 1, 0, "paragraph", "First page paragraph.", None, 0, 0),
        (9, 2, 0, "paragraph", "Capitalized fresh start.", None, 0, 0),
    ]
    out = merge_continuations(spark.createDataFrame(rows, _ITEM_COLS)).collect()
    assert len(out) == 2


def test_multipage_column_count_mismatch_no_splice(spark):
    rows = [
        (5, 1, 0, "table", "a\t1", "<table></table>", 1, 2),
        (5, 2, 0, "table", "b\t2\t3", "<table></table>", 1, 3),
    ]
    out = merge_continuations(spark.createDataFrame(rows, _ITEM_COLS)).collect()
    assert len(out) == 2


def test_multipage_table_without_html_stays_apart(spark):
    """M3 merges a table continuation only when the rows splice: a parent
    table with no HTML keeps its continuation as a second item, so
    content, row_count and HTML never disagree."""
    t2 = "<table><tr><td>b</td><td>2</td></tr></table>"
    rows = [
        (5, 1, 0, "table", "a\t1", None, 1, 2),
        (5, 2, 0, "table", "b\t2", t2, 1, 2),
    ]
    out = merge_continuations(spark.createDataFrame(rows, _ITEM_COLS)) \
        .orderBy("order").collect()
    assert [(r.content, r.html, r.row_count) for r in out] == \
        [("a\t1", None, 1), ("b\t2", t2, 1)]


def test_multipage_null_numeric_columns(spark):
    """A NULL row_count / column_count merges as 0."""
    rows = [
        (7, 1, 0, "paragraph", "starts here and", None, None, None),
        (7, 2, 0, "paragraph", "continues onward.", None, None, None),
        (7, 2, 1, "table", "x\t1", "<table></table>", None, None),
    ]
    out = merge_continuations(spark.createDataFrame(rows, _ITEM_COLS)) \
        .orderBy("order").collect()
    assert [r.type for r in out] == ["paragraph", "table"]
    assert out[0].content == "starts here and continues onward."
    assert out[1].row_count == 0 and out[1].column_count == 0


def test_multipage_merge_across_arrow_batches(spark):
    """The streaming kernel carries the open trailing article across
    Arrow batch boundaries: with maxRecordsPerBatch=2, a 6-page article
    spans 3+ batches and must still merge into one item. This is the
    bounded-memory design: peak per-worker merge input = one Arrow batch + one
    article, never corpus/buckets."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, "10000")
    spark.conf.set(key, "2")
    try:
        rows = []
        for page in range(1, 7):
            frag = ("the opening sentence begins and" if page == 1
                    else "keeps running across pages and")
            rows.append((11, page, 0, "paragraph", frag, None, 0, 0))
        rows.append((12, 1, 0, "paragraph", "Another article.", None, 0, 0))
        out = merge_continuations(
            spark.createDataFrame(rows, _ITEM_COLS), partitions=1
        ).orderBy("article_id").collect()
        assert len(out) == 2
        assert out[0].n_merged == 6
        assert sorted(out[0].pages) == [1, 2, 3, 4, 5, 6]
        assert out[1].article_id == 12
    finally:
        spark.conf.set(key, old)


def test_multipage_plan_build_runs_no_job(spark):
    """Without ``partitions`` the shuffle is sized by AQE: nothing reads
    the input's partition count, so building the plan over an input
    with a shuffle starts no Spark job."""
    rows = [
        (1, 1, 0, "paragraph", "The sentence starts here and", None, 0, 0),
        (1, 2, 0, "paragraph", "continues on the next page.", None, 0, 0),
    ]
    df = spark.createDataFrame(rows, _ITEM_COLS).repartition(2)
    sc = spark.sparkContext
    sc.setJobGroup("merge_continuations_plan", "plan build only")
    try:
        out = merge_continuations(df)
        jobs = sc.statusTracker().getJobIdsForGroup(
            "merge_continuations_plan")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []
    assert [r.content for r in out.collect()] == [
        "The sentence starts here and continues on the next page."]


# ---------------------------------------------------------------------------
# Media explode + link
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def fig_pages(spark):
    html = (
        "<html><body><main><p>Long enough paragraph keeps the classifier "
        "entirely happy about this page being real content today.</p>"
        "<figure><img src='/img/1.jpg' alt='one'>"
        "<figcaption>First caption</figcaption></figure>"
        "<figure><img src='/img/2.jpg' alt='two'>"
        "<figcaption>Second caption</figcaption></figure>"
        "</main></body></html>"
    ).encode()
    return spark.createDataFrame([("https://x/a", html)], ["url", "html"])


def test_explode_images(spark, fig_pages):
    out = explode_images(fig_pages).orderBy("image_index").collect()
    assert [(r.image_index, r.src, r.alt) for r in out] == [
        (1, "/img/1.jpg", "one"), (2, "/img/2.jpg", "two")
    ]


def test_image_caption_link(spark, fig_pages):
    from document_extractor_spark.operators.extract import extract_pages

    caps = caption_items(extract_pages(fig_pages, with_items=True))
    out = link_images_to_content(explode_images(fig_pages), caps) \
        .orderBy("image_index").collect()
    assert [(r.image_index, r.caption) for r in out] == [
        (1, "First caption"), (2, "Second caption")
    ]


# ---------------------------------------------------------------------------
# Plan quality: scan pruning + S1 probe
# ---------------------------------------------------------------------------


def test_extract_scan_prunes_columns(spark, tmp_path):
    """The extraction plan must push column pruning to the parquet scan:
    ReadSchema carries only url/html/lang, never text or warc_ts."""
    from document_extractor_spark.operators.extract import extract_pages
    from document_extractor_spark.plans import scan_read_schema
    from document_extractor_spark.sources.generator import write_corpus_parquet
    from document_extractor_spark.sources.pages import read_pages

    src = str(tmp_path / "prune_src")
    write_corpus_parquet(src, 30, seed=21, rows_per_file=16)
    rs = scan_read_schema(extract_pages(read_pages(spark, src)))
    assert "url" in rs and "html" in rs
    assert "text" not in rs and "warc_ts" not in rs


def test_pdf_metadata_probe_spark(spark, tmp_path):
    from document_extractor_spark.operators.media import pdf_metadata_probe
    from document_extractor_spark.sources.generator import write_corpus_parquet
    from document_extractor_spark.sources.pages import read_pages

    src = str(tmp_path / "meta_src")
    write_corpus_parquet(src, 120, seed=4, rows_per_file=32)
    out = pdf_metadata_probe(read_pages(spark, src)).collect()
    pdfs = [r for r in out if r.is_pdf]
    assert len(out) == 120 and 0 < len(pdfs) < 30
    for r in pdfs:
        assert r.total_pages >= 1
        assert r.page_width == 612.0


# ---------------------------------------------------------------------------
# Round 2: repetition stats, Gopher flags, BPE-ish tokens
# ---------------------------------------------------------------------------


def test_repetition_stats(spark):
    from document_extractor_spark.operators.textstats import repetition_stats

    rows = [
        (1, "alpha beta\nalpha beta\ngamma delta"),
        (2, "unique one\nunique two"),
        (3, ""),
    ]
    out = {r.doc_id: r for r in repetition_stats(
        spark.createDataFrame(rows, "doc_id bigint, text string")).collect()}
    assert out[1].n_lines == 3
    assert abs(out[1].dup_line_frac - (1 - 2 / 3)) < 1e-6
    # 2 of 3 lines (20 of 31 chars) live in the duplicated line
    assert abs(out[1].dup_line_char_frac - 20 / 31) < 1e-6
    assert out[2].dup_line_frac == 0.0
    assert out[3].n_lines == 0 and out[3].dup_line_frac == 0.0


def test_gopher_flags(spark):
    from document_extractor_spark.operators.textstats import (
        gopher_quality_flags,
    )

    good = ("the quick brown fox jumps over that lazy dog and friends " * 6
            + "with plenty of genuine prose to clear fifty words easily "
              "and some more filler text here now")
    bullets = "\n".join("- item" for _ in range(10))
    out = {r.doc_id: r for r in gopher_quality_flags(
        spark.createDataFrame(
            [(1, good), (2, bullets), (3, "ha " * 60)],
            "doc_id bigint, text string")).collect()}
    assert out[1].passes_gopher
    assert out[2].bullet_line_frac == 1.0 and not out[2].passes_gopher
    assert not out[3].ok_mean_word_len          # mean word len 2 < 3


def test_bpe_token_count_vs_whitespace(spark):
    from document_extractor_spark.functions.text import (
        bpe_token_count,
        token_count,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("don't stop—ever! (really?)",)], "text string")
    r = df.select(token_count("text").alias("ws"),
                  bpe_token_count("text").alias("bpe")).head()
    # punctuation-heavy text: BPE pieces far exceed whitespace tokens
    assert r.ws == 3 and r.bpe == 9


def test_new_query_plans_pruned_and_vectorized(spark):
    """Round-2 driver queries keep the scale-shaped plans: parquet scans
    pruned to exactly the needed columns, Python only as Arrow-batched
    mapInArrow (never BatchEvalPython)."""
    import __spark_entry__ as entry_mod
    from document_extractor_spark.plans import (
        assert_no_python,
        assert_vectorized_python_only,
        scan_read_schema,
    )

    qs = entry_mod.queries()
    sf = "/root/testdata/sf0.001"
    for name in ("image_items", "page_chrome_layout", "formatting_render"):
        df = qs[name](spark, sf)
        assert_vectorized_python_only(df)
        rs = scan_read_schema(df)
        assert "text" in rs and "source" not in rs, (name, rs)
    for name in ("source_quantiles", "gopher_flags", "repetition_stats",
                 "bpe_token_counts"):
        df = qs[name](spark, sf)
        assert_no_python(df)
    rs = scan_read_schema(qs["source_quantiles"](spark, sf))
    assert "text" not in rs and "source" in rs, rs


def test_token_count_empty_text_is_zero(spark):
    """Zero-token edge: empty / whitespace-only text counts 0 tokens
    (a bare split yields [''] → 1; tokens() filters the degenerate
    piece). Non-empty counts are unchanged."""
    from document_extractor_spark.functions.text import token_count

    df = spark.createDataFrame(
        [(1, ""), (2, "   \n\t "), (3, "one two three")],
        "doc_id bigint, text string")
    got = {r.doc_id: r.n for r in
           df.select("doc_id", token_count("text").alias("n")).collect()}
    assert got == {1: 0, 2: 0, 3: 3}


def test_dup_char_fraction_hostile_line_count_bounded(spark):
    """Hostile-input totality: a single document with 30k short lines
    must complete fast (the sorted run-length formulation is O(n log n);
    the old nested filter-in-aggregate was O(n²) ≈ 10⁹ comparisons —
    a single-task straggler). Also checks the exact value."""
    import time

    from document_extractor_spark.operators.textstats import (
        repetition_stats,
    )

    uniq = [f"unique line number {i}" for i in range(15000)]
    dups = ["repeated boilerplate"] * 15000
    text = "\n".join(uniq + dups)
    df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    t0 = time.monotonic()
    row = repetition_stats(df).head()
    elapsed = time.monotonic() - t0
    total = sum(len(x) for x in uniq) + len(dups) * len("repeated boilerplate")
    dup_chars = len(dups) * len("repeated boilerplate")
    assert row.n_lines == 30000
    assert abs(row.dup_line_char_frac - round(dup_chars / total, 6)) < 1e-9
    assert elapsed < 60, f"hostile doc took {elapsed:.1f}s"


def test_dup_char_fraction_matches_naive_definition(spark):
    """The run-length formulation must equal the per-instance definition
    (chars of every line whose value occurs >1 times) on a mixed doc."""
    from document_extractor_spark.functions.text import (
        _nonempty_lines,
        dup_char_fraction,
    )
    from pyspark.sql import functions as F

    lines = ["aa", "bbb", "aa", "cccc", "bbb", "aa", "d"]
    text = "\n".join(lines)
    from collections import Counter

    c = Counter(lines)
    dup = sum(len(x) for x in lines if c[x] > 1)
    total = sum(len(x) for x in lines)
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(
        F.round(dup_char_fraction(_nonempty_lines("text", "\n")), 6)
        .alias("f")).head().f
    assert abs(got - round(dup / total, 6)) < 1e-9


def test_host_stats_partial_agg_before_exchange(spark):
    """Batch A4 twin: host parsed JVM-side, and the plan shows map-side
    partial aggregation BEFORE the host exchange (the Zipfian-skew
    bound: a mega-host reaches its reducer as one merged row per map
    partition)."""
    from document_extractor_spark.operators.textstats import host_stats
    from document_extractor_spark.plans import (
        assert_no_python,
        physical_plan,
    )

    rows = [(f"https://h{i % 3}.example.org/p/{i}", i * 10,
             "E" if i % 5 == 0 else None) for i in range(30)]
    df = spark.createDataFrame(
        rows, "url string, n_bytes_in bigint, parse_error string")
    out = host_stats(df, bytes_col="n_bytes_in", error_col="parse_error")
    got = {r.host: (r.docs, r.parse_failures, r.bytes_in)
           for r in out.collect()}
    assert got["h0.example.org"] == (10, 2, 1350)
    plan = physical_plan(out)
    before_exchange = plan.split("Exchange")[-1]
    assert "partial" in before_exchange.lower()
    assert_no_python(out)
