"""t2/t3 — Spark end-to-end extraction: byte-identical vs goldens through
the full DataFrame path, plan invariants, salting, metrics, resume."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from document_extractor_spark.operators.extract import (
    extract_pages,
    observe_extract,
    salted_repartition,
    skew_profile,
)
from document_extractor_spark.pipeline import read_extracted, run_extract_job
from document_extractor_spark.plans import (
    assert_vectorized_python_only,
    scan_read_schema,
)
from document_extractor_spark.sources.generator import (
    fixture_rows,
    write_corpus_parquet,
)
from document_extractor_spark.sources.pages import (
    PAGES_SCHEMA,
    list_partitions,
    read_pages,
    with_warc_day,
)

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "expected.json")


@pytest.fixture(scope="module")
def pages_df(spark):
    return spark.createDataFrame(fixture_rows(), schema=PAGES_SCHEMA)


@pytest.fixture(scope="module")
def golden():
    with open(GOLDEN, encoding="utf-8") as f:
        return {g["url"]: g for g in json.load(f)}


def test_spark_extraction_byte_identical(spark, pages_df, golden):
    """The north-rule invariant via the full Spark path: every url's
    extracted text is byte-identical to the frozen golden."""
    out = {r["url"]: r.asDict(recursive=True)
           for r in extract_pages(pages_df).collect()}
    assert set(out) == set(golden)
    for url, exp in golden.items():
        got = out[url]
        assert got["extracted_text"] == exp["extracted_text"], url
        assert got["lang"] == exp["lang"], url
        assert got["parse_error"] == exp["parse_error"], url
        got_spans = [(s["start"], s["end"], s["type"]) for s in got["spans"]]
        exp_spans = [(s["start"], s["end"], s["type"]) for s in exp["spans"]]
        assert got_spans == exp_spans, url


def test_plan_has_no_per_row_python(spark, pages_df):
    result = extract_pages(pages_df, num_partitions=8)
    assert_vectorized_python_only(result)
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan


def test_arrow_max_bytes_per_batch_caps_worker_batches(spark, pages_df,
                                                       golden):
    """Spark's ``maxBytesPerBatch`` bounds the Arrow batches the
    extraction worker receives: set to a few KB, one partition of the
    fixture arrives as several batches, and the text stays
    byte-identical to the goldens. The setting is restored afterwards."""
    import pyarrow as pa

    key = "spark.sql.execution.arrow.maxBytesPerBatch"
    one = pages_df.coalesce(1)

    def batch_rows(it):
        for batch in it:
            yield pa.RecordBatch.from_pydict({"n": [batch.num_rows]})

    prev = spark.conf.get(key)
    spark.conf.set(key, "4096")
    try:
        # the columns extract_pages hands its worker, batched identically
        batches = [r["n"] for r in one.select("url", "html", "lang")
                   .mapInArrow(batch_rows, "n long").collect()]
        out = {r["url"]: r["extracted_text"]
               for r in extract_pages(one).collect()}
    finally:
        spark.conf.set(key, prev)
    assert spark.conf.get(key) == prev
    assert len(batches) > 1 and sum(batches) == len(golden)
    assert set(out) == set(golden)
    for url, exp in golden.items():
        assert out[url] == exp["extracted_text"], url


def test_salted_repartition_spreads_hot_host(spark):
    rows = [
        {"url": f"https://hot.example.com/p{i}", "html": b"<p>x</p>"}
        for i in range(256)
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    parts = (
        salted_repartition(df, 16, salt=16)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid").count().collect()
    )
    # one Zipf-head host must NOT collapse into one partition
    assert len(parts) >= 8
    assert max(p["count"] for p in parts) < 256


def test_skew_profile_counts_and_salt(spark):
    """90 rows on one hot host + 10 singletons: exact count, share
    (ppm, floored) and the ceil salt factor at 8 rows/task; top cap
    honoured with hottest-first ordering."""
    rows = (
        [{"url": f"https://HOT.example.com/p{i}"} for i in range(90)]
        + [{"url": f"https://c{i}.example.com/"} for i in range(10)]
    )
    df = spark.createDataFrame(rows, "url string")
    out = skew_profile(df, target_rows_per_task=8, top=5).collect()
    assert len(out) == 5
    top1 = out[0]
    # host parsing lowercases (RFC 3986 §6.2.2.1) — one key, not two
    assert top1["key"] == "hot.example.com"
    assert top1["n_rows"] == 90
    assert top1["share_ppm"] == 900_000
    assert top1["salt_factor"] == 12  # ceil(90 / 8)
    for r in out[1:]:
        assert r["n_rows"] == 1 and r["salt_factor"] == 1
        assert r["share_ppm"] == 10_000
    # deterministic tie-break on the key at the limit boundary
    assert [r["key"] for r in out[1:]] == sorted(r["key"] for r in out[1:])


def test_skew_profile_raw_key_column(spark):
    """parse_host=False profiles an arbitrary key column unchanged."""
    df = spark.createDataFrame(
        [{"k": "a"}] * 3 + [{"k": "b"}], "k string")
    out = {r["key"]: r["n_rows"]
           for r in skew_profile(df, key_col="k", parse_host=False,
                                 top=10).collect()}
    assert out == {"a": 3, "b": 1}


def test_observe_metrics(spark, pages_df):
    observed, obs = observe_extract(extract_pages(pages_df))
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    assert m["docs"] == pages_df.count()
    assert m["parse_failures"] == 0
    assert m["bytes_in"] > 0
    assert m["bytes_out"] > 0


@pytest.fixture(scope="module")
def small_corpus(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pages_in"))
    write_corpus_parquet(d, 300, seed=11, rows_per_file=64)
    return d


def test_partition_pruning_and_column_pruning(spark, small_corpus):
    df = read_pages(spark, small_corpus).filter(F.col("warc_day") == "2026-03-02")
    narrow = df.select("url", "html")
    rs = scan_read_schema(narrow)
    assert "warc_ts" not in rs and "text" not in rs, rs
    # partition pruning: only one warc_day dir scanned
    plan = narrow._jdf.queryExecution().executedPlan().toString()
    assert "2026-03-02" in plan


def test_run_extract_job_and_resume(spark, small_corpus, tmp_path):
    out = str(tmp_path / "extract_out")
    s1 = run_extract_job(spark, small_corpus, out, num_partitions=8)
    assert s1["partitions_processed"] == s1["partitions_total"] == 8
    assert s1["docs"] == 300
    first = {
        r["url"]: r["extracted_text"]
        for r in read_extracted(spark, out).collect()
    }
    assert len(first) == 300

    # resume over a completed run: everything skipped
    s2 = run_extract_job(spark, small_corpus, out, num_partitions=8)
    assert s2["partitions_processed"] == 0
    assert s2["partitions_skipped"] == 8

    # kill-and-resume: drop 3 manifests + corrupt those outputs → resume
    # reprocesses exactly them and converges to identical bytes
    mdir = os.path.join(out, "_manifests")
    victims = sorted(os.listdir(mdir))[:3]
    for v in victims:
        os.remove(os.path.join(mdir, v))
        day = v[len("warc_day="):-len(".json")]
        shutil.rmtree(os.path.join(out, f"warc_day={day}"), ignore_errors=True)
    s3 = run_extract_job(spark, small_corpus, out, num_partitions=8)
    assert s3["partitions_processed"] == 3
    final = {
        r["url"]: r["extracted_text"]
        for r in read_extracted(spark, out).collect()
    }
    assert final == first  # byte-identical to the clean run


def test_manifest_lineage_counters(spark, small_corpus, tmp_path):
    from document_extractor_spark.checkpoint import read_manifests

    out = str(tmp_path / "m_out")
    run_extract_job(spark, small_corpus, out, num_partitions=4)
    ms = read_manifests(out)
    assert len(ms) == 8
    assert sum(m["docs"] for m in ms) == 300
    for m in ms:
        assert m["input_fingerprint"]
        assert m["bytes_in"] > 0
        assert "wall_sec" in m


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts must
    join with ZERO Exchange operators — the co-location contract that
    removes the dominant shuffle from repeated large joins at scale."""
    from document_extractor_spark.plans import physical_plan
    from document_extractor_spark.sources.pages import write_bucketed_table

    docs = spark.range(0, 500).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).alias("feature"))
    scores = spark.range(0, 500).select(
        F.col("id").alias("doc_id"),
        (F.col("id") * 2).alias("score"))
    write_bucketed_table(docs, "b_docs", "doc_id", 8,
                         str(tmp_path / "b_docs"), sort_col="doc_id")
    write_bucketed_table(scores, "b_scores", "doc_id", 8,
                         str(tmp_path / "b_scores"), sort_col="doc_id")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_docs").join(spark.table("b_scores"),
                                            "doc_id")
        plan = physical_plan(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() == 500
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_docs")
        spark.sql("DROP TABLE IF EXISTS b_scores")


def test_run_extract_job_from_catalog_table(spark, small_corpus, tmp_path):
    """The ingest seam's catalog branch: register the pages corpus as a
    session-catalog table partitioned by warc_day, run the SAME job with
    the table identifier — partition planning goes through the catalog
    (DISTINCT on the partition column; on Iceberg, the .partitions
    metadata table), extraction output matches the path-based run, and
    resume skips committed partitions."""
    src = read_pages(spark, small_corpus)
    spark.sql("DROP TABLE IF EXISTS pages_cat")
    (src.write.mode("overwrite")
        .partitionBy("warc_day")
        .option("path", str(tmp_path / "pages_cat_data"))
        .saveAsTable("pages_cat"))
    try:
        # Commits fingerprint each partition from its observed docs
        # (no count job per partition), and resume planning fingerprints
        # all 8 committed partitions off ONE batched groupBy-count job,
        # never one Spark count() per manifest (at 100k partitions that
        # is hours of planning): every fingerprint carries a row count.
        import document_extractor_spark.checkpoint as ckpt

        calls = {"batched": 0, "uncounted": 0}
        orig_cpc = ckpt.catalog_partition_counts
        orig_fp = ckpt.input_fingerprint

        def counting_cpc(sp, path):
            calls["batched"] += 1
            return orig_cpc(sp, path)

        def counting_fp(path, part, counts=None):
            if counts is None and ckpt.is_catalog_table(path):
                calls["uncounted"] += 1
            return orig_fp(path, part, counts)

        out_t = str(tmp_path / "out_table")
        ckpt.catalog_partition_counts = counting_cpc
        ckpt.input_fingerprint = counting_fp
        try:
            s1 = run_extract_job(spark, "pages_cat", out_t,
                                 num_partitions=8)
            assert calls == {"batched": 0, "uncounted": 0}
            s3 = run_extract_job(spark, "pages_cat", out_t,
                                 num_partitions=8)
        finally:
            ckpt.catalog_partition_counts = orig_cpc
            ckpt.input_fingerprint = orig_fp
        assert s1["partitions_processed"] == s1["partitions_total"] == 8
        assert s1["docs"] == 300
        for m in ckpt.read_manifests(out_t):
            assert m["input_fingerprint"] == (
                f"table:pages_cat:warc_day={m['partition']}:n={m['docs']}")
        assert s3["partitions_processed"] == 0
        assert s3["partitions_skipped"] == 8
        assert calls == {"batched": 1, "uncounted": 0}
        out_p = str(tmp_path / "out_path")
        s2 = run_extract_job(spark, small_corpus, out_p, num_partitions=8)
        got_t = {r["url"]: r["extracted_text"]
                 for r in read_extracted(spark, out_t).collect()}
        got_p = {r["url"]: r["extracted_text"]
                 for r in read_extracted(spark, out_p).collect()}
        assert got_t == got_p and s2["docs"] == 300
        # Explicit table: prefix resolves to the same catalog read.
        s4 = run_extract_job(spark, "table:pages_cat", out_t,
                             num_partitions=8)
        assert s4["partitions_skipped"] == 8
    finally:
        spark.sql("DROP TABLE IF EXISTS pages_cat")


def test_is_catalog_table_routing():
    """Dispatch heuristic (review finding): existing relative dirs and
    path-like strings are paths; only identifier-shaped non-dirs are
    catalog tables."""
    import os
    import tempfile

    from document_extractor_spark.sources.pages import is_catalog_table

    assert is_catalog_table("db.pages")
    assert is_catalog_table("iceberg.crawl.pages")
    assert is_catalog_table("pages_cat")
    assert not is_catalog_table("/data/pages")
    assert not is_catalog_table("data/pages")
    assert not is_catalog_table("C:\\data")
    assert not is_catalog_table("")
    assert not is_catalog_table("warc_day=2026")
    # Explicit prefix: unambiguous, wins over the heuristic; malformed
    # identifier behind it is an error, not a silent path fallback.
    assert is_catalog_table("table:db.pages")
    assert is_catalog_table("table:pages_cat")
    import pytest

    with pytest.raises(ValueError):
        is_catalog_table("table:/data/pages")
    with pytest.raises(ValueError):
        is_catalog_table("table:warc_day=2026")
    d = tempfile.mkdtemp(prefix="pagesdir")
    cwd = os.getcwd()
    try:
        os.chdir(os.path.dirname(d))
        rel = os.path.basename(d)
        assert not is_catalog_table(rel)   # existing relative dir = path
    finally:
        os.chdir(cwd)


# ---------------------------------------------------------------------------
# WARC ingest source (Common Crawl's native format)
# ---------------------------------------------------------------------------


def _corrupt_middle_member(build, recs):
    """One gzip member per record, the middle member's deflate stream
    overwritten (header and trailer kept) — zlib raises on inflate."""
    members = [build([r]) for r in recs]
    m = members[1]
    members[1] = m[:10] + b"\xff" * (len(m) - 18) + m[-8:]
    return b"".join(members)


def _negative_length_middle(build, recs):
    """Plain records, the middle one framed with ``Content-Length: -1``."""
    import re

    plain = [build([r], per_record_gzip=False) for r in recs]
    plain[1] = re.sub(rb"Content-Length: \d+", b"Content-Length: -1",
                      plain[1], count=1)
    return b"".join(plain)


def test_warc_roundtrip_unit():
    """Pure parser: per-record-gzip and plain WARCs round-trip; hostile
    bytes (truncated, garbage, non-response records, a corrupt gzip
    member, a negative Content-Length) keep the records before the
    damage and never raise."""
    from document_extractor_spark.sources.warc import (
        build_warc,
        iter_warc_pages,
    )

    recs = [
        ("https://a.example/x", "2026-03-04T12:00:00Z",
         b"<html><p>hello warc</p></html>"),
        ("https://b.example/y", "2026-03-05T08:30:00Z", b"%PDF-1.4 stub"),
    ]
    for gz in (True, False):
        got = list(iter_warc_pages(build_warc(recs, per_record_gzip=gz)))
        assert [g[0] for g in got] == [r[0] for r in recs]
        assert got[0][2] == recs[0][2]
        assert got[1][1].strftime("%Y-%m-%d") == "2026-03-05"
    assert list(iter_warc_pages(b"")) == []
    assert list(iter_warc_pages(b"garbage not a warc")) == []
    assert list(iter_warc_pages(build_warc(recs)[:40])) == []
    req = (b"WARC/1.0\r\nWARC-Type: request\r\n"
           b"WARC-Target-URI: u\r\nContent-Length: 2\r\n\r\nhi\r\n\r\n")
    assert list(iter_warc_pages(req)) == []
    three = recs + [("https://c.example/z", "2026-03-06T00:00:00Z", b"z")]
    for hostile in (_corrupt_middle_member(build_warc, three),
                    _negative_length_middle(build_warc, three)):
        got = list(iter_warc_pages(hostile))
        assert [(g[0], g[2]) for g in got] == [(recs[0][0], recs[0][2])]


def test_warc_ingest_to_extract_end_to_end(spark, tmp_path):
    """WARC archives → pages frame → Iceberg-style layout → the standard
    extract job: the full Common-Crawl front door."""
    from document_extractor_spark.sources.warc import (
        build_warc,
        read_warc_pages,
        warc_to_pages_table,
    )

    warc_dir = tmp_path / "warcs"
    warc_dir.mkdir()
    day1 = [(f"https://w.example/d1/{i}", "2026-03-04T12:00:00Z",
             f"<html><body><main><p>warc doc one {i} with unique "
             f"content</p></main></body></html>".encode())
            for i in range(5)]
    day2 = [(f"https://w.example/d2/{i}", "2026-03-05T09:00:00Z",
             f"<html><body><main><p>warc doc two {i}</p></main>"
             f"</body></html>".encode())
            for i in range(3)]
    (warc_dir / "seg-00001.warc.gz").write_bytes(build_warc(day1))
    (warc_dir / "seg-00002.warc.gz").write_bytes(
        build_warc(day2, per_record_gzip=False))

    pages = read_warc_pages(spark, str(warc_dir))
    rows = {r.url: r for r in pages.collect()}
    assert len(rows) == 8
    assert rows["https://w.example/d1/0"].warc_day == "2026-03-04"
    assert b"warc doc one 0" in bytes(rows["https://w.example/d1/0"].html)

    table = str(tmp_path / "pages_from_warc")
    warc_to_pages_table(spark, str(warc_dir), table)
    assert sorted(list_partitions(table)) == ["2026-03-04", "2026-03-05"]
    out = str(tmp_path / "extracted_from_warc")
    s = run_extract_job(spark, table, out, num_partitions=4)
    assert s["docs"] == 8 and s["parse_failures"] == 0
    texts = {r.url: r.extracted_text
             for r in read_extracted(spark, out).collect()}
    assert texts["https://w.example/d2/2"] == "warc doc two 2"

def test_warc_http_wire_encodings_unit():
    """Real crawl records carry Transfer-Encoding: chunked and
    Content-Encoding: gzip/deflate — the payload must come out as the
    original html bytes, and malformed encodings degrade to raw bytes
    instead of raising."""
    import zlib

    from document_extractor_spark.sources.warc import _http_payload

    body = b"<html><body>hello wire</body></html>"

    def envelope(payload, *headers):
        head = b"HTTP/1.1 200 OK\r\n" + b"\r\n".join(headers)
        return head + b"\r\n\r\n" + payload

    chunked = b"10\r\n" + body[:16] + b"\r\n" + \
        format(len(body) - 16, "x").encode() + b"\r\n" + body[16:] + \
        b"\r\n0\r\n\r\n"
    assert _http_payload(envelope(
        chunked, b"Transfer-Encoding: chunked")) == body

    gz = zlib.compressobj(6, zlib.DEFLATED, 31)
    gzipped = gz.compress(body) + gz.flush()
    assert _http_payload(envelope(
        gzipped, b"Content-Encoding: gzip")) == body

    assert _http_payload(envelope(
        zlib.compress(body), b"Content-Encoding: deflate")) == body
    # raw-deflate servers omit the zlib header
    raw = zlib.compressobj(6, zlib.DEFLATED, -15)
    assert _http_payload(envelope(
        raw.compress(body) + raw.flush(),
        b"Content-Encoding: deflate")) == body

    # chunked THEN compressed (wire order: content-coding under
    # transfer-coding)
    chunked_gz = b"%x\r\n%s\r\n0\r\n\r\n" % (len(gzipped), gzipped)
    assert _http_payload(envelope(
        chunked_gz, b"Transfer-Encoding: chunked",
        b"Content-Encoding: gzip")) == body

    # malformed framing / compression: raw bytes back, never a raise
    assert _http_payload(envelope(
        b"ZZZ\r\nnot chunked", b"Transfer-Encoding: chunked")) == \
        b"ZZZ\r\nnot chunked"
    assert _http_payload(envelope(
        b"\x1f\x8bbroken", b"Content-Encoding: gzip")) == b"\x1f\x8bbroken"


def test_warc_inflate_members_chunked_feed():
    """Members larger than the 1 MiB inflater feed slice must
    round-trip intact, and the offset must rewind exactly to each
    member boundary (the linear-feed rewrite)."""
    import zlib

    from document_extractor_spark.sources.warc import _inflate_members

    payloads = [b"A" * (3 << 20), b"B" * 10, b"C" * (1 << 20)]
    archive = b""
    for p in payloads:
        c = zlib.compressobj(6, zlib.DEFLATED, 31)
        archive += c.compress(p) + c.flush()
    assert list(_inflate_members(archive)) == payloads


def test_warc_reader_bounded_batches(spark, tmp_path):
    """>1024 records in one archive: the mapInArrow parser must emit
    every record across its bounded-slice yields (flush-the-tail
    path included)."""
    from document_extractor_spark.sources.warc import (
        build_warc,
        read_warc_pages,
    )

    n = 1100
    recs = [(f"https://h{i % 7}.example.org/d/{i}",
             "2026-03-01T00:00:00Z",
             f"<html><body>doc {i}</body></html>".encode())
            for i in range(n)]
    (tmp_path / "big.warc.gz").write_bytes(build_warc(recs))
    df = read_warc_pages(spark, str(tmp_path))
    assert df.count() == n
    got = {r["url"] for r in df.select("url").collect()}
    assert len(got) == n

def test_table_partition_values_other_partition_column(spark, tmp_path):
    """A catalog table partitioned by some OTHER column still resolves
    warc_day values: SHOW PARTITIONS succeeding with zero warc_day=
    keys means "this tier can't see warc_day", and planning must fall
    through to the DISTINCT tier instead of scheduling zero work."""
    from document_extractor_spark.sources.pages import (
        table_partition_values,
    )

    spark.sql("DROP TABLE IF EXISTS pages_dtpart")
    df = spark.createDataFrame(
        [("u1", "2026-03-01", "a"), ("u2", "2026-03-02", "a"),
         ("u3", "2026-03-02", "b")],
        "url string, warc_day string, dt string")
    (df.write.mode("overwrite").partitionBy("dt")
       .option("path", str(tmp_path / "pages_dtpart_data"))
       .saveAsTable("pages_dtpart"))
    try:
        assert table_partition_values(spark, "pages_dtpart") == \
            ["2026-03-01", "2026-03-02"]
    finally:
        spark.sql("DROP TABLE IF EXISTS pages_dtpart")


def test_wet_roundtrip_unit():
    """WET conversion records round-trip in both wire shapes; the
    warcinfo record and hostile bytes yield no rows; non-UTF-8 body
    bytes are replaced, never raised; a corrupt gzip member or a
    negative Content-Length ends the archive after the records before
    it."""
    from functools import partial

    from document_extractor_spark.sources.warc import (
        build_wet,
        iter_wet_docs,
    )

    recs = [
        ("https://a.example/x", "2026-03-04T12:00:00Z",
         "extracted text one café"),
        ("https://b.example/y", "2026-03-05T08:30:00Z", "line1\nline2"),
    ]
    for gz in (True, False):
        got = list(iter_wet_docs(build_wet(recs, per_record_gzip=gz)))
        assert [(g[0], g[2]) for g in got] == \
            [(r[0], r[2]) for r in recs]
        assert got[1][1].strftime("%Y-%m-%d") == "2026-03-05"
    assert list(iter_wet_docs(b"")) == []
    assert list(iter_wet_docs(b"garbage")) == []
    assert list(iter_wet_docs(build_wet(recs)[:30])) == []
    # invalid UTF-8 in a conversion body: replaced, not raised
    bad = (b"WARC/1.0\r\nWARC-Type: conversion\r\n"
           b"WARC-Target-URI: u\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n"
           b"Content-Length: 3\r\n\r\n\xff\xfeA\r\n\r\n")
    got = list(iter_wet_docs(bad))
    assert len(got) == 1 and got[0][2].endswith("A")
    one = partial(build_wet, with_warcinfo=False)
    three = recs + [("https://c.example/z", "2026-03-06T00:00:00Z", "z")]
    for hostile in (_corrupt_middle_member(one, three),
                    _negative_length_middle(one, three)):
        got = list(iter_wet_docs(hostile))
        assert [(g[0], g[2]) for g in got] == [(recs[0][0], recs[0][2])]


def test_warc_fractional_second_dates(spark, tmp_path):
    """WARC/1.1 allows a fraction of seconds in WARC-Date: such a record
    keeps its row (and its sub-second timestamp) through
    ``warc_to_pages_table``; malformed dates still parse to NULL."""
    from document_extractor_spark.sources.warc import (
        _warc_ts,
        build_warc,
        warc_to_pages_table,
    )

    (tmp_path / "w").mkdir()
    (tmp_path / "w" / "seg.warc").write_bytes(build_warc([
        ("https://f.example/frac", "2024-01-01T00:00:00.25Z", b"<p>a</p>"),
        ("https://f.example/whole", "2024-01-02T00:00:00Z", b"<p>b</p>"),
    ], per_record_gzip=False))
    table = str(tmp_path / "pages")
    warc_to_pages_table(spark, str(tmp_path / "w"), table)
    got = sorted(spark.read.parquet(table)
                 .select("url", F.unix_micros("warc_ts"),
                         F.col("warc_day").cast("string"))
                 .collect())
    assert [tuple(r) for r in got] == [
        ("https://f.example/frac", 1704067200250000, "2024-01-01"),
        ("https://f.example/whole", 1704153600000000, "2024-01-02"),
    ]
    assert _warc_ts({"warc-date": "2024-01-01T00:00:00.123456789Z"}) \
        .microsecond == 123456
    for bad in ("2024-01-01T00:00:00.Z", "2024-01-01T00:00:00.5",
                "2024-01-01T00:00:00.5+01:00", "2024-01-01 00:00:00Z"):
        assert _warc_ts({"warc-date": bad}) is None, bad


def _archive_kind(kind):
    """(builder, reader, file suffix, record i, row → comparable,
    record → comparable) for one Common Crawl archive kind."""
    from functools import partial

    from document_extractor_spark.sources import warc

    ts = "2026-03-04T12:00:00Z"
    if kind == "warc":
        return (warc.build_warc, warc.read_warc_pages, ".warc",
                lambda u: (u, ts, f"<p>{u}</p>".encode()),
                lambda r: (r.url, r.warc_day, bytes(r.html)),
                lambda rec: (rec[0], ts[:10], rec[2]))
    if kind == "wet":
        return (partial(warc.build_wet, with_warcinfo=False),
                warc.read_wet_docs, ".warc.wet",
                lambda u: (u, ts, f"text of {u} é"),
                lambda r: (r.url, r.warc_day, r.text),
                lambda rec: (rec[0], ts[:10], rec[2]))
    return (warc.build_wat, warc.read_wat_meta, ".warc.wat",
            lambda u: (u, ts, f"title {u}", [u + "/out"]),
            lambda r: (r.url, r.warc_day, r.title, list(r.link_urls)),
            lambda rec: (rec[0], ts[:10], rec[2], rec[3]))


@pytest.mark.parametrize("kind", ["warc", "wet", "wat"])
def test_archive_reader_total_on_hostile_archives(spark, tmp_path, kind):
    """A good archive next to one with a corrupt middle gzip member and
    one with a negative Content-Length: the job finishes, every good
    record comes back unchanged, each hostile archive keeps the record
    before the damage, and the reader plans as one MapInArrow with no
    Exchange."""
    from document_extractor_spark.plans import physical_plan

    build, read, suffix, make, row_key, rec_key = _archive_kind(kind)

    def recs(name):
        return [make(f"https://{name}.example/{i}") for i in range(3)]

    (tmp_path / f"good{suffix}.gz").write_bytes(build(recs("good")))
    (tmp_path / f"corrupt{suffix}.gz").write_bytes(
        _corrupt_middle_member(build, recs("corrupt")))
    (tmp_path / f"negative{suffix}").write_bytes(
        _negative_length_middle(build, recs("negative")))
    df = read(spark, str(tmp_path))
    plan = physical_plan(df)
    assert plan.count("MapInArrow") == 1, plan
    assert "Exchange" not in plan, plan
    expected = recs("good") + recs("corrupt")[:1] + recs("negative")[:1]
    assert sorted(map(row_key, df.collect())) == \
        sorted(map(rec_key, expected))


def test_wet_ingest_spark(spark, tmp_path):
    """binaryFile → streaming WET parser → text-only corpus frame, both
    wire shapes in one directory, warc_day derived per record."""
    from document_extractor_spark.sources.warc import (
        build_wet,
        read_wet_docs,
    )

    wet_dir = tmp_path / "wets"
    wet_dir.mkdir()
    recs_a = [(f"https://h{i}.example/w/{i}", "2026-02-01T00:00:00Z",
               f"wet body {i}") for i in range(10)]
    recs_b = [(f"https://h{i}.example/w/{i}", "2026-02-02T00:00:00Z",
               f"wet body {i}") for i in range(10, 16)]
    (wet_dir / "seg-0.warc.wet.gz").write_bytes(
        build_wet(recs_a, per_record_gzip=True))
    (wet_dir / "seg-1.warc.wet").write_bytes(
        build_wet(recs_b, per_record_gzip=False))
    df = read_wet_docs(spark, str(wet_dir))
    rows = {r["url"]: r for r in df.collect()}
    assert len(rows) == 16
    assert rows["https://h3.example/w/3"]["text"] == "wet body 3"
    assert rows["https://h3.example/w/3"]["warc_day"] == "2026-02-01"
    assert rows["https://h12.example/w/12"]["warc_day"] == "2026-02-02"


def test_wat_ingest_spark(spark, tmp_path):
    """WAT metadata archives → (title, link_urls) rows; JSON field
    extraction is JVM-side; malformed envelopes yield NULL fields, not
    failures."""
    from document_extractor_spark.sources.warc import (
        build_wat,
        read_wat_meta,
    )

    wat_dir = tmp_path / "wats"
    wat_dir.mkdir()
    recs = [
        ("https://a.example/1", "2026-02-01T00:00:00Z", "Title Ünï",
         ["https://x.example/", "https://y.example/"]),
        ("https://b.example/2", "2026-02-02T00:00:00Z", "Plain",
         []),
    ]
    (wat_dir / "seg-0.warc.wat.gz").write_bytes(
        build_wat(recs, per_record_gzip=True))
    # a hostile metadata record whose body is not the expected envelope
    bad = (b"WARC/1.0\r\nWARC-Type: metadata\r\n"
           b"WARC-Target-URI: https://c.example/3\r\n"
           b"WARC-Date: 2026-02-03T00:00:00Z\r\n"
           b"Content-Length: 9\r\n\r\nnot json!\r\n\r\n")
    (wat_dir / "seg-1.warc.wat").write_bytes(bad)
    rows = {r["url"]: r for r in read_wat_meta(spark, str(wat_dir)).collect()}
    assert len(rows) == 3
    assert rows["https://a.example/1"]["title"] == "Title Ünï"
    assert rows["https://a.example/1"]["link_urls"] == [
        "https://x.example/", "https://y.example/"]
    assert rows["https://a.example/1"]["warc_day"] == "2026-02-01"
    assert rows["https://b.example/2"]["link_urls"] == []
    assert rows["https://c.example/3"]["title"] is None
    assert rows["https://c.example/3"]["link_urls"] == []
