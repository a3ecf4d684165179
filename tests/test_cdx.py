"""CDXJ capture-index source (sources/cdx.py)."""

from pyspark.sql import functions as F

from document_extractor_spark.plans import assert_no_python
from document_extractor_spark.sources.cdx import (cdx_fetch_plan,
                                                  cdx_lines_to_captures,
                                                  read_cdx)


def _caps(spark, lines):
    df = spark.createDataFrame([(l,) for l in lines], "value string")
    return cdx_lines_to_captures(df, "value")


_L1 = ('org,example)/a 20250101120000 {"url": "https://example.org/a", '
       '"mime": "text/html", "status": "200", "digest": "sha1:AAA", '
       '"length": "100", "offset": "0", "filename": "w1.warc.gz"}')
_L2 = ('org,example)/a 20260101120000 {"url": "https://example.org/a", '
       '"mime": "text/html", "status": "200", "digest": "sha1:BBB", '
       '"length": "120", "offset": "900", "filename": "w2.warc.gz"}')
_L404 = ('org,example)/b 20260101120000 {"url": "https://example.org/b", '
         '"mime": "text/html", "status": "404", "digest": "sha1:CCC", '
         '"length": "50", "offset": "40", "filename": "w2.warc.gz"}')
_LPDF = ('org,example)/c 20260101120000 {"url": "https://example.org/c", '
         '"mime": "application/pdf", "status": "200", "digest": "sha1:D", '
         '"length": "70", "offset": "80", "filename": "w2.warc.gz"}')


def test_parse_typing_and_malformed_totality(spark):
    rows = {r["surt"]: r for r in _caps(
        spark, [_L1, "totally not cdx", ""]).collect()}
    good = rows["org,example)/a"]
    assert good["url"] == "https://example.org/a"
    assert good["status"] == 200 and good["offset"] == 0
    assert good["length"] == 100
    assert str(good["capture_ts"]).startswith("2025-01-01 12:00:00")
    bad = rows[None]
    assert bad["url"] is None and bad["status"] is None


def test_fetch_plan_latest_capture_and_filters(spark):
    plan = {r["url"]: r for r in cdx_fetch_plan(
        _caps(spark, [_L1, _L2, _L404, _LPDF])).collect()}
    assert set(plan) == {"https://example.org/a"}   # 404 + pdf dropped
    a = plan["https://example.org/a"]
    assert (a["ts_raw"], a["filename"], a["offset"]) == (
        "20260101120000", "w2.warc.gz", 900)        # latest wins


def test_fetch_plan_tie_breaks_on_offset(spark):
    tie = _L2.replace('"offset": "900"', '"offset": "100"').replace(
        "sha1:BBB", "sha1:EEE")
    plan = cdx_fetch_plan(_caps(spark, [_L2, tie])).collect()
    assert len(plan) == 1 and plan[0]["offset"] == 100


def test_plan_is_jvm_only(spark):
    assert_no_python(cdx_fetch_plan(_caps(spark, [_L1])))


# --- SURT key ----------------------------------------------------------------

from document_extractor_spark.sources.cdx import surt_key


def _surts(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return [r["surt"] for r in surt_key(df).collect()]


def test_surt_canonical_form(spark):
    got = _surts(spark, [
        "https://www.Example.ORG/A/B?b=1&a=2",
        "http://sub.site.co.uk/",
        "https://example.org",                 # bare host → '/'
        "https://example.org:8080/x",          # port dropped
        "not a url",                           # no host → NULL
    ])
    assert got[0] == "org,example)/a/b?a=2&b=1"   # params sorted, www gone
    assert got[1] == "uk,co,site,sub)/"
    assert got[2] == "org,example)/"
    assert got[3] == "org,example)/x"
    assert got[4] is None


def test_surt_matches_cdx_key_roundtrip(spark):
    # the key this generator emits equals the surt column the parser
    # reads from a CDXJ line for the same URL
    line = ('org,example)/a/b?a=2&b=1 20260101120000 '
            '{"url": "https://www.Example.ORG/A/B?b=1&a=2", '
            '"mime": "text/html", "status": "200", "digest": "d", '
            '"length": "1", "offset": "0", "filename": "w.warc.gz"}')
    caps = cdx_lines_to_captures(
        spark.createDataFrame([(line,)], "value string"), "value")
    row = surt_key(caps).collect()[0]
    assert row["surt"] == row[0]                  # equals parsed surt col


def test_surt_plan_jvm_only(spark):
    df = spark.createDataFrame([("https://a.org/x",)], "url string")
    assert_no_python(surt_key(df))


def test_read_cdx_types_columns_and_nulls_malformed_lines(spark, tmp_path):
    path = tmp_path / "index.cdxj"
    path.write_text("\n".join(
        [_L1, "org,example)/x 2025 {broken", '{"url": "no key"}',
         "org,example)/y 20250101120000 {not json}"]) + "\n")
    df = read_cdx(spark, str(path))
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [
        ("surt", "string"), ("ts_raw", "string"),
        ("capture_ts", "timestamp"), ("url", "string"),
        ("mime", "string"), ("status", "int"), ("digest", "string"),
        ("length", "bigint"), ("offset", "bigint"),
        ("filename", "string")]
    rows = df.collect()
    assert len(rows) == 4
    good = next(r for r in rows if r["url"] is not None).asDict()
    assert str(good.pop("capture_ts")) == "2025-01-01 12:00:00"
    assert good == {
        "surt": "org,example)/a", "ts_raw": "20250101120000",
        "url": "https://example.org/a", "mime": "text/html", "status": 200,
        "digest": "sha1:AAA", "length": 100, "offset": 0,
        "filename": "w1.warc.gz"}
    bad = [r for r in rows if r["url"] is None]
    assert len(bad) == 3
    # a line with a key and timestamp but no valid JSON keeps them
    assert {(r["surt"], r["ts_raw"]) for r in bad} == {
        (None, None), ("org,example)/y", "20250101120000")}
    for r in bad:
        assert all(r[c] is None for c in (
            "url", "mime", "status", "digest", "length", "offset",
            "filename"))
