"""Multimodal plumbing (stubbed decode, real Spark shape), the totality
and plan shape of every per-document kernel on ``extract._map_payloads``,
and Structured Streaming jobs driven synchronously to completion."""

import struct

import pytest
from pyspark.sql import functions as F

from document_extractor_spark.operators.blocks import block_profile
from document_extractor_spark.operators.extract import extract_pages
from document_extractor_spark.operators.media import (
    pdf_metadata_probe,
    pdf_outline_probe,
)
from document_extractor_spark.operators.multimodal import (
    decode_image_stub,
    dhash64,
    encode_fake_image,
    encode_fake_image_white_border,
    image_near_dups,
    image_features,
    probe_media,
    resize_max_width,
    sample_frames,
    whitespace_crop,
)
from document_extractor_spark.sources.generator import build_pdf
from document_extractor_spark.streaming.jobs import (
    run_stream_to_memory,
    stream_event_counts,
    stream_extract,
    stream_pages,
    stream_sessionize,
)


_GOOD_HTML = (b"<html><body><main><h1>Title</h1><p>A real paragraph with"
              b" quite enough words to pass the block classifier.</p>"
              b"</main></body></html>")
_GOOD_PDF = build_pdf([[(72, 720, 12, ["page one"])]],
                      info={"Title": "T"}, outlines=[("Intro", 0, [])])
_TRUNC_RAW1 = b"RAW1" + struct.pack("<HH", 100, 100) + b"abc"
_TRUNC_PDF = b"%PDF-1.4\n1 0 obj\n<< /Type /Cat"


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        ("img://a", encode_fake_image(40, 30, seed=1)),
        ("img://b", encode_fake_image_white_border(60, 60, border=20, seed=2)),
        ("img://jpeg", b"\xff\xd8\xff\xe0 not decodable here"),
    ]
    return spark.createDataFrame(rows, "url string, payload binary")


def test_probe_media(spark, media):
    out = {r["url"]: r for r in probe_media(media).collect()}
    assert out["img://a"]["media_type"] == "image/raw1"
    assert (out["img://a"]["width"], out["img://a"]["height"]) == (40, 30)
    assert out["img://jpeg"]["decode_error"] == "UnsupportedCodec"


def test_decode_stub_raises_for_real_codecs():
    with pytest.raises(NotImplementedError):
        decode_image_stub(b"\x89PNG\r\n\x1a\n....")
    with pytest.raises(ValueError, match="null payload"):
        decode_image_stub(None)
    with pytest.raises(ValueError, match="100x100"):
        decode_image_stub(_TRUNC_RAW1)


def test_whitespace_crop(spark, media):
    out = {r["url"]: r for r in whitespace_crop(media).collect()}
    # 60x60 with 20px white border → 20x20 content + 2*10 pad = 40x40
    assert (out["img://b"]["width"], out["img://b"]["height"]) == (40, 40)
    # unsupported codec isolates, does not fail the task
    assert out["img://jpeg"]["decode_error"] is not None
    # crop round-trips through the codec
    px = decode_image_stub(bytes(out["img://b"]["payload"]))
    assert px.shape == (40, 40, 3)


def test_resize_max_width(spark):
    rows = [("img://big", encode_fake_image(400, 200, seed=3))]
    df = spark.createDataFrame(rows, "url string, payload binary")
    out = resize_max_width(df, max_width=100).collect()[0]
    assert out["width"] == 100
    assert out["height"] == 50


def test_sample_frames_fanout(spark):
    video = b"".join(encode_fake_image(8, 8, seed=s) for s in range(10))
    df = spark.createDataFrame([("vid://x", video)],
                               "url string, payload binary")
    frames = sample_frames(df, every_n=3).collect()
    assert [f["frame_idx"] for f in sorted(frames, key=lambda r: r["frame_idx"])] \
        == [0, 3, 6, 9]


def test_image_features(spark, media):
    out = {r["url"]: r for r in image_features(media).collect()}
    feats = out["img://a"]["features"]
    assert len(feats) == 11  # 3 mean RGB + 8 histogram bins
    assert abs(sum(feats[3:]) - 1.0) < 1e-9  # histogram normalized


# ---------------------------------------------------------------------------
# Every per-document kernel on the one payload map (extract._map_payloads)
# ---------------------------------------------------------------------------

# name → (operator, payload column, good payload, truncated payload,
#         error column, expected output for the NULL / empty / truncated
#         rows: "error" = exactly one row with the error column set,
#         "none" = no rows, "one" = exactly one row with no error)
_KERNELS = {
    "extract_pages": (extract_pages, "html", _GOOD_HTML, _TRUNC_PDF,
                      "parse_error", ("error", "error", "error")),
    # an empty page has no blocks; a cut PDF is text with one block
    "block_profile": (block_profile, "html", _GOOD_HTML, _TRUNC_PDF,
                      "parse_error", ("error", "none", "one")),
    "pdf_metadata_probe": (pdf_metadata_probe, "html", _GOOD_PDF, _TRUNC_PDF,
                           None, ("one", "one", "one")),
    "pdf_outline_probe": (pdf_outline_probe, "html", _GOOD_PDF, _TRUNC_PDF,
                          None, ("none", "none", "none")),
    "probe_media": (probe_media, "payload", encode_fake_image(12, 9, seed=4),
                    _TRUNC_RAW1, "decode_error", ("error", "error", "error")),
    "whitespace_crop": (whitespace_crop, "payload",
                        encode_fake_image_white_border(30, 30, 8, seed=5),
                        _TRUNC_RAW1, "decode_error",
                        ("error", "error", "error")),
    "resize_max_width": (resize_max_width, "payload",
                         encode_fake_image(1300, 2, seed=6), _TRUNC_RAW1,
                         "decode_error", ("error", "error", "error")),
    "sample_frames": (sample_frames, "payload",
                      b"".join(encode_fake_image(4, 4, seed=s)
                               for s in range(3)),
                      _TRUNC_RAW1, None, ("none", "none", "none")),
    "dhash64": (dhash64, "payload", encode_fake_image(16, 16, seed=8),
                _TRUNC_RAW1, "decode_error", ("error", "error", "error")),
    "image_features": (image_features, "payload",
                       encode_fake_image(10, 10, seed=9), _TRUNC_RAW1,
                       "decode_error", ("error", "error", "error")),
}


def _by_url(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["url"], []).append(r)
    return out


@pytest.mark.parametrize("name", sorted(_KERNELS))
def test_kernel_total_on_hostile_payloads(spark, name):
    """One good row next to a NULL, an empty and a truncated payload:
    no task fails, the good row's output equals its output alone, and
    each bad row gets the kernel's error row (or no rows)."""
    op, col, good, trunc, error_col, expect = _KERNELS[name]
    schema = f"url string, {col} binary"
    bad = {"bad://null": None, "bad://empty": b"", "bad://trunc": trunc}
    alone = _by_url(op(spark.createDataFrame([("ok://1", good)], schema)))
    got = _by_url(op(spark.createDataFrame(
        [("ok://1", good), *bad.items()], schema).coalesce(1)))
    assert alone["ok://1"]
    assert got.get("ok://1") == alone["ok://1"]
    for url, want in zip(bad, expect):
        rows = got.get(url, [])
        if want == "none":
            assert rows == [], url
            continue
        assert len(rows) == 1, url
        if error_col is not None:
            assert (rows[0][error_col] is not None) == (want == "error"), url


def test_map_payloads_error_row_shape(spark):
    """A raising payload becomes one row: its key, the exception as
    ``"<ExcType>: <message>"`` and NULL in every other field."""
    df = spark.createDataFrame(
        [("bad://trunc", _TRUNC_RAW1), ("bad://null", None)],
        "url string, payload binary")
    got = {r["url"]: r.asDict() for r in dhash64(df).collect()}
    assert got["bad://null"] == {"url": "bad://null", "dhash": None,
                                 "decode_error": "ValueError: null payload"}
    err = got["bad://trunc"]["decode_error"]
    assert err.startswith("ValueError: ") and "100x100" in err


def test_sample_frames_drops_truncated_tail(spark):
    first = encode_fake_image(4, 4, seed=7)
    df = spark.createDataFrame([("vid://x", first + _TRUNC_RAW1)],
                               "url string, payload binary")
    got = [(r["frame_idx"], bytes(r["payload"]))
           for r in sample_frames(df, every_n=1).collect()]
    assert got == [(0, first)]


@pytest.fixture(scope="module")
def kernel_scan(spark, tmp_path_factory):
    """A parquet scan with more columns than any kernel reads."""
    d = str(tmp_path_factory.mktemp("kernel_scan") / "pages")
    spark.createDataFrame(
        [("u", _GOOD_HTML, encode_fake_image(4, 4), "en", "body text")],
        "url string, html binary, payload binary, lang string, text string",
    ).write.parquet(d)
    return spark.read.parquet(d)


@pytest.mark.parametrize("name", sorted(_KERNELS))
def test_kernel_plans_one_map_and_prunes_scan(kernel_scan, name):
    """Each kernel plans as exactly one MapInArrow over the scan, with no
    Exchange, and the scan reads only the columns the kernel needs."""
    import re

    from document_extractor_spark.plans import (
        assert_vectorized_python_only,
        physical_plan,
        scan_read_schema,
    )

    op, col = _KERNELS[name][:2]
    out = op(kernel_scan)
    plan = physical_plan(out)
    assert_vectorized_python_only(out)
    assert plan.count("MapInArrow") == 1, plan
    assert "Exchange" not in plan, plan
    read = set(re.findall(r"(\w+):", scan_read_schema(out)))
    want = {"url", col} | ({"lang"} if name == "extract_pages" else set())
    assert read == want, scan_read_schema(out)


# ---------------------------------------------------------------------------
# Streaming
# ---------------------------------------------------------------------------


def test_stream_extract(spark, tmp_path):
    from document_extractor_spark.sources.generator import write_corpus_parquet

    src = str(tmp_path / "stream_src")
    write_corpus_parquet(src, 60, seed=5, rows_per_file=16)
    stream = stream_pages(spark, src + "/warc_day=*")
    assert stream.isStreaming
    out = stream_extract(stream)
    run_stream_to_memory(out, "stream_extract_out")
    rows = spark.sql(
        "SELECT count(*) AS n, sum(CASE WHEN parse_error IS NULL THEN 1 ELSE 0 END) AS ok "
        "FROM stream_extract_out").head()
    assert rows["n"] == 60
    assert rows["ok"] == 60


@pytest.fixture(scope="module")
def events_dir(sf_dir, tmp_path_factory):
    # streaming parquet source needs a directory, not a single file
    import shutil

    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{sf_dir}/events.parquet", d / "part-0.parquet")
    return str(d)


def _events_stream(spark, events_dir):
    return (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string")
        .parquet(events_dir)
    )


def test_stream_event_counts(spark, events_dir):
    agg = stream_event_counts(_events_stream(spark, events_dir), window="1 hour")
    run_stream_to_memory(agg, "stream_counts_out", output_mode="append")
    n = spark.sql("SELECT count(*) AS n FROM stream_counts_out").head()["n"]
    assert n > 0


def test_stream_sessionize(spark, events_dir):
    sess = stream_sessionize(_events_stream(spark, events_dir))
    run_stream_to_memory(sess, "stream_sess_out", output_mode="append")
    n = spark.sql("SELECT count(*) AS n FROM stream_sess_out").head()["n"]
    assert n > 0


def test_stream_host_stats_stateful(spark, tmp_path):
    """applyInPandasWithState keeps per-host counters across micro-batches:
    final emitted totals per host must equal the batch ground truth."""
    from document_extractor_spark.sources.generator import write_corpus_parquet
    from document_extractor_spark.streaming.jobs import stream_host_stats
    from document_extractor_spark.operators.extract import extract_pages
    from pyspark.sql import functions as F

    src = str(tmp_path / "hs_src")
    write_corpus_parquet(src, 80, seed=9, rows_per_file=16)
    stream = stream_pages(spark, src + "/warc_day=*", max_files_per_trigger=2)
    out = stream_host_stats(stream_extract(stream))
    run_stream_to_memory(out, "host_stats_out", output_mode="update")
    # memory sink in update mode appends every emission; last row per host
    # is the running total at its final update
    got = {
        r["host"]: (r["docs"], r["parse_failures"], r["bytes_in"])
        for r in spark.sql(
            "SELECT host, docs, parse_failures, bytes_in FROM ("
            " SELECT *, row_number() OVER (PARTITION BY host ORDER BY docs DESC) rn"
            " FROM host_stats_out) WHERE rn = 1").collect()
    }
    batch = spark.read.schema(
        "url string, warc_ts timestamp, html binary, text string, lang string"
    ).parquet(src + "/warc_day=*")
    truth = {
        r["host"]: (r["docs"], r["fails"], r["bytes_in"])
        for r in extract_pages(batch)
        .withColumn("host", F.parse_url("url", F.lit("HOST")))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("docs"),
             F.sum(F.when(F.col("parse_error").isNotNull(), 1).otherwise(0))
             .cast("long").alias("fails"),
             F.sum("n_bytes_in").alias("bytes_in"))
        .collect()
    }
    assert got == truth


def test_stream_host_stats_runs_no_python(spark):
    """``stream_host_stats`` is the batch ``host_stats`` aggregation:
    its plan has no Python node, hosts fold case, a NULL or unparsable
    url groups under the NULL host."""
    from document_extractor_spark.plans import assert_no_python
    from document_extractor_spark.streaming.jobs import stream_host_stats

    df = spark.createDataFrame(
        [("http://A.example/x", None, 10), ("http://a.example/y", "E: x",
                                            None),
         (None, None, 3), ("not a url", "E: y", 5)],
        "url string, parse_error string, n_bytes_in bigint")
    out = stream_host_stats(df)
    assert_no_python(out)
    assert sorted(map(tuple, out.collect()), key=str) == [
        ("a.example", 2, 1, 10), (None, 2, 1, 8)]


def test_stream_dedup_exact_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark on the content hash: a corpus
    written twice (same pages, second copy inside the horizon) must
    survive only once."""
    import shutil

    from document_extractor_spark.sources.generator import write_corpus_parquet
    from document_extractor_spark.streaming.jobs import stream_dedup_exact

    src = str(tmp_path / "dedup_src")
    write_corpus_parquet(src, 40, seed=3, rows_per_file=20)
    # duplicate every file -> every page arrives twice
    for root, _dirs, files in list(__import__("os").walk(src)):
        for f in files:
            if f.endswith(".parquet"):
                shutil.copy(f"{root}/{f}", f"{root}/dup-{f}")
    stream = stream_pages(spark, src + "/warc_day=*", max_files_per_trigger=2)
    out = stream_dedup_exact(stream)
    run_stream_to_memory(out, "stream_dedup_out", output_mode="append")
    n = spark.sql("SELECT count(*) AS n, count(DISTINCT content_hash) AS d "
                  "FROM stream_dedup_out").head()
    assert n["n"] == n["d"]            # no duplicate hash survived
    assert n["n"] == 40


def test_stream_dedup_foreach_batch_empty_source(spark, tmp_path):
    """Zero input batches: an already-drained (empty) source must yield
    an empty survivors frame, not PATH_NOT_FOUND on the unwritten sink
    directory."""
    import os

    from document_extractor_spark.streaming.jobs import (
        run_stream_dedup_foreach_batch,
    )

    src = str(tmp_path / "empty_src" / "warc_day=2026-01-01")
    os.makedirs(src)
    # Empty parquet directory with the pages schema so the file source
    # can bind a schema but finds no data files.
    out = run_stream_dedup_foreach_batch(
        spark, str(tmp_path / "empty_src"),
        str(tmp_path / "empty_out"), str(tmp_path / "empty_ckpt"))
    assert out.count() == 0
    assert out.columns == ["url"]


def test_dhash_gradient_extremes(spark):
    """Strictly increasing luma left-to-right → every gradient bit set
    (signed -1); strictly decreasing → 0. Pins the bit convention and
    the MSB-first packing."""
    import numpy as np
    import struct
    from document_extractor_spark.operators.multimodal import _MAGIC

    def img(px):
        h, w, _ = px.shape
        return _MAGIC + struct.pack("<HH", w, h) + px.astype("uint8").tobytes()

    inc = np.tile(np.arange(18, dtype="uint8")[None, :, None] * 10, (16, 1, 3))
    dec = inc[:, ::-1]
    df = spark.createDataFrame(
        [("img://inc", img(inc)), ("img://dec", img(dec))],
        "url string, payload binary")
    got = {r["url"]: r["dhash"] for r in dhash64(df).collect()}
    assert got["img://inc"] == -1
    assert got["img://dec"] == 0


def test_dhash_decode_error_isolates(spark):
    """The error row shares a batch with the good one: its NULL hash must
    not round the good hash through float64."""
    ok = encode_fake_image(16, 16, seed=3)
    alone = dhash64(spark.createDataFrame(
        [("img://ok", ok)], "url string, payload binary")).head()["dhash"]
    df = spark.createDataFrame(
        [("img://ok", ok),
         ("img://bad", b"\x89PNG....not-supported")],
        "url string, payload binary").coalesce(1)
    got = {r["url"]: r for r in dhash64(df).collect()}
    assert got["img://ok"]["dhash"] == alone
    assert got["img://ok"]["decode_error"] is None
    assert got["img://bad"]["dhash"] is None
    assert "RAW1" in got["img://bad"]["decode_error"]


def test_image_near_dups_clones_only(spark):
    """Byte-identical clones pair at Hamming 0; distinct random frames
    (~32 bits apart) never pass the threshold; undecodable rows drop
    out instead of failing the job."""
    rows = (
        [(f"img://a{i}", encode_fake_image(16, 16, seed=7)) for i in range(3)]
        + [("img://x", encode_fake_image(16, 16, seed=8)),
           ("img://y", encode_fake_image(16, 16, seed=9)),
           ("img://junk", b"GIF89a not supported"),
           ("img://null", None), ("img://trunc", _TRUNC_RAW1)]
    )
    df = spark.createDataFrame(rows, "url string, payload binary")
    pairs = {(r["url_a"], r["url_b"]): r["hamming"]
             for r in image_near_dups(df, max_hamming=4).collect()}
    assert pairs == {("img://a0", "img://a1"): 0,
                     ("img://a0", "img://a2"): 0,
                     ("img://a1", "img://a2"): 0}


def test_image_near_dups_pigeonhole_finds_distance_4(spark):
    """max_hamming=4 needs 5 blocks: two 9×8 frames whose dHashes differ
    in one bit of each 16-bit quarter (column 8 of rows 0, 2, 4, 6 flips
    only that row's last gradient bit) still pair, at distance 4."""
    import numpy as np
    from document_extractor_spark.operators.multimodal import _encode

    base = np.tile(np.arange(9, dtype="uint8")[None, :, None] * 20, (8, 1, 3))
    edited = base.copy()
    edited[[0, 2, 4, 6], 8] = 0
    df = spark.createDataFrame(
        [("img://base", _encode(base)), ("img://edit", _encode(edited))],
        "url string, payload binary")
    hashes = {r["url"]: r["dhash"] for r in dhash64(df).collect()}
    diff = (hashes["img://base"] ^ hashes["img://edit"]) & ((1 << 64) - 1)
    assert [bin((diff >> (16 * b)) & 0xFFFF).count("1")
            for b in range(4)] == [1, 1, 1, 1]
    pairs = [(r["url_a"], r["url_b"], r["hamming"])
             for r in image_near_dups(df, max_hamming=4).collect()]
    assert pairs == [("img://base", "img://edit", 4)]


# ---------------------------------------------------------------------------
# stream_percolate
# ---------------------------------------------------------------------------


def test_stream_percolate_matches_batch(spark, tmp_path):
    import uuid

    from document_extractor_spark.operators.percolate import percolate
    from document_extractor_spark.streaming.jobs import (
        run_stream_to_memory,
        stream_percolate,
    )

    rules = [("r_ab", ["alpha", "beta"]), ("r_g", ["gamma"]),
             ("r_none", ["alpha", "zzz"])]
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "beta alpha"),            # order-free AND
            (3, "alpha only here"),
            (4, None),
            (5, "GAMMA Gamma"),           # case-folds, distinct tokens
        ],
        "doc_id bigint, text string")
    inp = str(tmp_path / "in")
    docs.repartition(3).write.parquet(inp)
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(inp))
    out = stream_percolate(stream, rules, id_col="doc_id")
    name = f"sp_{uuid.uuid4().hex[:8]}"
    run_stream_to_memory(out, name)
    got = {(r["doc_id"], r["query_id"])
           for r in spark.table(name).collect()}
    assert got == {(1, "r_ab"), (2, "r_ab"), (1, "r_g"), (5, "r_g")}
    # structural batch parity: the relational percolate agrees
    rdf = spark.createDataFrame(rules, "query_id string, terms array<string>")
    batch = {(r["doc_id"], r["query_id"])
             for r in percolate(docs, rdf).collect()}
    assert got == batch


def test_stream_percolate_stateless_and_guarded(spark):
    import pytest as _pt

    from document_extractor_spark.plans import assert_no_python
    from document_extractor_spark.streaming.jobs import stream_percolate

    docs = spark.createDataFrame([(1, "x")], "doc_id bigint, text string")
    out = stream_percolate(docs, [("r", ["x"])], id_col="doc_id")
    assert_no_python(out)
    from document_extractor_spark.plans import physical_plan

    plan = physical_plan(out)
    assert "Exchange" not in plan       # stateless narrow projection
    with _pt.raises(ValueError, match="rules"):
        stream_percolate(docs, [], id_col="doc_id")
    with _pt.raises(ValueError, match="no terms"):
        stream_percolate(docs, [("r", [])], id_col="doc_id")
    with _pt.raises(ValueError, match="duplicate"):
        stream_percolate(docs, [("r", ["a"]), ("r", ["b"])],
                         id_col="doc_id")


def test_stream_quality_gate_matches_batch(spark, tmp_path):
    import uuid

    from document_extractor_spark.operators.linmodel import (
        bucket_of,
        hashed_linear_score,
    )
    from document_extractor_spark.streaming.jobs import (
        run_stream_to_memory,
        stream_quality_gate,
    )

    w = [0] * 64
    w[bucket_of("good", 64)] += 500
    w[bucket_of("bad", 64)] -= 500
    docs = spark.createDataFrame(
        [(1, "good good stuff"), (2, "bad bad noise"), (3, None)],
        "doc_id bigint, text string")
    inp = str(tmp_path / "in")
    docs.repartition(2).write.parquet(inp)
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(inp))
    out = stream_quality_gate(stream, w).select(
        "doc_id", "q_score_milli", "q_keep")
    name = f"sq_{uuid.uuid4().hex[:8]}"
    run_stream_to_memory(out, name)
    got = {r["doc_id"]: (r["q_score_milli"], r["q_keep"])
           for r in spark.table(name).collect()}
    batch = {r["doc_id"]: (r["q_score_milli"], r["q_keep"])
             for r in hashed_linear_score(docs, w).collect()}
    assert got == batch
    assert got[1][1] is True and got[2][1] is False
    assert got[3] == (None, False)
