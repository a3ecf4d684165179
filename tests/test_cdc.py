"""Content-defined chunking (operators/cdc.py).

The chunk golden pins digests of ``cdc_chunks`` rows, grouped by input
case, in ``tests/golden/cdc_chunks.json``. Regenerate it only for a
deliberate behaviour change:

    PYTHONPATH=. python tests/test_cdc.py --write
"""

import hashlib
import itertools
import json
import os
import random
import sys
from collections import Counter

import pytest
from pyspark.sql import functions as F

from document_extractor_spark.operators.cdc import (
    cdc_chunks,
    cdc_dup_candidates,
    chunk_overlap,
)
from document_extractor_spark.plans import assert_no_python, physical_plan

TEXT = ("the quick brown fox jumps over the lazy dog while the crawler "
        "fetches another page and the extractor strips its boilerplate "
        "into clean article text for the training corpus downstream") * 3


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _texts(spark, rows):
    """Like ``_df``, but each text is the cast of its bytes to string,
    so invalid UTF-8 stays as it is."""
    return (spark.createDataFrame(rows, "doc_id bigint, raw binary")
            .select("doc_id", F.col("raw").cast("string").alias("text")))


def test_gap_free_cover_and_determinism(spark):
    chunks = cdc_chunks(_df(spark, [(1, TEXT)])).orderBy("start").collect()
    assert chunks[0]["start"] == 1
    assert chunks[-1]["end"] == len(TEXT)
    for prev, cur in zip(chunks, chunks[1:]):
        assert cur["start"] == prev["end"] + 1  # contiguous, no gaps
    # deterministic under different partitioning
    again = cdc_chunks(_df(spark, [(1, TEXT)]).repartition(7)) \
        .orderBy("start").collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in chunks]


def test_resynchronization_after_prefix_edit(spark):
    # divisor 16 → ~16-char chunks, plenty of boundaries in 546 chars
    orig = cdc_chunks(_df(spark, [(1, TEXT)]), divisor=16)
    edited = cdc_chunks(_df(spark, [(1, "PREFIX EDIT " + TEXT)]),
                        divisor=16)
    row = chunk_overlap(orig, edited).collect()[0]
    assert row["n_a"] >= 8  # chunking actually happened
    # the point of CDC: chunks after the first boundary keep their
    # identity despite every offset shifting by 12
    assert row["n_shared"] >= row["n_a"] - 2
    assert row["shared_ppm"] >= 700000


def test_short_null_empty_and_params(spark):
    rows = [(1, "tiny"), (2, None), (3, ""), (4, "x" * 15)]
    got = cdc_chunks(_df(spark, rows)).collect()
    by_id = {}
    for r in got:
        by_id.setdefault(r["doc_id"], []).append(r)
    assert len(by_id[1]) == 1 and by_id[1][0]["end"] == 4
    assert 2 not in by_id and 3 not in by_id
    assert len(by_id[4]) == 1  # shorter than w → single chunk
    with pytest.raises(ValueError):
        cdc_chunks(_df(spark, rows), w=1)
    with pytest.raises(ValueError):
        cdc_chunks(_df(spark, rows), divisor=1)


def test_plan_stays_jvm(spark):
    assert_no_python(cdc_chunks(_df(spark, [(1, TEXT)])))


def test_dup_candidates_pairing_and_df_cap(spark):
    base = TEXT
    df = _df(spark, [
        (1, base),
        (2, "PREFIX EDIT " + base),        # partial copy of 1
        (3, "completely different content about something else entirely "
            "with no shared phrasing at all in any of its sentences"),
    ])
    chunks = cdc_chunks(df, divisor=16)
    pairs = {(r["id_a"], r["id_b"]): r["n_shared"]
             for r in cdc_dup_candidates(chunks).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert not any(3 in p for p in pairs)
    # a template chunk present in EVERY doc must not create pairs when
    # the df cap excludes it
    tmpl = " SHARED FOOTER TEMPLATE CHUNK TEXT HERE"
    df2 = _df(spark, [(i, f"unique text number {i} " * 8 + tmpl)
                      for i in range(1, 6)])
    c2 = cdc_chunks(df2, divisor=16)
    capped = cdc_dup_candidates(c2, min_shared=1, max_chunk_df=2).collect()
    uncapped = cdc_dup_candidates(c2, min_shared=1,
                                  max_chunk_df=1000).collect()
    assert len(capped) < len(uncapped) or len(uncapped) == 0
    with pytest.raises(ValueError):
        cdc_dup_candidates(c2, min_shared=0)


def test_candidates_plan_reads_chunks_once(spark, tmp_path):
    """The text is scanned once, its boundary filter runs once, and the
    candidate step is one aggregation, not self-joins."""
    path = str(tmp_path / "texts")
    _df(spark, [(1, TEXT), (2, "PREFIX EDIT " + TEXT)]).write.parquet(path)
    cands = cdc_dup_candidates(cdc_chunks(spark.read.parquet(path)))
    plan = physical_plan(cands)
    assert plan.count("FileScan") == 1, plan
    assert plan.count("filter(sequence(") == 1, plan
    assert_no_python(cands)


def test_cut_last_character_hashes_only_its_own_bytes(spark):
    """A text cast from bytes that end inside a multi-byte character:
    its last chunk hashes the bytes the text holds, nothing past them
    (``substring`` over such a character copies bytes from beyond the
    string)."""
    raw = b"tail cut inside a character \xe2\x82"
    df = _texts(spark, [(1, raw), (2, b"\xf0")])
    got = {r["doc_id"]: r["chunk_hash"] for r in cdc_chunks(df).collect()}
    assert got == {1: hashlib.md5(raw).hexdigest(),
                   2: hashlib.md5(b"\xf0").hexdigest()}


# -- chunk golden -------------------------------------------------------

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "cdc_chunks.json")
DIVISORS = (64, 16)


def _varied(unit: bytes, n: int) -> bytes:
    """``n`` numbered copies of ``unit``: the numbers keep the text from
    repeating with a short period, so boundaries are not all-or-none."""
    return b"".join(unit + b" %d " % k for k in range(n))


_INVALID_UTF8 = (b"plain words \xc3\x28 lone lead and \xff\xfe stray "
                 b"bytes \x80\xbf then more text,")


def _page_text(n_chars: int = 9000) -> str:
    """The first extracted text of the page generator that is at least
    ``n_chars`` long, cut to ``n_chars``."""
    from document_extractor_spark.extractor.core import extract_payload
    from document_extractor_spark.sources.generator import corpus_rows

    for r in corpus_rows(16, seed=11, pdf_frac=0.0):
        t = extract_payload(r["html"], url=r["url"])["extracted_text"]
        if len(t) >= n_chars:
            return t[:n_chars]
    raise AssertionError(f"no generated text of {n_chars} chars")


def golden_cases() -> dict:
    """case name -> ``[(doc_id, text bytes or None)]``, read through
    ``_texts``."""
    def u(s):
        return s.encode("utf-8")
    return {
        "astral": [(1, _varied(u("emoji 😀🎉 and 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 letters 🧪"), 12)),
                   (2, u("😀" * 70))],
        "cjk": [(1, _varied(u("中文文本，包含全角标点。日本語のテキスト！（括弧）"
                              "「引用」"), 12))],
        "controls": [(1, _varied(u("line one\r\nline\ttwo\x00nul\r\n\tend"),
                                 16))],
        "invalid_utf8": [(1, _varied(_INVALID_UTF8, 20)[:1008] + b" tail"),
                         (2, b"\xc3\x28\xff\xfe" * 40 + b"ok")],
        "short": [(15, u("a" * 15)), (16, u("b" * 16)), (17, u("c" * 17)),
                  (18, u("0123456789abcdefg"))],
        "degenerate": [(1, b""), (2, None), (None, u(TEXT)), (3, u(" "))],
        "page_text": [(1, u(_page_text()))],
    }


def _chunks_digest(rows) -> dict:
    got = sorted((tuple(r) for r in rows),
                 key=lambda r: (r[0] is None, r[0] or 0, r[1]))
    payload = repr(got).encode("utf-8")
    return {"rows": len(got), "sha256": hashlib.sha256(payload).hexdigest()}


def chunk_digests(spark) -> dict:
    out = {}
    for name, rows in golden_cases().items():
        df = _texts(spark, rows)
        for divisor in DIVISORS:
            got = cdc_chunks(df, w=16, divisor=divisor).select(
                "doc_id", "start", "end", "chunk_hash").collect()
            out[f"{name}/d{divisor}"] = _chunks_digest(got)
    return out


def test_chunk_golden(spark):
    with open(GOLDEN, encoding="utf-8") as f:
        expected = json.load(f)
    got = chunk_digests(spark)
    assert sorted(got) == sorted(expected)
    bad = [k for k in expected if got[k] != expected[k]]
    assert not bad, f"cdc_chunks rows changed for {bad}"


# -- candidates: totality against a brute-force pair count ---------------

def _brute_candidates(rows, min_shared, max_chunk_df):
    """``cdc_dup_candidates`` by hand: distinct ``(id, hash)``, NULL
    hashes never match, df counts a NULL id, only non-NULL ids pair."""
    ids_of = {}
    for i, h in set(rows):
        if h is not None:
            ids_of.setdefault(h, set()).add(i)
    shared = Counter()
    for ids in ids_of.values():
        if 2 <= len(ids) <= max_chunk_df:
            for a, b in itertools.combinations(
                    sorted(i for i in ids if i is not None), 2):
                shared[(a, b)] += 1
    return {p: n for p, n in shared.items() if n >= min_shared}


def _candidate_rows():
    rnd = random.Random(11)
    rows = [
        (None, "h_null"), (1, "h_null"), (2, "h_null"),   # df 3, one pair
        (None, "h_one"), (1, "h_one"),                     # df 2, no pair
        (1, None), (2, None), (3, None), (None, None),     # never match
        (1, "h_rep"), (1, "h_rep"), (1, "h_rep"), (3, "h_rep"),
    ]
    rows += [(i, "h_at_cap") for i in range(1, 5)]         # df 4
    rows += [(i, "h_over_cap") for i in range(1, 6)]       # df 5
    ids = list(range(1, 9)) + [None]
    hashes = [f"r{k}" for k in range(12)] + [None]
    rows += [(rnd.choice(ids), rnd.choice(hashes)) for _ in range(120)]
    return rows


@pytest.mark.parametrize("min_shared,max_chunk_df",
                         [(1, 4), (2, 4), (1, 1000), (2, 1000), (1, 2)])
def test_dup_candidates_match_brute_force(spark, min_shared, max_chunk_df):
    rows = _candidate_rows()
    chunks = spark.createDataFrame(rows, "doc_id bigint, chunk_hash string")
    got = {(r["id_a"], r["id_b"]): r["n_shared"]
           for r in cdc_dup_candidates(chunks, min_shared=min_shared,
                                       max_chunk_df=max_chunk_df).collect()}
    assert got == _brute_candidates(rows, min_shared, max_chunk_df)


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        sys.exit(__doc__)
    from pyspark.sql import SparkSession

    session = (SparkSession.builder.master("local[2]")
               .config("spark.ui.enabled", "false").getOrCreate())
    digests = chunk_digests(session)
    session.stop()
    with open(GOLDEN, "w", encoding="utf-8") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")
