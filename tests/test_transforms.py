"""FIM training transform (operators/transforms.py)."""

import pytest
from pyspark.sql import functions as F

from document_extractor_spark.operators.transforms import fim_transform
from document_extractor_spark.plans import assert_no_python

TEXT = ("a steady piece of prose long enough to split three ways "
        "without degenerate empty parts anywhere")


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_reassembly_identity_and_structure(spark):
    df = _df(spark, [(i, TEXT + f" tail {i}") for i in range(40)])
    got = fim_transform(df, rate_pct=100).collect()
    assert all(r["fim_applied"] for r in got)
    for r in got:
        ft = r["fim_text"]
        assert ft.startswith("<PRE>")
        pre, rest = ft[5:].split("<SUF>", 1)
        suf, mid = rest.split("<MID>", 1)
        orig = [x["text"] for x in df.collect()
                if x["doc_id"] == r["doc_id"]][0]
        assert pre + mid + suf == orig       # exact reassembly
        assert len(pre) >= 1 and len(suf) >= 1


def test_reassembly_is_byte_exact_on_invalid_utf8(spark):
    """Strings cast from invalid UTF-8 (lone continuation and stray
    bytes, a last character cut short) reassemble to the input bytes.
    ``substring`` over a truncated last character reads past the string
    (``cast(X'61E2' AS STRING)`` comes back as ``61E20000``)."""
    raws = [b"words \xc3\x28 lone lead, \xff\xfe stray %d tail \xe2\x82" % i
            for i in range(30)]
    raws += [b"plain ascii prose long enough %d \xf0\x9f" % i
             for i in range(30)]
    df = (spark.createDataFrame(list(enumerate(raws)),
                                "doc_id bigint, raw binary")
          .select("doc_id", F.col("raw").cast("string").alias("text")))
    got = (fim_transform(df, rate_pct=100)
           .select("doc_id", "fim_applied",
                   F.col("fim_text").cast("binary").alias("ft"))
           .collect())
    assert len(got) == len(raws) and all(r["fim_applied"] for r in got)
    for r in got:
        ft = bytes(r["ft"])
        assert ft.startswith(b"<PRE>")
        pre, rest = ft[5:].split(b"<SUF>", 1)
        suf, mid = rest.split(b"<MID>", 1)
        assert pre + mid + suf == raws[r["doc_id"]]
        assert pre and suf


def test_rate_selection_is_id_hashed_and_stable(spark):
    df = _df(spark, [(i, TEXT) for i in range(200)])
    got = {r["doc_id"]: r["fim_applied"]
           for r in fim_transform(df, rate_pct=50).collect()}
    n_applied = sum(got.values())
    assert 60 <= n_applied <= 140  # hash-uniform, not exact-k
    # same ids selected under a different partitioning
    again = {r["doc_id"]: r["fim_applied"]
             for r in fim_transform(df.repartition(13),
                                    rate_pct=50).collect()}
    assert got == again
    # rate 0: nothing applied, text passes through verbatim
    none = fim_transform(df, rate_pct=0)
    assert none.where(F.col("fim_applied")).count() == 0
    assert none.where(F.col("fim_text") != F.col("text")).count() == 0


def test_short_null_and_params(spark):
    df = _df(spark, [(1, "tiny"), (2, None)])
    got = {r["doc_id"]: r for r in
           fim_transform(df, rate_pct=100).collect()}
    assert not got[1]["fim_applied"] and got[1]["fim_text"] == "tiny"
    assert not got[2]["fim_applied"] and got[2]["fim_text"] is None
    with pytest.raises(ValueError):
        fim_transform(df, rate_pct=101)
    with pytest.raises(ValueError):
        fim_transform(df, min_chars=2)


def test_plan_stays_jvm(spark):
    assert_no_python(fim_transform(_df(spark, [(1, TEXT)])))


def _reassemble(inputs: str, targets: str) -> str:
    """Splice targets back into inputs by sentinel — must reproduce the
    original token stream."""
    import re

    tgt = {}
    parts = re.split(r"<extra_id_(\d+)>", targets)
    # parts: ['', '0', ' span toks ', '1', ' more ', ...]
    for i in range(1, len(parts), 2):
        tgt[int(parts[i])] = parts[i + 1].strip()
    out = inputs
    for k, span in tgt.items():
        out = out.replace(f"<extra_id_{k}>", span)
    return " ".join(out.split())


def test_span_corruption_reconstruction(spark):
    from document_extractor_spark.operators.transforms import (
        span_corruption)

    rows = [(i, " ".join(f"w{i}x{j}" for j in range(60)))
            for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = span_corruption(df, seed_pct=20).collect()
    assert any(r["sc_n_spans"] > 0 for r in got)
    for r in got:
        orig = [x for i, x in rows if i == r["doc_id"]][0]
        assert _reassemble(r["sc_inputs"], r["sc_targets"]) == orig
        # sentinels appear exactly once each, in order, in both outputs
        for k in range(r["sc_n_spans"]):
            assert r["sc_inputs"].count(f"<extra_id_{k}>") == 1
            assert r["sc_targets"].count(f"<extra_id_{k}>") == 1


def test_span_corruption_determinism_null_params(spark):
    import pytest

    from document_extractor_spark.operators.transforms import (
        span_corruption)

    rows = [(i, " ".join(f"t{j}" for j in range(40))) for i in range(20)]
    rows.append((99, None))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    a = {r["doc_id"]: (r["sc_inputs"], r["sc_targets"])
         for r in span_corruption(df, seed_pct=15).collect()}
    b = {r["doc_id"]: (r["sc_inputs"], r["sc_targets"])
         for r in span_corruption(df.repartition(9),
                                  seed_pct=15).collect()}
    assert a == b
    assert a[99] == (None, None)
    with pytest.raises(ValueError):
        span_corruption(df, seed_pct=101)


def test_span_corruption_plan_jvm(spark):
    from document_extractor_spark.operators.transforms import (
        span_corruption)
    from document_extractor_spark.plans import assert_no_python

    df = spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")
    assert_no_python(span_corruption(df))
