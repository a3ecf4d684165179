"""Heavy hitters (operators/heavyhitters.py) — one exact aggregation
against a broadcast token total, checked against the exact groupBy
answer."""

import pytest
from pyspark.sql import functions as F

from document_extractor_spark.functions.text import exploded_tokens
from document_extractor_spark.operators.heavyhitters import frequent_tokens
from document_extractor_spark.plans import assert_no_python


def _docs(spark, texts, parts=4):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    ).repartition(parts)


def _exact(spark, df, ppm):
    toks = exploded_tokens(df, "doc_id", "text")
    n = toks.count()
    rows = (toks.groupBy("tok").count()
            .where(F.col("count") * 1_000_000 >= ppm * n).collect())
    return {(r["tok"], r["count"], r["count"] * 1_000_000 // n)
            for r in rows}


def test_matches_exact_answer_on_skewed_corpus(spark):
    # 'the' dominates over a deep tail of unique tokens
    texts = [
        " ".join(["the"] * 30 + ["and"] * 10 + [f"tail{i}x{j}"
                                                for j in range(40)])
        for i in range(50)
    ]
    df = _docs(spark, texts)
    got = {(r["token"], r["cnt"], r["freq_ppm"])
           for r in frequent_tokens(df, min_freq_ppm=50_000).collect()}
    assert got == _exact(spark, df, 50_000)
    assert any(t == "the" for t, _, _ in got)
    assert all(not t.startswith("tail") for t, _, _ in got)


def test_partition_invariance(spark):
    texts = ["alpha beta beta gamma gamma gamma"] * 9 + ["delta " * 5]
    out = {
        p: sorted(map(tuple, frequent_tokens(
            _docs(spark, texts, parts=p), min_freq_ppm=100_000).collect()))
        for p in (1, 7)
    }
    assert out[1] == out[7] and out[1]


def test_min_freq_ppm_guard(spark):
    df = _docs(spark, ["a b c"])
    for ppm in (0, 1_000_001):
        with pytest.raises(ValueError, match="min_freq_ppm"):
            frequent_tokens(df, min_freq_ppm=ppm)


def test_empty_and_null_corpus(spark):
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   ")], "doc_id bigint, text string")
    assert frequent_tokens(df, min_freq_ppm=1000).collect() == []


def test_plan_has_no_python(spark):
    df = _docs(spark, ["x y z"] * 4)
    assert_no_python(frequent_tokens(df, min_freq_ppm=10_000))


def test_plan_build_runs_no_job(spark):
    """The corpus token total is a broadcast 1-row aggregate, not a
    driver-side collect, and nothing reads the input's partition count:
    building the plan starts no Spark job, also over an input with a
    shuffle (under AQE ``.rdd`` would materialize its stages), and an
    empty corpus (NULL total) still gives no rows."""
    sc = spark.sparkContext
    local = spark.createDataFrame([(1, "a b a"), (2, "b c")],
                                  "doc_id bigint, text string")
    for name, df in (("local", local), ("shuffled", local.repartition(2))):
        group = f"frequent_tokens_plan_{name}"
        sc.setJobGroup(group, "plan build only")
        try:
            out = frequent_tokens(df, min_freq_ppm=300_000)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert jobs == [], name
        assert sorted(map(tuple, out.collect())) == [("a", 2, 400_000),
                                                     ("b", 2, 400_000)]
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    assert frequent_tokens(empty, min_freq_ppm=1000).collect() == []
