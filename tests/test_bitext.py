"""Bitext candidate mining (operators/bitext.py)."""

import pytest
from pyspark.sql import functions as F

from document_extractor_spark.operators.bitext import bitext_candidates
from document_extractor_spark.plans import assert_no_python


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "url string, lang string, n_tokens bigint")


def _alts(spark, pairs):
    return spark.createDataFrame(pairs, "url string, href string")


def test_declared_pairs_lang_and_ratio_rules(spark):
    docs = _docs(spark, [
        ("e/1", "en", 100), ("d/1", "de", 120),    # kept (ratio 1.2)
        ("e/2", "en", 100), ("d/2", "de", 201),    # ratio > 2 → dropped
        ("e/3", "en", 100), ("d/3", "de", 200),    # exactly 2.0 → kept
        ("e/4", "en", 100), ("x/4", "en", 100),    # same lang → dropped
        ("e/5", "en", 100), ("d/5", "de", 0),      # zero length → dropped
    ])
    alts = _alts(spark, [("e/1", "d/1"), ("e/1", "d/1"),   # dup collapses
                         ("e/2", "d/2"), ("e/3", "d/3"),
                         ("e/4", "x/4"), ("e/5", "d/5"),
                         ("e/1", "ghost/url"),             # missing end
                         ("e/1", "e/1")])                  # self
    got = sorted((r["src_url"], r["dst_url"])
                 for r in bitext_candidates(docs, alts).collect())
    assert got == [("e/1", "d/1"), ("e/3", "d/3")]
    row = bitext_candidates(docs, alts).where(
        F.col("src_url") == "e/1").collect()[0]
    assert (row["src_lang"], row["dst_lang"],
            row["src_tokens"], row["dst_tokens"]) == ("en", "de", 100, 120)


def test_ratio_guard(spark):
    docs = _docs(spark, [("a", "en", 1)])
    with pytest.raises(ValueError, match="max_ratio_pct"):
        bitext_candidates(docs, _alts(spark, [("a", "b")]),
                          max_ratio_pct=50)


def test_plan_jvm_only(spark):
    docs = _docs(spark, [("a", "en", 1), ("b", "de", 1)])
    assert_no_python(bitext_candidates(docs, _alts(spark, [("a", "b")])))


# ---------------------------------------------------------------------------
# Gale-Church sentence alignment
# ---------------------------------------------------------------------------


def _pairs(spark, rows):
    return spark.createDataFrame(
        rows, "pair_id bigint, src_sents array<string>, "
              "tgt_sents array<string>")


def test_gale_church_diagonal_closed_form(spark):
    """Identical sentence lengths → all 1-1 beads, each costing exactly
    -ln(0.89) (length evidence contributes 0 at delta=0)."""
    import math

    from document_extractor_spark.operators.bitext import gale_church_align

    sents = ["a" * 10, "b" * 25, "c" * 40]
    df = _pairs(spark, [(1, sents, sents)])
    beads = sorted(gale_church_align(df).collect(),
                   key=lambda r: r["align_idx"])
    assert len(beads) == 3
    want_cost = int(round(-math.log(0.89) * 1000))
    for k, b in enumerate(beads):
        assert (b["src_start"], b["src_n"], b["tgt_start"], b["tgt_n"]) \
            == (k, 1, k, 1)
        assert b["cost_milli"] == want_cost


def test_gale_church_merge_and_onesided(spark):
    """A short source sentence with no target twin merges into a 2-1
    bead (cheaper than a 1-0 deletion under the paper's priors); an
    empty side forces pure insertions/deletions."""
    from document_extractor_spark.operators.bitext import gale_church_align

    df = _pairs(spark, [
        (1, ["a" * 100, "b" * 2, "c" * 100], ["x" * 100, "y" * 100]),
        (2, ["a" * 50], []),
        (3, [], ["x" * 30, "y" * 30]),
    ])
    got = {}
    for r in gale_church_align(df).collect():
        got.setdefault(r["pair_id"], []).append(r)
    for v in got.values():
        v.sort(key=lambda r: r["align_idx"])
    b1 = [(r["src_start"], r["src_n"], r["tgt_start"], r["tgt_n"])
          for r in got[1]]
    assert b1 == [(0, 1, 0, 1), (1, 2, 1, 1)]
    assert [(r["src_n"], r["tgt_n"]) for r in got[2]] == [(1, 0)]
    assert [(r["src_n"], r["tgt_n"]) for r in got[3]] == [(0, 1), (0, 1)]


def test_gale_church_matches_bruteforce(spark):
    """DP optimum equals an exhaustive enumeration over all monotone
    alignments on a small asymmetric pair."""
    import itertools
    import math

    from document_extractor_spark.operators.bitext import (
        _GC_PRIORS,
        _gc_length_cost,
        gale_church_align,
    )

    sl, tl = [12, 80, 33], [11, 45, 40, 30]

    def all_paths(i, j):
        if i == len(sl) and j == len(tl):
            yield []
            return
        for (ds, dt), p in _GC_PRIORS.items():
            if i + ds <= len(sl) and j + dt <= len(tl):
                c = -math.log(p) + _gc_length_cost(
                    sum(sl[i:i + ds]), sum(tl[j:j + dt]))
                for rest in all_paths(i + ds, j + dt):
                    yield [(i, ds, j, dt, c)] + rest

    best = min(all_paths(0, 0), key=lambda path: sum(x[4] for x in path))
    df = _pairs(spark, [(7, ["s" * x for x in sl], ["t" * x for x in tl])])
    got = sorted(gale_church_align(df).collect(),
                 key=lambda r: r["align_idx"])
    assert [(r["src_start"], r["src_n"], r["tgt_start"], r["tgt_n"])
            for r in got] == [(x[0], x[1], x[2], x[3]) for x in best]


def test_gale_church_null_sentence_is_empty(spark):
    """A NULL sentence aligns as an empty one instead of failing the
    task (its length is 0 in the staged projection)."""
    from document_extractor_spark.operators.bitext import gale_church_align

    def beads(src):
        rows = gale_church_align(_pairs(spark, [(1, src, ["x y"])])) \
            .collect()
        return sorted(tuple(r) for r in rows)

    got = beads(["a b", None])
    assert got and got == beads(["a b", ""])


def test_gale_church_cap_raises(spark):
    """An oversize pair fails the action loudly, naming the pair."""
    from pyspark.errors import PythonException

    from document_extractor_spark.operators.bitext import gale_church_align

    df = _pairs(spark, [(1, ["a"] * 40, ["b"] * 3)])
    with pytest.raises(PythonException,
                       match="pair 1 exceeds max_sentences=30"):
        gale_church_align(df, max_sentences=30).collect()


def test_gale_church_plan_build_runs_no_job(spark):
    """The ``max_sentences`` guard runs in the kernel: building the plan
    starts no Spark job, also over an input with a shuffle."""
    from document_extractor_spark.operators.bitext import gale_church_align

    sc = spark.sparkContext
    local = _pairs(spark, [(1, ["a b", "c"], ["x y"]), (2, ["d"], ["z"])])
    for name, df in (("local", local), ("shuffled", local.repartition(2))):
        group = f"gale_church_plan_{name}"
        sc.setJobGroup(group, "plan build only")
        try:
            out = gale_church_align(df, max_sentences=4)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert jobs == [], name
        assert {r["pair_id"] for r in out.collect()} == {1, 2}, name
