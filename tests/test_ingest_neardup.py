"""Incremental MinHash-LSH index (operators/dedup.py §7)."""

import pytest
from pyspark.sql import functions as F

from document_extractor_spark.operators.dedup import (
    ingest_near_dups,
    minhash_index,
)
from document_extractor_spark.plans import assert_no_python


def _hist(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "one two three four five six seven eight nine"),
        (3, "red green blue cyan magenta yellow black white"),
        (4, "alpha beta gamma delta epsilon zeta eta theta"),  # dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_clone_dropped_fresh_kept(spark):
    hist = _hist(spark)
    idx = minhash_index(hist)
    new = spark.createDataFrame(
        [
            (100, "alpha beta gamma delta epsilon zeta eta theta"),  # clone
            (101, "totally novel words nowhere in history corpus"),
        ],
        "doc_id bigint, text string")
    got = {r["id"]: (r["best_match_id"], r["jaccard_est"], r["keep"])
           for r in ingest_near_dups(new, idx).collect()}
    # clone: est 1.0; ties between historical dups 1 and 4 break to min
    assert got[100] == (1, 1.0, False)
    assert got[101] == (None, None, True)


def test_near_clone_estimate_between(spark):
    hist = _hist(spark)
    idx = minhash_index(hist)
    # one token changed out of eight: most shingles survive
    new = spark.createDataFrame(
        [(200, "alpha beta gamma delta epsilon zeta eta CHANGED")],
        "doc_id bigint, text string")
    rows = ingest_near_dups(new, idx, threshold=0.99).collect()
    assert len(rows) == 1
    r = rows[0]
    # the mutated tail kills some components but not most
    if r["jaccard_est"] is not None:
        assert 0.0 < r["jaccard_est"] < 1.0
        assert r["best_match_id"] in (1, 4)
        assert r["keep"]          # below the 0.99 bar


def test_partial_overlap_estimate_strictly_between(spark):
    """Independent MinHash components make the estimator graded: a doc
    sharing most shingles with a historical one is a candidate with an
    estimate strictly between 0 and 1, not the all-or-nothing 0/1."""
    words = [f"tok{i}" for i in range(40)]
    hist = spark.createDataFrame([(1, " ".join(words))],
                                 "doc_id bigint, text string")
    new = spark.createDataFrame(
        [(300, " ".join(words[:-1] + ["CHANGED"]))],
        "doc_id bigint, text string")
    r = ingest_near_dups(new, minhash_index(hist), threshold=0.99).first()
    assert r["best_match_id"] == 1
    assert 0.0 < r["jaccard_est"] < 1.0
    assert r["keep"]


def test_index_shape_and_guards(spark):
    hist = _hist(spark)
    idx = minhash_index(hist, k=32, bands=8)
    assert idx.columns == ["band", "band_hash", "id", "sig"]
    assert idx.count() == 4 * 8
    new = hist.limit(1)
    with pytest.raises(ValueError, match="threshold"):
        ingest_near_dups(new, idx, threshold=0.0)
    with pytest.raises(ValueError, match="divide"):
        ingest_near_dups(new, idx, bands=7)


def test_plans_are_jvm_only(spark):
    hist = _hist(spark)
    idx = minhash_index(hist)
    assert_no_python(idx)
    assert_no_python(ingest_near_dups(hist.limit(1), idx))


def test_drop_near_duplicates_keep_by(spark):
    """Quality-aware near-dedup keeps the best cluster member, min id
    on ties; the default path still keeps the min id."""
    from document_extractor_spark.operators.dedup import (
        drop_near_duplicates)

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base, 10),
        (2, base + " tail", 90),             # near-dup of 1, better q
        (3, "unrelated totally different words here now", 50),
        (4, base + " tail2", 90),            # ties with 2 → min id wins
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, q int")
    best = {r["doc_id"] for r in drop_near_duplicates(
        df, threshold=0.5, keep_by="q").collect()}
    assert best == {2, 3}
    default = {r["doc_id"] for r in drop_near_duplicates(
        df, threshold=0.5).collect()}
    assert default == {1, 3}


def test_drop_near_duplicates_keep_by_null_score_loses(spark):
    """An unscored member never wins its cluster: NULL ranks below
    every real score, whatever the ids."""
    from document_extractor_spark.operators.dedup import (
        drop_near_duplicates)

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(1, base, None), (2, base + " tail", 10)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, q int")
    kept = {r["doc_id"] for r in drop_near_duplicates(
        df, threshold=0.5, keep_by="q").collect()}
    assert kept == {2}


def test_blank_docs_share_no_bucket_and_stay_kept(spark):
    """Token-less docs (empty, whitespace-only, NULL) carry no near-dup
    evidence: they get no index rows, so N of them on each side neither
    share a band_hash nor produce N x N candidates; long-doc verdicts
    are unchanged."""
    blanks = ["", "   ", None, "\n\t"]
    hist = _hist(spark).unionByName(spark.createDataFrame(
        [(10 + i, t) for i, t in enumerate(blanks)],
        "doc_id bigint, text string"))
    idx = minhash_index(hist)
    assert {r["id"] for r in idx.select("id").distinct().collect()} == {
        1, 2, 3, 4}
    new = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta"),  # clone
         (101, "totally novel words nowhere in history corpus")]
        + [(200 + i, t) for i, t in enumerate(blanks)],
        "doc_id bigint, text string")
    got = {r["id"]: (r["best_match_id"], r["jaccard_est"], r["keep"])
           for r in ingest_near_dups(new, idx).collect()}
    assert got[100] == (1, 1.0, False)
    assert got[101] == (None, None, True)
    for i in range(len(blanks)):
        assert got[200 + i] == (None, None, True)
    assert len(got) == 2 + len(blanks)


# ---------------------------------------------------------------------------
# mirror_families
# ---------------------------------------------------------------------------


def test_mirror_families_mostly_syndicated_mirrors_link(spark):
    """Containment counts only the hashes that survive the fan-in cap
    on BOTH sides: two byte-identical hosts whose pages are mostly
    syndicated (capped away) still form one family; n_hashes stays the
    uncapped per-host count."""
    from document_extractor_spark.operators.dedup import mirror_families

    syndicated = [f"wire story {i}" for i in range(4)]
    site = syndicated + ["own mirror page"]
    rows = ([("a.com", t) for t in site] + [("b.com", t) for t in site]
            + [(f"s{j}.com", t) for j in range(3) for t in syndicated])
    got = {r["host"]: (r["family_id"], r["n_hashes"])
           for r in mirror_families(
               spark.createDataFrame(rows, "source string, text string"),
               max_hosts_per_hash=4).collect()}
    assert got == {"a.com": ("a.com", 5), "b.com": ("a.com", 5)}


def test_mirror_families_components(spark):
    from document_extractor_spark.operators.dedup import mirror_families

    rows = [
        # A and B: full mirrors (3 shared texts)
        ("a.com", "text one"), ("a.com", "text two"), ("a.com", "text three"),
        ("b.com", "text one"), ("b.com", "text two"), ("b.com", "text three"),
        # E: subset mirror (containment — 2/2 of its texts are A's)
        ("e.com", "text one"), ("e.com", "text two"),
        # C: 1 of 3 shared with A → 333333 ppm < 500000 → no edge
        # (shares "text three", which E does NOT carry — else the
        # min-side containment rule would link C to the 2-text E at
        # exactly 1/2)
        ("c.com", "text three"), ("c.com", "own c2"), ("c.com", "own c3"),
        # D: disjoint
        ("d.com", "entirely different"),
        (None, "text one"), ("x.com", None),
    ]
    got = {r["host"]: (r["family_id"], r["n_hashes"])
           for r in mirror_families(
               spark.createDataFrame(rows, "source string, text string")
           ).collect()}
    assert got == {
        "a.com": ("a.com", 3),
        "b.com": ("a.com", 3),
        "e.com": ("a.com", 2),
    }


def test_mirror_families_cap_and_guards(spark):
    import pytest as _pt

    from document_extractor_spark.operators.dedup import mirror_families

    # one text on 3 hosts with cap 2 → evidence excluded → no families
    rows = [(h, "mass boilerplate") for h in ("a", "b", "c")]
    df = spark.createDataFrame(rows, "source string, text string")
    assert mirror_families(df, max_hosts_per_hash=2).count() == 0
    with _pt.raises(ValueError, match="overlap_ppm_threshold"):
        mirror_families(df, overlap_ppm_threshold=0)
    with _pt.raises(ValueError, match="max_hosts_per_hash"):
        mirror_families(df, max_hosts_per_hash=1)


def test_mirror_families_text_never_shuffles(spark):
    from document_extractor_spark.operators.dedup import mirror_families
    from document_extractor_spark.plans import physical_plan

    df = spark.createDataFrame(
        [("a", "x" * 40), ("b", "x" * 40)], "source string, text string")
    for line in physical_plan(mirror_families(df)).splitlines():
        if "Exchange" in line:
            assert "text" not in line, line
