"""Snapshot diff (operators/diff.py)."""

from pyspark.sql import functions as F

from document_extractor_spark.operators.diff import snapshot_diff
from document_extractor_spark.plans import assert_no_python


def test_snapshot_diff_statuses(spark):
    old = spark.createDataFrame(
        [("a", "same"), ("b", "v1"), ("c", "gone"), ("n1", None),
         ("n2", None)],
        "url string, text string")
    new = spark.createDataFrame(
        [("a", "same"), ("b", "v2"), ("d", "fresh"), ("n1", None),
         ("n2", "now has text")],
        "url string, text string")
    got = {r["url"]: r["status"]
           for r in snapshot_diff(old, new).collect()}
    assert got == {
        "a": "unchanged",
        "b": "changed",
        "c": "removed",
        "d": "added",
        "n1": "unchanged",   # NULL text both sides: null-safe equal
        "n2": "changed",     # NULL -> text
    }
    assert_no_python(snapshot_diff(old, new))


def test_snapshot_diff_payload_not_shuffled(spark):
    """The compare runs over (key, fingerprint) projections — the text
    column must not appear in any exchange."""
    from document_extractor_spark.plans import physical_plan

    old = spark.createDataFrame([("a", "x" * 10)], "url string, text string")
    new = spark.createDataFrame([("a", "y" * 10)], "url string, text string")
    plan = physical_plan(snapshot_diff(old, new))
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text" not in line, line


# ---------------------------------------------------------------------------
# detect_moves
# ---------------------------------------------------------------------------


def test_detect_moves_classification(spark):
    from document_extractor_spark.operators.diff import detect_moves

    old = spark.createDataFrame(
        [
            ("https://a/1", "content one"),
            ("https://a/2", "content two"),
            ("https://a/3", "content three"),
            ("https://a/4", None),          # NULL text: cannot move
            ("https://a/5", "shared boilerplate"),
            ("https://a/6", "shared boilerplate"),
        ],
        "url string, text string")
    new = spark.createDataFrame(
        [
            ("https://b/1", "content one"),      # moved
            ("https://a/2", "content two"),      # same url: not moved
            ("https://b/5", "shared boilerplate"),   # overlaps a/6? no —
            ("https://a/6", "shared boilerplate"),   # a/6 shared: not moved
        ],
        "url string, text string")
    got = {tuple(r["old_urls"]): (tuple(r["new_urls"]), r["moved"],
                                  r["capped"])
           for r in detect_moves(old, new).collect()}
    assert got[("https://a/1",)] == (("https://b/1",), True, False)
    assert got[("https://a/2",)] == (("https://a/2",), False, False)
    # boilerplate fingerprint: url sets overlap on a/6 → not a move
    assert got[("https://a/5", "https://a/6")] == (
        ("https://a/6", "https://b/5"), False, False)
    # content three vanished: not present on both sides → no row
    assert len(got) == 3


def test_detect_moves_shared_url_past_cap_is_not_a_move(spark):
    """moved is decided on the full URL sets: the only URL both sides
    share sorts past the 64 emitted ones, so the content did not move."""
    from document_extractor_spark.operators.diff import detect_moves

    text = "syndicated story"
    old = spark.createDataFrame(
        [(f"https://a/{i:03d}", text) for i in range(70)]
        + [("https://z/shared", text)], "url string, text string")
    new = spark.createDataFrame(
        [(f"https://b/{i:03d}", text) for i in range(70)]
        + [("https://z/shared", text)], "url string, text string")
    (row,) = detect_moves(old, new).collect()
    assert len(row["old_urls"]) == len(row["new_urls"]) == 64
    assert "https://z/shared" not in row["old_urls"]
    assert row["capped"] is True
    assert row["moved"] is False


def test_detect_moves_payload_not_shuffled(spark):
    from document_extractor_spark.operators.diff import detect_moves
    from document_extractor_spark.plans import (
        assert_no_python,
        physical_plan,
    )

    old = spark.createDataFrame([("a", "x" * 50)], "url string, text string")
    new = spark.createDataFrame([("b", "x" * 50)], "url string, text string")
    out = detect_moves(old, new)
    assert_no_python(out)
    for line in physical_plan(out).splitlines():
        if "Exchange" in line:
            assert "text" not in line, line


def test_detect_moves_same_frame_guard(spark):
    import pytest as _pt

    from document_extractor_spark.operators.diff import detect_moves

    df = spark.createDataFrame([("a", "t")], "url string, text string")
    with _pt.raises(ValueError, match="different snapshots"):
        detect_moves(df, df)
