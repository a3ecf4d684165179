"""Hard-negative mining (operators/similarity.py)."""

import math

import pytest
from pyspark.sql import functions as F

from document_extractor_spark.operators.similarity import hard_negatives
from document_extractor_spark.plans import assert_no_python, physical_plan


def _vecs(spark):
    # 2-D vectors with obvious geometry; labels split the plane
    rows = [
        (0, [1.0, 0.0], 0),    # anchor
        (1, [0.9, 0.1], 0),    # same label — never a negative
        (2, [0.8, 0.2], 1),    # closest different-label
        (3, [0.0, 1.0], 1),    # orthogonal different-label
        (4, [-1.0, 0.0], 1),   # opposite
        (5, [0.0, 0.0], 1),    # zero-norm: NULL cosine, filtered
    ]
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label int")


def _cos(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return round(dot / (na * nb), 6)


def test_mines_closest_different_label(spark):
    df = _vecs(spark)
    out = hard_negatives(df, df.where(F.col("vec_id") == 0), k=2).collect()
    got = [(r["anchor_id"], r["neg_id"], r["cosine"], r["rnk"])
           for r in sorted(out, key=lambda r: r["rnk"])]
    assert got == [
        (0, 2, _cos([1, 0], [0.8, 0.2]), 1),
        (0, 3, _cos([1, 0], [0.0, 1.0]), 2),
    ]


def test_same_label_and_zero_norm_excluded(spark):
    df = _vecs(spark)
    out = hard_negatives(df, df.where(F.col("vec_id") == 0), k=10).collect()
    ids = {r["neg_id"] for r in out}
    assert 1 not in ids          # same label
    assert 5 not in ids          # zero-norm
    assert ids == {2, 3, 4}


def test_multi_anchor_ranks_are_per_anchor(spark):
    df = _vecs(spark)
    anchors = df.where(F.col("vec_id").isin(0, 3))
    out = hard_negatives(df, anchors, k=1).collect()
    best = {r["anchor_id"]: r["neg_id"] for r in out}
    assert best[0] == 2          # closest label-1 to (1,0)
    assert best[3] == 1          # closest label-0 to (0,1): (0.9,0.1)? no
    # (0,1)·(0.9,0.1)=0.1/..., (0,1)·(1,0)=0 → vec 1 wins
    assert all(r["rnk"] == 1 for r in out)


def test_guards(spark):
    df = _vecs(spark)
    with pytest.raises(ValueError, match="k must be"):
        hard_negatives(df, df.where(F.col("vec_id") == 0), k=0)
    with pytest.raises(ValueError, match="empty"):
        hard_negatives(df, df.where(F.col("vec_id") < 0))
    big = spark.range(65).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0)).alias("embedding"),
        F.lit(0).alias("label"))
    with pytest.raises(ValueError, match="exceeds"):
        hard_negatives(df, big)


@pytest.mark.parametrize("anchor,message", [
    ((7, None, 1), "anchor id 7 has NULL embedding"),
    ((7, [1.0, None], 1), "anchor id 7 has NULL embedding component"),
    ((7, [1.0, 0.0], None), "anchor id 7 has NULL label"),
    ((None, [1.0, 0.0], 1), "anchor at batch position 0 has NULL vec_id"),
])
def test_null_anchor_fields_raise_value_error(spark, anchor, message):
    anchors = spark.createDataFrame(
        [anchor], "vec_id bigint, embedding array<double>, label int")
    with pytest.raises(ValueError, match=message):
        hard_negatives(_vecs(spark), anchors)


def test_plan_no_python_no_cross_join(spark):
    df = _vecs(spark)
    out = hard_negatives(df, df.where(F.col("vec_id") == 0), k=2)
    assert_no_python(out)
    plan = physical_plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the embedding payload must not pass the explode into the window
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "embedding" not in line, line
