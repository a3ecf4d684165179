"""Bloom-filter-accelerated snapshot dedup (operators/bloom.py)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from document_extractor_spark.functions.text import fingerprint
from document_extractor_spark.operators.bloom import (
    _probe_positions,
    build_fingerprint_bloom,
    drop_known_duplicates_bloom,
)
from document_extractor_spark.operators.dedup import drop_known_duplicates
from document_extractor_spark.plans import physical_plan


def _corpus(spark, n=200):
    return spark.range(0, n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("content body number "),
                 F.col("id").cast("string")).alias("text"))


def test_bloom_dedup_identical_to_exact(spark):
    """The Bloom path is a pre-filter, never the verdict: survivors are
    row-identical to drop_known_duplicates on the same planted batch
    (known index + in-batch clones + a NULL-text row)."""
    docs = _corpus(spark)
    known = docs.filter("doc_id < 100").select(
        fingerprint("text").alias("fingerprint"))
    clones = docs.filter("doc_id >= 100 and doc_id < 110").select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text")
    batch = docs.unionByName(clones).unionByName(
        spark.createDataFrame([(999999, None)], "doc_id bigint, text string"))
    exact = sorted(map(tuple, drop_known_duplicates(batch, known).collect()))
    bloom = sorted(map(tuple,
                       drop_known_duplicates_bloom(batch, known).collect()))
    assert bloom == exact and len(bloom) == 100


def test_bloom_build_partitioning_invariant(spark, monkeypatch):
    """The bitmap OR-merge is a semilattice: identical bytes (and key
    count) whatever the index partitioning — same invariance bar as the
    KMV sketch. The build runs JVM-side: no Python node and no
    single-partition exchange in any plan it collects from a
    many-partition index."""
    known = _corpus(spark).select(fingerprint("text").alias("fingerprint"))
    one = build_fingerprint_bloom(known.repartition(1))
    plans = []
    collect = type(known).collect

    def spy(df):
        plans.append(physical_plan(df))
        return collect(df)

    monkeypatch.setattr(type(known), "collect", spy)
    many = build_fingerprint_bloom(known.repartition(16))
    assert one == many and one[1] == 200
    assert plans
    for plan in plans:
        assert "Python" not in plan and "MapIn" not in plan, plan
        assert "SinglePartition" not in plan, plan


def test_bloom_no_false_negatives_and_fpp_sane(spark):
    """Every inserted key probes positive (Bloom contract); the
    false-positive rate over fresh keys stays near the design point."""
    known = _corpus(spark, 1000).select(
        fingerprint("text").alias("fingerprint"))
    num_bits = 1 << 14  # 16384 bits / 1000 keys, k=4 -> fpp ~ 0.02
    bm, n = build_fingerprint_bloom(known, num_bits=num_bits)
    bitmap = np.frombuffer(bm, dtype=np.uint8)

    def hit(hexes):
        pos = _probe_positions(hexes, num_bits)
        return ((bitmap[pos >> 3] >> (pos & 7)) & 1).all(axis=1)

    inserted = [r["fingerprint"] for r in known.collect()]
    assert hit(np.array(inserted)).all()
    import hashlib
    fresh = np.array([hashlib.md5(f"novel {i}".encode()).hexdigest()
                      for i in range(2000)])
    fpp = hit(fresh).mean()
    assert fpp < 0.1, fpp


def test_bloom_undersized_raises(spark):
    """Saturated bitmap = silent all-candidate degradation — must fail
    loudly with sizing guidance instead."""
    docs = _corpus(spark)
    known = docs.select(fingerprint("text").alias("fingerprint"))
    with pytest.raises(ValueError, match="undersized"):
        drop_known_duplicates_bloom(docs, known, num_bits=64)


def test_bloom_empty_index_keeps_everything_fresh(spark):
    """An empty known index: no candidates, in-batch dedup still runs."""
    docs = _corpus(spark, 20)
    clones = docs.filter("doc_id < 5").select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text")
    known = docs.filter("doc_id < 0").select(
        fingerprint("text").alias("fingerprint"))
    out = sorted(r.doc_id for r in drop_known_duplicates_bloom(
        docs.unionByName(clones), known).collect())
    assert out == list(range(20))
