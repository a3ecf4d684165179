"""HyperLogLog sketch (operators/hll.py) — estimator accuracy, the
linear-counting small-range branch, partitioning invariance, and the
no-Python-in-plan claim (the sketch is pure relational algebra)."""

import hashlib
import math

from pyspark.sql import functions as F

from document_extractor_spark.operators.hll import (
    CAP, LN_SCALE, LN_TABLE, M, hll_distinct)
from document_extractor_spark.plans import assert_no_python


def _py_hll(values):
    """Reference single-machine recompute of the documented estimator."""
    regs = {}
    for v in set(values):
        h = hashlib.md5(str(v).encode()).hexdigest()
        bucket = int(h[:2], 16) % M
        bits = h[2:14].lstrip("0")
        if not bits:
            rank = CAP
        else:
            lz = 12 - len(bits)
            extra = {"1": 3, "2": 2, "3": 2, "4": 1, "5": 1,
                     "6": 1, "7": 1}.get(bits[0], 0)
            rank = min(lz * 4 + extra + 1, CAP)
        regs[bucket] = max(regs.get(bucket, 0), rank)
    n_used = len(regs)
    v_empty = M - n_used
    s_total = sum(1 << (CAP - r) for r in regs.values()) \
        + v_empty * (1 << CAP)
    raw = (709 * M * M * (1 << CAP)) // (1000 * s_total)
    if raw <= 5 * M // 2 and v_empty > 0:
        return n_used, (M * LN_TABLE[v_empty - 1]) // LN_SCALE
    return n_used, raw


def test_hll_matches_reference_recompute(spark):
    """The distributed sketch equals the single-machine recompute of
    the same documented integer estimator — register-exact."""
    rows = [("a", i % 37) for i in range(500)] \
        + [("b", i) for i in range(2000)] + [("b", None)]
    df = spark.createDataFrame(rows, "key string, v bigint")
    got = {r["key"]: (r["n_used"], r["est_distinct"])
           for r in hll_distinct(df, "key", "v").collect()}
    assert got["a"] == _py_hll(range(37))
    assert got["b"] == _py_hll(range(2000))


def test_hll_estimate_within_tolerance(spark):
    """m=64 → standard error ~13%; assert inside 3 sigma (~40%) for a
    5000-distinct group and inside linear-counting accuracy (~15%) for
    a 30-distinct group."""
    df = spark.range(20000).select(
        F.lit("big").alias("key"), (F.col("id") % 5000).alias("v"))
    small = spark.range(90).select(
        F.lit("small").alias("key"), (F.col("id") % 30).alias("v"))
    got = {r["key"]: r["est_distinct"]
           for r in hll_distinct(df.union(small), "key", "v").collect()}
    assert abs(got["big"] - 5000) / 5000 < 0.40
    assert abs(got["small"] - 30) / 30 < 0.15


def test_hll_partitioning_invariance(spark):
    """Register max is a semilattice: 1-partition, 16-partition, and
    shuffled runs produce byte-identical sketches."""
    base = spark.range(3000).select(
        (F.col("id") % 3).cast("string").alias("key"),
        (F.col("id") % 997).alias("v"))
    outs = []
    for df in (base.coalesce(1), base.repartition(16),
               base.orderBy(F.desc("v")).repartition(5, "v")):
        outs.append(sorted(
            tuple(r) for r in hll_distinct(df, "key", "v").collect()))
    assert outs[0] == outs[1] == outs[2]


def test_hll_plan_is_pure_relational(spark):
    """Unlike KMV there is no mapInArrow partial pass — the whole
    sketch must be JVM relational algebra (no Python of any kind)."""
    df = spark.createDataFrame([("a", 1)], "key string, v bigint")
    assert_no_python(hll_distinct(df, "key", "v"))


def test_ln_table_constants():
    """The fixed-point ln table is what the docstring says it is."""
    assert len(LN_TABLE) == M
    for v in (1, 2, 17, 64):
        assert LN_TABLE[v - 1] == round(math.log(M / v) * LN_SCALE)
    assert LN_TABLE[M - 1] == 0  # ln(1)


def test_stream_hll_equals_batch(spark, tmp_path):
    """Micro-batch slicing invariance: the streaming sketch's final
    state equals the batch sketch exactly (register max is commutative
    and idempotent), at 1-file and 4-file trigger granularities."""
    from document_extractor_spark.operators.hll import hll_distinct
    from document_extractor_spark.streaming.jobs import (
        run_stream_to_memory, stream_hll_distinct)

    rows = [((i * 13) % 5, (i * 7919) % 400) for i in range(3000)]
    df = spark.createDataFrame(
        [(f"k{k}", v) for k, v in rows], "event_type string, v bigint")
    batch = sorted(
        tuple(r) for r in hll_distinct(df, "event_type", "v").collect())

    inp = str(tmp_path / "in")
    df.repartition(6).write.mode("overwrite").parquet(inp)
    for n, files_per in (("one", 1), ("four", 4)):
        stream = (spark.readStream.schema(df.schema)
                  .option("maxFilesPerTrigger", files_per).parquet(inp))
        out = stream_hll_distinct(stream, "event_type", "v")
        run_stream_to_memory(out, f"t_stream_hll_{n}",
                             output_mode="update")
        mem = spark.table(f"t_stream_hll_{n}")
        from pyspark.sql import functions as SF
        final = (mem.groupBy("key")
                 .agg(SF.max(SF.struct("n_rows", "n_used",
                                       "est_distinct")).alias("s"))
                 .select("key", "s.n_used",
                         SF.col("s.est_distinct").cast("bigint")
                         .alias("est_distinct")))
        assert sorted(tuple(r) for r in final.collect()) == batch, n


def test_stream_hll_plan_has_no_python(spark):
    """The streaming sketch is one aggregation over the batch
    projection: no Python node, and over a batch frame it equals the
    batch sketch with ``n_rows`` counting each key's non-NULL values."""
    from document_extractor_spark.streaming.jobs import stream_hll_distinct

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 2), ("b", None), ("b", 7), (None, 3)],
        "key string, v bigint")
    out = stream_hll_distinct(df, "key", "v")
    assert_no_python(out)
    got = sorted(map(tuple, out.collect()), key=str)
    batch = {r["key"]: (r["n_used"], r["est_distinct"])
             for r in hll_distinct(df, "key", "v").collect()}
    assert got == sorted(((k, n, *batch[k]) for k, n in
                          (("a", 3), ("b", 1), (None, 1))), key=str)
