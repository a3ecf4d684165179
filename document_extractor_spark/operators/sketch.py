"""KMV (k-minimum-values) distinct-count sketch — bounded-memory
cardinality estimation per group (distinct users per event type,
distinct URLs per host, ...). The web-corpus use: crawl-health
dashboards over groups whose exact distinct sets would dominate the
shuffle at 100 TB.

Why KMV and not HyperLogLog here: KMV's state (the k smallest hashes
of the group's distinct values) is **exactly mergeable** — k-smallest
is a semilattice, so the result is a pure function of the input SET,
independent of partitioning, batching, task order, or retries. That
determinism is what lets the DuckDB oracle recompute the identical
sketch from the exact distinct set and hash-match it (Spark's builtin
``approx_count_distinct`` is also deterministic, but its HLL state has
no cross-engine twin). Estimator: (k-1) / kth-smallest-hash-as-fraction
(Bar-Yossef et al.); groups with fewer than k distinct values are
exact by construction.

Scale shape — the classic two-level sketch merge:

1. partition-local partials in ``mapInArrow`` (one of the documented
   legitimate-UDF cases: no builtin expresses bounded per-key state
   across a partition): NO shuffle, memory capped at ~k hashes per key,
   emits ≤ k hashes per (partition, key);
2. one map-side-combined ``groupBy(key)`` over ≤ partitions × k rows
   per key.

The raw values never shuffle; a hot key costs partitions × k rows, not
its row count. md5 (not xxhash64) because both engines compute
identical md5 — cross-engine determinism is the point.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..functions.text import hex_int, md5_of, valid_utf8
from .extract import record_batch

#: hex chars of the hash used as the uniform (0,1) fraction — 48 bits,
#: exactly representable in a double in BOTH engines
_FRAC_HEX = 12


def kmv_distinct(df: DataFrame, key_col: str, value_col: str,
                 k: int = 64) -> DataFrame:
    """Per-``key_col`` distinct-count sketch of ``value_col``. Returns
    ``(key, n_kept, est_distinct)``: the sketch size (== min(k, exact
    distinct count)) and the estimate — exact below k, floor((k-1) /
    frac(kth hash)) at or above. NULL values are ignored, like
    ``count(DISTINCT ...)``. Deterministic under any partitioning."""
    if k < 2:
        raise ValueError("k must be at least 2")
    n = F.size("_ks")
    est = _kmv_estimate(n, F.element_at("_ks", n), k)
    return _kmv_sketch(df, F.col(key_col), value_col, k).select(
        "key",
        n.cast("int").alias("n_kept"),
        est.alias("est_distinct"),
    )


def _kmv_sketch(df: DataFrame, key: Column, value_col: str,
                k: int) -> DataFrame:
    """``(key, _ks)`` rows: per key, the sorted k minimum md5 hashes of
    the DISTINCT non-NULL values — partition-local k-min partials (no
    shuffle of raw values), then one ``groupBy(key)`` merge."""
    hashed = df.select(
        key.alias("key"),
        md5_of(F.col(value_col)).alias("h"),
    ).where(F.col("h").isNotNull())
    out_schema = StructType([
        hashed.schema["key"],
        StructField("h", hashed.schema["h"].dataType, False),
    ])

    def _partials(batches):
        acc: dict = {}
        for batch in batches:
            # a NULL key (None) is a group like any other (matching
            # Spark groupBy / SQL GROUP BY semantics)
            for key, h in zip(batch.column(0).to_pylist(),
                              batch.column(1).to_pylist()):
                s = acc.get(key)
                if s is None:
                    s = acc[key] = set()
                s.add(h)
                # prune lazily: exact k-smallest is restored at yield
                if len(s) > 4 * k:
                    acc[key] = set(sorted(s)[:k])
        yield record_batch([(key, h) for key, s in acc.items()
                            for h in sorted(s)[:k]], out_schema)

    part = valid_utf8(hashed).mapInArrow(_partials, schema=out_schema)
    return part.groupBy("key").agg(
        F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("_ks"))


def _kmv_estimate(n, kth, k):
    """(k-1)/frac(kth-hash) estimator as a Column — exact below k.
    Shared by the per-key sketch above and the set-algebra below so the
    fraction convention can never drift."""
    frac = (hex_int(kth, _FRAC_HEX, cast="double")
            / F.lit(float(16 ** _FRAC_HEX)))
    est = F.when(n < k, n.cast("double")).otherwise(F.lit(k - 1) / frac)
    return F.floor(est).cast("bigint")


def _global_kmv(df: DataFrame, value_col: str, k: int) -> DataFrame:
    """≤k rows ``(h)``: the k minimum md5 hashes of the column's
    DISTINCT value set — the keyed sketch under one constant key."""
    return (_kmv_sketch(df, F.lit(0), value_col, k)
            .select(F.explode("_ks").alias("h")))


def kmv_overlap(a: DataFrame, b: DataFrame, value_col: str,
                k: int = 64) -> DataFrame:
    """KMV set algebra between two corpora (Beyer et al. 2007, the
    theta-sketch shape): estimate |A|, |B|, |A∪B|, |A∩B| and the
    Jaccard overlap of two DISTINCT value sets — e.g. shared URLs
    between two crawl snapshots — while moving only sketch hashes.

    Method: the k-min sketch of A∪B is the k smallest of S_A ∪ S_B
    (k-min is a semilattice, so the combined sketch is a valid KMV
    sketch of the union); ρ = |{h ∈ K_∪ : h ∈ S_A ∧ h ∈ S_B}| / |K_∪|
    estimates the Jaccard coefficient, and |A∩B| ≈ ρ · est(|A∪B|).
    All arithmetic past the estimator's one double division is
    integer (floors), and every output is a pure function of the two
    input SETS — the DuckDB oracle recomputes all of it exactly.

    Returns ONE row: ``(n_union, n_both, est_a, est_b, est_union,
    est_intersection, jaccard_milli)``. Exact when both sides have
    fewer than k distinct values. Scale shape: each corpus collapses
    to ≤k hashes via partition-local partials; everything after is
    metadata-scale (≤2k rows)."""
    if k < 2:
        raise ValueError("k must be at least 2")
    sa = _global_kmv(a, value_col, k).select(
        "h", F.lit(True).alias("_in_a"))
    sb = _global_kmv(b, value_col, k).select(
        "h", F.lit(True).alias("_in_b"))
    u = (sa.join(sb, "h", "full_outer")
         .select("h",
                 F.coalesce("_in_a", F.lit(False)).alias("in_a"),
                 F.coalesce("_in_b", F.lit(False)).alias("in_b"))
         .orderBy("h").limit(k))
    est_a = sa.groupBy().agg(
        _kmv_estimate(F.count("*"), F.max("h"), k).alias("est_a"))
    est_b = sb.groupBy().agg(
        _kmv_estimate(F.count("*"), F.max("h"), k).alias("est_b"))
    agg = u.groupBy().agg(
        F.count("*").cast("int").alias("n_union"),
        F.coalesce(F.sum((F.col("in_a") & F.col("in_b")).cast("int")),
                   F.lit(0)).cast("int").alias("n_both"),
        _kmv_estimate(F.count("*"), F.max("h"), k).alias("est_union"))
    # three 1-row frames joined on a constant key — metadata-scale by
    # construction (a broadcast hash join, not a cross join)
    j = F.lit(1).alias("_j")
    out = (agg.select(j, "*")
           .join(F.broadcast(est_a.select(j, "*")), "_j")
           .join(F.broadcast(est_b.select(j, "*")), "_j"))
    nu = F.col("n_union").cast("bigint")
    est_int = F.when(nu > 0, F.floor(
        F.col("n_both").cast("bigint") * F.col("est_union") / nu)
    ).otherwise(0)
    jac = F.when(nu > 0, F.floor(
        F.lit(1000).cast("bigint") * F.col("n_both").cast("bigint") / nu)
    ).otherwise(0)
    return out.select(
        "n_union", "n_both", "est_a", "est_b", "est_union",
        est_int.cast("bigint").alias("est_intersection"),
        jac.cast("int").alias("jaccard_milli"))


def hdr_quantiles(df: DataFrame, key_col: str, value_col: str,
                  quantiles=(0.5, 0.95, 0.99),
                  sub_bits: int = 5) -> DataFrame:
    """HDR-histogram-style quantile sketch (log2 major buckets,
    ``sub_bits`` linear sub-buckets) — the deterministic, exactly-
    mergeable alternative to ``approx_percentile``'s t-digest, whose
    estimate a DuckDB oracle can recompute bit-for-bit.

    Each non-negative integer value rounds DOWN to its bucket floor
    (the value with all bits below the top ``sub_bits+1`` cleared), so
    the relative error is bounded by ``2^-sub_bits`` (~3% at the
    default 5) and the sketch state per key is at most
    ``2^(sub_bits+1) * 52`` bucket counters — a pure
    ``groupBy(key, bucket).count()`` that partial-aggregates map-side;
    raw values never shuffle. Quantile q = the smallest bucket floor
    whose cumulative count reaches ``ceil(q * n)`` (the lower
    interpolation-free rank, matching the oracle's CASE ladder).
    Unlike t-digest/KLL the result is a pure function of the input
    MULTISET — independent of partitioning, order, batching, retries.

    Negative or NULL values are ignored; values must fit 2^52 (the
    exact-double range both engines share for ``power(2, g)``).
    Returns one row per key: ``(key, n_values, q<NNN> ...)`` with
    bucket-floor BIGINTs, e.g. ``q500`` for the median.
    """
    if not 1 <= sub_bits <= 16:
        raise ValueError(f"sub_bits must be in [1, 16], got {sub_bits}")
    qs = sorted(quantiles)
    if not qs or any(not 0 < q <= 1 for q in qs):
        raise ValueError(f"quantiles must be in (0, 1], got {quantiles}")
    v = F.col(value_col).cast("bigint")
    staged = (df.where(v.isNotNull() & (v >= 0))
                .select(F.col(key_col).alias("key"), v.alias("v")))
    g = F.greatest(F.length(F.bin("v")) - F.lit(1 + sub_bits), F.lit(0))
    p = F.pow(F.lit(2.0), g).cast("bigint")
    hist = (staged.select("key", (F.floor(F.col("v") / p) * p)
                          .cast("bigint").alias("b"))
            .groupBy("key", "b").agg(F.count(F.lit(1)).alias("c")))
    from pyspark.sql import Window

    w = Window.partitionBy("key").orderBy("b")
    wall = Window.partitionBy("key")
    cum = (hist
           .withColumn("cum", F.sum("c").over(w))
           .withColumn("n", F.sum("c").over(wall)))
    aggs = [F.max("n").cast("bigint").alias("n_values")]
    for q in qs:
        rank = F.ceil(F.lit(q) * F.col("n"))
        aggs.append(
            F.min(F.when(F.col("cum") >= rank, F.col("b")))
            .cast("bigint").alias(f"q{int(round(q * 1000)):03d}"))
    return cum.groupBy("key").agg(*aggs)
