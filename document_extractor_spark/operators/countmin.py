"""Count-Min sketch — fixed-memory frequency estimation over unbounded
key domains (token frequencies, URL hit counts, host request rates at
100 TB, where an exact per-key count table IS the corpus).

Complements the exact-heavy-hitter operator (operators/heavyhitters.py,
Misra-Gries + exact verify): Misra-Gries answers "which keys are
frequent" exactly but only above the 1/k threshold; the CM sketch
answers a point query for ANY key with the one-sided guarantee
``exact ≤ est ≤ exact + ε·N`` (ε = e/width, Cormode & Muthukrishnan
2005). Spark ships a ``count_min_sketch`` aggregate, but its binary
state has no cross-engine twin; this one is plain rows, so the DuckDB
oracle recomputes the IDENTICAL sketch — every counter is an exact SUM
of md5-derived bucket assignments, a pure function of the input multiset
independent of partitioning, task order, or retries.

Scale shape — the classic two-level sketch:

1. build: one staged explode (depth rows per value — depth is 3-5, a
   constant fan-out, not a shuffle multiplier) into a map-side-combined
   ``groupBy(row, bucket)``. The shuffle carries at most depth × width
   partial rows PER MAP TASK regardless of input size or key skew: a
   hot key is just a hot counter.
2. estimate: the sketch (≤ depth × width rows, kilobytes) is
   BROADCAST; the query-key side — which may be unbounded — never
   shuffles. Missing (row, bucket) cells read as 0 via the left join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import hex_int, md5_of

#: hex chars of md5 used per bucket draw — 48 bits, exact in a double
#: and in BIGINT arithmetic in both engines
_HEX = 12


def _bucket(col, row_i: int, width: int):
    """Row-``row_i`` bucket of ``col``: md5 of the row-salted value,
    first 48 bits mod width — byte-identical in DuckDB."""
    return F.pmod(hex_int(md5_of(f"{row_i}:", col), _HEX), F.lit(width))


def count_min_build(df: DataFrame, value_col: str, depth: int = 4,
                    width: int = 256) -> DataFrame:
    """Multiset of ``value_col`` → sketch rows ``(row, bucket, cnt)``.
    NULL values are ignored (they are not multiset members). Counters
    are exact sums — deterministic under any partitioning; sketches of
    disjoint inputs merge by summing matching cells."""
    if depth < 1 or width < 2:
        raise ValueError("need depth >= 1 and width >= 2")
    v = df.select(F.col(value_col).cast("string").alias("_v")) \
          .where(F.col("_v").isNotNull())
    cells = v.withColumn(
        "_cells",
        F.array(*[
            F.struct(F.lit(i).alias("row"),
                     _bucket(F.col("_v"), i, width).alias("bucket"))
            for i in range(depth)
        ]),
    ).select(F.explode("_cells").alias("_c"))
    return (
        cells.groupBy(F.col("_c.row").alias("row"),
                      F.col("_c.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def count_min_estimate(sketch: DataFrame, keys: DataFrame, key_col: str,
                       depth: int, width: int) -> DataFrame:
    """Point-query ``keys[key_col]`` against a ``count_min_build``
    sketch (built with the SAME depth/width): returns ``(key, est)``
    where ``est = min over rows of the key's counter`` — never below
    the true count. The bounded sketch broadcasts; keys may be any
    size."""
    fan = keys.select(F.col(key_col).cast("string").alias("key")) \
              .where(F.col("key").isNotNull())
    fan = fan.withColumn(
        "_cells",
        F.array(*[
            F.struct(F.lit(i).alias("row"),
                     _bucket(F.col("key"), i, width).alias("bucket"))
            for i in range(depth)
        ]),
    ).select("key", F.explode("_cells").alias("_c"))
    joined = fan.join(
        F.broadcast(sketch),
        (fan["_c.row"] == sketch["row"])
        & (fan["_c.bucket"] == sketch["bucket"]),
        "left",
    )
    return (
        joined.groupBy("key")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est"))
    )
