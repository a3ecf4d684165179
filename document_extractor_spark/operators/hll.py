"""From-scratch HyperLogLog distinct-count sketch — the classic
register-max cardinality estimator (Flajolet et al. 2007), built so the
whole sketch is **cross-engine deterministic**: md5 buckets, string-math
leading-zero ranks, and an integer-arithmetic estimator (rational alpha,
fixed-point ln table for the small-range linear-counting branch), so a
DuckDB oracle recomputes the identical registers AND the identical
estimate from the exact distinct set.

Complements the KMV sketch (`operators/sketch.py`): KMV keeps k hashes
(k × 16 bytes) and is exact below k; HLL keeps m 6-bit registers
(m bytes) and never stores hashes at all — at 100 TB a per-host
distinct-URL dashboard over 10^8 hosts is m bytes/host instead of
k×16. The two-level scale shape is even simpler than KMV's because the
register max IS a builtin aggregate:

1. project each row to ``(key, bucket, rank)`` — three small integers;
   the value itself never shuffles;
2. ``groupBy(key, bucket).max(rank)`` — map-side partial max, at most
   m rows per (partition, key) enter the exchange;
3. ``groupBy(key)`` folds the m registers into the estimate with exact
   integer sums (``2^(cap-rank)`` fixed-point, see below).

No UDF anywhere — the entire sketch is whole-stage-codegen relational
algebra, unlike KMV's mapInArrow partial pass.

Determinism notes (why the oracle can hash-match the estimate):

- rank is computed from the hex STRING of md5 (leading ``'0'`` count ×4
  plus a 16-way CASE on the first nonzero digit) — no float log2;
- ``sum(2^-M_j)`` is carried as the exact integer
  ``S = sum(2^(cap - M_j))`` with rank capped at ``cap`` ≤ 40, so S
  fits a BIGINT exactly in both engines;
- raw estimate = ``floor(alpha_milli * m^2 * 2^cap / (1000 * S))`` —
  pure BIGINT arithmetic (alpha_64 = 0.709 carried as 709/1000);
- the small-range correction (linear counting ``m * ln(m/V)`` when the
  raw estimate ≤ 2.5m and V empty buckets exist) uses a precomputed
  64-entry table of ``round(ln(m/V) * 2^20)`` — the SAME integer table
  is inlined in the Spark plan (array literal) and the oracle SQL.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import hex_int, md5_of

#: number of registers (power of two; 6 bucket bits)
M = 64
#: rank cap — keeps S = sum(2^(CAP - rank)) and the estimator numerator
#: exactly inside BIGINT (709 * M^2 * 2^CAP = 709 * 2^52 < 2^63)
CAP = 40
#: alpha_64 = 0.709 (Flajolet et al. Fig. 3), carried as a rational
ALPHA_MILLI = 709
#: fixed-point scale for the linear-counting ln table
LN_SCALE = 1 << 20

#: round(ln(M / V) * 2^20) for V = 1..M — identical constants are
#: inlined in the oracle SQL so both engines floor the same integers.
LN_TABLE = [round(math.log(M / v) * LN_SCALE) for v in range(1, M + 1)]


def bucket_rank_projection(df: DataFrame, key_col: str,
                           value_col: str) -> DataFrame:
    """``(key, bucket, rank)`` integer triples — the narrow projection
    both the batch sketch below and the streaming twin
    (`streaming.jobs.stream_hll_distinct`) fold registers from. The
    value itself never leaves this projection."""
    # staged narrow projection: hash once, then derive bucket/rank from
    # the staged column (repo rule — never inline a non-trivial
    # expression into multiple consumers)
    hashed = (df.where(F.col(value_col).isNotNull())
                .select(F.col(key_col).alias("key"),
                        md5_of(F.col(value_col)).alias("h")))
    # bucket: first 8 hash bits mod M (256 % 64 == 0 → uniform);
    # rank from the NEXT 48 bits via string leading-zero math —
    # no float log anywhere
    staged = hashed.select(
        "key",
        (hex_int("h", 2, cast="int") % M).alias("bucket"),
        F.regexp_replace(F.substring("h", 3, 12), "^0+", "")
        .alias("stripped"))
    lz_hex = F.lit(12) - F.length("stripped")
    first = F.substring("stripped", 1, 1)
    extra = (F.when(first == "1", 3)
             .when(first.isin("2", "3"), 2)
             .when(first.isin("4", "5", "6", "7"), 1)
             .otherwise(0))
    rank = F.when(F.length("stripped") == 0, F.lit(CAP)).otherwise(
        F.least(lz_hex * 4 + extra + 1, F.lit(CAP)))

    return staged.select("key", "bucket", rank.alias("rank"))


def hll_estimate(n_used: Column, s_used: Column) -> Column:
    """The documented integer estimator over the touched-register count
    ``n_used`` and ``s_used = sum(2^(CAP - reg))`` of those registers:
    linear counting below 2.5m while an empty register exists, the
    register harmonic mean above. One Column expression, shared by the
    batch sketch and its streaming twin."""
    v_empty = F.lit(M) - n_used
    s_total = (s_used
               + v_empty.cast("bigint") * F.lit(1 << CAP).cast("bigint"))
    raw = F.floor(F.lit(ALPHA_MILLI * M * M * (1 << CAP)).cast("bigint")
                  / (F.lit(1000).cast("bigint") * s_total))
    ln_arr = F.array(*[F.lit(x) for x in LN_TABLE])
    linear = F.floor(
        F.lit(M).cast("bigint")
        * F.element_at(ln_arr, v_empty.cast("int")).cast("bigint")
        / F.lit(LN_SCALE).cast("bigint"))
    est = F.when((raw <= F.lit(5 * M // 2)) & (v_empty > 0), linear) \
           .otherwise(raw)
    return est.cast("bigint")


def hll_distinct(df: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """Per-``key_col`` HyperLogLog distinct-count of ``value_col``.

    Returns ``(key, n_used, est_distinct)``: the number of touched
    registers and the corrected estimate (linear counting below 2.5m,
    register harmonic mean above). NULL values are ignored, like
    ``count(DISTINCT ...)``; a NULL key is a group like any other.
    Deterministic under any partitioning, batching, or retry order.
    """
    projected = bucket_rank_projection(df, key_col, value_col)
    registers = projected.groupBy("key", "bucket").agg(
        F.max("rank").alias("reg"))
    folded = registers.groupBy("key").agg(
        F.count("*").cast("int").alias("n_used"),
        F.sum(F.expr(f"shiftleft(cast(1 as bigint), {CAP} - reg)"))
        .alias("s_used"))
    return folded.select(
        "key", "n_used",
        hll_estimate(F.col("n_used"), F.col("s_used"))
        .alias("est_distinct"))


def hll_oracle_sql(table: str, key_col: str, value_col: str) -> str:
    """The DuckDB twin: recomputes buckets, ranks, registers, and the
    identical integer estimator from the exact distinct set. Inlined in
    `oracle_sql()` so the driver exercises it; kept next to the
    operator so the constants (M, CAP, alpha, ln table) can never
    drift apart."""
    ln_values = ", ".join(
        f"({v}, {x})" for v, x in enumerate(LN_TABLE, start=1))
    return f"""
        WITH d AS (SELECT DISTINCT {key_col} AS key,
                          md5(CAST({value_col} AS VARCHAR)) AS h
                   FROM {table} WHERE {value_col} IS NOT NULL),
        ranked AS (
          SELECT key,
                 CAST(('0x' || substr(h, 1, 2))::UBIGINT % {M} AS INT)
                   AS bucket,
                 CASE WHEN ltrim(substr(h, 3, 12), '0') = ''
                      THEN {CAP}
                      ELSE least(
                        (12 - length(ltrim(substr(h, 3, 12), '0'))) * 4
                        + CASE substr(ltrim(substr(h, 3, 12), '0'), 1, 1)
                            WHEN '1' THEN 3
                            WHEN '2' THEN 2 WHEN '3' THEN 2
                            WHEN '4' THEN 1 WHEN '5' THEN 1
                            WHEN '6' THEN 1 WHEN '7' THEN 1
                            ELSE 0 END
                        + 1, {CAP}) END AS rank
          FROM d),
        regs AS (SELECT key, bucket, max(rank) AS reg
                 FROM ranked GROUP BY key, bucket),
        folded AS (SELECT key, CAST(count(*) AS INT) AS n_used,
                          sum(CAST(1 AS BIGINT) << ({CAP} - reg)) AS s_used
                   FROM regs GROUP BY key),
        lnt(v, lnfix) AS (VALUES {ln_values}),
        est AS (
          SELECT key, n_used,
                 ({M} - n_used) AS v_empty,
                 CAST(floor(CAST({ALPHA_MILLI * M * M * (1 << CAP)} AS BIGINT)
                      / (1000 * (s_used
                         + CAST({M} - n_used AS BIGINT)
                           * CAST({1 << CAP} AS BIGINT)))) AS BIGINT)
                   AS raw
          FROM folded)
        SELECT e.key, e.n_used,
               CAST(CASE WHEN e.raw <= {5 * M // 2} AND e.v_empty > 0
                    THEN floor(CAST({M} AS BIGINT)
                               * CAST(l.lnfix AS BIGINT) / {LN_SCALE})
                    ELSE e.raw END AS BIGINT) AS est_distinct
        FROM est e LEFT JOIN lnt l ON l.v = e.v_empty
    """
