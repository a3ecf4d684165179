"""Rendezvous (highest-random-weight) hashing — stable assignment of
keys (urls, hosts) to a shard/fetcher/worker set, with the minimal-
disruption property: adding one shard moves only the ~1/(n+1) of keys
that move TO the new shard, and never shuffles a key between two
surviving shards (Thaler & Ravishankar 1998; the consistent-hashing
alternative that needs no ring state).

The web-corpus use: routing a 10^12-url frontier to fetcher fleets and
recrawl queues where fleet membership changes weekly — re-routing must
not invalidate the politeness/connection-cache locality of the 90%+ of
hosts whose shard didn't change. Complements ``shuffle_shards``
(deterministic training-export sharding, mod-N — full reshuffle on N
change) exactly where mod-N hurts.

Scale shape: the shard list is bounded fleet metadata inlined as an
array literal, so assignment is ONE narrow whole-stage-codegen
projection — per row an in-row ``transform`` scores every shard with
md5(key ‖ 0x1f ‖ shard) and ``array_max`` takes the argmax struct.
No join, no shuffle, no Python; the DuckDB twin is the identical
``list_max`` over the identical scored list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import md5_of

#: key/shard domain separator in the scored hash — keeps ("ab","c")
#: and ("a","bc") from colliding
_SEP = "\x1f"
#: a shard set is fleet metadata, not data
_MAX_SHARDS = 4096


def rendezvous_assign(df: DataFrame, key_col: str, shards,
                      out_col: str = "shard") -> DataFrame:
    """Append ``out_col`` = the HRW shard for ``key_col``. NULL keys
    get a NULL shard (they have no hash weight). Ties (md5 collisions
    across shards — cryptographically negligible) break to the larger
    shard name, identically in the oracle twin."""
    shard_list = list(shards)
    if not shard_list or len(shard_list) != len(set(shard_list)):
        raise ValueError("shards must be a non-empty set of unique names")
    if len(shard_list) > _MAX_SHARDS:
        raise ValueError(
            f"{len(shard_list)} shards > {_MAX_SHARDS}; not fleet metadata")
    if any(s is None or s == "" for s in shard_list):
        raise ValueError("shard names must be non-empty strings")
    scored = F.transform(
        F.array(*[F.lit(s) for s in sorted(shard_list)]),
        lambda s: F.struct(
            md5_of(F.col(key_col), _SEP, s).alias("w"),
            s.alias("s")))
    return df.withColumn(
        out_col,
        F.when(F.col(key_col).isNotNull(),
               F.array_max(scored)["s"]))


def rendezvous_oracle_expr(key_expr: str, shards) -> str:
    """The DuckDB twin of one assignment as a SQL expression — kept
    next to the operator so the separator and tie-break can't drift."""
    elems = ", ".join(
        "{'w': md5(" + key_expr + f" || chr(31) || '{s}'), 's': '{s}'}}"
        for s in sorted(shards))
    return (f"CASE WHEN {key_expr} IS NOT NULL THEN "
            f"list_max([{elems}]).s END")
