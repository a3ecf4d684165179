"""Bloom-filter-accelerated snapshot-ingest dedup — the membership-set
compression tier between "broadcast the whole index as a hash relation"
(dies around 10^8 keys) and "shuffle-anti-join both sides" (always
correct, but moves the whole new batch through an exchange even when
almost nothing matches).

A Bloom filter over the known-fingerprint index is ~10 bits/key at 1%
false-positive rate — 10-100x smaller than a broadcast hash set — and
has NO false negatives, so it splits an incoming crawl batch into:

* definite-fresh rows (bit miss): keep immediately, NO join, no
  shuffle of their payload at all — at monthly-ingest ratios this is
  ~95%+ of the batch;
* candidate rows (bit hit): true duplicates plus an fpp-sized sliver of
  false positives — only THESE take the exact anti-join against the
  index.

The final result is therefore EXACTLY ``drop_known_duplicates``'s (the
bloom is a pre-filter, never the verdict). The build is Spark built-ins
only: probe positions as column expressions, set into 32768-bit buckets
by the ``bitmap_construct_agg`` aggregate (an OR — commutative,
associative, idempotent — so the bytes are partitioning-invariant and
no task merges the whole bitmap), then shipped to the probe as a
closure. The probe is a scalar Arrow UDF over ``_fp`` alone: no user
column crosses into Python.
``num_bits`` is the executor/driver memory bound: 2^30 bits = 128 MiB
handles ~10^8 keys at 1% fpp; past ~10^10 keys the bitmap itself stops
fitting and the plain anti-join (or a per-index-partition bloom) is the
right tier — the op asserts the sizing instead of silently degrading to
an all-candidate pass.

No new hashing: the fingerprint IS md5 (``functions.text.fingerprint``),
so the filter's k=4 probe positions are the four big-endian 32-bit words
of the digest reduced mod ``num_bits`` — deterministic across engines
and runs.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import content_hash, hex_int


def _probe_positions(hex_fps, num_bits: int) -> np.ndarray:
    """(n, 4) int64 bit positions from md5-hex fingerprints: the four
    32-bit digest words mod num_bits. Vectorized except the C-level
    per-row ``bytes.fromhex``."""
    raw = b"".join(bytes.fromhex(x) for x in hex_fps)
    words = np.frombuffer(raw, dtype=">u4").reshape(-1, 4)
    return words.astype(np.int64) % num_bits


_BUCKET_BITS = 15   # bitmap_construct_agg's fixed 32768-bit (4 KiB) bitmap


def build_fingerprint_bloom(known: DataFrame,
                            fingerprint_col: str = "fingerprint",
                            num_bits: int = 1 << 23) -> tuple:
    """Known-fingerprint index → ``(bitmap_bytes, n_keys)``
    (little-endian bit order within each byte; n_keys counts non-null
    fingerprints). JVM-side: each key's four ``_probe_positions`` as
    column expressions, one ``bitmap_construct_agg`` row per 32768-bit
    bucket, and the buckets laid end to end on the driver."""
    if num_bits % 8 != 0 or num_bits <= 0:
        raise ValueError("num_bits must be a positive multiple of 8")
    fp = F.col(fingerprint_col)
    pos = known.where(fp.isNotNull()).select(F.explode(F.array(*(
        F.pmod(hex_int(fp, 8, 1 + 8 * w), F.lit(num_bits))
        for w in range(4)))).alias("p"))
    offset = F.col("p").bitwiseAND((1 << _BUCKET_BITS) - 1)
    buckets = pos.groupBy(F.shiftright("p", _BUCKET_BITS).alias("b")).agg(
        F.bitmap_construct_agg(offset).alias("bm"), F.count("*").alias("n"))
    bitmap = bytearray(num_bits // 8)
    n_positions = 0
    for b, bm, n in buckets.collect():
        start = b << (_BUCKET_BITS - 3)
        chunk = bytes(bm)[:len(bitmap) - start]
        bitmap[start:start + len(chunk)] = chunk
        n_positions += n
    return bytes(bitmap), n_positions // 4


def drop_known_duplicates_bloom(new_docs: DataFrame, known: DataFrame,
                                id_col: str = "doc_id",
                                text_col: str = "text",
                                fingerprint_col: str = "fingerprint",
                                num_bits: int = 1 << 23,
                                max_fpp: float = 0.25) -> DataFrame:
    """``drop_known_duplicates`` with a Bloom pre-filter: result is
    row-identical (the bloom has no false negatives; candidates are
    exactly re-checked), but only bit-HIT rows pay the index anti-join.
    The in-batch min-id dedup still sees every row — same contract.

    The index side builds the bitmap (one aggregate, ≤ num_bits/32768
    collected bucket rows); the batch side is a scalar Arrow UDF over
    ``_fp`` (4 bit tests/row) against the closure-captured bitmap — Spark
    serializes it into the task binary once per executor, the same
    distribution path a broadcast variable takes.

    An UNDERSIZED bitmap silently saturates — every row becomes a
    candidate and the pre-filter buys nothing while still paying the
    probe — so the estimated false-positive rate
    ``(1 - e^(-4n/m))^4`` is checked against ``max_fpp`` and the op
    fails loudly with the required ``num_bits`` instead (the n_keys
    count rides the build pass; no extra job)."""
    bitmap_bytes, n_keys = build_fingerprint_bloom(known, fingerprint_col,
                                                   num_bits)
    est_fpp = (1.0 - float(np.exp(-4.0 * n_keys / num_bits))) ** 4
    if est_fpp > max_fpp:
        raise ValueError(
            f"bloom undersized: {n_keys} keys in {num_bits} bits gives "
            f"estimated fpp {est_fpp:.3f} > max_fpp {max_fpp}; size "
            f"num_bits >= ~10*n_keys (or use drop_known_duplicates)")

    @F.arrow_udf(T.BooleanType())
    def probe(fps: pa.Array) -> pa.Array:
        bitmap = np.frombuffer(bitmap_bytes, dtype=np.uint8)
        # NULL fingerprint (NULL text) can never match the index —
        # definite-fresh, same as the exact op's NULL-key anti-join
        mask = fps.is_valid().to_numpy(zero_copy_only=False)
        cand = np.zeros(len(fps), dtype=bool)
        if mask.any():
            pos = _probe_positions(fps.drop_null().to_pylist(), num_bits)
            cand[mask] = ((bitmap[pos >> 3] >> (pos & 7)) & 1).all(axis=1)
        return pa.array(cand)

    # persisted: four downstream consumers (hit side, miss side, the
    # survivors groupBy, the final semi-join) would otherwise each
    # re-run the Arrow probe AND content_hash over the full batch text
    probed = (new_docs.withColumn("_fp", content_hash(text_col))
              .withColumn("_candidate", probe("_fp")).persist())
    idx = known.select(F.col(fingerprint_col).alias("_fp"))
    hits = probed.where(F.col("_candidate"))
    fresh = (
        probed.where(~F.col("_candidate"))
        .unionByName(hits.join(idx, on="_fp", how="left_anti"))
    )
    survivors = fresh.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    return (
        fresh.join(survivors, on=["_fp", id_col], how="left_semi")
        .drop("_fp", "_candidate")
    )
