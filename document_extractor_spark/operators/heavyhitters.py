"""Heavy hitters — exact frequent-token mining with bounded memory.

A 100-TB web corpus has a *billions-deep* tail vocabulary (typos, URLs,
hashes, serial numbers), so the naive ``groupBy(token).count()`` answer
to "which tokens exceed 0.1% of the corpus?" shuffles every distinct
token even though almost none can qualify. The classic fix (Misra &
Gries 1982; the merge analysis is Agarwal et al., "Mergeable summaries",
PODS 2012) is two passes:

1. **Candidate pass** — per partition, a Misra–Gries summary with ``k``
   counters over the token stream. A token whose *global* frequency is
   at least ``N/(k+1)`` must exceed ``n_p/(k+1)`` in at least one
   partition (pigeonhole over the sum), and MG provably keeps any such
   token, so the union of per-partition survivor keys is a superset of
   every true heavy hitter. At most ``partitions × k`` candidate rows
   ever exist — a broadcastable set by construction, enforced by a loud
   guard (the ``range_join`` cell-guard contract).
2. **Exact pass** — broadcast-semi-join the token stream against the
   candidates and count exactly. The only shuffle in the whole operator
   carries candidate tokens, and the final ``count ≥ threshold`` filter
   makes the OUTPUT partition-invariant and exact (the sketch can only
   over-generate candidates, never miss one, and extras are filtered by
   their true counts).

The reference app has no corpus analytics at all (it is a per-document
GPT-4V extractor, pdf_processor.py:66-399); this operator belongs to
the training-data-pipeline tier the brief mandates alongside dedup/ANN.

Spark boundaries: tokenization is the shared JVM scaffold
(``functions.text.exploded_tokens`` — the oracle-twin tokenizer); the
MG summary is the one genuinely imperative per-partition step, so it
runs as an Arrow-batched ``mapInPandas`` over the *narrow single-column
token stream* (never the document payload — a ``BatchEvalPython`` node
can never appear, see tests); the exact pass is JVM join + map-side-
combinable count against a broadcast 1-row token total, so building
the plan runs no Spark job.

Determinism: exact counts and an exact integer threshold test
(``cnt·10^6 ≥ ppm·N`` in BIGINT, no float) make the result identical
across engines and partitionings.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _mg_candidates(k: int):
    """Arrow-batched weighted Misra–Gries over one partition's token
    stream: add each batch's value_counts, and while more than ``k``
    counters are positive subtract the (k+1)-th largest value from all
    (≥ k+1 counters each lose that much, so total decrement per
    partition is ≤ n_p/(k+1) — the survivor guarantee)."""

    def gen(batches):
        import pandas as pd

        counters = pd.Series(dtype="int64")
        for b in batches:
            vc = b["tok"].value_counts()
            counters = (
                vc.astype("int64") if counters.empty
                else counters.add(vc, fill_value=0).astype("int64")
            )
            if len(counters) > k:
                d = counters.nlargest(k + 1).iloc[-1]
                counters = counters[counters > d] - d
        yield pd.DataFrame({"tok": counters.index.astype(str)})

    return gen


def frequent_tokens(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", min_freq_ppm: int = 1000,
                    capacity: int | None = None,
                    max_candidates: int = 5_000_000) -> DataFrame:
    """All tokens whose corpus frequency is ≥ ``min_freq_ppm`` parts
    per million of the total token count, with EXACT counts:
    ``(token, cnt, freq_ppm)``.

    ``capacity`` is the per-partition MG counter budget; the default
    ``ceil(10^6 / min_freq_ppm)`` is the smallest value that makes the
    no-false-negative guarantee hold (``k+1 > 10^6/ppm``). Raising it
    only shrinks the candidate overshoot. Raises when ``partitions ×
    capacity`` could exceed ``max_candidates`` — re-partition coarser
    or raise the threshold instead of silently building an
    un-broadcastable candidate set.
    """
    from ..functions.text import exploded_tokens, tokens

    if not 0 < min_freq_ppm <= 1_000_000:
        raise ValueError(f"min_freq_ppm must be in (0, 10^6]: "
                         f"{min_freq_ppm}")
    k = capacity if capacity is not None else math.ceil(
        1_000_000 / min_freq_ppm)
    if k + 1 <= 1_000_000 / min_freq_ppm:
        raise ValueError(
            f"capacity {k} loses the survivor guarantee at "
            f"{min_freq_ppm} ppm: need capacity+1 > 10^6/ppm")

    stream = exploded_tokens(df, id_col, text_col).select("tok")
    parts = stream.rdd.getNumPartitions()
    if parts * k > max_candidates:
        raise ValueError(
            f"{parts} partitions x {k} counters may exceed "
            f"max_candidates={max_candidates}; coalesce the input, "
            f"raise min_freq_ppm, or raise max_candidates explicitly")

    # an empty corpus has a NULL total, which filters every row out
    n_total = df.select(
        F.sum(F.size(tokens(F.lower(F.col(text_col))))).alias("_n"))
    candidates = stream.mapInPandas(
        _mg_candidates(k), schema="tok string").distinct()
    counted = (
        stream.join(F.broadcast(candidates), "tok", "left_semi")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(n_total))
        .where(F.col("cnt") * F.lit(1_000_000)
               >= F.lit(int(min_freq_ppm)) * F.col("_n"))
    )
    return counted.select(
        F.col("tok").alias("token"), "cnt",
        F.expr("(cnt * 1000000L) div _n").cast("bigint").alias("freq_ppm"))
