"""Paragraph-level language segmentation — CCNet's unit of curation
(Wenzek et al. 2020 run fastText per paragraph, not per page, because
crawled pages routinely mix languages: an English template around a
German article, comment threads in a second language). A page-level
language ID mislabels those pages wholesale; paragraph segmentation
recovers the majority language, how dominant it is, and a mixed flag
that feeds the filter/split decision.

Scale shape: one staged split+explode into narrow ``(id, paragraph)``
rows (map-side, no shuffle — the explode multiplies rows inside the
scan stage), the existing Arrow-batched language kernel over the
paragraph column, then a ``groupBy(id, lang)`` count and a
``groupBy(id)`` majority fold — both map-side combinable, keys are
document ids, and paragraph TEXT never crosses an exchange (the
verdict aggregation carries only (id, lang, count)). Majority ppm is
exact integer arithmetic (``div``), the repo's cross-engine recipe;
ties break on lang ASC via a min-over-struct fold, deterministic and
partitioning-invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import lang_id_udf

# paragraph separator: any newline run (blank-line-only splitting would
# glue single-newline-separated blocks, hiding embedded languages)
_PARA_SEP = r"\n+"


def segment_languages(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Per-document language segmentation: ``(id, main_lang, n_paras,
    n_major_paras, major_ppm, is_mixed)``. Paragraphs are non-empty
    newline-separated blocks; documents with no paragraphs (NULL/empty
    text) are absent from the output, like every explode-based rollup
    here (callers left-join against the roster for explicit NULLs)."""
    paras = (
        df.select(F.col(id_col).alias("_id"),
                  F.split(F.col(text_col), _PARA_SEP).alias("_ps"))
        .select("_id", F.explode_outer("_ps").alias("_p"))
        .select("_id", F.trim("_p").alias("_p"))
        .where(F.col("_p").isNotNull() & (F.col("_p") != ""))
    )
    counts = (
        paras.select("_id",
                     lang_id_udf(F.make_valid_utf8("_p")).alias("_lang"))
        .groupBy("_id", "_lang").agg(F.count(F.lit(1)).alias("_cnt"))
    )
    # min over (-count, lang): majority language, ties to lang ASC
    best = F.min(F.struct((-F.col("_cnt")).alias("nc"),
                          F.col("_lang").alias("lang")))
    return (
        counts.groupBy("_id")
        .agg(F.sum("_cnt").alias("n_paras"), best.alias("_best"))
        .select(
            F.col("_id").alias(id_col),
            F.col("_best.lang").alias("main_lang"),
            F.col("n_paras").cast("bigint").alias("n_paras"),
            (-F.col("_best.nc")).cast("bigint").alias("n_major_paras"),
            F.expr("(-_best.nc * 1000000L) div n_paras")
            .cast("bigint").alias("major_ppm"),
            (-F.col("_best.nc") < F.col("n_paras")).alias("is_mixed"),
        )
    )
