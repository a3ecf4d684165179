"""Training-example transforms — the last hop of the corpus pipeline,
where curated documents become model-ready training strings. First
member: FIM (fill-in-the-middle, Bavarian et al. 2022 — the public
"prefix-suffix-middle" infilling recipe): a deterministic fraction of
documents is rewritten as

    <PRE> prefix <SUF> suffix <MID> middle

so an autoregressive model learns infilling from plain text. The paper
applies it to a random subset at a fixed rate with uniformly random
split points; here both draws are md5-derived from the document id —
exactly reproducible across runs, partitionings, and engines (the
DuckDB twin recomputes the identical transform), which is what a
training-data pipeline needs for ablations ("same corpus, same splits,
different rate").

Scale shape: pure per-row JVM column expressions (md5 + character-array
slices inside whole-stage codegen) — zero shuffle, zero Python,
linear in payload bytes at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import char_array, char_gram, hex_int, md5_of, tokens

#: hex chars of each md5 draw — 48 bits, exact in BIGINT math
_HEX = 12

PRE_TOK, SUF_TOK, MID_TOK = "<PRE>", "<SUF>", "<MID>"


def fim_transform(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", rate_pct: int = 50,
                  min_chars: int = 20) -> DataFrame:
    """Append ``(fim_applied, fim_text)``: ``rate_pct``% of documents
    (hash-selected on id, NOT row order) are rewritten PSM-style; the
    rest — and texts under ``min_chars`` or NULL — pass through
    verbatim with ``fim_applied = false``. Split points are two
    id-seeded uniform draws over [1, len-1]; their min/max bound the
    middle, so prefix and suffix are always non-empty and
    prefix ‖ middle ‖ suffix reassembles the original exactly, byte
    for byte even for a string cast from invalid UTF-8: the three parts
    are slices of the text's :func:`char_array`, where ``substring`` on
    a truncated last character reads past the string's bytes."""
    if not 0 <= rate_pct <= 100:
        raise ValueError(f"rate_pct must be in [0, 100]: {rate_pct}")
    if min_chars < 3:
        raise ValueError(f"min_chars must be >= 3: {min_chars}")
    t, key = F.col(text_col), F.col(id_col)
    staged = df.withColumn("_fim_chars", char_array(t))
    chars = F.col("_fim_chars")
    L = F.length(t)
    # uniform draws in [0, mod) from md5(salt ‖ id)
    selected = F.pmod(hex_int(md5_of("fim:", key), _HEX),
                      F.lit(100)) < F.lit(int(rate_pct))
    eligible = t.isNotNull() & (L >= int(min_chars))
    a = F.lit(1) + F.pmod(hex_int(md5_of("fim1:", key), _HEX),
                          (L - 1).cast("bigint"))
    b = F.lit(1) + F.pmod(hex_int(md5_of("fim2:", key), _HEX),
                          (L - 1).cast("bigint"))
    p1, p2 = F.least(a, b), F.greatest(a, b)
    rewritten = F.concat(
        F.lit(PRE_TOK), char_gram(chars, 1, p1.cast("int")),
        F.lit(SUF_TOK), char_gram(chars, (p2 + 1).cast("int"),
                                  (L - p2).cast("int")),
        F.lit(MID_TOK), char_gram(chars, (p1 + 1).cast("int"),
                                  (p2 - p1).cast("int")),
    )
    applied = selected & eligible
    return staged.withColumns({
        "fim_applied": applied,
        "fim_text": F.when(applied, rewritten).otherwise(t),
    }).drop("_fim_chars")


def span_corruption(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    seed_pct: int = 8) -> DataFrame:
    """T5-style span corruption (Raffel et al. 2020 §3.1.4): mask
    ~``seed_pct``% · 3 of each document's tokens in contiguous spans
    and emit the denoising pair —

        inputs : tok tok <extra_id_0> tok ... <extra_id_1> tok
        targets: <extra_id_0> masked toks <extra_id_1> masked toks

    Sentinels number spans LEFT TO RIGHT; ``inputs`` ∪ ``targets``
    reconstruct the original token sequence exactly (pytest-pinned).
    Seeds are md5(id:pos) draws — reproducible across runs,
    partitionings, and engines.

    Spark-first construction — span algebra, not a fold: the masked
    bitmap, run starts/ends, and the two output strings are all
    built IN-ROW from the staged token array with
    filter/transform/slice/array_join (whole-stage codegen, zero
    shuffle, zero Python); the DuckDB twin uses the same list algebra.
    Texts with no fired seed (or NULL) pass through with empty
    targets."""
    if not 0 <= seed_pct <= 100:
        raise ValueError(f"seed_pct must be in [0, 100]: {seed_pct}")
    staged = df.withColumn("_t", tokens(F.col(text_col)))
    n = F.size("_t")

    def seed(i):
        h = md5_of("sc:", F.col(id_col), ":", i)
        return F.pmod(hex_int(h, _HEX), F.lit(100)) < F.lit(int(seed_pct))

    idx = F.sequence(F.lit(1), n)
    # masked[i] ⇔ a seed fired at i, i-1, or i-2 (span length 3)
    masked = F.transform(
        idx, lambda i: seed(i)
        | ((i >= 2) & seed(i - 1))
        | ((i >= 3) & seed(i - 2)))
    staged = (
        staged.withColumn("_m", F.when(n > 0, masked)
                          .otherwise(F.array().cast("array<boolean>")))
        .withColumn(
            "_starts",
            F.filter(idx, lambda i: F.element_at("_m", i)
                     & ((i == 1) | ~F.element_at("_m", (i - 1).cast("int")))))
        .withColumn(
            "_ends",
            F.filter(idx, lambda i: F.element_at("_m", i)
                     & ((i == n) | ~F.element_at("_m", (i + 1).cast("int")))))
    )
    k = F.size("_starts")

    def sentinel(j):  # 0-based span index column → '<extra_id_j>'
        return F.concat(F.lit("<extra_id_"), j.cast("string"), F.lit(">"))

    # inputs: kept tokens before each span + its sentinel, then the tail
    pieces_in = F.transform(
        F.col("_starts"),
        lambda s, j: F.concat_ws(
            " ",
            F.array_join(F.slice(
                "_t",
                F.when(j == 0, F.lit(1))
                .otherwise(F.element_at("_ends", j) + 1),
                s - F.when(j == 0, F.lit(1))
                .otherwise(F.element_at("_ends", j) + 1)), " "),
            sentinel(j)))
    tail_in = F.array_join(
        F.slice("_t", F.element_at("_ends", -1) + 1,
                n - F.element_at("_ends", -1)), " ")
    inputs = F.when(k == 0, F.array_join("_t", " ")).otherwise(
        F.concat_ws(" ", F.array_join(
            F.filter(pieces_in, lambda p: p != ""), " "), tail_in))
    pieces_tgt = F.zip_with(
        "_starts", "_ends",
        lambda s, e: F.array_join(F.slice("_t", s, e - s + 1), " "))
    targets = F.when(k == 0, F.lit("")).otherwise(
        F.concat_ws(" ", F.transform(
            pieces_tgt,
            lambda p, j: F.concat_ws(" ", sentinel(j), p))))
    out = staged.withColumns({
        "sc_inputs": F.when(F.col(text_col).isNull(),
                            F.lit(None).cast("string"))
        .otherwise(F.regexp_replace(F.trim(inputs), " +", " ")),
        "sc_targets": F.when(F.col(text_col).isNull(),
                             F.lit(None).cast("string"))
        .otherwise(targets),
        "sc_n_spans": F.when(F.col(text_col).isNull(),
                             F.lit(None).cast("int"))
        .otherwise(k.cast("int")),
    })
    return out.drop("_t", "_m", "_starts", "_ends")
