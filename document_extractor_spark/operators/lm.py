"""Bigram language-model perplexity scoring and CCNet-style quality
bucketing — the model-based tier of corpus quality filtering (the
heuristic tiers live in ``textstats.py`` / ``curation.py``).

The CCNet / LLaMA-data recipe scores every document with a small n-gram
LM and splits each language into head / middle / tail perplexity
buckets; the head bucket is what reaches training.  This implements
that stage self-contained and deterministic: a Laplace-smoothed bigram
model trained ON the corpus itself (no external model file), scored
back over every document, then per-language value-cutoff buckets.

Scale shape (the whole point of the design):

* Training is two map-side-combinable aggregations over NARROW
  ``(w1, w2)`` token pairs — document text never moves, only tokens,
  and hot bigrams ("of the") partial-aggregate before the exchange.
* The per-bigram log-probability is computed ONCE per distinct bigram
  on the vocabulary-scale model table, not once per occurrence; the
  model join keys are two short tokens.
* Scoring re-uses the per-document ``(doc, w1, w2, occ_n)`` aggregate,
  so repetitive documents join once per distinct bigram.  The join is
  shuffle-on-bigram; hot keys are an AQE-skew-join case, never a
  correctness one.
* Per-document totals are EXACT integer sums of fixed-point
  nano-nats (``round(-ln(p)·1e9)`` as BIGINT): float summation order
  can never change a result, which is also what makes the DuckDB
  oracle twin hash-identical — the only float op per distinct bigram
  is one ``ln`` on one IEEE double, identical in both engines.
* Bucket cutoffs are order statistics over a NARROW ``(lang, score)``
  projection, with an md5-threshold sample seam (``sample_frac``) so a
  100-TB run fits the cutoff on a deterministic 0.1 % sample exactly
  the way CCNet fits its cutoffs on a held-out slice; documents are
  then bucketed by a broadcast value comparison — no global sort of
  the corpus.

Reference parity note: the reference app has no LM stage (it is a
GPT-4V extraction UI); this operator exists for the training-data
pipeline mandate (brief: quality scoring as a first-class component).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import md5_of, tokens
from .curation import mix_threshold_hex

#: fixed-point scale for per-bigram negative log-likelihood (nano-nats).
NANO = 1_000_000_000


def _bigram_occurrences(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document distinct-bigram occurrence counts:
    ``(id, w1, w2, occ_n)``, over lowercased whitespace tokens (same
    tokenizer as ``inverted_index`` / ``top_terms``).  Documents with
    fewer than two tokens contribute no rows."""
    d = (
        df.select(F.col(id_col), F.lower(F.col(text_col)).alias("_t"))
        .withColumn("_tk", tokens("_t"))
        .drop("_t")
    )
    ln = F.greatest(F.size("_tk") - F.lit(1), F.lit(0))
    # stage the zipped bigram array before exploding (repo explode rule)
    d = d.withColumn(
        "_bgs",
        F.arrays_zip(
            F.slice("_tk", 1, ln).alias("w1"),
            F.slice("_tk", 2, ln).alias("w2"),
        ),
    ).drop("_tk")
    return (
        d.select(F.col(id_col), F.explode_outer("_bgs").alias("_b"))
        .select(
            F.col(id_col),
            F.col("_b.w1").alias("w1"),
            F.col("_b.w2").alias("w2"),
        )
        .where(F.col("w1").isNotNull())
        .groupBy(id_col, "w1", "w2")
        .agg(F.count(F.lit(1)).alias("occ_n"))
    )


def bigram_lm_scores(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Score every document under a Laplace-smoothed bigram LM trained
    on the corpus itself.

    Returns ``(id, n_bigrams, sum_nll_nano, avg_nll)`` where for each
    bigram occurrence ``p = (c(w1,w2) + 1) / (c(w1·) + V)``,
    ``sum_nll_nano = Σ round(-ln(p)·1e9)`` (exact BIGINT arithmetic),
    ``avg_nll = round(sum_nll_nano / n_bigrams / 1e9, 6)`` (the
    per-token negative log-likelihood in nats — perplexity is
    ``exp(avg_nll)``).  Documents with < 2 tokens get
    ``n_bigrams = 0`` and NULL scores.

    ``V`` (smoothing vocabulary = distinct tokens participating in any
    bigram, i.e. tokens of documents with ≥ 2 tokens — the training
    stream itself) is the one driver-side scalar — metadata-scale, same
    budget as PageRank's vertex count; at 100 TB the KMV sketch
    (``sketch.py``) is the approximate drop-in if an exact distinct
    count is too expensive.

    ``occ`` (and the bucket functions' score frame) persist for their
    multiple consumers and stay cached for the session — the result is
    lazy, so the operator cannot scope-unpersist them itself (the same
    documented contract as the MinHash shingle frame in ``dedup.py``);
    a long-lived driver invoking this per snapshot should
    ``spark.catalog.clearCache()`` between corpus-scale calls.
    """
    occ = _bigram_occurrences(df, id_col, text_col)
    occ.persist()

    # V over ALL token positions = distinct(w1 ∪ last tokens).  The last
    # token of each doc appears as some w2 (or the doc has <2 tokens and
    # contributes nothing) — so vocab = distinct tokens among w1 and w2.
    vocab = occ.select(F.col("w1").alias("tok")).union(
        occ.select(F.col("w2").alias("tok")))
    v_size = vocab.agg(F.countDistinct("tok")).first()[0] or 0

    c_bg = occ.groupBy("w1", "w2").agg(F.sum("occ_n").alias("c_bg"))
    c_ctx = occ.groupBy("w1").agg(F.sum("occ_n").alias("c_ctx"))
    model = c_bg.join(c_ctx, "w1").select(
        "w1", "w2",
        F.round(
            -F.log(
                (F.col("c_bg") + F.lit(1)).cast("double")
                / (F.col("c_ctx") + F.lit(v_size)).cast("double")
            ) * F.lit(float(NANO)),
            0,
        ).cast("long").alias("nll_nano"),
    )

    scored = (
        occ.join(model, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.sum("occ_n").alias("n_bigrams"),
            F.sum(F.col("occ_n") * F.col("nll_nano")).alias("sum_nll_nano"),
        )
    )
    out = (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "sum_nll_nano",
            F.round(
                F.col("sum_nll_nano").cast("double")
                / F.col("n_bigrams").cast("double")
                / F.lit(float(NANO)),
                6,
            ).alias("avg_nll"),
        )
    )
    return out


def perplexity_bucket_assignments(df: DataFrame, id_col: str = "doc_id",
                                  text_col: str = "text",
                                  lang_col: str = "lang",
                                  n_buckets: int = 3,
                                  sample_frac: float = 1.0,
                                  seed: str = "ppl1") -> DataFrame:
    """Per-document CCNet bucket assignment:
    ``(id, lang, bucket, sum_nll_nano, n_bigrams)`` — the composable
    doc-level form of :func:`perplexity_buckets` (which aggregates it)
    — compose it with ``stratified_sample`` / ``sample_mix`` for
    quality-gated exports.

    Cutoffs are exact order statistics of the per-document score within
    each language: cutoff *k* (k = 1..n_buckets-1) is the
    ``ceil(k·n/n_buckets)``-th smallest score among cutoff-fit
    documents.  A document lands in the first bucket whose cutoff its
    score does not exceed (ties share a bucket — value semantics, not
    rank semantics, so equal documents always bucket equally).

    ``sample_frac < 1`` fits the cutoffs on a deterministic md5-bucket
    sample of documents (the CCNet held-out-slice move): the only
    per-language sort then runs over ``n·sample_frac`` narrow
    ``(lang, score)`` rows instead of the corpus.  Bucketing itself is
    a broadcast value comparison — the corpus is never globally sorted.

    Bucket 1 = head (most fluent); documents with no bigrams are
    excluded (no signal).  Documents whose language has no cutoff row —
    a language entirely absent from the fit sample, or a NULL language
    (NULL keys never match a cohort) — get bucket NULL explicitly: no
    verdict, never a silent drop or a default-to-tail.
    """
    if not 0 < sample_frac <= 1.0:
        raise ValueError(f"sample_frac must be in (0, 1], got {sample_frac}")
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    scores = bigram_lm_scores(df, id_col=id_col, text_col=text_col)
    langs = df.select(id_col, lang_col)
    s = (
        scores.where(F.col("n_bigrams") > 0)
        .join(langs, id_col)
        # exact double: BIGINT/BIGINT division, deterministic per doc —
        # the ordering key AND the bucket-comparison key in both engines
        .select(
            F.col(id_col),
            F.col(lang_col).alias("lang"),
            (
                F.col("sum_nll_nano").cast("double")
                / F.col("n_bigrams").cast("double")
            ).alias("score"),
            F.col("sum_nll_nano"),
            F.col("n_bigrams"),
        )
    )
    s.persist()

    fit = s
    if sample_frac < 1.0:
        h = F.substring(md5_of(seed, F.col(id_col)), 1, 8)
        fit = s.where(h < F.lit(mix_threshold_hex(sample_frac)))
    w = Window.partitionBy("lang").orderBy("score", id_col)
    ranked = fit.select(
        "lang", "score",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n"),
    )
    # cutoff k = the ceil(k·n/B)-th smallest score, k = 1..B-1
    ks = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.lit(n_buckets - 1)),
            lambda k: F.when(
                F.col("rn") == F.ceil(k * F.col("n") / F.lit(n_buckets)),
                k,
            ),
        ),
        lambda x: x.isNotNull(),
    )
    cuts = (
        ranked.withColumn("_ks", ks)
        .select(F.explode_outer("_ks").alias("k"), "lang", "score")
        .where(F.col("k").isNotNull())
        .groupBy("lang")
        .pivot("k", list(range(1, n_buckets)))
        .agg(F.first("score"))
    )
    cut_cols = [F.col(str(k)).alias(f"_cut{k}") for k in range(1, n_buckets)]
    cuts = cuts.select("lang", *cut_cols)

    bucket = F.lit(n_buckets)
    for k in range(n_buckets - 1, 0, -1):
        bucket = F.when(F.col("score") <= F.col(f"_cut{k}"), F.lit(k)) \
            .otherwise(bucket)
    # LEFT join: a language absent from the cutoff-fit sample (possible
    # when sample_frac < 1, or a NULL language — NULL keys never match)
    # has no basis for a verdict, so its documents get bucket NULL
    # explicitly instead of being silently dropped or mis-filed in the
    # tail.  Cutoffs are all-or-nothing per language (every cutoff
    # position k is ≤ n), so checking _cut1 alone decides.
    bucket = F.when(F.col("_cut1").isNull(), F.lit(None).cast("int")) \
        .otherwise(bucket)
    return s.join(F.broadcast(cuts), "lang", "left").select(
        F.col(id_col), "lang", bucket.alias("bucket"),
        "sum_nll_nano", "n_bigrams")


def perplexity_buckets(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", lang_col: str = "lang",
                       n_buckets: int = 3,
                       sample_frac: float = 1.0,
                       seed: str = "ppl1") -> DataFrame:
    """CCNet head/middle/tail quality buckets per language — the
    corpus-level report over :func:`perplexity_bucket_assignments`
    (see there for cutoff semantics and the ``sample_frac`` seam).

    Returns ``(lang, bucket, n_docs, min_avg_nll, max_avg_nll)``;
    bucket 1 = head (most fluent)."""
    bucketed = perplexity_bucket_assignments(
        df, id_col=id_col, text_col=text_col, lang_col=lang_col,
        n_buckets=n_buckets, sample_frac=sample_frac, seed=seed)
    return (
        bucketed.groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.min(
                    F.col("sum_nll_nano").cast("double")
                    / F.col("n_bigrams").cast("double")
                ) / F.lit(float(NANO)),
                6,
            ).alias("min_avg_nll"),
            F.round(
                F.max(
                    F.col("sum_nll_nano").cast("double")
                    / F.col("n_bigrams").cast("double")
                ) / F.lit(float(NANO)),
                6,
            ).alias("max_avg_nll"),
        )
    )


def kn_bigram_lm_scores(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        discount: float = 0.75) -> DataFrame:
    """Score every document under an interpolated Kneser-Ney bigram LM
    trained on the corpus itself — the standard upgrade over
    :func:`bigram_lm_scores`' Laplace smoothing (Laplace over-taxes
    frequent contexts and ignores continuation diversity; KN is what
    kenlm/CCNet actually ship). For each bigram occurrence::

        P(w2|w1) = max(c(w1,w2) - D, 0) / c(w1·)
                 + (D · N1+(w1·) / c(w1·)) · (N1+(·w2) / N1+(··))

    with absolute discount ``D`` (default 0.75 — exactly representable,
    so the cross-engine float recipe holds), ``N1+(w1·)`` the distinct
    continuations of the context, ``N1+(·w2)`` the distinct contexts
    the word continues (the "novel-continuation" probability that makes
    KN work), ``N1+(··)`` total distinct bigram types.

    Same output shape and fixed-point contract as
    :func:`bigram_lm_scores`: ``(id, n_bigrams, sum_nll_nano,
    avg_nll)``, per-bigram ``round(-ln(P)·1e9)`` BIGINTs summed
    exactly; the only float math per distinct bigram is ONE fixed
    composition of IEEE ops + one ``ln``, identical in the DuckDB twin.

    Scale shape: everything derives from the ``(w1, w2, c_bg)`` type
    table (vocabulary², not corpus, scale) — context totals and
    continuation counts are two map-side-combinable aggregations over
    it; ``N1+(··)`` is the one driver-side scalar (same metadata budget
    as Laplace's V). Scoring reuses the per-document distinct-bigram
    aggregate, so document text never moves.
    """
    D = float(discount)
    if not 0.0 <= D < 1.0:
        raise ValueError(f"discount must be in [0, 1), got {discount}")
    occ = _bigram_occurrences(df, id_col, text_col)
    occ.persist()
    c_bg = occ.groupBy("w1", "w2").agg(F.sum("occ_n").alias("c_bg"))
    c_bg.persist()
    ctx = c_bg.groupBy("w1").agg(
        F.sum("c_bg").alias("c_ctx"),
        F.count(F.lit(1)).alias("n1p_ctx"),
    )
    cont = c_bg.groupBy("w2").agg(F.count(F.lit(1)).alias("n1p_cont"))
    n_types = c_bg.count()
    p = (
        F.greatest(F.col("c_bg").cast("double") - F.lit(D), F.lit(0.0))
        / F.col("c_ctx").cast("double")
        + (F.lit(D) * F.col("n1p_ctx").cast("double")
           / F.col("c_ctx").cast("double"))
        * (F.col("n1p_cont").cast("double") / F.lit(float(n_types or 1)))
    )
    model = (
        c_bg.join(ctx, "w1").join(cont, "w2")
        .select(
            "w1", "w2",
            F.round(-F.log(p) * F.lit(float(NANO)), 0)
            .cast("long").alias("nll_nano"),
        )
    )
    scored = (
        occ.join(model, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.sum("occ_n").alias("n_bigrams"),
            F.sum(F.col("occ_n") * F.col("nll_nano")).alias("sum_nll_nano"),
        )
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "sum_nll_nano",
            F.round(
                F.col("sum_nll_nano").cast("double")
                / F.col("n_bigrams").cast("double")
                / F.lit(float(NANO)),
                6,
            ).alias("avg_nll"),
        )
    )
