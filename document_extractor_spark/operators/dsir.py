"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169): select raw-corpus documents whose hashed-n-gram
distribution looks like a TARGET corpus.  The completion of the
model-based curation tier (``lm.py`` scores fluency against the corpus
itself, ``nb.py`` learns labeled quality; DSIR steers the data mix
toward a target domain with no labels at all — the GPT-3/PaLM
"quality = looks like the target" move, estimated openly).

Method (the paper's estimator, deterministic here):

* Features: unigrams + bigrams of lowercased whitespace tokens, hashed
  into ``n_buckets`` buckets (hashing trick — the paper's 10k buckets
  default scales to any vocabulary; md5-based bucket so the DuckDB twin
  hashes identically).
* Two bag-of-buckets multinomials with Laplace smoothing: ``p`` fit on
  the target corpus, ``q`` on the raw corpus.  Per-bucket log ratio
  ``λ_b = ln((t_b+1)/(T+B)) − ln((r_b+1)/(R+B))`` — computed as ONE
  ``ln`` of an exact-BIGINT-products ratio, nano-nat-quantized to
  BIGINT (the ``lm.py`` fixed-point contract: no float summation
  anywhere, so the DuckDB oracle is hash-identical).
* Importance weight ``log w(doc) = Σ_b c_b(doc)·λ_b`` — an exact
  integer sum.
* Selection: the paper resamples with Gumbel noise; a training-export
  engine needs reruns and repartitionings to emit the same corpus, so
  selection here is deterministic top-k by ``(log w, md5(seed‖id))`` —
  same estimator, reproducible tie-free total order (the
  ``shuffle_shards`` / ``stratified_sample`` determinism contract).

Scale shape:

* Tokenization is one staged explode per corpus; bucket counts are
  map-side-combinable ``groupBy(bucket)`` aggregations over NARROW
  ``(bucket)`` rows — document text never crosses an exchange.
* The λ table has at most ``n_buckets`` rows and is broadcast — the
  genuinely bounded side (the raw corpus side is never broadcast).
* Per-document scoring reuses the per-doc ``(id, bucket, occ_n)``
  aggregate (repetitive docs join once per distinct bucket), and the
  final top-k is a ``TakeOrderedAndProject`` over narrow
  ``(id, score)`` rows — no global sort of payloads, no single-task
  window.
* ``T``/``R`` (total feature occurrences) are the two driver-side
  scalars — metadata-scale, the PageRank vertex-count budget.

Reference parity note: the reference app has no data-selection stage
(it is a GPT-4V extraction UI, ``openai_content_extractor.py``); this
operator exists for the training-data pipeline mandate (deterministic
mix/selection as first-class components).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import hex_int, md5_of, tokens

#: fixed-point scale for per-bucket log ratios (nano-nats), lm.py NANO.
NANO = 1_000_000_000


def _bucket_occurrences(df: DataFrame, id_col: str, text_col: str,
                        n_buckets: int) -> DataFrame:
    """Per-document hashed-feature bucket counts ``(id, bucket, occ_n)``.

    Features are unigrams plus space-joined bigrams over the repo
    tokenizer (``functions.text.tokens``); bucket = first-8-hex-digits
    of md5(feature) mod ``n_buckets`` (exact DuckDB twin:
    ``('0x' || substr(md5(f),1,8))::UBIGINT % B``)."""
    d = (
        df.select(F.col(id_col), F.lower(F.col(text_col)).alias("_t"))
        .withColumn("_tk", tokens("_t"))
        .drop("_t")
    )
    ln = F.greatest(F.size("_tk") - F.lit(1), F.lit(0))
    # stage the unigram++bigram feature array before exploding
    d = d.withColumn(
        "_fs",
        F.concat(
            F.col("_tk"),
            F.zip_with(
                F.slice("_tk", 1, ln),
                F.slice("_tk", 2, ln),
                lambda a, b: F.concat(a, F.lit(" "), b),
            ),
        ),
    ).drop("_tk")
    bucket = F.pmod(hex_int(md5_of(F.col("_f")), 8),
                    F.lit(n_buckets)).alias("bucket")
    return (
        d.select(F.col(id_col), F.explode_outer("_fs").alias("_f"))
        .where(F.col("_f").isNotNull())
        .select(F.col(id_col), bucket)
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("occ_n"))
    )


def dsir_scores(docs: DataFrame, target: DataFrame,
                id_col: str = "doc_id", text_col: str = "text",
                n_buckets: int = 4096) -> DataFrame:
    """Per-document DSIR importance weights against ``target``.

    Returns ``(id, n_features, log_w_nano)``: ``n_features`` = total
    feature occurrences, ``log_w_nano`` = Σ occ·λ as exact BIGINT
    nano-nats (positive ⇒ more target-like than the raw average).
    Documents with no features (empty/whitespace text) get
    ``n_features = 0`` and NULL ``log_w_nano`` — no evidence, no score,
    never a silent 0 that would out-rank negative-scored real text.
    """
    occ = _bucket_occurrences(docs, id_col, text_col, n_buckets)
    occ.persist()
    raw_b = occ.groupBy("bucket").agg(F.sum("occ_n").alias("r_n"))
    tgt_b = (
        _bucket_occurrences(target, id_col, text_col, n_buckets)
        .groupBy("bucket").agg(F.sum("occ_n").alias("t_n"))
    )
    # driver-side scalars (metadata-scale): total occurrences per side
    r_tot = raw_b.agg(F.sum("r_n")).first()[0] or 0
    t_tot = tgt_b.agg(F.sum("t_n")).first()[0] or 0
    # λ per bucket over the buckets the raw corpus actually populates
    # (a scored doc's buckets are by construction raw-populated); one ln
    # over a ratio of exact BIGINT products, nano-quantized — the lm.py
    # cross-engine fixed-point contract
    lam = (
        raw_b.join(tgt_b, "bucket", "left")
        .select(
            "bucket",
            F.round(
                F.log(
                    (
                        (F.coalesce(F.col("t_n"), F.lit(0)) + F.lit(1))
                        * F.lit(r_tot + n_buckets)
                    ).cast("double")
                    / (
                        (F.col("r_n") + F.lit(1))
                        * F.lit(t_tot + n_buckets)
                    ).cast("double")
                )
                * F.lit(float(NANO)),
                0,
            ).cast("long").alias("lam_nano"),
        )
    )
    scored = (
        occ.join(F.broadcast(lam), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("occ_n").alias("n_features"),
            F.sum(F.col("occ_n") * F.col("lam_nano")).alias("log_w_nano"),
        )
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_features", F.lit(0)).alias("n_features"),
            "log_w_nano",
        )
    )


def dsir_select(docs: DataFrame, target: DataFrame, k: int,
                id_col: str = "doc_id", text_col: str = "text",
                n_buckets: int = 4096, seed: str = "dsir1") -> DataFrame:
    """Deterministic DSIR selection: the ``k`` most target-like raw
    documents by ``dsir_scores``, ties (and only ties) broken by
    ``md5(seed‖id)`` so reruns, repartitionings, and the DuckDB twin
    pick identical rows.  Unscored documents (no features) sort last.
    Returns ``(id, n_features, log_w_nano)`` of the selected set —
    join back on the id for payloads (payloads never enter the sort:
    the plan is a TakeOrderedAndProject over narrow score rows)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    s = dsir_scores(docs, target, id_col=id_col, text_col=text_col,
                    n_buckets=n_buckets)
    tie = md5_of(seed, F.col(id_col))
    return (
        s.orderBy(F.col("log_w_nano").desc_nulls_last(), tie)
        .limit(k)
    )
