"""Hashed linear text classifier — the fastText-style quality model
(Joulin et al. 2016; the model family CCNet and DCLM-Baseline use to
gate Common-Crawl documents into pretraining sets), re-expressed as a
zero-shuffle Catalyst projection.

A document's features are its lowercased whitespace unigrams plus
adjacent-bigram ``tok_tok`` features, hashed into ``dim`` buckets by
``md5`` (the hashing trick — no vocabulary file ships with the model).
The score is the sum of per-bucket milli-weights plus a bias; the
keep/drop verdict is a threshold on that score. Everything is integer
fixed-point, so the DuckDB twin reproduces scores bit-for-bit.

Scale shape: the weight vector is MODEL metadata (≤``_MAX_DIM``
buckets), inlined as ONE fixed-width hex-string constant — scoring is
one narrow whole-stage-codegen projection per row: in-row ``zip_with``
builds the feature list, one in-row ``aggregate`` folds (count, score)
together, and each weight lookup is a ``substring`` offset read into
the constant. No join, no explode, no shuffle, no Python — at 10^12
documents the scoring pass costs exactly one scan. Training IS distributed (a bucket-count
``groupBy`` with map-side partial aggregation, ≤``dim`` groups); only
the final ≤``dim``-row count table — model parameters, not data —
comes to the driver, the PageRank-counter discipline.

Bucket function (identical in Spark / DuckDB / Python, the HLL
``conv``-bridge pattern): ``int(md5(feature)[:8hex], 16) % dim``.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from document_extractor_spark.functions.text import hex_int, md5_of, tokens

#: a weight vector is model metadata inlined into the plan, not data;
#: bigger models go through a broadcast-join seam, not this literal
_MAX_DIM = 4096

#: feature-hash prefix length (8 hex chars = 32 bits — exact in BIGINT
#: on both engines)
_HEX = 8

#: weights are stored biased by this offset in a fixed-width hex string
#: (6 hex chars per bucket), so the model is ONE string constant in the
#: plan — a ``CreateArray(dim)`` literal is rebuilt per lookup inside a
#: higher-order-function lambda (measured ~3.7 µs/feature), a string
#: literal is a single constant object and ``substring`` on it is an
#: offset read. Bound: |weight| < 2^20 milli (±1048 full units).
_W_OFF = 1 << 20
_W_HEX = 6


def _weight_table(weights: list[int]) -> str:
    for x in weights:
        if abs(x) >= _W_OFF:
            raise ValueError(
                f"|weight| must be < {_W_OFF} milli, got {x}")
    return "".join(format(x + _W_OFF, f"0{_W_HEX}x") for x in weights)


def bucket_of(feature: str, dim: int) -> int:
    """Python twin of the bucket function — for fixtures and tests."""
    return int(hashlib.md5(feature.encode("utf-8")).hexdigest()[:_HEX],
               16) % dim


def _bucket(col: Column, dim: int) -> Column:
    return (hex_int(md5_of(col), _HEX) % dim).cast("int")


def _features(text_col: str, bigrams: bool) -> Column:
    """Lowercased unigrams (+ adjacent bigrams joined by ``_``) as one
    in-row array.

    The bigram list is ``zip_with(toks, toks[2:], concat)`` — NOT
    ``transform(sequence(1, n-1), i -> element_at(toks, i) ...)``:
    Catalyst inlines the ``toks`` sub-expression into every lambda
    reference, so the element_at formulation re-tokenizes the document
    once per bigram index — O(tokens²) work per row (measured 10× on
    the sf0.1 corpus). ``zip_with`` references each input array once;
    the shorter side is null-padded, so the trailing (last_tok, NULL)
    pair drops in the filter."""
    toks = F.transform(tokens(text_col), lambda t: F.lower(t))
    if not bigrams:
        return toks
    shifted = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    bi = F.filter(
        F.zip_with(
            toks, shifted,
            lambda x, y: F.when(y.isNotNull(),
                                F.concat(x, F.lit("_"), y))),
        lambda t: t.isNotNull())
    return F.concat(toks, bi)


def hashed_linear_score(df: DataFrame, weights_milli,
                        text_col: str = "text",
                        bias_milli: int = 0,
                        threshold_milli: int = 0,
                        bigrams: bool = True,
                        out_prefix: str = "q") -> DataFrame:
    """Append ``{out_prefix}_n_feats / _score_milli / _keep`` columns.

    ``weights_milli`` is the full model: a list of ``dim`` integers
    (index = bucket). NULL text scores NULL and is NOT kept (a page
    with no text has no quality evidence). Raises on an empty /
    oversized / non-integer weight vector.
    """
    w = [int(x) for x in weights_milli]
    if not w or len(w) > _MAX_DIM:
        raise ValueError(
            f"weight vector must have 1..{_MAX_DIM} buckets, got {len(w)}")
    dim = len(w)
    wtab = F.lit(_weight_table(w))

    def lookup(t: Column) -> Column:
        return hex_int(wtab, _W_HEX, _bucket(t, dim) * _W_HEX + 1) - _W_OFF

    # ONE fold builds (count, score) together; the three output columns
    # are field reads off the identical struct subtree, which codegen's
    # subexpression elimination evaluates once (wrapping score and count
    # in separate `when` trees measurably re-ran the whole fold per
    # output column).
    acc0 = F.struct(F.lit(0).cast("int").alias("n"),
                    F.lit(int(bias_milli)).cast("long").alias("s"))
    st = F.when(
        F.col(text_col).isNotNull(),
        F.aggregate(
            _features(text_col, bigrams), acc0,
            lambda a, t: F.struct((a["n"] + 1).alias("n"),
                                  (a["s"] + lookup(t)).alias("s"))))
    return df.withColumns({
        f"{out_prefix}_n_feats":
            F.coalesce(st["n"], F.lit(0)).cast("int"),
        f"{out_prefix}_score_milli": st["s"],
        f"{out_prefix}_keep":
            F.coalesce(st["s"] >= F.lit(int(threshold_milli)),
                       F.lit(False)),
    })


def linmodel_oracle_sql(table: str, id_col: str, text_col: str,
                        weights_milli, bias_milli: int = 0,
                        threshold_milli: int = 0,
                        bigrams: bool = True,
                        out_prefix: str = "q") -> str:
    """DuckDB twin of :func:`hashed_linear_score` — lives next to the
    operator so tokenization, bucket math, and NULL policy can't
    drift. Emits ``(id, n_feats, score_milli, keep)``."""
    wl = [int(x) for x in weights_milli]
    dim = len(wl)
    uni = (f"list_filter(regexp_split_to_array(trim(lower({text_col})),"
           r" '\s+'), t -> t <> '')")
    if bigrams:
        feats = (f"list_concat(u, CASE WHEN len(u) >= 2 THEN "
                 f"list_transform(generate_series(1, len(u)-1),"
                 f" i -> u[i] || '_' || u[i+1]) ELSE [] END)")
    else:
        feats = "u"
    lookup = (
        f"list_transform(f, t -> ('0x' || substr(wl, "
        f"CAST(('0x' || substr(md5(t), 1, {_HEX}))::UBIGINT % {dim} "
        f"AS INT) * {_W_HEX} + 1, {_W_HEX}))::BIGINT - {_W_OFF})")
    return f"""
        WITH w AS (SELECT '{_weight_table(wl)}' AS wl),
        u AS (SELECT {id_col}, {text_col}, {uni} AS u FROM {table}),
        f AS (SELECT {id_col}, {text_col}, {feats} AS f FROM u),
        s AS (SELECT {id_col},
                     CASE WHEN {text_col} IS NOT NULL
                          THEN CAST(len(f) AS INT) ELSE 0 END
                       AS {out_prefix}_n_feats,
                     CASE WHEN {text_col} IS NOT NULL
                          THEN {int(bias_milli)}
                               + coalesce(list_sum({lookup}), 0)
                     END AS {out_prefix}_score_milli
              FROM f, w)
        SELECT {id_col}, {out_prefix}_n_feats,
               CAST({out_prefix}_score_milli AS BIGINT)
                 AS {out_prefix}_score_milli,
               coalesce({out_prefix}_score_milli >= {int(threshold_milli)},
                        false) AS {out_prefix}_keep
        FROM s
    """


def train_hashed_linear(df: DataFrame, label_col: str,
                        dim: int = 512,
                        text_col: str = "text",
                        bigrams: bool = True,
                        alpha: float = 1.0) -> list[int]:
    """Closed-form NB-style training: per-bucket milli log-count-ratio
    ``round(1000 * log(p(b|pos) / p(b|neg)))`` with add-``alpha``
    smoothing (Wang & Manning 2012's NBSVM feature weights — the
    no-SGD trainer that is exactly one distributed aggregation).

    ``label_col`` is boolean (true = quality). The bucket counts are a
    ``groupBy`` over ≤``dim`` keys (map-side combinable, no skew —
    buckets are md5-uniform); only the ≤``dim``-row model comes to the
    driver. Returns the weight list for :func:`hashed_linear_score`.
    """
    if not 1 <= dim <= _MAX_DIM:
        raise ValueError(f"dim must be 1..{_MAX_DIM}, got {dim}")
    staged = (df.where(F.col(text_col).isNotNull()
                       & F.col(label_col).isNotNull())
              .select(F.col(label_col).cast("boolean").alias("_y"),
                      _features(text_col, bigrams).alias("_f")))
    counts = (staged.select("_y", F.explode_outer("_f").alias("_t"))
              .where(F.col("_t").isNotNull())
              .select("_y", _bucket(F.col("_t"), dim).alias("_b"))
              .groupBy("_b")
              .agg(F.sum(F.when(F.col("_y"), 1).otherwise(0)).alias("_p"),
                   F.sum(F.when(~F.col("_y"), 1).otherwise(0)).alias("_n"))
              .collect())
    pos = [0] * dim
    neg = [0] * dim
    for r in counts:
        pos[r["_b"]] = r["_p"]
        neg[r["_b"]] = r["_n"]
    tp = sum(pos) + alpha * dim
    tn = sum(neg) + alpha * dim
    return [
        round(1000.0 * (math.log((pos[b] + alpha) / tp)
                        - math.log((neg[b] + alpha) / tn)))
        for b in range(dim)
    ]
