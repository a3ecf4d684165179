"""Bitext candidate mining — pair documents that declare each other as
translations (hreflang alternates) and pass a length-ratio sanity
check. This is the high-precision front-end of parallel-corpus
construction (CCAligned/CCMatrix start exactly here: URL-declared
pairs first, embedding alignment later): a page and its hreflang
alternate are the same content in two languages, and a token-length
ratio far from 1 flags navigation stubs, truncated variants, or
mislabeled pairs.

Spark-first: two equi-joins of the alternates edge list against the
corpus metadata table (url → (lang, n_tokens)) — narrow all-metadata
rows keyed by url, map-side prunable; the ratio test is pure BIGINT
(``len·100 ≤ other·max_ratio_pct`` both ways), so verdicts are exact
and engine-identical; document text is never touched, let alone
shuffled. Output keeps the DECLARED direction (src = the page carrying
the <link> tag); callers wanting undirected pairs canonicalize with
least/greatest afterwards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .extract import _map_payloads


def bitext_candidates(docs: DataFrame, alternates: DataFrame,
                      url_col: str = "url", lang_col: str = "lang",
                      len_col: str = "n_tokens",
                      max_ratio_pct: int = 200) -> DataFrame:
    """``(src_url, dst_url, src_lang, dst_lang, src_tokens,
    dst_tokens)`` — one row per declared (url → href) alternate whose
    two ends both exist in ``docs``, carry DIFFERENT languages, and
    whose token counts satisfy the two-sided ratio bound
    ``100·len ≤ max_ratio_pct·other_len`` (exact integers; the default
    200 = factor-2 bound). Duplicate declarations collapse.

    ``alternates`` needs (url, href) columns — e.g. the output of
    :func:`~.pagemeta.hreflang_alternates`."""
    if max_ratio_pct < 100:
        raise ValueError(
            f"max_ratio_pct must be >= 100 (a ratio bound): "
            f"{max_ratio_pct}")
    meta = docs.select(
        F.col(url_col).alias("_u"), F.col(lang_col).alias("_lang"),
        F.col(len_col).cast("bigint").alias("_len"))
    edges = (
        alternates.select(F.col("url").alias("src_url"),
                          F.col("href").alias("dst_url"))
        .where(F.col("src_url") != F.col("dst_url"))
        .distinct()
    )
    src = meta.select(F.col("_u").alias("src_url"),
                      F.col("_lang").alias("src_lang"),
                      F.col("_len").alias("src_tokens"))
    dst = meta.select(F.col("_u").alias("dst_url"),
                      F.col("_lang").alias("dst_lang"),
                      F.col("_len").alias("dst_tokens"))
    r = F.lit(int(max_ratio_pct))
    return (
        edges.join(src, "src_url").join(dst, "dst_url")
        .where((F.col("src_lang") != F.col("dst_lang"))
               & (F.col("src_tokens") > 0) & (F.col("dst_tokens") > 0)
               & (F.col("src_tokens") * 100 <= F.col("dst_tokens") * r)
               & (F.col("dst_tokens") * 100 <= F.col("src_tokens") * r))
        .select("src_url", "dst_url", "src_lang", "dst_lang",
                "src_tokens", "dst_tokens")
    )


# Gale & Church 1993 (Computational Linguistics 19(1), Table 5) —
# alignment-category priors and the length-difference model constants.
# c: expected target/source char-length ratio; s2: per-char variance.
_GC_PRIORS = {
    (1, 1): 0.89,
    (1, 0): 0.0099, (0, 1): 0.0099,
    (2, 1): 0.089, (1, 2): 0.089,
    (2, 2): 0.011,
}
_GC_C = 1.0
_GC_S2 = 6.8


def _gc_length_cost(ls: int, lt: int) -> float:
    """-ln P(length evidence | aligned) under the Gale-Church normal
    model: delta = (lt - ls·c)/sqrt(mean·s2), cost = -ln 2(1-Phi(|d|)).
    Exactly 0.0 when the lengths match the expected ratio (erf(0) is
    exact), which is what gives the planted driver fixture its closed
    form."""
    import math

    if ls == 0 and lt == 0:
        return 0.0
    mean = (ls + lt / _GC_C) / 2.0
    delta = (lt - ls * _GC_C) / math.sqrt(mean * _GC_S2)
    # 2·(1-Phi(|delta|)), floored to keep -ln finite on wild ratios
    p = 2.0 * (1.0 - 0.5 * (1.0 + math.erf(abs(delta) / math.sqrt(2.0))))
    return -math.log(max(p, 1e-300))


def _gc_align_lengths(sl, tl):
    """DP over sentence char-length sequences; returns the backtraced
    alignment as (src_start, src_n, tgt_start, tgt_n, cost_milli)
    tuples in document order. Ties break to the FIRST move in the
    fixed _GC_PRIORS order (strict <), so the result is a pure function
    of the inputs."""
    import math

    moves = [(ds, dt, -math.log(p)) for (ds, dt), p in _GC_PRIORS.items()]
    n, m = len(sl), len(tl)
    INF = float("inf")
    # best[i][j] = min cost aligning first i src / j tgt sentences
    best = [[INF] * (m + 1) for _ in range(n + 1)]
    back = [[None] * (m + 1) for _ in range(n + 1)]
    best[0][0] = 0.0
    for i in range(n + 1):
        for j in range(m + 1):
            b = best[i][j]
            if b == INF:
                continue
            for ds, dt, pc in moves:
                ni, nj = i + ds, j + dt
                if ni > n or nj > m:
                    continue
                cost = pc + _gc_length_cost(
                    sum(sl[i:ni]), sum(tl[j:nj]))
                if b + cost < best[ni][nj]:
                    best[ni][nj] = b + cost
                    back[ni][nj] = (ds, dt, cost)
    out = []
    i, j = n, m
    while i > 0 or j > 0:
        ds, dt, cost = back[i][j]
        i, j = i - ds, j - dt
        out.append((i, ds, j, dt, int(round(cost * 1000))))
    out.reverse()
    return out


def gale_church_align(pairs: DataFrame, id_col: str = "pair_id",
                      src_col: str = "src_sents",
                      tgt_col: str = "tgt_sents",
                      max_sentences: int = 512) -> DataFrame:
    """Gale-Church sentence alignment over candidate bitext pairs — the
    step after :func:`bitext_candidates`: given each pair's sentence
    arrays, produce the minimum-cost monotone alignment under the
    classic length-based model (1-1 / 1-0 / 0-1 / 2-1 / 1-2 / 2-2
    moves with the paper's category priors and normal length model).

    Returns one row per alignment bead: ``(id, align_idx, src_start,
    src_n, tgt_start, tgt_n, cost_milli)`` (0-based starts into the
    input arrays, ``*_n = 0`` for insertions/deletions, cost in
    milli-nats). Callers join beads back to sentence text on
    (id, index) — the DP kernel itself sees ONLY integer char-length
    arrays: sentence text never crosses into Python, so the Arrow
    traffic per pair is two int arrays regardless of document size.

    The DP is genuinely non-relational (quadratic recurrence with
    backtrace), so it runs on ``extract._map_payloads`` — the sanctioned
    slow path — over rows that are already metadata-narrow. Cost is
    O(n·m) per pair: ``max_sentences`` guards the quadratic loudly
    (a 10k-sentence auto-generated page would be a 10^8-cell straggler;
    raise, never silently truncate). Each pair is independent —
    parallelism is per-row, no shuffle anywhere (plan-asserted narrow).
    """
    from pyspark.sql import types as T

    # a NULL sentence is length 0, like an empty one
    staged = pairs.select(
        F.col(id_col).alias("_id"),
        F.transform(F.coalesce(F.col(src_col), F.array()),
                    lambda s: F.coalesce(F.length(s), F.lit(0)))
        .alias("_sl"),
        F.transform(F.coalesce(F.col(tgt_col), F.array()),
                    lambda s: F.coalesce(F.length(s), F.lit(0)))
        .alias("_tl"),
    )
    id_field = pairs.schema[id_col].dataType
    out_schema = T.StructType([
        T.StructField(id_col, id_field),
        T.StructField("align_idx", T.IntegerType()),
        T.StructField("src_start", T.IntegerType()),
        T.StructField("src_n", T.IntegerType()),
        T.StructField("tgt_start", T.IntegerType()),
        T.StructField("tgt_n", T.IntegerType()),
        T.StructField("cost_milli", T.LongType()),
    ])

    def align(pid, sl, tl) -> list:
        if max(len(sl), len(tl)) > max_sentences:
            raise ValueError(
                f"gale_church_align: pair {pid!r} exceeds "
                f"max_sentences={max_sentences} — the O(n*m) DP would "
                f"straggle; pre-chunk the pair or raise the cap explicitly")
        return [(pid, k, *bead) for k, bead in
                enumerate(_gc_align_lengths(sl, tl))]

    return _map_payloads(staged, ["_id", "_sl", "_tl"], align, out_schema,
                         None)
