"""Similarity search over embedding columns (``array<float>``).

Three tiers:

- **Brute-force cosine top-k** — the correctness baseline. The dot
  product is a JVM-side ``zip_with`` + ``aggregate`` fold (no Python at
  all); top-k is an ``orderBy … limit`` which Spark executes as
  TakeOrderedAndProject (per-partition heap + driver merge — no full
  sort shuffle).
- **LSH-bucketed ANN** — the 100 TB path: sign-random-projection bucket
  ids computed by a *vectorized* Arrow UDF (one numpy matmul per Arrow
  batch), multiprobe over Hamming-adjacent buckets, exact cosine rerank
  inside the probed buckets only.

- **IVF ANN** — MLlib-KMeans coarse quantizer over normalized vectors;
  nprobe nearest cells scanned, exact rerank. The classic inverted-file
  alternative when the corpus clusters well.

Embedding norms can be precomputed once (``with_norm``) and reused
across queries — the classic IVF trick of paying normalization at
index-build time.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import md5_of
from .dedup import _band_pairs


def _dot(vec_col: Column, qvec: list) -> Column:
    """<v, q> as zip_with + aggregate fold — whole-stage-codegen'd."""
    q = F.lit(qvec).cast("array<double>")
    prod = F.zip_with(vec_col.cast("array<double>"), q, lambda a, b: a * b)
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def _norm(vec_col: Column) -> Column:
    sq = F.aggregate(
        vec_col.cast("array<double>"), F.lit(0.0), lambda acc, x: acc + x * x
    )
    return F.sqrt(sq)


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return df.withColumn("vec_norm", _norm(F.col(vec_col)))


def cosine_similarity(vec_col: Column, qvec: list) -> Column:
    # sequential fold (not np.dot) so the query norm matches the oracle's
    # left-to-right list_sum bit-for-bit
    acc = 0.0
    for v in qvec:
        acc += float(v) * float(v)
    import math

    qn = math.sqrt(acc)
    # nullif: a zero-norm vector (or query) yields NULL cosine instead of
    # an ANSI DIVIDE_BY_ZERO task failure; desc ordering puts NULLS LAST
    # so degenerate vectors simply never reach a top-k
    return _dot(vec_col, qvec) / F.nullif(_norm(vec_col) * F.lit(qn),
                                          F.lit(0.0))


def brute_force_topk(df: DataFrame, qvec: list, k: int = 10,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k. Deterministic tie-break on id."""
    return (
        df.select(
            F.col(id_col),
            F.round(cosine_similarity(F.col(vec_col), qvec), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (sign random projections)
# ---------------------------------------------------------------------------


def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((dim, n_planes))


def srp_index(df: DataFrame, dim: int, n_planes: int = 8, seed: int = 42,
              vec_col: str = "embedding") -> DataFrame:
    """Bucketed index: (… , bucket). At scale, write this out partitioned
    by bucket so probes become partition-pruned scans. The bucket is
    the single band of ``srp_band_buckets_udf``; a NULL vector gets a
    NULL bucket."""
    udf = srp_band_buckets_udf(dim, 1, n_planes, seed)
    return df.withColumn("bucket", F.element_at(udf(F.col(vec_col)), 1))


def _probe_buckets(qvec: list, dim: int, n_planes: int, seed: int,
                   hamming: int = 1) -> list:
    planes = _hyperplanes(dim, n_planes, seed)
    signs = (np.asarray(qvec) @ planes) > 0
    base = 0
    for j in range(n_planes):
        base |= int(signs[j]) << j
    probes = [base]
    if hamming >= 1:
        probes += [base ^ (1 << j) for j in range(n_planes)]
    return probes


def ann_topk(indexed: DataFrame, qvec: list, k: int = 10, dim: int = 64,
             n_planes: int = 8, seed: int = 42, hamming: int = 1,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: prune to Hamming-adjacent buckets (an ``isin``
    filter that pushes to the scan when the index is bucket-partitioned),
    then exact rerank."""
    probes = _probe_buckets(qvec, dim, n_planes, seed, hamming)
    cand = indexed.filter(F.col("bucket").isin(probes))
    return brute_force_topk(cand, qvec, k, id_col, vec_col)


def _vector_codes(vecs: pa.Array, encode) -> pa.Array:
    """``encode`` over an Arrow batch's non-NULL vectors, stacked into
    one float64 ``(n, dim)`` matrix, → its ``(n, w)`` integer codes as
    ``array<int>`` rows, NULL where the vector is NULL. ``np.vstack``
    raises on ragged vectors, where a flat reshape would not."""
    valid = vecs.is_valid()
    present = vecs.drop_null()
    if len(present) == 0:
        return pa.nulls(len(vecs), pa.list_(pa.int32()))
    mat = np.vstack(present.to_numpy(zero_copy_only=False))
    codes = encode(mat.astype(np.float64)).astype(np.int32)
    offsets = np.concatenate(
        ([0], np.cumsum(valid.to_numpy(zero_copy_only=False))
         * codes.shape[1]))
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()),
                                    pa.array(codes.ravel()),
                                    mask=pc.invert(valid))


def srp_band_buckets_udf(dim: int, n_bands: int = 8,
                         planes_per_band: int = 16, seed: int = 42):
    """Vectorized Arrow UDF: n_bands independent SRP bucket ids per
    vector (one numpy matmul per Arrow batch over all bands' planes).
    This is the showcase 'Python only as Arrow-batched numpy' operator;
    a NULL vector gets NULL buckets."""
    planes = _hyperplanes(dim, n_bands * planes_per_band, seed)
    weights = (1 << np.arange(planes_per_band)).astype(np.int64)

    def ids(mat):
        signs = (mat @ planes) > 0                         # (batch, B*P)
        s = signs.reshape(len(mat), n_bands, planes_per_band)
        return (s * weights).sum(axis=2)

    @F.arrow_udf(T.ArrayType(T.IntegerType()))
    def buckets(col: pa.Array) -> pa.Array:
        return _vector_codes(col, ids)

    return buckets


def srp_band_candidates(df: DataFrame, dim: int, n_bands: int = 8,
                        planes_per_band: int = 16, seed: int = 42,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Banded SRP blocking (the MinHash-LSH band trick applied to sign
    random projections): a pair is a candidate iff it collides in ≥1 of
    ``n_bands`` independent ``planes_per_band``-bit buckets. Distinct
    (id_a, id_b) pairs, id_a < id_b.

    Scale shape: the join key is (band, bucket) — 2^planes_per_band
    buckets PER BAND, so with the default 16 bits the background
    collision rate for unrelated vectors is ~n²·n_bands/2^16 ... growing
    ``planes_per_band`` (not the corpus) is the knob that keeps
    in-bucket membership bounded as n grows; 20 bits ≈ 1M buckets per
    band. This replaces the single-table 8-plane design whose 256
    buckets made the in-bucket self-join quadratic at corpus scale."""
    udf = srp_band_buckets_udf(dim, n_bands, planes_per_band, seed)
    return _band_pairs(
        df.select(F.col(id_col).alias("id"),
                  udf(F.col(vec_col)).alias("bands"))
        .select("id", F.posexplode("bands").alias("band", "key"))
    )


def embedding_near_duplicates(df: DataFrame, dim: int, threshold: float = 0.95,
                              n_bands: int = 8, planes_per_band: int = 16,
                              seed: int = 42, id_col: str = "vec_id",
                              vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-dup pairs: banded SRP blocking
    (``srp_band_candidates``) → exact cosine verification of the
    candidate pairs only. Recall for a pair at angle θ is
    1-(1-(1-θ/π)^planes_per_band)^n_bands — near 1 for true near-dups
    (cos ≥ 0.95) at the defaults, tunable via n_bands."""
    cands = srp_band_candidates(df, dim, n_bands, planes_per_band, seed,
                                id_col, vec_col)
    vecs = df.select(F.col(id_col).alias("vid"),
                     F.col(vec_col).alias("v"),
                     _norm(F.col(vec_col)).alias("nrm"))
    a = vecs.alias("va")
    b = vecs.alias("vb")
    dot = F.aggregate(
        F.zip_with(F.col("va.v").cast("array<double>"),
                   F.col("vb.v").cast("array<double>"), lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    return (
        cands.join(a, cands.id_a == F.col("va.vid"))
        .join(b, cands.id_b == F.col("vb.vid"))
        .select(
            "id_a", "id_b",
            F.round(dot / F.nullif(F.col("va.nrm") * F.col("vb.nrm"),
                                   F.lit(0.0)), 6)
            .alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — KMeans coarse quantizer
# ---------------------------------------------------------------------------


def _l2_normalized(vec_col: Column) -> Column:
    """L2-normalize; a zero-norm vector passes through UNchanged (an
    all-null array would crash ``array_to_vector``/KMeans downstream —
    one degenerate embedding must not kill an index build; the
    brute-force and SRP tiers already tolerate zero vectors)."""
    n = _norm(vec_col)
    arr = vec_col.cast("array<double>")
    return F.when(n > 0, F.transform(arr, lambda x: x / n)).otherwise(arr)


def ivf_index(df: DataFrame, n_cells: int = 16, seed: int = 42,
              id_col: str = "vec_id", vec_col: str = "embedding",
              sample_fraction: float = 1.0, max_iter: int = 8,
              tol: float = 1e-3):
    """IVF coarse quantizer: MLlib KMeans over L2-NORMALIZED vectors
    (so euclidean cells order by cosine), one ``ivf_cell`` int per row.
    Returns ``(indexed_df, centers)`` — centers are tiny (n_cells × dim)
    and live on the driver like any index metadata.

    Scale shape: training runs on a SAMPLE (``sample_fraction``) —
    KMeans cost is O(sample × n_cells × iters), independent of corpus
    size; assignment is one JVM-side model.transform pass. At 100 TB,
    write the indexed table partitioned by ``ivf_cell`` so probes become
    partition-pruned scans (the same contract as ``srp_index``)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = df.withColumn("_nv",
                         array_to_vector(_l2_normalized(F.col(vec_col))))
    train = vecs.sample(sample_fraction, seed=seed) \
        if sample_fraction < 1.0 else vecs
    # A coarse quantizer does not need converged centroids — probe
    # recall comes from nprobe + exact rerank, so cap iterations and
    # loosen tolerance (faiss trains IVF with ~10 iterations for the
    # same reason). Halves index-build wall vs MLlib's defaults.
    model = KMeans(k=n_cells, seed=seed, featuresCol="_nv",
                   predictionCol="ivf_cell", maxIter=max_iter,
                   tol=tol).fit(train)
    indexed = model.transform(vecs).drop("_nv")
    centers = [c.tolist() for c in model.clusterCenters()]
    return indexed, centers


def ivf_topk(indexed: DataFrame, centers: list, qvec: list, k: int = 10,
             nprobe: int = 4, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """IVF probe: rank cells by distance from the (normalized) query to
    each centroid (driver-side — centers are index metadata), scan only
    the ``nprobe`` nearest cells (an ``isin`` filter that partition-
    prunes when the index is cell-partitioned), exact cosine rerank."""
    import math

    import numpy as np

    q = np.asarray(qvec, dtype=float)
    qn = math.sqrt(float((q * q).sum())) or 1.0
    d = (((np.asarray(centers) - q / qn) ** 2).sum(axis=1))
    probes = [int(i) for i in np.argsort(d)[:nprobe]]
    cand = indexed.filter(F.col("ivf_cell").isin(probes))
    return brute_force_topk(cand, qvec, k, id_col, vec_col)


# ---------------------------------------------------------------------------
# SemDeDup — semantic (embedding-space) deduplication
# ---------------------------------------------------------------------------


def semantic_dedup(df: DataFrame, dim: int, threshold: float = 0.95,
                   cluster_col: str = None, n_cells: int = 16,
                   seed: int = 42, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   max_cluster_size: int = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): drop documents
    whose embedding is near-identical (cosine ≥ ``threshold``) to a
    higher-priority member of the SAME cluster. Priority is
    ``md5(id)`` — deterministic, order-free, partitioning-invariant —
    so the keep rule is "a row survives iff no lower-md5 same-cluster
    row sits within the threshold", a local-maximum rule an exact SQL
    twin can verify (no greedy sequential scan to replay). Clusters
    come from ``cluster_col`` when the caller already has a blocking
    key (topic label, IVF cell, SRP band); with ``cluster_col=None``
    the MLlib-KMeans coarse quantizer (``ivf_index``, sample-trainable)
    assigns one — the paper's actual recipe.

    Scale shape: candidate pairs exist only WITHIN a cluster — the
    self-join is an equi-join on the cluster key carrying
    ``(id, priority, normalized vec)``, never document payloads, and
    cost is Σ |cluster|², bounded by sizing n_cells ≈ corpus/target
    (SemDeDup uses 50k clusters at 100M scale for the same reason).
    ``max_cluster_size`` is the safety rail: a skewed cluster fails
    loudly at plan time instead of silently building a quadratic
    straggler (the ``range_join`` cell-guard contract).
    Returns ``(id_col, sem_keep)``; callers drop with
    ``.filter("sem_keep")`` via a join or semi-join on the id."""
    if cluster_col is None:
        indexed, _ = ivf_index(df, n_cells=n_cells, seed=seed,
                               id_col=id_col, vec_col=vec_col)
        cluster_col = "ivf_cell"
        df = indexed
    narrow = df.select(
        F.col(cluster_col).alias("_cl"),
        F.col(id_col).alias("_id"),
        md5_of(F.col(id_col)).alias("_pri"),
        _l2_normalized(F.col(vec_col)).alias("_v"),
    ).where(F.col("_cl").isNotNull())
    if max_cluster_size is not None:
        worst = (narrow.groupBy("_cl").count()
                 .agg(F.max("count")).first()[0] or 0)
        if worst > max_cluster_size:
            raise ValueError(
                f"semantic_dedup: largest cluster has {worst} rows "
                f"(max_cluster_size={max_cluster_size}); raise n_cells "
                "or pre-split the blocking key before the pairwise pass")
    a = narrow.alias("sa")
    b = narrow.alias("sb")
    # vectors are pre-normalized → cosine is the plain dot product
    dot = F.aggregate(
        F.zip_with(F.col("sa._v"), F.col("sb._v"), lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    dropped = (
        a.join(b, (F.col("sa._cl") == F.col("sb._cl"))
               & (F.col("sa._pri") < F.col("sb._pri")))
        .where(dot >= threshold)
        .select(F.col("sb._id").alias("_dropped"))
        .distinct()
    )
    return (
        df.select(F.col(id_col))
        .join(dropped, F.col(id_col) == F.col("_dropped"), "left")
        .select(id_col, F.col("_dropped").isNull().alias("sem_keep"))
    )


# ---------------------------------------------------------------------------
# PQ (product-quantization) ANN — Jegou et al. 2011 (IEEE TPAMI), the
# faiss IndexPQ shape: split each normalized vector into m subvectors,
# vector-quantize every subspace against a tiny trained codebook, score
# candidates with an asymmetric-distance lookup table, exact-rerank a
# shortlist. Completes the ANN family (brute force / SRP / IVF / PQ).
# ---------------------------------------------------------------------------


def _pq_kmeans(X: np.ndarray, k: int, iters: int, seed: int) -> np.ndarray:
    """Deterministic Lloyd k-means for one subspace (numpy, driver-side
    over the bounded training sample). Empty clusters are re-seeded on
    the point farthest from its assigned centroid — argmax, not random —
    so the codebook is a pure function of (sample, k, iters, seed)."""
    rng = np.random.RandomState(seed)
    cent = X[rng.choice(len(X), size=k, replace=len(X) < k)].copy()
    for _ in range(iters):
        d = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        for j in range(k):
            mask = assign == j
            if mask.any():
                cent[j] = X[mask].mean(0)
            else:
                cent[j] = X[d[np.arange(len(X)), assign].argmax()]
    return cent


def pq_train(df: DataFrame, dim: int, m: int = 8, k: int = 16,
             iters: int = 10, seed: int = 42, sample_rows: int = 4096,
             id_col: str = "vec_id", vec_col: str = "embedding") -> list:
    """Train the (m × k × dim/m) PQ codebooks on a BOUNDED sample.

    Scale shape: the sample is a TakeOrderedAndProject on ``md5(id)``
    (per-partition heap + driver merge — deterministic and
    partitioning-invariant, no full sort, no unbounded collect); the
    driver holds sample_rows × dim floats — index metadata, same
    contract as ``ivf_index`` centers. Training cost is independent of
    corpus size. Vectors are L2-normalized first so PQ's L2 geometry
    orders by cosine, consistent with the rest of the family."""
    if dim % m:
        raise ValueError(f"pq_train: dim={dim} not divisible by m={m}")
    rows = (
        df.select(md5_of(F.col(id_col)).alias("_pri"),
                  _l2_normalized(F.col(vec_col)).alias("_nv"))
        .where(F.col("_nv").isNotNull())
        .orderBy("_pri").limit(sample_rows).collect()
    )
    if not rows:
        raise ValueError("pq_train: no non-null vectors to train on")
    X = np.asarray([r["_nv"] for r in rows], dtype=np.float64)
    dsub = dim // m
    return [
        _pq_kmeans(X[:, s * dsub:(s + 1) * dsub], k, iters, seed + s).tolist()
        for s in range(m)
    ]


def pq_encode(df: DataFrame, codebooks: list, vec_col: str = "embedding",
              code_col: str = "pq_code") -> DataFrame:
    """Append ``code_col``: the m nearest-codeword ids (array<int>).
    One numpy argmin per Arrow batch (vectorized Arrow UDF — the
    legitimate-UDF tier, like the SRP bucketer); NULL embeddings encode
    as NULL. At 100 TB the encoded table is what you store and scan:
    m bytes of code per document instead of 4·dim of floats."""
    C = np.asarray(codebooks, dtype=np.float64)          # (m, k, dsub)
    m, k, dsub = C.shape
    c_norm2 = (C ** 2).sum(-1)                           # (m, k)

    def codes(X):
        n = np.sqrt((X * X).sum(1, keepdims=True))
        np.divide(X, n, out=X, where=n > 0)
        S = X.reshape(len(X), m, dsub)
        # ||s - c||² = ||c||² - 2 s·c (+ ||s||², rank-invariant)
        d = c_norm2[None] - 2 * np.einsum("nmd,mkd->nmk", S, C)
        return d.argmin(-1)

    udf = F.arrow_udf(lambda vecs: _vector_codes(vecs, codes), "array<int>")
    return df.withColumn(code_col, udf(F.col(vec_col)))


def pq_topk(encoded: DataFrame, codebooks: list, qvec: list, k: int = 10,
            shortlist: int = 128, id_col: str = "vec_id",
            vec_col: str = "embedding",
            code_col: str = "pq_code") -> DataFrame:
    """ADC top-k: per-subspace distances from the (normalized) query to
    every codeword form an m×k lookup table — a LITERAL array in the
    plan, so the candidate score is a pure JVM ``aggregate`` fold over
    the code (whole-stage codegen, no Python, no join); the
    ``shortlist`` best ADC rows (TakeOrderedAndProject, deterministic
    (score, id) tie-break) get an exact cosine rerank. Same
    shortlist→exact-rerank recall contract as ``ivf_topk``: report what
    the quantizer shortlists, never an unreranked approximation."""
    C = np.asarray(codebooks, dtype=np.float64)
    m, k_cb, _ = C.shape
    q = np.asarray(qvec, dtype=np.float64)
    qn = np.sqrt((q * q).sum()) or 1.0
    S = (q / qn).reshape(m, -1)
    lut = ((C - S[:, None, :]) ** 2).sum(-1)             # (m, k_cb)
    lut_lit = F.array(*[F.lit(float(x)) for x in lut.ravel()])
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)), F.lit(0.0),
        lambda acc, i: acc + F.element_at(
            lut_lit, F.element_at(F.col(code_col), i + 1) + i * k_cb + 1),
    )
    short = (
        encoded.where(F.col(code_col).isNotNull())
        .select(id_col, vec_col, adc.alias("_adc"))
        .orderBy(F.col("_adc"), F.col(id_col)).limit(shortlist)
    )
    return brute_force_topk(short, qvec, k, id_col, vec_col)


def sq8_train(df: DataFrame, dim: int = 64, id_col: str = "vec_id",
              vec_col: str = "embedding") -> tuple:
    """Per-dimension (min, max) affine params for 8-bit scalar
    quantization (the faiss ScalarQuantizer QT_8bit shape). One
    map-side-combinable aggregate of 2·dim exact min/max expressions —
    a single metadata row on the driver, independent of corpus size
    and partitioning (min/max are order-free)."""
    v = F.col(vec_col).cast("array<double>")
    row = df.where(F.col(vec_col).isNotNull()).agg(
        F.array(*[F.min(F.element_at(v, i + 1)) for i in range(dim)])
        .alias("mins"),
        F.array(*[F.max(F.element_at(v, i + 1)) for i in range(dim)])
        .alias("maxs"),
    ).head()
    # zero input rows aggregate to an array OF nulls, not a null array
    if row is None or row["mins"] is None or row["mins"][0] is None:
        raise ValueError("sq8_train: no non-null vectors to train on")
    return list(row["mins"]), list(row["maxs"])


def sq8_encode(df: DataFrame, mins: list, maxs: list,
               vec_col: str = "embedding",
               code_col: str = "sq8_code") -> DataFrame:
    """Append ``code_col``: per-dimension 8-bit codes
    ``clamp(floor((x - min)·255/(max - min) + 0.5), 0, 255)`` — pure
    JVM ``zip_with`` chains, whole-stage codegen, no Python.
    ``floor(y + 0.5)`` (not ``round``) so the oracle engine's
    half-rounding mode can never disagree; a degenerate dimension
    (max == min) encodes 0. At 100 TB the encoded table is the 4×
    memory cut: 1 byte/dim stored and scanned instead of a float."""
    scales = [255.0 / (mx - mn) if mx > mn else 0.0
              for mn, mx in zip(mins, maxs)]
    v = F.col(vec_col).cast("array<double>")
    shifted = F.zip_with(v, F.lit(mins).cast("array<double>"),
                         lambda a, b: a - b)
    codes = F.zip_with(
        shifted, F.lit(scales).cast("array<double>"),
        lambda a, s: F.least(
            F.lit(255),
            F.greatest(F.lit(0), F.floor(a * s + 0.5).cast("int"))))
    return df.withColumn(code_col, codes)


def sq8_topk(encoded: DataFrame, mins: list, maxs: list, qvec: list,
             k: int = 10, id_col: str = "vec_id",
             code_col: str = "sq8_code") -> DataFrame:
    """Asymmetric SQ top-k: the query stays full-precision, database
    vectors dequantize in-plan (``min_i + code_i·(max_i - min_i)/255``
    — one zip_with chain feeding the same JVM cosine fold as
    ``brute_force_topk``). Deterministic dequantization is what makes
    an EXACT SQL oracle possible for this tier: the oracle recomputes
    min/max, codes, and the identical fold relationally."""
    steps = [(mx - mn) / 255.0 if mx > mn else 0.0
             for mn, mx in zip(mins, maxs)]
    scaled = F.zip_with(F.col(code_col).cast("array<double>"),
                        F.lit(steps).cast("array<double>"),
                        lambda c, r: c * r)
    dq = F.zip_with(scaled, F.lit(mins).cast("array<double>"),
                    lambda a, b: a + b)
    return (
        encoded.where(F.col(code_col).isNotNull())
        .select(
            F.col(id_col),
            F.round(cosine_similarity(dq, qvec), 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def prototypicality_prune(df: DataFrame, centroids: list,
                          keep_low: float = 0.2, keep_high: float = 0.8,
                          id_col: str = "doc_id",
                          vec_col: str = "embedding") -> DataFrame:
    """SSL-prototypes data pruning (Sorscher et al. 2022, "Beyond
    neural scaling laws"): assign every embedding to its nearest
    centroid by cosine, rank each cluster by prototypicality (cosine
    to the assigned centroid), and keep only the middle quantile band
    — the canonical "drop the too-easy AND the too-hard examples"
    selection a data-constrained training run applies after SemDeDup.

    ``centroids`` are driver-side literals (caller-trained, e.g. via
    ``ivf_index``'s sampled KMeans, or fixed prototypes) — so cell
    assignment and similarity are pure whole-stage-codegen JVM
    expressions: one dot/norm fold per centroid, argmax via the repo's
    deterministic least-over-struct fold (ties → lowest cell id). The
    quantile rank is ``percent_rank`` over a NARROW (id, cell, sim)
    projection — per-cell partitions, so like ``shuffle_shards``'
    documented knob the cluster count must scale with the corpus
    (SemDeDup-style runs use tens of thousands of cells; per-cell rows
    = corpus/cells stay task-sized). Payloads never enter the window;
    callers semi-join the verdict back on the id.

    Returns ``(id, cell, proto_sim)`` for KEPT rows; NULL/zero-norm
    embeddings are unrankable and dropped (P=0 prototypicality).
    """
    import math as _math

    if not centroids:
        raise ValueError("centroids must be non-empty")
    if not 0.0 <= keep_low <= keep_high <= 1.0:
        raise ValueError(f"bad quantile band [{keep_low}, {keep_high}]")
    v = F.col(vec_col).cast("array<double>")
    vnorm = _norm(F.col(vec_col))
    sims = []
    for j, c in enumerate(centroids):
        cn = _math.sqrt(sum(x * x for x in c)) or float("nan")
        sims.append((_dot(v, list(c)) / F.lit(cn))
                    / F.nullif(vnorm, F.lit(0.0)))
    structs = [F.struct((-s).alias("ns"), F.lit(j).alias("c"))
               for j, s in enumerate(sims)]
    best = structs[0] if len(structs) == 1 else F.least(*structs)
    narrow = (
        df.select(F.col(id_col), best["c"].alias("cell"),
                  (-best["ns"]).alias("proto_sim"))
        .where(F.col("proto_sim").isNotNull())
    )
    pr = F.percent_rank().over(
        Window.partitionBy("cell").orderBy("proto_sim"))
    return (
        narrow.withColumn("_pp_pr", pr)
        .where((F.col("_pp_pr") >= F.lit(float(keep_low)))
               & (F.col("_pp_pr") <= F.lit(float(keep_high))))
        .drop("_pp_pr")
    )


def truncate_embeddings(df: DataFrame, dim: int,
                        vec_col: str = "embedding",
                        out_col: str = None,
                        renorm: bool = True) -> DataFrame:
    """Matryoshka truncation (Kusupati et al. 2022): keep the first
    ``dim`` components of an MRL-trained embedding and L2-renormalize —
    the storage/latency dial of modern embedding serving (a 100-TB
    corpus keeps ONE full-width table and derives every cheaper tier by
    this slice, instead of re-embedding). Shorter prefixes feed the
    same ANN tiers here (SRP/IVF/PQ) at proportionally lower cost.

    Pure Catalyst: ``slice`` + the same fold/sqrt composition as
    ``with_norm`` + a per-element division — whole-stage codegen, zero
    shuffle, and the DuckDB twin restates the identical left-to-right
    arithmetic. A zero-norm (or NULL) prefix yields NULL (no direction
    to keep — explicit, never NaN). Vectors shorter than ``dim`` keep
    their own length (slice semantics — composes with ragged inputs;
    length policy belongs to the caller's schema contract)."""
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    v = F.slice(F.col(vec_col).cast("array<double>"), 1, dim)
    sq = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    norm = F.sqrt(sq)
    out = F.when(
        F.col(vec_col).isNotNull() & (norm > 0),
        F.transform(v, lambda x: x / norm))
    if not renorm:
        out = F.when(F.col(vec_col).isNotNull(), v)
    return df.withColumn(out_col or vec_col, out)


def label_centroids(df: DataFrame, label_col: str = "label",
                    vec_col: str = "embedding",
                    quant: int = 1_000_000) -> DataFrame:
    """Per-label element-wise centroid: ``(label, centroid
    array<double>, n_vecs)``. Each component is quantized to
    ``quant``ths (micro by default) BEFORE the cross-row sum, so the
    mean is an exact integer-sum / (n·quant) division — bit-identical
    across engines and partitionings (a raw float SUM would depend on
    reduction order). NULL labels/vectors are excluded.

    Scale shape: one posexplode to narrow ``(label, pos, q)`` rows,
    one map-side-combined groupBy on (label, pos) — label×dim keys —
    then a per-label array rebuild; the output is label-cardinality
    metadata."""
    v = F.col(vec_col).cast("array<double>")
    staged = df.where(
        F.col(label_col).isNotNull() & F.col(vec_col).isNotNull()
    ).select(F.col(label_col).alias("label"), v.alias("_v"))
    ex = staged.select(
        "label", F.posexplode_outer("_v").alias("pos", "_x"))
    per_dim = (
        ex.groupBy("label", "pos")
        .agg(
            F.sum(F.round(F.col("_x") * F.lit(float(quant)), 0)
                  .cast("long")).alias("_sq"),
            F.count(F.lit(1)).alias("_n"),
        )
        .select(
            "label", "pos", "_n",
            (F.col("_sq").cast("double")
             / (F.col("_n") * F.lit(int(quant))).cast("double"))
            .alias("_mean"),
        )
    )
    return (
        per_dim.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "_mean"))),
                lambda s: s["_mean"],
            ).alias("centroid"),
            F.max("_n").alias("n_vecs"),
        )
    )


def centroid_distances(df: DataFrame, centroids: DataFrame = None,
                       label_col: str = "label",
                       vec_col: str = "embedding",
                       id_col: str = "vec_id",
                       quant: int = 1_000_000) -> DataFrame:
    """Distance of every vector to its label's centroid — the topic-
    purity / outlier signal a curated-cluster corpus prunes on (a
    document far from its own cluster's centroid is mislabeled or
    noise; SemDeDup prunes the opposite end). Returns ``(id, label,
    dist)`` with ``dist`` the L2 distance rounded to 6.

    Exactness recipe: each squared component difference is quantized
    to nano BIGINTs IN-ROW and integer-summed (order-free), then one
    sqrt/round composition — cross-engine identical given the exact
    centroids from :func:`label_centroids` (pass ``centroids`` to
    reuse a computed table; otherwise built here). Centroids are
    label-cardinality and broadcast."""
    if centroids is None:
        centroids = label_centroids(df, label_col, vec_col, quant)
    v = F.col(vec_col).cast("array<double>")
    base = df.where(
        F.col(label_col).isNotNull() & F.col(vec_col).isNotNull()
    ).select(F.col(id_col), F.col(label_col).alias("label"), v.alias("_v"))
    joined = base.join(F.broadcast(centroids), "label")
    terms = F.zip_with(
        F.col("_v"), F.col("centroid"),
        lambda a, b: F.round((a - b) * (a - b) * F.lit(1e9), 0)
        .cast("long"))
    ssum = F.aggregate(terms, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return joined.select(
        F.col(id_col), "label",
        F.round(F.sqrt(ssum.cast("double") / F.lit(1e9)), 6).alias("dist"),
    )


# ---------------------------------------------------------------------------
# Hard-negative mining for embedding-model training batches
# ---------------------------------------------------------------------------

#: an anchor set is one training batch — bounded metadata inlined into
#: the plan (the rendezvous shard-list discipline), not a data table
_MAX_ANCHORS = 64


def hard_negatives(corpus: DataFrame, anchors: DataFrame, k: int = 5,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   label_col: str = "label") -> DataFrame:
    """Mine the top-``k`` hard negatives per anchor: corpus vectors
    most cosine-similar to the anchor but carrying a DIFFERENT label —
    the contrastive-training batch-mining step (the in-batch-negatives
    upgrade of DPR / SimCSE pipelines: the best negatives are the
    near-misses, not random rows).

    ``anchors`` (id, vec, label) is a training BATCH — bounded
    metadata, guarded at ``_MAX_ANCHORS`` and inlined into the plan as
    literal structs, so scoring is one narrow in-row ``transform`` per
    corpus row: no join, no crossJoin, no Python. The per-anchor
    top-k is a row_number window over the NARROW exploded projection
    ``(anchor_id, anchor_label, candidate id, rounded cosine)`` — the
    corpus vectors never pass the explode. At larger anchor sets or
    tighter latency, pre-block candidates with ``ivf_index`` /
    ``srp_index`` and feed the pruned corpus here — the operator
    composes; exactness is per-block.

    Cosine is rounded to 6 places BEFORE ranking (ties then break on
    candidate id) so the DuckDB twin ranks identically. Zero-norm
    vectors score NULL and never reach a top-k. An anchor with a NULL
    id, label or vector (component) raises ``ValueError`` naming it.
    Output: ``(anchor_id, neg_id, cosine, rnk)``, ``rnk`` in 1..k.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    rows = anchors.select(F.col(id_col), F.col(vec_col),
                          F.col(label_col)).take(_MAX_ANCHORS + 1)
    if len(rows) > _MAX_ANCHORS:
        raise ValueError(
            f"anchor set exceeds {_MAX_ANCHORS}: a training batch is "
            "bounded metadata — pre-block larger sets with ivf_index")
    if not rows:
        raise ValueError("anchor set is empty")
    for pos, r in enumerate(rows):
        nulls = [c for c in (id_col, vec_col, label_col) if r[c] is None]
        if r[vec_col] is not None and None in r[vec_col]:
            nulls.append(f"{vec_col} component")
        if nulls:
            who = (f"id {r[id_col]}" if r[id_col] is not None
                   else f"at batch position {pos}")
            raise ValueError(f"anchor {who} has NULL {', '.join(nulls)}")
    scored = F.array(*[
        F.struct(
            F.lit(r[id_col]).alias("_aid"),
            F.lit(r[label_col]).alias("_albl"),
            F.round(cosine_similarity(F.col(vec_col),
                                      [float(x) for x in r[vec_col]]),
                    6).alias("_cos"))
        for r in rows
    ])
    from pyspark.sql import Window

    staged = (corpus.select(F.col(id_col), F.col(label_col),
                            scored.alias("_sc"))
              .select(id_col, label_col, F.explode_outer("_sc").alias("_a"))
              .where((F.col(f"_a._albl") != F.col(label_col))
                     & F.col("_a._cos").isNotNull())
              .select(F.col("_a._aid").alias("anchor_id"),
                      F.col(id_col).alias("neg_id"),
                      F.col("_a._cos").alias("cosine")))
    w = (Window.partitionBy("anchor_id")
         .orderBy(F.col("cosine").desc(), F.col("neg_id")))
    return (staged.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k))
