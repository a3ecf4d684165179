"""Deduplication operators for large-scale training-data pipelines.

Four tiers, cheapest first — the standard web-corpus dedup ladder:

1. **Exact** — hash-groupBy on normalized-text md5. One shuffle on a
   16-byte key; partial aggregation map-side. SQL-oracle-checked.
2. **N-gram Jaccard** — shingle → explode → self-join on shingle →
   intersection counts → Jaccard ≥ τ. Exact but quadratic in collisions;
   used as ground truth at test scale and for candidate verification.
3. **MinHash + LSH** — k hash functions over shingles (JVM-side
   ``xxhash64``), banded signatures, bucket-join candidates, exact-Jaccard
   verification of candidates only. The 100 TB path: cost is
   O(docs × k) map-side + one shuffle on (band, band_hash).
4. **SimHash** — 64-bit near-dup signature, fully JVM-side: explode
   tokens → xxhash64 → per-bit sign votes via map-side partial aggregation.

Every LSH tier here and its siblings (SRP bands in ``similarity.py``,
dHash blocks in ``multimodal.py``) get candidate pairs from one
(band, key) self-join, ``_band_pairs``.

All operators avoid Python in the hot path entirely (plan shows no
Python nodes at all — stricter than the Arrow-only rule).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import content_hash, shingles_df

# ---------------------------------------------------------------------------
# 1. Exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Group by content hash → (content_hash, keep_id, n_dups).
    ``keep_id`` = min id is the canonical survivor (deterministic)."""
    return (
        df.select(F.col(id_col), content_hash(text_col).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def _survivor_key(score: str, id_col: str) -> Column:
    """``min_by`` ordering key of the survivor rules: max ``score``,
    unscored (NULL) rows last, ties to the min id. Negates the score,
    never the id: ids are arbitrary orderable types (urls, uuids), and
    -F.col(id) on a string id throws under ANSI mode and silently NULLs
    (arbitrary survivor) without it. Without the NULL flag a NULL
    -score sorts first and an unscored row wins."""
    return F.struct(F.col(score).isNull().alias("_unscored"),
                    (-F.col(score)).alias("_ns"), F.col(id_col))


def drop_exact_duplicates(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text",
                          keep_by: str = None) -> DataFrame:
    """Keep one row per content hash — window-free formulation: broadcast
    the survivors? No — survivors table can be huge; semi-join on
    (hash, id) instead, which AQE turns into a shuffled hash join.

    ``keep_by``: optional NUMERIC column name — the survivor is the row
    MAXIMIZING it (min id breaks ties; a NULL score ranks below every
    real one) instead of plain min id. This is quality-aware canonical
    selection: exact clones usually differ in provenance (fetch date,
    source tier, extraction quality score), and a production pipeline
    keeps the best copy, not the smallest id.
    Same plan either way — ``min_by`` is one more map-side partial
    aggregate on the same single shuffle."""
    keyed = df.withColumn("content_hash", content_hash(text_col))
    if keep_by is None:
        survivors = exact_duplicates(df, id_col, text_col).select(
            F.col("content_hash"), F.col("keep_id").alias(id_col)
        )
    else:
        survivors = keyed.groupBy("content_hash").agg(
            F.min_by(F.col(id_col), _survivor_key(keep_by, id_col))
            .alias(id_col)
        )
    return keyed.join(survivors, ["content_hash", id_col], "left_semi") \
        .drop("content_hash")


# ---------------------------------------------------------------------------
# 2. Exact n-gram Jaccard pairs
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.8) -> DataFrame:
    """All (a, b) id pairs with shingle-Jaccard ≥ threshold, a < b.

    explode → self-join on shingle → count common → Jaccard. The
    shingle join is the shuffle; at scale run AFTER MinHash has cut
    candidates (this operator doubles as the verifier). Token-less
    documents get no shingle rows (see :func:`_shingled`), so they
    pair with nothing."""
    sh = (
        _shingled(df, id_col, text_col, n)
        .select(F.col(id_col).alias("id"), "sh")
        .withColumn("n_sh", F.size("sh"))
    )
    # explode_outer + null-filter (see curation.py): plain explode's
    # pushed-down size filter would inline and re-evaluate the staged
    # shingle build per gram
    ex = (sh.select("id", "n_sh", F.explode_outer("sh").alias("s"))
          .filter(F.col("s").isNotNull()))
    a = ex.alias("a")
    b = ex.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                 F.col("a.n_sh").alias("n_a"), F.col("b.n_sh").alias("n_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# 3. MinHash + LSH
# ---------------------------------------------------------------------------


def optimal_lsh_params(threshold: float, k: int = 32,
                       fp_weight: float = 0.5) -> tuple[int, int]:
    """Pick the (bands, rows_per_band) split of a k-permutation MinHash
    signature that best approximates a step filter at ``threshold``
    Jaccard — the datasketch-style parameter search, as a pure driver
    function (metadata cost; the k·√k candidate grid is tiny).

    For b bands of r rows, P(candidate | s) = 1 - (1 - s^r)^b; the
    false-positive area is the integral of that curve below the
    threshold, the false-negative area its complement above. Minimizes
    ``fp_weight·FP + (1-fp_weight)·FN`` (weigh FP lower when the
    verify stage is expensive, FN lower when recall is precious) over
    every (b, r) with b·r ≤ k, integrals by 1024-point midpoint rule.
    Deterministic; ties break to fewer bands (cheaper bucket join).

    Use it to size :func:`minhash_lsh_candidates` /
    :func:`minhash_near_duplicates` instead of hand-picking ``bands``::

        b, r = optimal_lsh_params(0.8, k=128)
        minhash_near_duplicates(df, k=b * r, bands=b, ...)
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if not 0.0 <= fp_weight <= 1.0:
        raise ValueError(f"fp_weight must be in [0, 1], got {fp_weight}")
    steps = 1024
    best = None
    for b in range(1, k + 1):
        for r in range(1, k // b + 1):
            fp = fn = 0.0
            for i in range(steps):
                s = (i + 0.5) / steps
                p = 1.0 - (1.0 - s ** r) ** b
                if s < threshold:
                    fp += p
                else:
                    fn += 1.0 - p
            err = (fp_weight * fp + (1.0 - fp_weight) * fn) / steps
            cand = (err, b, r)
            if best is None or cand < best:
                best = cand
    return best[1], best[2]


def _band_pairs(rows: DataFrame, *carry: str) -> DataFrame:
    """The near-dup family's one candidate-pair join. ``rows`` holds
    ``(id, band, key[, *carry])``, one row per (doc, band); two docs are
    candidates iff they share a key in some band. Returns DISTINCT
    ``(id_a, id_b[, <c>_a…, <c>_b…])`` with id_a < id_b from a single
    equi-join on (band, key) — the carried columns come back from both
    sides so callers verify in the same join. Rows with a NULL id or
    key can pair with nothing and are dropped before the shuffle."""
    rows = rows.where(F.col("id").isNotNull() & F.col("key").isNotNull())

    def side(s: str) -> DataFrame:
        return rows.select("band", "key", F.col("id").alias(f"id_{s}"),
                           *[F.col(c).alias(f"{c}_{s}") for c in carry])

    return (side("a").join(side("b"), ["band", "key"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    *[f"{c}_{s}" for s in "ab" for c in carry])
            .distinct())


def _perm_hash(i: int):
    """Permutation ``i`` as a ONE-argument lambda. ``F.transform`` binds
    a second lambda argument to the array position, so a default-bound
    ``lambda s, i=i`` seeds every component with the shingle positions
    and all k components come out equal."""
    return lambda s: F.xxhash64(F.lit(i), s)


def _shingled(df: DataFrame, id_col: str, text_col: str,
              n: int) -> DataFrame:
    """``(id_col, sh)`` shingle rows of the documents that have an id
    and a token. Token-less documents (NULL, empty or whitespace-only
    text) shingle to one blank shingle and would all share one MinHash
    signature — one hot bucket per band joining every such doc to every
    other; a NULL id can name no duplicate (and would win an index
    probe's min-id tie). Neither gets rows. The token test runs on the
    raw text: a filter on the shingle array would be pushed below the
    staged shingle projection and rebuild the token array per gram,
    quadratic in the length of a long document."""
    usable = F.col(id_col).isNotNull() & F.col(text_col).rlike(r"\S")
    return (shingles_df(df.where(usable), text_col, n)
            .select(F.col(id_col), "sh"))


def _minhash_bands(sh: DataFrame, id_col: str, k: int,
                   bands: int) -> DataFrame:
    """The one MinHash pass over :func:`_shingled` rows: sig[i] = min
    over shingles of xxhash64(i, shingle), split into ``bands`` bands
    of r = k/bands components, each band hashed with its band number.
    Returns ``(id, sig, band, key)``, one row per (doc, band) — the
    :func:`_band_pairs` input."""
    r = k // bands
    sig = F.array(*[F.array_min(F.transform("sh", _perm_hash(i)))
                    for i in range(k)])
    return (
        sh.select(F.col(id_col).alias("id"), sig.alias("sig"))
        .select("id", "sig", F.posexplode(F.array(*[
            F.xxhash64(*[F.element_at("sig", b * r + j + 1)
                         for j in range(r)], F.lit(b))
            for b in range(bands)
        ])).alias("band", "key"))
    )


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n: int = 3,
                       k: int = 32) -> DataFrame:
    """k-permutation MinHash over n-gram shingles, entirely JVM-side:
    sig[i] = min over shingles of xxhash64(i, shingle). Token-less
    documents get no row (see :func:`_shingled`)."""
    return (_minhash_bands(_shingled(df, id_col, text_col, n), id_col, k, 1)
            .select(F.col("id").alias(id_col), "sig"))


def minhash_lsh_candidates(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", n: int = 3,
                           k: int = 32, bands: int = 8) -> DataFrame:
    """LSH banding: split the k-sig into ``bands`` rows of r = k/bands,
    hash each band, bucket-join. Returns distinct candidate (id_a, id_b)."""
    sh = _shingled(df, id_col, text_col, n)
    return _band_pairs(_minhash_bands(sh, id_col, k, bands))


def minhash_near_duplicates(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", n: int = 3,
                            k: int = 32, bands: int = 8,
                            threshold: float = 0.8) -> DataFrame:
    """Candidates from LSH, verified with exact Jaccard — the scalable
    near-dup pipeline (candidate set ≪ all-pairs). The shingle set is
    computed once and persisted: it feeds both the signature pass and
    the verification joins (at corpus scale shingling is the dominant
    map cost — recomputing it would double the query).

    The shingle cache is scoped to THIS call: the (small) verified-pair
    result is eagerly ``localCheckpoint``ed, then the (large) shingle
    DataFrame is unpersisted — nothing corpus-sized stays pinned in
    executor storage after the operator returns. The returned DataFrame
    is materialized; callers may ``unpersist()`` it when done."""
    sh = _shingled(df, id_col, text_col, n)
    sh.persist()
    try:
        cands = _band_pairs(_minhash_bands(sh, id_col, k, bands))
        a = sh.alias("sa")
        b = sh.alias("sb")
        joined = (
            cands.join(a, cands.id_a == F.col(f"sa.{id_col}"))
            .join(b, cands.id_b == F.col(f"sb.{id_col}"))
            .select(
                "id_a", "id_b",
                F.round(
                    F.size(F.array_intersect("sa.sh", "sb.sh"))
                    / F.size(F.array_union("sa.sh", "sb.sh")).cast("double"),
                    6,
                ).alias("jaccard"),
            )
        )
        out = joined.filter(F.col("jaccard") >= threshold)
        return out.localCheckpoint(eager=True)
    finally:
        sh.unpersist()


# ---------------------------------------------------------------------------
# 4. SimHash
# ---------------------------------------------------------------------------


def simhash(df: DataFrame, id_col: str = "doc_id",
            text_col: str = "text", bits: int = 64) -> DataFrame:
    """64-bit SimHash, no Python: explode tokens → xxhash64 → per-bit sign
    votes → reassemble. The groupBy gets map-side partial aggregation, so
    the shuffle carries ``bits`` longs per doc, not per token."""
    # staged (withColumn then explode_outer on the attribute), per the
    # repo explode rule: a bare explode's implicit size>0 filter pushes
    # below the projection with the split() inlined, re-tokenizing every
    # row a second time
    toks = (
        df.select(
            F.col(id_col),
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("_toks"))
        .select(F.col(id_col), F.explode_outer("_toks").alias("t"))
        .where(F.col("t").isNotNull())
        .withColumn("h", F.xxhash64("t"))
    )
    votes = toks.groupBy(id_col).agg(*[
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1,
                   F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"b{i}")
        for i in range(bits)
    ])
    sig = None
    for i in range(bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sig = term if sig is None else sig.bitwiseXOR(term)
    return votes.select(F.col(id_col), sig.alias("simhash"))


def _hamming_pairs(sigs: DataFrame, max_hamming: int) -> DataFrame:
    """Pairs of 64-bit signatures ``(id, sig)`` within Hamming distance
    ``max_hamming`` → ``(id_a, id_b, hamming)``, id_a < id_b.

    Pigeonhole blocking (Manku, Jain & Das Sarma, WWW 2007): the 64 bits
    split into ``max_hamming + 1`` disjoint blocks, so two signatures
    at most ``max_hamming`` bits apart agree on at least one whole
    block. Candidates come from :func:`_band_pairs` on (block, value);
    each is verified with one ``bit_count(xor)``. ``max_hamming`` is
    capped at 7 (8 blocks of 8 bits): narrower blocks would put more
    than 1/256 of the corpus in each bucket."""
    if not 0 <= max_hamming <= 7:
        raise ValueError(f"max_hamming must be in 0..7, got {max_hamming}")
    m = max_hamming + 1
    blocks, start = [], 0
    for blk in range(m):
        width = 64 // m + (blk < 64 % m)
        mask = -1 if width == 64 else (1 << width) - 1
        blocks.append(F.shiftright("sig", start).bitwiseAND(F.lit(mask)))
        start += width
    rows = sigs.select("id", "sig", F.posexplode(F.array(*blocks))
                       .alias("band", "key"))
    return (
        _band_pairs(rows, "sig")
        .select("id_a", "id_b",
                F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
                .alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def simhash_near_duplicates(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text",
                            max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming, by the
    pigeonhole block join of :func:`_hamming_pairs`. Token-less
    documents (NULL, empty or whitespace-only text) would all share one
    signature; they carry no evidence and are skipped."""
    sigs = simhash(df.where(F.col(text_col).rlike(r"\S")), id_col, text_col)
    return _hamming_pairs(
        sigs.select(F.col(id_col).alias("id"), F.col("simhash").alias("sig")),
        max_hamming)


# ---------------------------------------------------------------------------
# 6. Duplicate clustering (connected components over near-dup pairs)
# ---------------------------------------------------------------------------


def duplicate_clusters(pairs: DataFrame, id_a: str = "id_a",
                       id_b: str = "id_b",
                       max_iter: int = 20) -> DataFrame:
    """Connected components over a near-duplicate pair list — the step
    after any pairwise dedup (exact / MinHash / SimHash / embedding):
    transitively-linked docs form one cluster whose id is the MIN doc id
    in the component (the canonical survivor, matching
    ``exact_duplicates``' min-id rule).

    Algorithm: hash-min label propagation WITH pointer doubling — each
    round every node (1) adopts the smallest label among itself and its
    neighbors, then (2) jumps to its label's label (path halving). The
    jump doubles the propagation distance per round, so convergence is
    O(log diameter) rounds — ``max_iter=20`` covers components of
    diameter ≫ 10⁶ (a 10k-doc mirror chain converges in ~13 rounds; the
    plain nbr-min loop needed 10k). Per round: two shuffle joins on the
    (small) label table + map-side partial min aggregation, then
    ``localCheckpoint`` to truncate the lineage (an unbounded iterative
    plan otherwise re-executes every prior round on each action — the
    classic iterative-DataFrame trap).

    Raises ``RuntimeError`` if labels have not stabilized after
    ``max_iter`` rounds — a silently partial clustering would make
    ``drop_near_duplicates`` under-delete with no signal.
    Returns ``(doc_id, cluster_id)`` for every node appearing in pairs.
    """
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    e = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint(eager=True)
    labels = (
        e.select(F.col("src").alias("id")).distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    changed = 1
    for _ in range(max_iter):
        nbr = (
            e.join(labels, e.dst == labels.id)
            .groupBy("src").agg(F.min("label").alias("nbr_label"))
        )
        stepped = (
            labels.join(nbr, labels.id == nbr.src, "left")
            .select(
                labels.id.alias("id"),
                F.least(
                    labels.label, F.coalesce("nbr_label", labels.label)
                ).alias("label"),
            )
        )
        # pointer doubling: label <- label(label). Labels are always ids
        # of nodes in the set (init: self; step: min over node ids), so
        # the self-join always matches; coalesce guards regardless.
        ptr = stepped.select(F.col("id").alias("jid"),
                             F.col("label").alias("jlabel"))
        new = (
            stepped.join(ptr, stepped.label == ptr.jid, "left")
            .select(
                stepped.id.alias("id"),
                F.least(
                    stepped.label, F.coalesce("jlabel", stepped.label)
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iter} rounds "
            f"({changed} labels still changing) — raise max_iter; a "
            "partial result would silently under-deduplicate"
        )
    return labels.select(F.col("id").alias("doc_id"),
                         F.col("label").alias("cluster_id"))


def drop_near_duplicates(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", n: int = 3,
                         k: int = 32, bands: int = 8,
                         threshold: float = 0.8,
                         keep_by: str = None) -> DataFrame:
    """The end-to-end corpus near-dedup a training pipeline actually
    runs: MinHash-LSH candidate pairs → exact-Jaccard verification →
    connected components → keep one doc per cluster.

    ``keep_by``: optional NUMERIC column — the survivor is the cluster
    member MAXIMIZING it (min id breaks ties; a NULL score ranks below
    every real one) instead of the min-id member, mirroring
    ``drop_exact_duplicates``' quality-aware rule:
    near-dup families are re-renders of the same content, and a
    production pipeline keeps the cleanest extraction, not the
    smallest id. Costs one extra narrow join of the (tiny) cluster
    table against the (id, score) projection — the corpus text is
    still never re-shuffled.

    Composition of the tiers above; the anti-join removes every
    non-canonical cluster member. Shuffles: the LSH band join, the CC
    rounds (small pair/label tables), and one semi-join of the corpus
    against the (tiny) victim list — the corpus itself is never
    re-shuffled on text."""
    pairs = minhash_near_duplicates(df, id_col, text_col, n, k, bands,
                                    threshold)
    clusters = duplicate_clusters(pairs)
    if keep_by is None:
        victims = clusters.filter(
            F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    else:
        scored = clusters.join(
            df.select(F.col(id_col).alias("doc_id"), F.col(keep_by)),
            "doc_id")
        survivors = scored.groupBy("cluster_id").agg(
            F.min_by(F.col("doc_id"), _survivor_key(keep_by, "doc_id"))
            .alias("_keep"))
        victims = (scored.join(survivors, "cluster_id")
                   .filter(F.col("doc_id") != F.col("_keep"))
                   .select("doc_id"))
    return df.join(
        victims.withColumnRenamed("doc_id", id_col),
        on=id_col, how="left_anti",
    )


def drop_duplicate_paragraphs(df: DataFrame, id_col: str = "doc_id",
                              text_col: str = "text", sep: str = "\n\n",
                              min_len: int = 10) -> DataFrame:
    """C4-style corpus-wide paragraph dedup: a paragraph that already
    appeared ANYWHERE in the corpus (first occurrence = smallest
    (doc_id, position)) is removed from every later document; documents
    are reassembled in original paragraph order. Paragraphs shorter
    than ``min_len`` chars pass through untouched (dedup of trivial
    fragments like '' or '—' would splice unrelated docs together).

    Shape (same narrow discipline as ``drop_boilerplate_lines``): the
    first-occurrence decision runs on a NARROW ``(md5, id, pos)``
    projection — paragraph text never rides the skewed md5 window
    (skewed hash keys ARE the duplicates being removed, and a
    corpus-hot paragraph would otherwise land on one reducer with its
    full text), and sub-``min_len`` paragraphs are excluded from the
    window input entirely (their verdict ignores rank, so the
    empty-string hash must not become a hot partition). Winning
    (id, pos) keys semi-join the exploded long paragraphs — a linear
    join, never a per-row winner-array scan (which is quadratic inside
    one task for a many-paragraph doc) — and the reassembly ``groupBy``
    runs on the uniform doc id. Paragraph text moves only through
    uniform-keyed exchanges ((id, pos) then id), never through the
    skewed paragraph hash. Returns (id_col, text_col) with every input
    doc present (a doc whose every paragraph was deduplicated keeps
    empty text)."""
    from pyspark.sql import Window

    # staged split then posexplode_outer on the attribute (repo explode
    # rule: the bare generator's implicit size>0 filter inlines the
    # split and re-tokenizes every row)
    paras = (
        df.select(F.col(id_col),
                  F.split(F.col(text_col), sep).alias("_paras"))
        .select(F.col(id_col),
                F.posexplode_outer("_paras").alias("pos", "para"))
        .where(F.col("pos").isNotNull())
    )
    w = Window.partitionBy("h").orderBy(id_col, "pos")
    winners = (
        paras.filter(F.length("para") >= min_len)
        .select(F.col(id_col), "pos", F.md5(F.col("para")).alias("h"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, "pos")
    )
    # LEFT-SEMI join on (id, pos) instead of a per-row array_contains
    # over a collected per-doc winner array: the array scan is
    # O(paragraphs × winners) INSIDE one task for a pathological
    # many-paragraph doc (1e5 paragraphs → 1e10 comparisons); the
    # semi-join is linear and its key is uniform. Costs one extra
    # uniform-keyed pass of the long-paragraph text (join key (id,pos),
    # then the rebuild groupBy on id) — bytes, never a straggler.
    kept = (
        paras.filter(F.length("para") < min_len)
        .unionByName(
            paras.filter(F.length("para") >= min_len)
            .join(winners, on=[id_col, "pos"], how="left_semi"))
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
        ).alias(text_col)
    )
    return (
        df.select(id_col)
        .join(rebuilt, on=id_col, how="left")
        .select(F.col(id_col),
                F.coalesce(F.col(text_col), F.lit("")).alias(text_col))
    )


def drop_boilerplate_lines(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text",
                           max_doc_count: int = 5,
                           min_len: int = 10) -> DataFrame:
    """CCNet-style boilerplate strip: a (trimmed) line whose hash
    appears in MORE THAN ``max_doc_count`` distinct documents is
    removed from EVERY document — unlike ``drop_duplicate_paragraphs``
    even the first occurrence drops, because high document frequency
    marks site chrome (nav menus, cookie banners, copyright footers),
    not content. Lines shorter than ``min_len`` trimmed chars pass
    through untouched (short fragments collide by accident, and
    removing them would splice sentences).

    Scale shape: two corpus passes, not three — (1) the frequency
    table is built from a narrow (md5, doc_id) projection (DISTINCT
    then count, never line text), and (2) ONE pass over the lines
    left-joins the BAD hash set with the min-length pass-through in
    the same filter (the bad side is the boilerplate minority, so AQE
    typically broadcasts it and the corpus is never shuffled on text —
    not forced, same unbounded-side rule as ``decontaminate``); (3)
    one final shuffle on the doc id reassembles. Skewed hash keys ARE
    the boilerplate being removed — AQE skew-join handles the hot
    partitions. Every input doc survives (a doc that was pure
    boilerplate keeps empty text)."""
    lines = (
        df.select(F.col(id_col),
                  F.split(F.col(text_col), r"\n").alias("_lines"))
        .select(F.col(id_col),
                F.posexplode_outer("_lines").alias("pos", "ln"))
        .where(F.col("pos").isNotNull())
    ).withColumn("_trim_len", F.length(F.trim("ln"))).withColumn(
        "h", F.md5(F.trim("ln")))
    bad = (
        lines.filter(F.col("_trim_len") >= min_len)
        .select("h", id_col).distinct()
        .groupBy("h").count()
        .filter(F.col("count") > max_doc_count)
        .select("h", F.lit(True).alias("_bp"))
    )
    kept = (
        lines.join(bad, on="h", how="left")
        .filter((F.col("_trim_len") < min_len) | F.col("_bp").isNull())
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "ln"))),
                lambda s: s["ln"],
            ),
        ).alias(text_col)
    )
    return (
        df.select(id_col)
        .join(rebuilt, on=id_col, how="left")
        .select(F.col(id_col),
                F.coalesce(F.col(text_col), F.lit("")).alias(text_col))
    )


def drop_known_duplicates(new_docs: DataFrame, known: DataFrame,
                          id_col: str = "doc_id", text_col: str = "text",
                          fingerprint_col: str = "fingerprint") -> DataFrame:
    """Rolling-snapshot ingestion dedup: drop every new document whose
    content fingerprint (md5 of normalized text) already exists in a
    prior corpus index, then dedup WITHIN the batch (min-id survivor)
    so one ingest cannot introduce twins. This is the production shape
    for monthly crawl ingestion — each snapshot dedups against the
    accumulated fingerprint index of all previous snapshots, then
    appends its own fingerprints to that index (build them with
    ``functions.text.fingerprint``).

    Scale shape: the historical corpus never moves — only its narrow
    16-byte-key index participates. The anti-join partitions both
    sides on the fingerprint (at 10^12 known docs the index is far
    beyond broadcast; md5 keys are uniform, so the shuffle is
    skew-free by construction; pre-bucketing the index table by
    fingerprint removes even its shuffle, leaving only the new batch
    to move). The in-batch pass is the ``drop_exact_duplicates``
    semi-join on the same key."""
    keyed = new_docs.withColumn("_fp", content_hash(text_col))
    idx = known.select(F.col(fingerprint_col).alias("_fp"))
    fresh = keyed.join(idx, on="_fp", how="left_anti")
    survivors = fresh.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    return (
        fresh.join(survivors, on=["_fp", id_col], how="left_semi")
        .drop("_fp")
    )


def host_dup_stats(df: DataFrame, group_col: str = "source",
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Per-host duplication report ``(host, n_docs, n_dup_docs,
    dup_ppm)`` — the template-farm radar a curation run reads next to
    `url_templates`' trap report: a host where most documents are
    corpus-wide exact clones is mirrored/boilerplate content whose
    budget should be cut BEFORE the expensive near-dup tiers run.
    ``n_dup_docs`` counts documents whose content hash occurs more
    than once ANYWHERE in the corpus (cross-host mirrors count — the
    interesting case), ``dup_ppm`` the exact integer rate.

    Scale shape: the verdict travels on the 16-byte content hash only
    — one map-side-combinable count per hash, a narrow (hash,
    verdict) join back keyed by the hash (AQE shuffled-hash), then a
    map-side-combinable host rollup. Document text is hashed in place
    and never shuffles.
    """
    from ..functions.text import content_hash

    keyed = df.select(F.col(group_col).alias("host"),
                      content_hash(text_col).alias("_hash"))
    per_hash = keyed.groupBy("_hash").agg(
        (F.count(F.lit(1)) > 1).alias("_is_dup"))
    return (
        keyed.join(per_hash, "_hash")
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum(F.when(F.col("_is_dup"), 1).otherwise(0))
             .cast("bigint").alias("n_dup_docs"))
        .withColumn("dup_ppm",
                    F.expr("(n_dup_docs * 1000000L) div n_docs")
                    .cast("bigint"))
    )


def shingle_novelty(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", n: int = 5) -> DataFrame:
    """Per-document novelty score ``(id, n_shingles, n_unique,
    novelty_ppm)`` — the fraction of a document's distinct n-gram
    shingles that occur in NO other document. The inverse of the dedup
    family's question: near-dup tiers drop what repeats; novelty ranks
    what remains by how much genuinely new n-gram mass each document
    contributes, the signal data-selection recipes weight toward when
    filling a token budget (a listings page scores near zero even if
    it is nobody's duplicate; original prose scores high).

    Scale shape: the staged shingle array (`shingles_df`, the
    O(n)-safe projection) explodes to (id, md5(shingle)) — 16-byte
    keys, shingle TEXT never crosses the exchange; one map-side-
    combinable count per shingle hash; a narrow verdict join back on
    the hash; one final per-doc rollup. Exact integer ppm. Documents
    with NULL or empty text have no shingles and are absent.
    """
    from ..functions.text import shingles_df

    sh = shingles_df(df.select(F.col(id_col), F.col(text_col)),
                     text_col, n=n)
    rows = (
        sh.select(F.col(id_col), F.explode_outer("sh").alias("_sh"))
        # NULL/empty text degenerates to a single '' shingle through
        # concat_ws — treat as "no shingles", not a scorable document
        .where(F.col("_sh").isNotNull() & (F.col("_sh") != ""))
        .select(F.col(id_col), F.md5(F.col("_sh")).alias("_h"))
    )
    per_hash = rows.groupBy("_h").agg(
        (F.count(F.lit(1)) == 1).alias("_uniq"))
    return (
        rows.join(per_hash, "_h")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shingles"),
             F.sum(F.when(F.col("_uniq"), 1).otherwise(0))
             .cast("bigint").alias("n_unique"))
        .withColumn("novelty_ppm",
                    F.expr("(n_unique * 1000000L) div n_shingles")
                    .cast("bigint"))
    )


def containment_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      threshold_ppm: int = 800_000) -> DataFrame:
    """Asymmetric containment pairs — quote/excerpt detection, the case
    symmetric Jaccard structurally misses: a 20-token excerpt inside a
    2,000-token article has Jaccard ≈ 0.01 but containment ≈ 1.0. The
    score is ``|A∩B| / min(|A|,|B|)`` over distinct n-gram shingles
    (Broder's containment, normalized by the smaller side so the
    verdict reads "the smaller document is this fraction inside the
    larger"), exact integer ppm. Curation uses it to drop or link
    syndicated excerpts, pull-quote pages, and abstract-only mirrors
    that survive every symmetric near-dup tier.

    Scale shape: the same staged-shingle machinery as
    ``ngram_jaccard_pairs`` — (id, md5(shingle)) narrow rows, shingle
    self-join keyed on the 16-byte hash (candidate fan-out bounded by
    shingle document frequency — corpus-hot shingles are boilerplate
    the upstream C4/boilerplate pass already strips), one
    map-side-combinable pair count. Text never shuffles.
    """
    from ..functions.text import shingles_df

    if not 0 < threshold_ppm <= 1_000_000:
        raise ValueError(f"threshold_ppm must be in (0, 10^6]: "
                         f"{threshold_ppm}")
    sh = shingles_df(df.select(F.col(id_col), F.col(text_col)),
                     text_col, n=n)
    ex = (
        sh.withColumn("_n_sh", F.size("sh"))
        .select(F.col(id_col).alias("_id"), "_n_sh",
                F.explode_outer("sh").alias("_t"))
        .where(F.col("_t").isNotNull() & (F.col("_t") != ""))
        .select("_id", "_n_sh", F.md5("_t").alias("_h"))
    )
    a = ex.select(F.col("_id").alias("id_a"), F.col("_n_sh").alias("_na"),
                  F.col("_h"))
    b = ex.select(F.col("_id").alias("id_b"), F.col("_n_sh").alias("_nb"),
                  F.col("_h"))
    pairs = (
        a.join(b, "_h")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "_na", "_nb")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        pairs.withColumn(
            "containment_ppm",
            F.expr("(n_common * 1000000L) div least(_na, _nb)")
            .cast("bigint"))
        .where(F.col("containment_ppm") >= F.lit(int(threshold_ppm)))
        .select("id_a", "id_b", F.col("n_common").cast("bigint")
                .alias("n_common"), "containment_ppm")
    )


def verify_pairs_editdistance(pairs: DataFrame, text_a: str = "text_a",
                              text_b: str = "text_b",
                              sim_threshold_ppm: int = 900_000,
                              max_distance: int | None = None) -> DataFrame:
    """Edit-distance verification of candidate pairs — the precision
    tier ABOVE set-overlap verifiers: Jaccard/containment see bags of
    shingles, Levenshtein sees order and locality (a shuffled
    paragraph keeps its shingles but not its edit distance), so this
    is the right final gate for "same document, small revisions"
    decisions (snapshot re-crawls, quote-with-edits).

    Appends ``(distance, sim_ppm, is_dup)``: ``sim_ppm = (1 −
    distance/max(len_a, len_b))`` in exact integer ppm (two equal
    empty strings are distance 0, similarity 1). Spark's builtin
    ``levenshtein`` (JVM DP, codegen'd — same definition as DuckDB's,
    so the oracle recomputes it exactly).

    Scale shape: per-pair compute on an ALREADY-BOUNDED candidate set
    (LSH bands / containment buckets produce pairs; never run this
    all-pairs). Full DP is O(len_a·len_b) per pair: pass
    ``max_distance`` to let the banded O(d·len) early-exit kick in —
    distances beyond the cap come back as the cap + 1 (Spark returns
    −1), keeping the verdict exact while clearly-distant pairs cost
    O(cap·len). ``is_dup`` is NULL-safe: a NULL text yields a NULL
    verdict row rather than a dropped pair (auditable, like
    ``parse_error``)."""
    a, b = F.col(text_a), F.col(text_b)
    if max_distance is None:
        dist = F.levenshtein(a, b)
    else:
        if max_distance < 0:
            raise ValueError(f"max_distance must be >= 0: {max_distance}")
        raw = F.levenshtein(a, b, max_distance)
        dist = F.when(raw < 0, F.lit(int(max_distance) + 1)).otherwise(raw)
    longest = F.greatest(F.length(a), F.length(b)).cast("bigint")
    out = (
        pairs.withColumn("distance", dist.cast("int"))
        .withColumn("_longest", longest)
        # exact integer ppm (the repo's `div` idiom): double division
        # here can round up across the floor boundary
        .withColumn(
            "sim_ppm",
            F.expr("CASE WHEN _longest = 0 THEN 1000000 ELSE "
                   "((_longest - distance) * 1000000) div _longest END")
            .cast("bigint"))
        .drop("_longest")
    )
    return out.withColumn(
        "is_dup", F.col("sim_ppm") >= F.lit(int(sim_threshold_ppm)))


# ---------------------------------------------------------------------------
# 6. Soft dedup — inverse-multiplicity sampling weights
# ---------------------------------------------------------------------------


def soft_dedup_weights(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       scale_ppm: int = 1_000_000) -> DataFrame:
    """Soft deduplication: instead of DROPPING exact duplicates, keep
    every copy and assign it a sampling weight inversely proportional
    to its multiplicity — ``weight_ppm = scale_ppm div n_dups`` — so a
    paragraph-identical press release mirrored on 40 sites contributes
    one document's worth of gradient in expectation (the reweight-not-
    remove strategy of SoftDedup, He et al. 2024, which preserves the
    long tail a hard dedup throws away while still de-emphasizing
    boilerplate-heavy mass duplicates).

    Scale shape: the multiplicity count shuffles only ``(id, 16-byte
    content hash)`` — the corpus text NEVER moves (the
    drop_boilerplate_lines discipline); the count table (one row per
    DISTINCT hash) joins back on the hash key with map-side partial
    aggregation ahead of both shuffles. Weights are integer ppm, so
    the DuckDB twin reproduces them bit-for-bit.

    NULL-text rows carry no content evidence and are excluded (a NULL
    hash would silently vanish in the join anyway — better explicit).
    Output: ``(id, n_dups, weight_ppm)``, one row per surviving input
    row.
    """
    if scale_ppm <= 0:
        raise ValueError(f"scale_ppm must be positive, got {scale_ppm}")
    keyed = (df.where(F.col(text_col).isNotNull())
             .select(F.col(id_col),
                     content_hash(text_col).alias("_h")))
    counts = keyed.groupBy("_h").agg(F.count(F.lit(1)).alias("n_dups"))
    return (keyed.join(counts, "_h")
            .select(id_col, "n_dups",
                    F.expr(f"{int(scale_ppm)} div n_dups")
                    .cast("bigint").alias("weight_ppm")))


# ---------------------------------------------------------------------------
# 7. Incremental near-dup index — the LSH twin of snapshot-ingest dedup
# ---------------------------------------------------------------------------


def minhash_index(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3,
                  k: int = 32, bands: int = 8) -> DataFrame:
    """Build the persistable LSH index of a corpus: one row per (doc,
    band) — ``(band, band_hash, id, sig)`` — written out once (at
    scale: partitioned/bucketed by ``(band, band_hash)``) so that
    every future crawl snapshot can be near-dup-checked against the
    historical corpus WITHOUT re-reading or re-shingling it — the
    near-dup twin of ``dedup_against_index`` (snapshot-ingest exact
    dedup), which this complements: that one catches byte-identical
    re-crawls, this one catches the boilerplate-shifted re-renders.

    The signature rides along with each band key so the probe can
    verify candidates from the index alone (k longs per doc ≈ 256
    bytes — vs re-shingling petabytes of historical text). Exact
    shingle storage would be the corpus itself; the k-component
    signature is the documented precision trade (estimator std ≈
    sqrt(J(1-J)/k), ~0.07 at J=0.8, k=32).

    Token-less documents get no index rows (see ``_shingled``); the
    probe side (``ingest_near_dups``) builds through here too, so they
    never become candidates and are kept."""
    sh = _shingled(df, id_col, text_col, n)
    return (_minhash_bands(sh, id_col, k, bands)
            .select("band", F.col("key").alias("band_hash"), "id", "sig"))


def ingest_near_dups(new_docs: DataFrame, index: DataFrame,
                     id_col: str = "doc_id", text_col: str = "text",
                     n: int = 3, k: int = 32, bands: int = 8,
                     threshold: float = 0.8) -> DataFrame:
    """Near-dup-gate a new crawl snapshot against a historical
    :func:`minhash_index` — the historical corpus never moves: new
    docs (the small side) are signed and banded, candidates come from
    the ``(band, band_hash)`` equi-join against the index, and each
    candidate pair is verified by the MinHash Jaccard ESTIMATOR
    (fraction of agreeing signature components — computable from the
    index alone, no historical text). A new doc is dropped when its
    best estimate reaches ``threshold``.

    Shuffle budget: sign+band the new snapshot (map-only), one
    equi-join keyed by (band, band_hash) — at scale a bucket-pruned
    scan of the stored index — one (new_id) max-agg. Within-batch
    duplicates are out of scope by design: run ``drop_near_dups`` on
    the batch first, then gate against history (same contract as
    ``dedup_against_index``).

    Returns ``(id, best_match_id, jaccard_est, keep)`` — one row per
    new doc; unmatched docs carry NULL best_match_id / estimate."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if k % bands:
        raise ValueError(f"bands ({bands}) must divide k ({k})")
    new_banded = minhash_index(new_docs, id_col, text_col, n, k, bands)
    idx = index.select(F.col("band").alias("_ib"),
                       F.col("band_hash").alias("_ibh"),
                       F.col("id").alias("_iid"),
                       F.col("sig").alias("_isig"))
    est = (F.size(F.filter(F.zip_with("sig", "_isig",
                                      lambda x, y: x == y),
                           lambda m: m))
           / F.lit(float(k)))
    cand = (new_banded.join(
        idx, (F.col("band") == F.col("_ib"))
        & (F.col("band_hash") == F.col("_ibh")))
        .select(F.col("id"), F.col("_iid"),
                F.round(est, 6).alias("_est"))
        .distinct())
    # max estimate, ties to the smallest historical id
    best = (cand.groupBy("id")
            .agg(F.min_by("_iid", _survivor_key("_est", "_iid"))
                 .alias("best_match_id"),
                 F.max("_est").alias("jaccard_est")))
    ids = new_docs.select(F.col(id_col).alias("id")).distinct()
    return (ids.join(best, "id", "left")
            .select("id", "best_match_id", "jaccard_est",
                    F.coalesce(F.col("jaccard_est")
                               < F.lit(float(threshold)), F.lit(True))
                    .alias("keep")))


def mirror_families(df: DataFrame, group_col: str = "source",
                    text_col: str = "text",
                    overlap_ppm_threshold: int = 500_000,
                    max_hosts_per_hash: int = 32) -> DataFrame:
    """Mirror-site families: hosts serving substantially the SAME
    content, grouped transitively — the crawl-budget view above
    ``host_dup_stats`` (which says "this host is mostly dups") and
    ``detect_moves`` (same content, different URL): a family of N
    mirrors deserves one crawl budget, not N, and dedup survivor
    selection should prefer the canonical family member.

    Method: reduce to DISTINCT (host, content-hash); self-join on the
    hash to count shared hashes per host PAIR (hashes on more than
    ``max_hosts_per_hash`` hosts are excluded first — mass boilerplate
    is not mirroring evidence, and the cap bounds the self-join
    fan-out to ≤ C²/2 pairs per hash, killing the celebrity-hash
    quadratic); a pair is a mirror EDGE when the overlap covers ≥
    ``overlap_ppm_threshold`` of the SMALLER side (containment, so a
    full mirror of a subsection still links). Both sides of that ratio
    count only the hashes that survive the cap — a byte-identical
    mirror whose content is mostly syndicated still links; the
    reported ``n_hashes`` is the host's uncapped count. Families are the
    connected components (``duplicate_clusters``' pointer-doubling,
    min host name as family id).

    All joins are keyed by 16-byte hashes or host names — text never
    shuffles. Output: ``(host, family_id, n_hashes)`` for every host
    with at least one mirror edge; isolated hosts are absent (no
    evidence, no row).
    """
    if not 0 < overlap_ppm_threshold <= 1_000_000:
        raise ValueError(
            f"overlap_ppm_threshold must be in (0, 1e6]: "
            f"{overlap_ppm_threshold}")
    if max_hosts_per_hash < 2:
        raise ValueError("max_hosts_per_hash must be >= 2")
    keyed = (df.where(F.col(text_col).isNotNull()
                      & F.col(group_col).isNotNull())
             .select(F.col(group_col).alias("_h"),
                     content_hash(text_col).alias("_c"))
             .distinct())
    totals = keyed.groupBy("_h").agg(F.count(F.lit(1)).alias("n_hashes"))
    kept = (keyed.groupBy("_c").agg(F.count(F.lit(1)).alias("_fan"))
            .where(F.col("_fan") <= max_hosts_per_hash)
            .select("_c"))
    slim = keyed.join(kept, "_c")
    slim_totals = slim.groupBy("_h").agg(F.count(F.lit(1)).alias("_n"))
    b = slim.select(F.col("_c"), F.col("_h").alias("_hb"))
    shared = (slim.join(b, "_c")
              .where(F.col("_h") < F.col("_hb"))
              .groupBy("_h", "_hb")
              .agg(F.count(F.lit(1)).alias("_shared")))
    ta = slim_totals.select(F.col("_h"), F.col("_n").alias("_na"))
    tb = slim_totals.select(F.col("_h").alias("_hb"),
                            F.col("_n").alias("_nb"))
    edges = (shared.join(ta, "_h").join(tb, "_hb")
             .where(F.expr("_shared * 1000000 div least(_na, _nb)")
                    >= F.lit(int(overlap_ppm_threshold)))
             .select(F.col("_h").alias("id_a"),
                     F.col("_hb").alias("id_b")))
    fams = duplicate_clusters(edges)
    return (fams.select(F.col("doc_id").alias("_h"),
                        F.col("cluster_id").alias("family_id"))
            .join(totals, "_h")
            .select(F.col("_h").alias("host"), "family_id",
                    F.col("n_hashes").cast("bigint").alias("n_hashes")))
