"""Content-defined chunking (CDC) — position-independent partial-
overlap detection, the dedup tier between exact hashing (whole-doc) and
MinHash (bag-of-shingles): split each document at boundaries chosen by
the CONTENT (a w-gram hash hitting 0 mod divisor, the Rabin/LBFS
scheme, Muthitacharoen et al. SOSP'01), so an edit perturbs only the
chunks it touches — every chunk after the next boundary keeps its
identity even though its OFFSET moved. Byte-offset chunking can't do
that (one insertion shifts every later chunk); shingle sets can't see
locality. The web-corpus use: re-crawl storage/diff ("this snapshot is
94% chunk-identical to last month's") and partial-plagiarism detection.

Scale shape — the text NEVER fans out, and is read once:
1. the text becomes a character array (``functions.text.char_array``)
   in its own projection. Gram ``i`` and every chunk are slices of
   that array, so a gram costs ``w`` steps. ``substring(text, i, w)``
   walks from character 1 on every call, which made a text cost O(n²);
2. the boundary ``ends`` array is a second staged projection, so the
   boundary filter (an md5 per position) runs once per text — inlined,
   the optimizer copied it into each of its three uses;
3. only the narrow ``(id, start, end, chunk_hash)`` struct array
   explodes — ~len/divisor rows of fixed width per document, a
   fraction of the payload;
4. ``cdc_dup_candidates`` is one aggregation per chunk hash (its sorted
   ids), an explode into id pairs and one count per pair: the chunks
   are read once and shuffled twice, with no self-join.

Expected chunk length ≈ ``divisor`` chars (boundary probability 1/D
per position). md5 (not xxhash64) for the DuckDB twin, as everywhere.
No min/max chunk clamps (the classic refinement): boundaries may
cluster — acceptable for overlap STATISTICS; add clamps before using
chunks as storage units.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import char_array, char_gram, hex_int, md5_of

#: hex chars of the gram hash used for the boundary draw — 48 bits
_HEX = 12


def cdc_chunks(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", w: int = 16,
               divisor: int = 64) -> DataFrame:
    """``(id, start, end, chunk_hash)`` rows — contiguous,
    gap-free cover of each text (1-based inclusive spans). Texts
    shorter than ``w`` become one chunk; NULL/empty texts yield no
    rows. Deterministic: boundaries are a pure function of content."""
    if w < 2:
        raise ValueError(f"w must be >= 2: {w}")
    if divisor < 2:
        raise ValueError(f"divisor must be >= 2: {divisor}")
    t = F.col(text_col)
    chars = F.col("_cdc_chars")
    L = F.size(chars)

    def is_cut(i):
        gram_h = md5_of(char_gram(chars, i, F.lit(w)))
        return F.pmod(hex_int(gram_h, _HEX), F.lit(divisor)) == 0

    positions = F.when(
        L >= w,
        F.filter(F.sequence(F.lit(1), L - w + 1), is_cut),
    ).otherwise(F.array().cast("array<int>"))
    ends = F.col("_cdc_ends")
    starts = F.concat(
        F.array(F.lit(1)),
        F.transform(F.slice(ends, 1, F.size(ends) - 1), lambda e: e + 1),
    )
    staged = (
        df.where(t.isNotNull() & (F.length(t) > 0))
        .withColumn("_cdc_chars", char_array(t))
        .withColumn("_cdc_ends", F.array_sort(F.array_distinct(F.concat(
            F.transform(positions, lambda i: i + w - 1),
            F.array(L),
        ))))
        .withColumn(
            "_spans",
            F.zip_with(
                starts, ends,
                lambda s, e: F.struct(
                    s.cast("int").alias("start"),
                    e.cast("int").alias("end"),
                    F.md5(char_gram(chars, s, e - s + 1))
                    .alias("chunk_hash"),
                ),
            ),
        )
    )
    return (
        staged.select(F.col(id_col), F.explode_outer("_spans").alias("_c"))
        .where(F.col("_c").isNotNull())
        .select(id_col, "_c.start", "_c.end", "_c.chunk_hash")
    )


def chunk_overlap(chunks_a: DataFrame, chunks_b: DataFrame,
                  id_col: str = "doc_id") -> DataFrame:
    """Per-id chunk-set overlap between two chunkings of paired texts:
    ``(id, n_a, n_b, n_shared, shared_ppm)`` over DISTINCT chunk
    hashes, ``shared_ppm = n_shared·10⁶ div min(n_a, n_b)`` (exact
    integer, the containment convention). Ids present on only one side
    drop (nothing to compare). Joins move hashes, never text."""
    a = (chunks_a.select(F.col(id_col), "chunk_hash").distinct()
         .groupBy(id_col).agg(
             F.count(F.lit(1)).alias("n_a"),
             F.collect_set("chunk_hash").alias("_ha")))
    b = (chunks_b.select(F.col(id_col), "chunk_hash").distinct()
         .groupBy(id_col).agg(
             F.count(F.lit(1)).alias("n_b"),
             F.collect_set("chunk_hash").alias("_hb")))
    j = (
        a.join(b, id_col)
        .withColumn("n_shared",
                    F.size(F.array_intersect("_ha", "_hb")).cast("bigint"))
    )
    return j.select(
        id_col,
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        "n_shared",
        F.expr("(n_shared * 1000000) div least(n_a, n_b)")
        .alias("shared_ppm"),
    )


def cdc_dup_candidates(chunks: DataFrame, id_col: str = "doc_id",
                       min_shared: int = 2,
                       max_chunk_df: int = 1000) -> DataFrame:
    """Cross-document partial-duplicate candidates from a
    ``cdc_chunks`` table: ``(id_a, id_b, n_shared)`` pairs sharing at
    least ``min_shared`` distinct chunk hashes — the corpus-wide
    companion of :func:`chunk_overlap` (which compares PAIRED texts).

    Scale guards, same shape as the LSH band join / inverted-index df
    cap: chunk hashes appearing in fewer than 2 docs pair with nothing;
    hashes above ``max_chunk_df`` docs are template boilerplate (a site
    footer chunk would otherwise fan out df² pairs) and drop too. A
    NULL id counts toward a hash's df but never pairs; a NULL hash
    matches nothing.

    One aggregation per hash collects its sorted distinct ids; each id
    then explodes into the pairs with the larger ids of the same hash,
    so no in-row array is longer than ``max_chunk_df`` and only ids and
    16-byte hashes move."""
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1: {min_shared}")
    i = F.col(id_col)
    ids = F.col("_ids")
    per_hash = (
        chunks.where(F.col("chunk_hash").isNotNull())
        .groupBy("chunk_hash")
        .agg(F.array_sort(F.collect_set(i)).alias("_ids"),
             F.bool_or(i.isNull()).alias("_null_id"))
        .where((F.size(ids) + F.col("_null_id").cast("int"))
               .between(2, int(max_chunk_df)))
    )
    return (
        per_hash.select(F.posexplode(ids).alias("_p", "id_a"), ids)
        .select("id_a",
                F.explode(F.slice(ids, F.col("_p") + 2, F.size(ids)))
                .alias("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .where(F.col("n_shared") >= int(min_shared))
    )
