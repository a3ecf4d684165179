"""Correctness tests for the approximate operators — MinHash-LSH recall vs
exact Jaccard ground truth, SimHash Hamming behavior, ANN vs brute force —
plus plan-shape assertions (no Python nodes in the JVM-only operators)."""

import pytest
from pyspark.sql import functions as F

from document_extractor_spark.operators.dedup import (
    drop_exact_duplicates,
    exact_duplicates,
    minhash_lsh_candidates,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_duplicates,
)
from document_extractor_spark.operators.similarity import (
    ann_topk,
    brute_force_topk,
    embedding_near_duplicates,
    srp_index,
)
from document_extractor_spark.plans import assert_no_python

BASE = (
    "the quick brown fox jumps over the lazy dog near the river bank "
    "while watching clouds drift slowly across the afternoon sky today"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = []
    for i in range(30):
        tail = " ".join(f"w{i}x{j}" for j in range(12))
        rows.append((i, f"{BASE} {tail}"))
    # planted near-dups of doc 0..4: same text + 3 extra words (jaccard ≈0.9)
    for i in range(5):
        tail = " ".join(f"w{i}x{j}" for j in range(12))
        rows.append((100 + i, f"{BASE} {tail} zz aa bb"))
    # planted exact dup of doc 7
    tail7 = " ".join(f"w7x{j}" for j in range(12))
    rows.append((200, f"{BASE} {tail7}"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    groups = exact_duplicates(docs).collect()
    dup_groups = [g for g in groups if g["n_dups"] > 1]
    assert len(dup_groups) == 1
    assert dup_groups[0]["keep_id"] == 7
    kept = drop_exact_duplicates(docs)
    assert kept.count() == docs.count() - 1
    assert kept.filter(F.col("doc_id") == 200).count() == 0
    assert kept.filter(F.col("doc_id") == 7).count() == 1


def test_exact_dedup_plan_jvm_only(spark, docs):
    assert_no_python(exact_duplicates(docs))


def test_ngram_jaccard_ground_truth(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    # exact dup pair at jaccard 1.0
    assert pairs[(7, 200)] == 1.0
    # planted near-dups all found with high jaccard
    for i in range(5):
        assert (i, 100 + i) in pairs
        assert pairs[(i, 100 + i)] > 0.8
    # nothing else crosses 0.5 except base-text overlap pairs sharing the
    # long common prefix — verify every reported pair really is similar
    assert all(j >= 0.5 for j in pairs.values())


def test_minhash_lsh_recall(spark, docs):
    truth = {(r["id_a"], r["id_b"])
             for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()}
    cands = {(r["id_a"], r["id_b"])
             for r in minhash_lsh_candidates(docs).collect()}
    assert truth, "ground truth must be non-empty"
    missed = truth - cands
    assert not missed, f"LSH missed high-jaccard pairs: {missed}"
    verified = {(r["id_a"], r["id_b"]): r["jaccard"]
                for r in minhash_near_duplicates(docs, threshold=0.8).collect()}
    assert set(verified) == truth  # verification step removes false positives


def test_minhash_plan_jvm_only(spark, docs):
    assert_no_python(minhash_near_duplicates(docs))


def test_minhash_signature_components_independent(spark, docs):
    """Each of the k components hashes with its own permutation number:
    a multi-shingle doc gets (nearly) k distinct minima, not one value
    repeated k times."""
    from document_extractor_spark.operators.dedup import minhash_signatures

    sig = minhash_signatures(docs.where("doc_id = 0"), k=32).first()["sig"]
    assert len(sig) == 32
    assert len(set(sig)) > 16


def test_near_dup_paths_skip_degenerate_rows(spark):
    """NULL ids, NULL or token-less texts produce no candidate pairs and
    no shared bucket or shingle in any near-dup path; the real clone
    pair stays."""
    from document_extractor_spark.operators.dedup import (
        _band_pairs, _minhash_bands, _shingled, drop_near_duplicates,
        ingest_near_dups, minhash_index)

    body = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(1, body), (2, body), (None, body), (None, body),
            (3, ""), (4, "   "), (5, None), (6, "\n\t"), (7, ""),
            (8, None)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    assert {(r["id_a"], r["id_b"]) for r in
            minhash_lsh_candidates(df).collect()} == {(1, 2)}
    assert {(r["id_a"], r["id_b"]) for r in
            minhash_near_duplicates(df, threshold=0.5).collect()} == {(1, 2)}
    assert {(r["id_a"], r["id_b"]) for r in
            simhash_near_duplicates(df).collect()} == {(1, 2)}
    # the exact verifier too: no blank shingle joins token-less docs
    assert {(r["id_a"], r["id_b"]) for r in
            ngram_jaccard_pairs(df, threshold=0.0).collect()} == {(1, 2)}
    # token-less docs are all kept (no cluster); only the clone dies
    kept = sorted(r["doc_id"] for r in drop_near_duplicates(df, threshold=0.5)
                  .where("doc_id IS NOT NULL").collect())
    assert kept == [1, 3, 4, 5, 6, 7, 8]
    # no bucket rows at all for token-less or id-less docs
    bands = _minhash_bands(_shingled(df, "doc_id", "text", 3), "doc_id",
                           32, 8)
    assert {r["id"] for r in bands.select("id").distinct().collect()} == {
        1, 2}
    # an id-less clone in the index cannot become the best match
    idx = minhash_index(df.where("doc_id IS NULL OR doc_id = 2"))
    got = ingest_near_dups(df.where("doc_id = 1"), idx).first()
    assert (got["best_match_id"], got["keep"]) == (2, False)
    # NULL ids and NULL keys pair with nothing
    keyed = spark.createDataFrame(
        [(1, 0, 7), (2, 0, 7), (None, 0, 7), (3, 0, None), (4, 0, None)],
        "id bigint, band int, key bigint")
    assert [(r["id_a"], r["id_b"]) for r in
            _band_pairs(keyed).collect()] == [(1, 2)]


@pytest.mark.parametrize("max_hamming", [-1, 8])
def test_hamming_pairs_reject_out_of_range(spark, docs, max_hamming):
    from document_extractor_spark.operators.multimodal import image_near_dups

    imgs = spark.createDataFrame([("img://a", b"")],
                                 "url string, payload binary")
    with pytest.raises(ValueError, match="max_hamming"):
        simhash_near_duplicates(docs, max_hamming=max_hamming)
    with pytest.raises(ValueError, match="max_hamming"):
        image_near_dups(imgs, max_hamming=max_hamming)


def test_simhash_properties(spark, docs):
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert sigs[7] == sigs[200]  # identical text → identical signature
    # near-dup text → small hamming distance; unrelated tails → larger
    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")
    assert ham(sigs[0], sigs[100]) <= 6
    near = {(r["id_a"], r["id_b"])
            for r in simhash_near_duplicates(docs, max_hamming=3).collect()}
    assert (7, 200) in near
    # every block layout (1×64 bits … 8×8) finds exactly the pairs an
    # all-pairs scan finds
    for mh in (0, 4, 7):
        truth = {(a, b): ham(sigs[a], sigs[b]) for a in sigs for b in sigs
                 if a < b and ham(sigs[a], sigs[b]) <= mh}
        got = {(r["id_a"], r["id_b"]): r["hamming"] for r in
               simhash_near_duplicates(docs, max_hamming=mh).collect()}
        assert got == truth


def test_simhash_plan_jvm_only(spark, docs):
    assert_no_python(simhash(docs))


# ---------------------------------------------------------------------------
# Similarity
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def emb(spark):
    import numpy as np

    rng = np.random.default_rng(0)
    rows = []
    for i in range(200):
        v = rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
    # planted: vec 500 = vec 3 scaled (cosine exactly 1)
    v3 = rows[3][1]
    rows.append((500, [2.0 * x for x in v3]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk_self_is_top(spark, emb):
    q = [float(x) for x in
         emb.filter(F.col("vec_id") == 3).head()["embedding"]]
    top = brute_force_topk(emb, q, k=3, vec_col="embedding").collect()
    assert {top[0]["vec_id"], top[1]["vec_id"]} == {3, 500}
    assert top[0]["cosine"] == pytest.approx(1.0, abs=1e-5)


def test_brute_force_plan_jvm_only(spark, emb):
    assert_no_python(brute_force_topk(emb, [0.0] * 16, k=3))


def test_ann_recall_vs_bruteforce(spark, emb):
    q = [float(x) for x in
         emb.filter(F.col("vec_id") == 3).head()["embedding"]]
    exact = [r["vec_id"] for r in brute_force_topk(emb, q, k=5).collect()]
    idx = srp_index(emb, dim=16, n_planes=6)
    approx = [r["vec_id"]
              for r in ann_topk(idx, q, k=5, dim=16, n_planes=6,
                                hamming=1).collect()]
    # the query vector's own near-identical neighbors must be found
    assert 3 in approx and 500 in approx
    # recall@5 of at least 3/5 with multiprobe on this tiny index
    assert len(set(exact) & set(approx)) >= 3


def test_srp_bucketers_total_on_null_embedding(spark, emb):
    """A NULL embedding gets a NULL bucket instead of failing the task;
    every other bucket is the sign-bit id of the same hyperplanes, and
    the banded blocking pairs the non-NULL rows as before."""
    import numpy as np

    from document_extractor_spark.operators.similarity import (
        _hyperplanes,
        srp_band_candidates,
    )

    null = spark.createDataFrame([(900, None)],
                                 "vec_id long, embedding array<float>")
    with_null = emb.unionByName(null)
    got = {r["vec_id"]: r["bucket"]
           for r in srp_index(with_null, dim=16, n_planes=6).collect()}
    assert got.pop(900) is None
    rows = sorted(emb.collect(), key=lambda r: r["vec_id"])
    signs = (np.asarray([r["embedding"] for r in rows], dtype=np.float32)
             @ _hyperplanes(16, 6, 42)) > 0
    want = (signs * (1 << np.arange(6))).sum(axis=1)
    assert got == {r["vec_id"]: int(b) for r, b in zip(rows, want)}

    pairs = {(r.id_a, r.id_b) for r in srp_band_candidates(
        with_null, dim=16, n_bands=4, planes_per_band=8).collect()}
    assert (3, 500) in pairs
    assert pairs == {(r.id_a, r.id_b) for r in srp_band_candidates(
        emb, dim=16, n_bands=4, planes_per_band=8).collect()}


def test_embedding_near_duplicates(spark, emb):
    pairs = embedding_near_duplicates(emb, dim=16, threshold=0.999)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (3, 500) in got


def test_minhash_no_lingering_shingle_cache(spark, docs):
    """minhash_near_duplicates must not leave the (corpus-sized) shingle
    DataFrame pinned in executor storage: after the call, at most the
    small localCheckpoint'd result is persisted."""
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    out = minhash_near_duplicates(docs, threshold=0.5)
    assert out.count() >= 0
    after = jsc.getPersistentRDDs().size()
    # shingle cache released; only the checkpointed pair result may remain
    assert after - before <= 1
    out.unpersist()


def test_srp_band_candidates_near_linear_growth(spark):
    """The banded blocking must scale: candidate-pair count on a corpus
    of random vectors + planted duplicates grows ~linearly with n, not
    quadratically (the single-table 256-bucket design grew as n²/256)."""
    import numpy as np

    from document_extractor_spark.operators.similarity import (
        srp_band_candidates,
    )

    def corpus(n):
        rng = np.random.default_rng(7)
        base = rng.standard_normal((n, 32)).astype("float32")
        rows = [(i, base[i].tolist()) for i in range(n)]
        # plant n/10 exact duplicates
        rows += [(n + i, base[i].tolist()) for i in range(n // 10)]
        return spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>")

    def n_cands(n):
        return srp_band_candidates(
            corpus(n), dim=32, n_bands=8, planes_per_band=20).count()

    c1, c4 = n_cands(500), n_cands(2000)
    assert c1 >= 50          # planted dups are found
    # quadratic background would give c4/c1 ≈ 16; linear ≈ 4
    assert c4 / max(c1, 1) < 8.0


def test_embedding_near_duplicates_banded_recall(spark):
    """Planted exact duplicates must all survive the banded blocking +
    cosine verification at high threshold."""
    import numpy as np

    from document_extractor_spark.operators.similarity import (
        embedding_near_duplicates,
    )

    rng = np.random.default_rng(11)
    base = rng.standard_normal((200, 16)).astype("float32")
    rows = [(i, base[i].tolist(), "x") for i in range(200)]
    rows += [(1000 + i, base[i].tolist(), "x") for i in range(30)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label string")
    got = {(r.id_a, r.id_b)
           for r in embedding_near_duplicates(df, dim=16,
                                              threshold=0.999).collect()}
    assert {(i, 1000 + i) for i in range(30)} <= got


def test_duplicate_clusters_transitive(spark):
    """Hash-min CC: a chain a-b-c and a separate pair d-e form exactly
    two clusters labeled by their min ids; transitivity (a~c without a
    direct edge) must hold."""
    from document_extractor_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 7), (7, 3), (10, 12), (3, 9), (9, 2)],
        "id_a bigint, id_b bigint")
    got = {r.doc_id: r.cluster_id for r in duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 7: 1, 3: 1, 9: 1, 2: 1, 10: 10, 12: 10}


def test_ivf_recall_vs_bruteforce(spark, emb):
    from document_extractor_spark.operators.similarity import (
        brute_force_topk,
        ivf_index,
        ivf_topk,
    )

    q = [float(x) for x in
         emb.filter("vec_id = 3").select("embedding").head()[0]]
    exact = [r.vec_id for r in brute_force_topk(emb, q, k=5).collect()]
    indexed, centers = ivf_index(emb, n_cells=8)
    approx = [r.vec_id for r in
              ivf_topk(indexed, centers, q, k=5, nprobe=3).collect()]
    assert 3 in approx                      # self always found
    assert len(set(exact) & set(approx)) >= 3   # recall@5 ≥ 3/5


def test_winnowing_guarantee(spark):
    """Winnowing invariant (Schleimer et al. 2003): documents sharing a
    substring of length >= k+w-1 share at least one fingerprint; disjoint
    documents share none; sub-k texts yield no fingerprints."""
    from document_extractor_spark.functions.text import winnow_fingerprints_df

    df = spark.createDataFrame([
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "PREFIX then the quick brown fox jumps over the lazy dog END"),
        (3, "completely different content with no shared substrings here"),
        (4, "ab"),
    ], "doc_id bigint, text string")
    out = {r.doc_id: set(r.fingerprints)
           for r in winnow_fingerprints_df(df).collect()}
    assert out[1] and out[1] <= out[2]     # containment detected
    assert not (out[1] & out[3])
    assert out[4] == set()


def test_drop_near_duplicates_end_to_end(spark, docs):
    """Pipeline composition: planted near-dup chains collapse to their
    min-id canonical doc; unrelated docs survive untouched."""
    from document_extractor_spark.operators.dedup import drop_near_duplicates

    kept = drop_near_duplicates(docs, threshold=0.5)
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    # fixture plants: 100+i near-dup of i (i<5), 200 exact dup of 7 —
    # every planted duplicate dies, every canonical min-id survives
    assert {100, 101, 102, 103, 104, 200}.isdisjoint(ids)
    assert {0, 1, 2, 3, 4, 7}.issubset(ids)
    assert {i for i in range(30)}.issubset(ids)


def test_drop_duplicate_paragraphs(spark):
    from document_extractor_spark.operators.dedup import (
        drop_duplicate_paragraphs,
    )

    shared = "this exact boilerplate paragraph appears in every document"
    rows = [
        (1, f"unique opening one\n\n{shared}\n\nunique closing one"),
        (2, f"{shared}\n\nunique middle two"),
        (3, f"unique three\n\n{shared}"),
        (4, shared),                      # nothing else — goes empty
        (5, "ok\n\nok\n\nlong enough paragraph to dedupe repeated twice"
            "\n\nlong enough paragraph to dedupe repeated twice"),
    ]
    out = {r.doc_id: r.text for r in drop_duplicate_paragraphs(
        spark.createDataFrame(rows, "doc_id bigint, text string")).collect()}
    assert out[1] == f"unique opening one\n\n{shared}\n\nunique closing one"
    assert out[2] == "unique middle two"
    assert out[3] == "unique three"
    assert out[4] == ""                   # all paragraphs deduped
    # short paragraphs ('ok') pass through; the long repeat dedupes
    assert out[5] == ("ok\n\nok\n\nlong enough paragraph to dedupe "
                      "repeated twice")
    assert len(out) == 5                  # every doc survives as a row


def test_duplicate_clusters_long_chain_pointer_doubling(spark):
    """A 120-node path (diameter ≫ max_iter) must still converge: the
    pointer-doubling step makes rounds O(log diameter), so 20 rounds
    cover any realistic component. Every node labels to the chain min."""
    from document_extractor_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "id_a bigint, id_b bigint")
    got = {r.doc_id: r.cluster_id for r in duplicate_clusters(pairs).collect()}
    assert set(got) == set(range(121))
    assert set(got.values()) == {0}


def test_duplicate_clusters_nonconvergence_raises(spark):
    """If labels have not stabilized within max_iter the operator must
    FAIL LOUDLY — a silent partial clustering would make
    drop_near_duplicates under-delete with no signal."""
    import pytest

    from document_extractor_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "id_a bigint, id_b bigint")
    with pytest.raises(RuntimeError, match="did not converge"):
        duplicate_clusters(pairs, max_iter=2)


def test_ivf_index_tolerates_zero_vector(spark):
    """A zero-norm embedding must not kill the index build (the L2
    normalizer passes degenerate vectors through instead of emitting
    an all-null array that crashes array_to_vector/KMeans)."""
    import numpy as np

    from document_extractor_spark.operators.similarity import (
        ivf_index,
        ivf_topk,
    )

    rng = np.random.default_rng(7)
    rows = [(i, rng.standard_normal(16).tolist()) for i in range(40)]
    rows.append((999, [0.0] * 16))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    indexed, centers = ivf_index(df, n_cells=4)
    assert indexed.count() == 41
    q = rows[0][1]
    got = [r.vec_id for r in ivf_topk(indexed, centers, q, k=5,
                                      nprobe=4).collect()]
    assert 0 in got


def test_drop_boilerplate_lines_doc_frequency_rule(spark):
    """A line over the doc-frequency cap drops from EVERY doc (first
    occurrence included); a line at the cap survives; short common
    lines survive on the min-length floor; a pure-boilerplate doc
    stays present with empty text."""
    from document_extractor_spark.operators.dedup import (
        drop_boilerplate_lines,
    )

    chrome = "Subscribe to our newsletter today."
    atcap = "Exactly at the frequency cap."
    rows = [(i, f"Body line {i} content here.\n{chrome}\n"
                f"{atcap if i < 5 else 'Tail ' + str(i) + ' line here.'}"
                "\nok.")
            for i in range(6)]
    rows.append((99, chrome))  # pure boilerplate doc (7th occurrence)
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r["text"]
           for r in drop_boilerplate_lines(df, max_doc_count=5).collect()}
    assert len(out) == 7  # every input doc present
    assert out[99] == ""  # pure-boilerplate doc keeps empty text
    for i in range(6):
        assert chrome not in out[i]
        assert f"Body line {i} content here." in out[i]
        assert out[i].endswith("ok.")  # short line under the floor
    assert atcap in out[0]  # 5 docs == cap -> not boilerplate


def test_drop_boilerplate_lines_preserves_order(spark):
    from document_extractor_spark.operators.dedup import (
        drop_boilerplate_lines,
    )

    df = spark.createDataFrame(
        [(1, "First unique statement here.\nSecond unique statement "
             "here.\nThird unique statement here.")],
        "doc_id bigint, text string")
    out = drop_boilerplate_lines(df).collect()[0]["text"]
    assert out.splitlines() == [
        "First unique statement here.",
        "Second unique statement here.",
        "Third unique statement here.",
    ]


def test_drop_known_duplicates_index_and_batch_rules(spark):
    """Docs whose normalized text is already in the known index drop
    (even under case/whitespace perturbation — the fingerprint is over
    normalized text); in-batch twins keep the min id; fresh docs
    survive."""
    from document_extractor_spark.functions.text import fingerprint
    from document_extractor_spark.operators.dedup import (
        drop_known_duplicates,
    )

    prior = spark.createDataFrame(
        [(1, "An already ingested document body."),],
        "doc_id bigint, text string")
    known = prior.select(fingerprint("text").alias("fingerprint"))
    batch = spark.createDataFrame(
        [(10, "an ALREADY   ingested document body."),  # known, perturbed
         (11, "A brand new document body here."),
         (12, "A brand new document body here."),       # in-batch twin
         (13, "Another fresh unique document.")],
        "doc_id bigint, text string")
    kept = sorted(r["doc_id"] for r in
                  drop_known_duplicates(batch, known).collect())
    assert kept == [11, 13]


def test_drop_known_duplicates_empty_index(spark):
    """An empty index reduces the operator to in-batch exact dedup."""
    from document_extractor_spark.operators.dedup import (
        drop_known_duplicates,
    )

    known = spark.createDataFrame([], "fingerprint string")
    batch = spark.createDataFrame(
        [(1, "same text content here"), (2, "same text content here"),
         (3, "different text content")],
        "doc_id bigint, text string")
    kept = sorted(r["doc_id"] for r in
                  drop_known_duplicates(batch, known).collect())
    assert kept == [1, 3]


def test_drop_exact_duplicates_keep_by_quality(spark):
    """keep_by survivor selection: the clone with the highest score
    wins regardless of id; min id breaks score ties; default min-id
    behavior is unchanged."""
    df = spark.createDataFrame(
        [(1, "same body", 0.2), (2, "same body", 0.9),
         (3, "same body", 0.9), (4, "other body", 0.1)],
        "doc_id bigint, text string, q double")
    best = sorted(r["doc_id"] for r in
                  drop_exact_duplicates(df, keep_by="q").collect())
    assert best == [2, 4]   # 2 beats 3 on the id tiebreak, beats 1 on q
    default = sorted(r["doc_id"] for r in
                     drop_exact_duplicates(df).collect())
    assert default == [1, 4]


def test_drop_exact_duplicates_keep_by_null_score_loses(spark):
    """An unscored clone never survives its group: NULL ranks below
    every real score, even when it holds the min id."""
    df = spark.createDataFrame(
        [(1, "same body", None), (2, "same body", 0.5)],
        "doc_id bigint, text string, q double")
    kept = [r["doc_id"] for r in
            drop_exact_duplicates(df, keep_by="q").collect()]
    assert kept == [2]


def test_drop_exact_duplicates_keep_by_string_ids(spark):
    """keep_by must work when the id column is a STRING (urls): the
    tiebreak negates the numeric score, never the id — a negated string
    id throws under ANSI mode and silently NULLs without it."""
    df = spark.createDataFrame(
        [("https://a.example/1", "same body", 0.2),
         ("https://a.example/2", "same body", 0.9),
         ("https://a.example/3", "same body", 0.9),
         ("https://b.example/9", "other body", 0.1)],
        "url string, text string, q double")
    kept = sorted(r["url"] for r in drop_exact_duplicates(
        df, id_col="url", keep_by="q").collect())
    assert kept == ["https://a.example/2", "https://b.example/9"]


def test_drop_duplicate_paragraphs_narrow_window(spark):
    """Paragraph text must never ride the skewed md5-hash shuffle: the
    only exchange carrying the paragraph payload is the uniform
    doc-id one (join + reassembly); every hash-keyed exchange is the
    narrow (h, id, pos) projection."""
    from document_extractor_spark.operators.dedup import (
        drop_duplicate_paragraphs,
    )
    from document_extractor_spark.plans import physical_plan

    df = spark.createDataFrame(
        [(1, "alpha beta gamma\n\ndelta epsilon zeta")],
        "doc_id bigint, text string")
    plan = physical_plan(drop_duplicate_paragraphs(df))
    for line in plan.splitlines():
        if "Exchange" in line and "para" in line:
            assert "doc_id" in line and "hashpartitioning(h" not in line, line


def test_drop_duplicate_paragraphs_short_paras_skip_window(spark):
    """Sub-min_len paragraphs (incl. empty strings — the hottest hash
    key in a real corpus) pass through in every copy and never enter
    the window input."""
    from document_extractor_spark.operators.dedup import (
        drop_duplicate_paragraphs,
    )

    long_a = "this paragraph is long enough to dedup"
    rows = [
        (1, long_a + "\n\n\n\nshort"),
        (2, long_a + "\n\n\n\nshort"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r.text
           for r in drop_duplicate_paragraphs(df).collect()}
    assert out[1] == long_a + "\n\n\n\nshort"
    assert out[2] == "\n\nshort"  # long para deduped, shorts survive


def test_semantic_dedup_drops_planted_twin_keeps_singletons(spark):
    """A cosine-1 twin inside the same cluster loses exactly one of the
    pair (the md5-larger id); cross-cluster identical vectors are NOT
    compared; singletons survive."""
    from document_extractor_spark.operators.similarity import (
        semantic_dedup,
    )

    v = [1.0, 0.0, 0.0, 0.0]
    w = [0.0, 1.0, 0.0, 0.0]
    rows = [
        (1, v, 0), (2, [2.0, 0.0, 0.0, 0.0], 0),   # twins, cluster 0
        (3, v, 1),                                  # same vec, other cluster
        (4, w, 0),                                  # orthogonal singleton
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int")
    out = {r.vec_id: r.sem_keep for r in
           semantic_dedup(df, dim=4, threshold=0.95,
                          cluster_col="label").collect()}
    assert out[3] and out[4]
    assert sorted([out[1], out[2]]) == [False, True]
    import hashlib
    pri = {i: hashlib.md5(str(i).encode()).hexdigest() for i in (1, 2)}
    survivor = 1 if pri[1] < pri[2] else 2
    assert out[survivor] is True


def test_semantic_dedup_learned_clusters_kmeans_path(spark):
    """cluster_col=None → IVF KMeans assigns clusters; on well-separated
    planted clusters the within-cluster twin is still caught."""
    import numpy as np

    from document_extractor_spark.operators.similarity import (
        semantic_dedup,
    )

    rng = np.random.default_rng(7)
    rows = []
    # σ=1 noise on norm-10 centers: member-pair cosines land ≈0.92-0.98,
    # comfortably BELOW the 0.999 threshold, while the planted scaled
    # twin is exactly 1 — only the twin pair is a semantic duplicate.
    for cid, center in enumerate([np.eye(8)[0] * 10, np.eye(8)[4] * 10]):
        for i in range(20):
            vec = center + rng.normal(0, 1.0, 8)
            rows.append((cid * 100 + i, [float(x) for x in vec]))
    rows.append((999, [float(x) for x in np.array(rows[0][1]) * 3]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = {r.vec_id: r.sem_keep for r in
           semantic_dedup(df, dim=8, threshold=0.999,
                          cluster_col=None, n_cells=2).collect()}
    # 999 is an exact scaled twin of vec 0 — exactly one of them drops
    assert sorted([out[0], out[999]]) == [False, True]


def test_semantic_dedup_cluster_size_guard_raises(spark):
    from document_extractor_spark.operators.similarity import (
        semantic_dedup,
    )

    rows = [(i, [1.0, 0.0], 0) for i in range(10)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="max_cluster_size"):
        semantic_dedup(df, dim=2, cluster_col="label",
                       max_cluster_size=5)


def test_semantic_dedup_tolerates_zero_vector(spark):
    """A zero embedding must not crash the pass and is never a near-dup
    of anything (cosine undefined → dot 0 after the zero-safe
    normalization)."""
    from document_extractor_spark.operators.similarity import (
        semantic_dedup,
    )

    rows = [(1, [0.0, 0.0], 0), (2, [1.0, 0.0], 0), (3, [2.0, 0.0], 0)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int")
    out = {r.vec_id: r.sem_keep for r in
           semantic_dedup(df, dim=2, threshold=0.95,
                          cluster_col="label").collect()}
    assert out[1] is True
    assert sorted([out[2], out[3]]) == [False, True]


# --- prototypicality pruning -------------------------------------------------

from document_extractor_spark.operators.similarity import (
    prototypicality_prune)


def _emb_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, embedding array<double>")


def test_prototypicality_assign_rank_and_band(spark):
    # cluster 0 along x, cluster 1 along y; within each cluster,
    # prototypicality decreases with the planted perturbation
    rows = []
    for i in range(10):
        p = 0.25 * (i % 5)
        rows.append((i, [1.0, 0.0, p, 0.0] if i % 2 == 0
                     else [0.0, 1.0, 0.0, p]))
    df = _emb_df(spark, rows)
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    got = {r["doc_id"]: r for r in prototypicality_prune(
        df, cents, keep_low=0.0, keep_high=1.0).collect()}
    assert len(got) == 10
    assert all(r["cell"] == (i % 2) for i, r in got.items())
    # perturbation 0 → sim exactly 1.0; largest perturbation → smallest sim
    import math
    assert got[0]["proto_sim"] == 1.0
    assert abs(got[4]["proto_sim"] - 1 / math.sqrt(2)) < 1e-12
    # middle band drops the extreme ranks per cluster: per cluster the
    # perturbations are {0, .25, .5, .75, 1.0} so pr=1.0 hits the
    # unperturbed rows (0 and 5) and pr=0.0 the max-perturbed (4 and 9)
    band = prototypicality_prune(df, cents, keep_low=0.2, keep_high=0.8)
    kept = {r["doc_id"] for r in band.collect()}
    assert kept == {1, 2, 3, 6, 7, 8}


def test_prototypicality_degenerate_rows_dropped_and_guards(spark):
    import pytest as _pt
    df = _emb_df(spark, [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, None)])
    got = prototypicality_prune(df, [[1.0, 0.0]],
                                keep_low=0.0, keep_high=1.0).collect()
    assert [r["doc_id"] for r in got] == [1]
    with _pt.raises(ValueError, match="non-empty"):
        prototypicality_prune(df, [])
    with _pt.raises(ValueError, match="band"):
        prototypicality_prune(df, [[1.0, 0.0]], keep_low=0.9, keep_high=0.1)


def test_prototypicality_plan_narrow_and_jvm(spark):
    from document_extractor_spark.plans import assert_no_python, physical_plan
    df = _emb_df(spark, [(1, [1.0, 0.0])]).withColumn(
        "text", F.lit("payload"))
    out = prototypicality_prune(df, [[1.0, 0.0], [0.0, 1.0]])
    assert_no_python(out)
    # the exchange below the window must not carry the payload column
    plan = physical_plan(out)
    exchange = plan[plan.index("Exchange"):]
    assert "text" not in exchange.split("Scan")[0]


# --- host dup stats + shingle novelty ----------------------------------------

from document_extractor_spark.operators.dedup import (host_dup_stats,
                                                      shingle_novelty)


def test_host_dup_stats_cross_host_mirrors_count(spark):
    rows = [
        (1, "a.org", "same text"), (2, "a.org", "same text"),   # in-host dup
        (3, "a.org", "unique one"),
        (4, "b.org", "Same   TEXT"),      # cross-host mirror (normalized)
        (5, "b.org", "another unique"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    got = {r["host"]: r for r in host_dup_stats(df).collect()}
    assert (got["a.org"]["n_docs"], got["a.org"]["n_dup_docs"]) == (3, 2)
    assert got["a.org"]["dup_ppm"] == 2 * 1_000_000 // 3
    assert (got["b.org"]["n_docs"], got["b.org"]["n_dup_docs"]) == (2, 1)


def test_shingle_novelty_shared_vs_unique(spark):
    shared = "w1 w2 w3 w4 w5"                       # one 5-shingle, shared
    rows = [(1, shared), (2, shared),
            (3, "u1 u2 u3 u4 u5 u6"),               # 2 shingles, both unique
            (4, None)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in shingle_novelty(df, n=5).collect()}
    assert set(got) == {1, 2, 3}                    # NULL text absent
    assert (got[1]["n_shingles"], got[1]["n_unique"],
            got[1]["novelty_ppm"]) == (1, 0, 0)
    assert (got[3]["n_shingles"], got[3]["n_unique"],
            got[3]["novelty_ppm"]) == (2, 2, 1_000_000)


def test_novelty_and_dupstats_plans_jvm_only(spark):
    from document_extractor_spark.plans import assert_no_python
    df = spark.createDataFrame([(1, "s", "t u v w x")],
                               "doc_id bigint, source string, text string")
    assert_no_python(host_dup_stats(df))
    assert_no_python(shingle_novelty(df))


# --- containment pairs ---------------------------------------------------------

from document_extractor_spark.operators.dedup import containment_pairs


def test_excerpt_contained_despite_low_jaccard(spark):
    long_doc = " ".join(f"w{i}" for i in range(200))
    excerpt = " ".join(f"w{i}" for i in range(50, 60))   # 10-token quote
    unrelated = " ".join(f"z{i}" for i in range(50))
    df = spark.createDataFrame(
        [(1, long_doc), (2, excerpt), (3, unrelated)],
        "doc_id bigint, text string")
    got = containment_pairs(df, n=3, threshold_ppm=900_000).collect()
    assert [(r["id_a"], r["id_b"]) for r in got] == [(1, 2)]
    # all 8 of the excerpt's 3-shingles occur in the long doc
    assert got[0]["n_common"] == 8
    assert got[0]["containment_ppm"] == 1_000_000


def test_containment_threshold_and_guard(spark):
    import pytest as _pt
    half = "a b c d e f x1 x2 x3 x4 x5 x6"     # half shared with other
    other = "a b c d e f y1 y2 y3 y4 y5 y6"
    df = spark.createDataFrame([(1, half), (2, other)],
                               "doc_id bigint, text string")
    got = containment_pairs(df, n=3, threshold_ppm=300_000).collect()
    assert len(got) == 1 and got[0]["n_common"] == 4   # 'a b c'..'d e f'
    assert containment_pairs(df, n=3, threshold_ppm=500_000).collect() == []
    with _pt.raises(ValueError, match="threshold_ppm"):
        containment_pairs(df, threshold_ppm=0)


def test_containment_plan_jvm_only(spark):
    from document_extractor_spark.plans import assert_no_python
    df = spark.createDataFrame([(1, "a b c d")], "doc_id bigint, text string")
    assert_no_python(containment_pairs(df))


def test_verify_pairs_editdistance(spark):
    from document_extractor_spark.operators.dedup import (
        verify_pairs_editdistance)

    rows = [
        (1, "kitten", "sitting"),      # classic: distance 3
        (2, "same text", "same text"),  # identical
        (3, "abcdefghij", "abcdefghiX"),  # 1 sub over 10 → 900000 ppm
        (4, "", ""),                   # both empty: similarity 1
        (5, "left", None),             # NULL-safe verdict
    ]
    df = spark.createDataFrame(rows, "id bigint, text_a string, text_b string")
    got = {r["id"]: r for r in verify_pairs_editdistance(df).collect()}
    assert got[1]["distance"] == 3 and not got[1]["is_dup"]
    assert got[2]["distance"] == 0 and got[2]["sim_ppm"] == 1000000
    assert got[3]["sim_ppm"] == 900000 and got[3]["is_dup"]
    assert got[4]["sim_ppm"] == 1000000 and got[4]["is_dup"]
    assert got[5]["distance"] is None and got[5]["is_dup"] is None


def test_verify_pairs_editdistance_capped(spark):
    from document_extractor_spark.operators.dedup import (
        verify_pairs_editdistance)
    import pytest

    df = spark.createDataFrame(
        [(1, "aaaaaaaaaa", "bbbbbbbbbb"),
         (2, "abcdefghijklmnopqrst", "abcdefghijklmnopqrsX")],
        "id bigint, text_a string, text_b string")
    got = {r["id"]: r for r in
           verify_pairs_editdistance(df, max_distance=3).collect()}
    # beyond the cap: distance reads cap+1, verdict stays exact (not dup)
    assert got[1]["distance"] == 4 and not got[1]["is_dup"]
    assert got[2]["distance"] == 1 and got[2]["is_dup"]
    with pytest.raises(ValueError):
        verify_pairs_editdistance(df, max_distance=-1)


# ---------------------------------------------------------------------------
# optimal_lsh_params
# ---------------------------------------------------------------------------


def test_optimal_lsh_params_scurve_midpoint_tracks_threshold():
    """The chosen (b, r)'s S-curve midpoint (1/b)^(1/r) must sit near
    the requested threshold, and full-signature use is preferred when
    it wins — the datasketch property."""
    from document_extractor_spark.operators.dedup import optimal_lsh_params

    for t in (0.5, 0.7, 0.9):
        b, r = optimal_lsh_params(t, k=128)
        assert 1 <= b * r <= 128
        midpoint = (1.0 / b) ** (1.0 / r)
        assert abs(midpoint - t) < 0.15, (t, b, r, midpoint)


def test_optimal_lsh_params_weight_shifts_tradeoff():
    """Penalizing FPs harder pushes toward MORE rows per band (a
    steeper, later curve); penalizing FNs pushes the opposite way."""
    from document_extractor_spark.operators.dedup import optimal_lsh_params

    b_fp, r_fp = optimal_lsh_params(0.7, k=64, fp_weight=0.95)
    b_fn, r_fn = optimal_lsh_params(0.7, k=64, fp_weight=0.05)
    assert r_fp >= r_fn
    # deterministic: same inputs, same answer
    assert optimal_lsh_params(0.7, k=64) == optimal_lsh_params(0.7, k=64)


def test_optimal_lsh_params_guards():
    import pytest

    from document_extractor_spark.operators.dedup import optimal_lsh_params

    with pytest.raises(ValueError, match="threshold"):
        optimal_lsh_params(1.0)
    with pytest.raises(ValueError, match="k must"):
        optimal_lsh_params(0.5, k=1)
    with pytest.raises(ValueError, match="fp_weight"):
        optimal_lsh_params(0.5, fp_weight=2.0)


# ---------------------------------------------------------------------------
# truncate_embeddings (Matryoshka)
# ---------------------------------------------------------------------------


def test_truncate_embeddings_renorm_and_nulls(spark):
    import math

    import pytest as _pytest

    from document_extractor_spark.operators.similarity import (
        truncate_embeddings)

    rows = [(1, [3.0, 4.0, 100.0, 100.0]),   # prefix-2 norm = 5
            (2, [0.0, 0.0, 9.0, 9.0]),       # zero prefix → NULL
            (3, None),
            (4, [1.0])]                       # shorter than dim
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    got = {r["vec_id"]: r["embedding"]
           for r in truncate_embeddings(df, 2).collect()}
    assert got[1] == [3.0 / 5.0, 4.0 / 5.0]
    assert abs(math.hypot(*got[1]) - 1.0) < 1e-12
    assert got[2] is None and got[3] is None
    assert got[4] == [1.0]
    # renorm=False keeps the raw slice
    raw = {r["vec_id"]: r["embedding"]
           for r in truncate_embeddings(df, 2, renorm=False).collect()}
    assert raw[1] == [3.0, 4.0] and raw[2] == [0.0, 0.0]
    with _pytest.raises(ValueError, match="dim"):
        truncate_embeddings(df, 0)


def test_truncated_prefix_feeds_topk_consistently(spark):
    """Truncated-and-renormed vectors run through the existing
    brute-force top-k: the planted nearest neighbor in prefix space
    wins regardless of what the dropped dimensions contained."""
    from document_extractor_spark.operators.similarity import (
        brute_force_topk,
        truncate_embeddings,
    )

    rows = [(1, [1.0, 0.0, 500.0, -9.0]),
            (2, [0.9, 0.1, -400.0, 3.0]),
            (3, [0.0, 1.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    t = truncate_embeddings(df, 2)
    top = brute_force_topk(t, [1.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in top] == [1, 2]


# ---------------------------------------------------------------------------
# label centroids + outlier distances
# ---------------------------------------------------------------------------


def test_label_centroids_exact_means(spark):
    from document_extractor_spark.operators.similarity import (
        label_centroids)

    rows = [(1, 0, [1.0, 2.0]), (2, 0, [3.0, 6.0]),
            (3, 1, [10.0, 0.0]), (4, None, [9.0, 9.0]),
            (5, 1, None)]
    df = spark.createDataFrame(
        rows, "vec_id int, label int, embedding array<float>")
    got = {r["label"]: r for r in label_centroids(df).collect()}
    assert set(got) == {0, 1}
    assert got[0]["centroid"] == [2.0, 4.0] and got[0]["n_vecs"] == 2
    assert got[1]["centroid"] == [10.0, 0.0] and got[1]["n_vecs"] == 1


def test_centroid_distances_hand_computed(spark):
    import math

    from document_extractor_spark.operators.similarity import (
        centroid_distances)

    rows = [(1, 0, [1.0, 2.0]), (2, 0, [3.0, 6.0])]
    df = spark.createDataFrame(
        rows, "vec_id int, label int, embedding array<float>")
    got = {r["vec_id"]: r["dist"] for r in centroid_distances(df).collect()}
    # centroid (2, 4); both points at distance sqrt(1+4)
    want = round(math.sqrt(
        (round(1.0 * 1e9) + round(4.0 * 1e9)) / 1e9), 6)
    assert got[1] == want and got[2] == want


def test_centroid_distance_flags_outlier(spark):
    from document_extractor_spark.operators.similarity import (
        centroid_distances)

    rows = [(i, 0, [1.0, 1.0]) for i in range(9)] + [(9, 0, [50.0, -50.0])]
    df = spark.createDataFrame(
        rows, "vec_id int, label int, embedding array<float>")
    got = sorted(centroid_distances(df).collect(),
                 key=lambda r: -r["dist"])
    assert got[0]["vec_id"] == 9
    # the outlier drags the centroid toward itself; it still sits ~9x
    # farther out than any inlier
    assert got[0]["dist"] > 5 * got[1]["dist"]


def test_sq8_roundtrip_codes_and_clamp(spark):
    """Known affine: dim0 spans [0, 10] → code = floor(x*25.5 + 0.5);
    a degenerate dim (constant) encodes 0 everywhere; codes live in
    [0, 255]."""
    from document_extractor_spark.operators.similarity import (
        sq8_encode,
        sq8_train,
    )

    rows = [(0, [0.0, 7.0]), (1, [10.0, 7.0]), (2, [4.0, 7.0]), (3, None)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    mins, maxs = sq8_train(df, dim=2)
    assert mins == [0.0, 7.0] and maxs == [10.0, 7.0]
    got = {r["vec_id"]: r["sq8_code"]
           for r in sq8_encode(df, mins, maxs).collect()}
    assert got[0] == [0, 0]
    assert got[1] == [255, 0]
    assert got[2] == [int(4.0 * 25.5 + 0.5), 0]  # 102
    assert got[3] is None


def test_sq8_topk_ranks_like_bruteforce_on_separated_vectors(spark):
    """With well-separated directions, 8-bit dequantization preserves
    the exact ranking (and the degenerate dim drops out of scoring)."""
    from document_extractor_spark.operators.similarity import (
        brute_force_topk,
        sq8_encode,
        sq8_topk,
        sq8_train,
    )

    rows = [(0, [1.0, 0.0, 5.0]),    # query direction
            (1, [0.9, 0.1, 5.0]),
            (2, [0.1, 0.9, 5.0]),
            (3, [-1.0, 0.2, 5.0]),
            (4, None)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    q = [1.0, 0.0, 5.0]
    mins, maxs = sq8_train(df, dim=3)
    enc = sq8_encode(df, mins, maxs)
    got = [r["vec_id"] for r in sq8_topk(enc, mins, maxs, q, k=3).collect()]
    want = [r["vec_id"]
            for r in brute_force_topk(df.where("embedding IS NOT NULL"),
                                      q, k=3).collect()]
    assert got == want == [0, 1, 2]


def test_sq8_train_raises_on_all_null(spark):
    import pytest as _pytest

    from document_extractor_spark.operators.similarity import sq8_train

    df = spark.createDataFrame([(1, None)],
                               "vec_id int, embedding array<float>")
    with _pytest.raises(ValueError, match="no non-null"):
        sq8_train(df, dim=2)
