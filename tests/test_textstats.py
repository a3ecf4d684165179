import pytest




def test_doc_top_terms_ranking(spark):
    """tf desc, then rarer term (df asc), then term asc; k bounds."""
    from document_extractor_spark.operators.textstats import doc_top_terms

    df = spark.createDataFrame(
        [(1, "apple apple banana cherry"),
         (2, "banana banana cherry cherry date"),
         (3, "Apple APPLE zebra")],   # case folds before counting
        "doc_id bigint, text string")
    rows = doc_top_terms(df, k=2).collect()
    got = {(r["doc_id"], r["rank"]): (r["term"], r["tf"], r["df"])
           for r in rows}
    # doc 1: apple tf=2 wins; banana vs cherry tie tf=1 → df tie (both
    # in docs 1,2) → 'banana' < 'cherry'
    assert got[(1, 1)] == ("apple", 2, 2)
    assert got[(1, 2)] == ("banana", 1, 2)
    # doc 2: banana/cherry tie tf=2, same df → lexicographic
    assert got[(2, 1)] == ("banana", 2, 2)
    assert got[(2, 2)] == ("cherry", 2, 2)
    # doc 3: apple tf=2 (case folded); zebra df=1 rarer but tf=1 loses
    assert got[(3, 1)] == ("apple", 2, 2)
    assert got[(3, 2)] == ("zebra", 1, 1)
    assert len(rows) == 6


# --- script profile ---------------------------------------------------------

from document_extractor_spark.operators.textstats import (SCRIPTS,
                                                          script_profile)


def _sp(spark, rows):
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    return {r["doc_id"]: r for r in script_profile(df).collect()}


def test_script_profile_counts_and_dominant(spark):
    got = _sp(spark, [
        (1, "привет мир abc"),        # 9 cyrillic > 3 latin
        (2, "hello мир"),             # 5 latin > 3 cyrillic
        (3, "中文中文中 ab"),          # 5 han > 2 latin
        (4, "12345 ... !!"),          # no profiled letters
        (5, None),
        (6, "αβγ한한ひカद"),           # greek 3 > hangul 2 > 1+1+1
    ])
    assert (got[1]["dominant_script"], got[1]["script_chars"],
            got[1]["letter_chars"]) == ("cyrillic", 9, 12)
    assert got[1]["dominant_ppm"] == 9 * 1_000_000 // 12
    assert got[2]["dominant_script"] == "latin"
    assert got[3]["dominant_script"] == "han"
    assert got[4]["dominant_script"] is None
    assert (got[4]["script_chars"], got[4]["letter_chars"],
            got[4]["dominant_ppm"]) == (0, 0, 0)
    assert got[5]["dominant_script"] is None
    assert got[6]["dominant_script"] == "greek"
    assert got[6]["letter_chars"] == 8


def test_script_profile_tie_breaks_name_asc(spark):
    # 2 cyrillic vs 2 latin: 'cyrillic' < 'latin' wins the tie
    got = _sp(spark, [(1, "ab дд")])
    assert got[1]["dominant_script"] == "cyrillic"
    assert got[1]["script_chars"] == 2


def test_script_profile_plan_is_jvm_only(spark):
    from document_extractor_spark.plans import assert_no_python
    df = spark.createDataFrame([(1, "x")], "doc_id bigint, text string")
    assert_no_python(script_profile(df))
    assert len(SCRIPTS) == 9


# --- title/content overlap ---------------------------------------------------

from document_extractor_spark.operators.textstats import (
    title_content_overlap)


def test_title_overlap_cases(spark):
    rows = [
        (1, "Big News Today", "today the big news broke"),   # full overlap
        (2, "Weird Trick Doctors Hate", "an article about gardening"),
        (3, None, "some body"),                              # no title
        (4, "", "some body"),                                # empty title
        (5, "Hello hello WORLD", "hello planet"),            # dedup + case
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, title string, text string")
    got = {r["doc_id"]: r for r in title_content_overlap(df).collect()}
    assert (got[1]["n_title_tokens"], got[1]["n_overlap"],
            got[1]["overlap_ppm"]) == (3, 3, 1_000_000)
    assert got[2]["overlap_ppm"] == 0                        # disjoint ≠ NULL
    assert got[3]["overlap_ppm"] is None
    assert got[4]["overlap_ppm"] is None
    assert (got[5]["n_title_tokens"], got[5]["n_overlap"]) == (2, 1)
    assert got[5]["overlap_ppm"] == 500_000


def test_title_overlap_plan_no_shuffle(spark):
    from document_extractor_spark.plans import assert_no_python, physical_plan
    df = spark.createDataFrame([(1, "t", "b")],
                               "doc_id bigint, title string, text string")
    out = title_content_overlap(df)
    assert_no_python(out)
    assert "Exchange" not in physical_plan(out)


def test_char_entropy_closed_forms(spark):
    import math

    from document_extractor_spark.operators.textstats import char_entropy

    df = spark.createDataFrame(
        [
            (1, "aaaa"),          # degenerate: H = 0
            (2, "abab"),          # uniform over 2: H = ln 2
            (3, "abcd"),          # uniform over 4: H = ln 4
            (4, ""),              # no distribution → no row
            (5, None),            # NULL → no row
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in char_entropy(df).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["entropy_micro"] == 0
    assert got[1]["n_distinct_chars"] == 1 and got[1]["n_chars"] == 4
    assert got[2]["entropy_micro"] == round(math.log(2) * 1e6)
    assert got[3]["entropy_micro"] == round(math.log(4) * 1e6)


def test_char_entropy_cap_and_ordering_signal(spark):
    import pytest

    from document_extractor_spark.operators.textstats import char_entropy

    prose = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, prose), (2, "zzzzzzzzzzzzzzzzzzzzzz" * 3),
         (3, "qwe8 zx0v 1m,p 9jk2 47tu b5ry")],
        "doc_id bigint, text string")
    got = {r["doc_id"]: r["entropy_micro"]
           for r in char_entropy(df).collect()}
    # padding << prose < near-uniform mash: the two-sided signal
    assert got[2] < got[1] < got[3]
    capped = char_entropy(df, max_chars=10)
    assert all(r["n_chars"] == 10 for r in capped.collect())
    with pytest.raises(ValueError):
        char_entropy(df, max_chars=0)


def test_zipf_diagnostics_exact_zipf_corpus(spark):
    import math

    from document_extractor_spark.operators.textstats import zipf_diagnostics

    # plant an exact Zipf-1 rank-frequency table: freq(r) = 120 / r
    # for ranks 1..8 → slope of ln f on ln r is exactly -1
    words = []
    for r in range(1, 9):
        words += [f"w{r:02d}"] * (120 // r)
    df = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id bigint, text string")
    row = zipf_diagnostics(df).collect()[0]
    assert row["n_types"] == 8
    assert row["n_tokens"] == sum(120 // r for r in range(1, 9))
    # 120/r is integer-truncated, so the fit is near -1, not exactly
    assert abs(row["zipf_slope_milli"] + 1000) <= 60
    # closed-form replica of the fixed-point pipeline
    pts = []
    freqs = sorted((120 // r for r in range(1, 9)), reverse=True)
    for i, f_ in enumerate(freqs, 1):
        pts.append((round(math.log(i) * 1000), round(math.log(f_) * 1000)))
    k = len(pts)
    sx = sum(x for x, _ in pts); sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts); sxx = sum(x * x for x, _ in pts)
    exp = round((k * sxy - sx * sy) / (k * sxx - sx * sx) * 1000)
    assert row["zipf_slope_milli"] == exp


def test_zipf_degenerate_single_type(spark):
    from document_extractor_spark.operators.textstats import zipf_diagnostics

    df = spark.createDataFrame(
        [(1, "only only only")], "doc_id bigint, text string")
    row = zipf_diagnostics(df).collect()[0]
    # one point: denominator 0 → slope sentinel 0
    assert row["n_types"] == 1 and row["zipf_slope_milli"] == 0


def test_vocab_coverage_closed_form(spark):
    from document_extractor_spark.operators.textstats import vocab_coverage

    # 10 'a', 2 'b', 1 'c', 1 'd' → N=14, types=4, N1=2, N2=1
    df = spark.createDataFrame(
        [(1, " ".join(["a"] * 10 + ["b", "b", "c", "d"]))],
        "doc_id bigint, text string")
    r = vocab_coverage(df, top_k=2).collect()[0]
    assert (r["n_tokens"], r["n_types"]) == (14, 4)
    assert (r["n_singletons"], r["n_doubletons"]) == (2, 1)
    assert r["unseen_mass_ppm"] == (2 * 1000000) // 14
    assert r["topk_coverage_ppm"] == (12 * 1000000) // 14


def test_token_kl_divergence(spark):
    import math

    from document_extractor_spark.operators.textstats import (
        token_kl_divergence)

    df = spark.createDataFrame(
        [(1, "a", "x x x y"), (2, "b", "x y y y"),
         (3, "c", "irrelevant group")],
        "doc_id bigint, source string, text string")
    row = token_kl_divergence(df, "source", base_group="a",
                              target_group="b").collect()[0]
    assert row["n_types"] == 2
    assert row["n_base_tokens"] == 4 and row["n_target_tokens"] == 4
    # closed form with add-1 smoothing over union vocab (V=2):
    kl = 0.0
    for ca, cb in ((3, 1), (1, 3)):  # x, y
        p = (cb + 1) / 6.0
        q = (ca + 1) / 6.0
        kl += round(p * math.log(p / q) * 1e12)
    assert row["kl_micro"] == max(kl, 0) // 1000000
    # identical slices → zero divergence
    same = token_kl_divergence(df, "source", base_group="a",
                               target_group="a").collect()[0]
    assert same["kl_micro"] == 0


def test_pmi_collocations_closed_form(spark):
    import math

    from document_extractor_spark.operators.textstats import (
        pmi_collocations)

    # "new york" always adjacent; "the", "cat" frequent but independent
    text = " ".join(["new york"] * 6 + ["the cat"] * 6
                    + ["the dog sat"] * 6)
    df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    got = {r["bigram"]: r for r in
           pmi_collocations(df, min_count=5, top_k=10).collect()}
    assert "new york" in got
    # closed form for 'new york': cx=cy=6, cxy=6
    toks = text.split()
    n = len(toks)
    nb = n - 1
    exp = round(math.log((6 / nb) / ((6 / n) * (6 / n))) * 1000)
    assert got["new york"]["pmi_milli"] == exp
    # a collocation outranks an independent co-occurrence
    if "the cat" in got:
        assert got["new york"]["pmi_milli"] > got["the cat"]["pmi_milli"]
    # min_count suppresses rare pairs: nothing below 5
    assert all(r["n_xy"] >= 5 for r in got.values())


# ---------------------------------------------------------------------------
# compression_ratio
# ---------------------------------------------------------------------------


def test_compression_ratio_exact_sizes_and_ppm(spark):
    import zlib

    from document_extractor_spark.operators.textstats import (
        compression_ratio)

    texts = {1: "ab" * 500, 2: "the quick brown fox jumps over it",
             3: "", 4: None}
    df = spark.createDataFrame(
        list(texts.items()), "doc_id int, text string")
    got = {r["doc_id"]: r for r in compression_ratio(df).collect()}
    for i in (1, 2):
        raw = texts[i].encode()
        assert got[i]["n_bytes"] == len(raw)
        assert got[i]["n_compressed"] == len(zlib.compress(raw, 6))
        assert got[i]["ratio_ppm"] == \
            len(zlib.compress(raw, 6)) * 1000000 // len(raw)
    # template text compresses an order of magnitude below prose
    assert got[1]["ratio_ppm"] < 100000 < got[2]["ratio_ppm"]
    assert got[3]["ratio_ppm"] is None and got[4]["ratio_ppm"] is None


def test_compression_ratio_separates_template_from_random(spark):
    import hashlib

    from document_extractor_spark.operators.textstats import (
        compression_ratio)

    rand = " ".join(hashlib.md5(str(i).encode()).hexdigest()
                    for i in range(64))
    df = spark.createDataFrame(
        [(1, "boilerplate row " * 200), (2, rand)],
        "doc_id int, text string")
    got = {r["doc_id"]: r["ratio_ppm"]
           for r in compression_ratio(df).collect()}
    assert got[1] < 150000
    assert got[2] > 500000


# ---------------------------------------------------------------------------
# Python string kernels over strings cast from invalid UTF-8
# ---------------------------------------------------------------------------


_ENGLISH = b"the cat is on the mat and it is warm"
# valid, lone lead byte, stray byte, bad continuation, surrogate, valid
# text around one stray byte, decomposed é before a lone lead, NULL
_RAW_UTF8 = {1: _ENGLISH, 2: b"\xe2", 3: b"\xff", 4: b"\xc3\x28",
             5: b"\xed\xa0\x80", 6: _ENGLISH + b" \xff\n\nder hund ist"
             b" nicht mit der katze und", 7: b"e\xcc\x81 \xe2", 8: None}


def _hostile_text(spark):
    """``(doc_id, text)``: ``_RAW_UTF8`` cast to string, one partition."""
    from pyspark.sql import functions as F

    return (spark.createDataFrame(list(_RAW_UTF8.items()),
                                  "doc_id bigint, b binary")
            .coalesce(1)
            .select("doc_id", F.col("b").cast("string").alias("text")))


def test_string_udfs_total_on_invalid_utf8(spark):
    """Valid, invalid-UTF-8 and NULL rows in one partition: no task
    fails. The language and NFC kernels see ``make_valid_utf8``'s
    repair, ``compression_ratio`` counts the row's own bytes."""
    import zlib

    from document_extractor_spark.operators.langseg import segment_languages
    from document_extractor_spark.operators.textnorm import normalize_text
    from document_extractor_spark.operators.textstats import (
        compression_ratio, detect_languages)

    english, raw = _ENGLISH, _RAW_UTF8
    df = _hostile_text(spark)

    langs = {r["doc_id"]: r["lang_pred"]
             for r in detect_languages(df).collect()}
    assert langs == {1: "en", 2: "und", 3: "und", 4: "und", 5: "und",
                     6: "en", 7: "und", 8: "und"}

    segs = {r["doc_id"]: r for r in segment_languages(df).collect()}
    assert sorted(segs) == [1, 2, 3, 4, 5, 6, 7]
    assert (segs[6]["n_paras"], segs[6]["is_mixed"]) == (2, True)
    assert segs[1]["main_lang"] == "en"

    norm = {r["doc_id"]: r["text"] for r in normalize_text(df).collect()}
    assert norm[1] == english.decode() and norm[8] is None
    assert norm[7] == "\xe9 �"
    assert all("�" in norm[i] for i in (2, 3, 4, 5, 6))

    sizes = {r["doc_id"]: r for r in compression_ratio(df).collect()}
    for i, b in raw.items():
        want = (None, None) if b is None else (len(b),
                                               len(zlib.compress(b, 6)))
        assert (sizes[i]["n_bytes"], sizes[i]["n_compressed"]) == want


_PAGE = (b"<html><body><h1>Field notes</h1><p>" + b"The river rose over"
         b" the low fields this spring, and the farmers moved their herds"
         b" to the hills before the water reached the barns. " * 3
         + b"</p></body></html>")


def _pages_bad_url(df):
    from pyspark.sql import functions as F

    return df.select(F.col("text").alias("url"), F.lit(_PAGE).alias("html"))


def _extract_bad_url(df):
    from document_extractor_spark.operators.extract import extract_pages

    return extract_pages(_pages_bad_url(df))


def _extract_bad_lang(df):
    from pyspark.sql import functions as F

    from document_extractor_spark.operators.extract import extract_pages

    return extract_pages(df.select(
        F.concat(F.lit("http://h"), F.col("doc_id"),
                 F.lit(".example/")).alias("url"),
        F.lit(_PAGE).alias("html"), F.col("text").alias("lang")))


def _block_profile(df):
    from document_extractor_spark.operators.blocks import block_profile

    return block_profile(_pages_bad_url(df))


def _pdf_metadata_probe(df):
    from document_extractor_spark.operators.media import pdf_metadata_probe

    return pdf_metadata_probe(_pages_bad_url(df))


def _probe_media(df):
    from pyspark.sql import functions as F

    from document_extractor_spark.operators.multimodal import probe_media

    return probe_media(df.select(F.col("text").alias("url"),
                                 F.col("text").cast("binary")
                                 .alias("payload")))


def _merge_continuations(df):
    from pyspark.sql import functions as F

    from document_extractor_spark.operators.multipage import (
        merge_continuations)

    item = [F.col("doc_id").alias("article_id"), F.lit("paragraph")
            .alias("type"), F.lit(None).cast("string").alias("html"),
            F.lit(0).alias("row_count"), F.lit(0).alias("column_count")]
    first = df.select(*item, F.lit(1).alias("page_num"),
                      F.lit(0).alias("order"),
                      F.lit("An article starts and").alias("content"))
    second = df.select(*item, F.lit(2).alias("page_num"),
                       F.lit(0).alias("order"), F.col("text")
                       .alias("content"))
    return merge_continuations(first.unionByName(second), partitions=1)


def _bitext_align(df):
    from pyspark.sql import functions as F

    from document_extractor_spark.operators.bitext import gale_church_align

    return gale_church_align(df.select(
        F.col("text").alias("pair_id"),
        F.split("text", " ").alias("src_sents"),
        F.split("text", " ").alias("tgt_sents")))


def _kmv_distinct(df):
    from document_extractor_spark.operators.sketch import kmv_distinct

    return kmv_distinct(df, "text", "doc_id")


# boundary → (operator over the hostile frame, rows it returns, whether
# the NULL text is the key of one of them)
_BOUNDARIES = {
    "extract_pages_url": (_extract_bad_url, 8, True),
    "extract_pages_lang": (_extract_bad_lang, 8, False),
    "block_profile": (_block_profile, 16, True),
    "pdf_metadata_probe": (_pdf_metadata_probe, 8, True),
    "probe_media": (_probe_media, 8, True),
    "merge_continuations": (_merge_continuations, 13, False),
    "gale_church_align": (_bitext_align, 34, False),
    "kmv_distinct": (_kmv_distinct, 7, True),
}


@pytest.mark.parametrize("boundary", sorted(_BOUNDARIES))
def test_python_boundaries_total_on_invalid_utf8(spark, boundary):
    """Every Python boundary whose input holds a string, over the same
    valid, invalid-UTF-8 and NULL rows in one partition: no task fails,
    a NULL key comes back as its own row, and the valid row's output is
    what the operator gives on that row alone."""
    op, n_rows, null_key = _BOUNDARIES[boundary]
    df = _hostile_text(spark)
    got = [tuple(r) for r in op(df).collect()]
    alone = [tuple(r) for r in op(df.where("doc_id = 1")).collect()]
    assert alone and all(r in got for r in alone)
    assert len(got) == n_rows
    assert (None in {r[0] for r in got}) == null_key


def test_bloom_and_heavy_hitters_total_on_invalid_utf8(spark):
    """The Bloom probe and the frequent-token count over the same rows:
    the Bloom result equals the exact anti-join's, and the frequent
    tokens equal the exact token counts."""
    from document_extractor_spark.functions.text import (exploded_tokens,
                                                         fingerprint)
    from document_extractor_spark.operators.bloom import (
        drop_known_duplicates_bloom)
    from document_extractor_spark.operators.dedup import (
        drop_known_duplicates)
    from document_extractor_spark.operators.heavyhitters import (
        frequent_tokens)

    df = _hostile_text(spark)
    known = spark.createDataFrame([(_ENGLISH.decode(),)], "text string") \
        .select(fingerprint("text").alias("fingerprint"))
    bloom = sorted(map(tuple, drop_known_duplicates_bloom(df, known)
                       .collect()), key=str)
    exact = sorted(map(tuple, drop_known_duplicates(df, known).collect()),
                   key=str)
    assert bloom == exact and 1 not in {r[0] for r in bloom}

    got = {(r["token"], r["cnt"]) for r in
           frequent_tokens(df, min_freq_ppm=1).collect()}
    toks = exploded_tokens(df, "doc_id", "text")
    want = {(r["tok"], r["count"])
            for r in toks.groupBy("tok").count().collect()}
    assert got == want and ("the", 4) in got
