"""Training-data curation operators — decontamination, PII redaction,
deterministic source-weighted sampling (SURVEY.md §2.10 beyond-reference
mandate: the operations a large-scale training-data pipeline needs that
the reference, a per-document extractor, never had).

All three are pure Catalyst (no Python in any plan) and scale-shaped:

- ``decontaminate``: the benchmark side is the SMALL side — its distinct
  n-grams broadcast; the corpus side is a narrow explode (no corpus
  shuffle). The only shuffles touch gram/id projections, never payloads.
- ``redact_pii``: a narrow map — chained ``regexp_replace`` stages.
- ``sample_mix``: a narrow filter on an md5-derived hash bucket —
  deterministic across runs, engines, and partitionings (no RNG state,
  no sampleBy seed coupling to partition layout).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import hex_int, md5_of, shingles_df, token_count

# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap, GPT-3/PaLM-style 13-gram rule)
# ---------------------------------------------------------------------------


# GPT-3-style normalization before gram matching (Brown et al. 2020,
# Appendix C): lowercase AND discard punctuation — a benchmark sentence
# differing only by punctuation must still match. Stays in the Java∩RE2
# subset so the DuckDB oracle runs the identical pattern.
DECONTAM_NORM_PATTERN = r"[^\p{L}\p{N}\s]+"


def _decontam_norm(c) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return F.regexp_replace(F.lower(col), DECONTAM_NORM_PATTERN, "")


def contaminated_ids(docs: DataFrame, benchmark: DataFrame, n: int = 13,
                     id_col: str = "doc_id", text_col: str = "text",
                     bench_text_col: str = "text") -> DataFrame:
    """Ids of documents sharing ANY normalized n-word gram with the
    benchmark corpus (the standard 13-gram decontamination rule;
    normalization = lowercase + strip punctuation, GPT-3 Appendix C).

    Plan: benchmark grams → distinct (small side, broadcast); corpus
    grams → narrow ``explode`` per doc; inner join on the gram; distinct
    ids. The corpus is never shuffled on text — only (id, gram)
    projections move, and the benchmark side rides the broadcast."""
    # explode_outer + null-filter, NOT explode: explode's implicit
    # size(col)>0 filter pushes BELOW the staged shingle projection with
    # the whole expression inlined, re-evaluating the token split per
    # gram (the winnowing trap — measured minutes on a 100k-token doc).
    # The filter on the GENERATED attribute cannot push down.
    bg = (
        shingles_df(benchmark, _decontam_norm(bench_text_col), n)
        .select(F.explode_outer("sh").alias("g"))
        .filter(F.col("g").isNotNull()).distinct()
    )
    dg = (
        shingles_df(docs, _decontam_norm(text_col), n)
        .select(F.col(id_col), F.explode_outer("sh").alias("g"))
        .filter(F.col("g").isNotNull())
    )
    return dg.join(F.broadcast(bg), "g").select(id_col).distinct()


def decontaminate(docs: DataFrame, benchmark: DataFrame, n: int = 13,
                  id_col: str = "doc_id", text_col: str = "text",
                  bench_text_col: str = "text") -> DataFrame:
    """Drop every document that shares an n-gram with the benchmark —
    anti-join of the corpus against ``contaminated_ids``.

    The id set is NOT hint-broadcast: unlike the benchmark grams (bounded
    by the benchmark corpus), the contaminated-id side is unbounded — a
    heavily contaminated 100-TB corpus can yield billions of ids, and a
    forced broadcast would OOM the driver. AQE picks broadcast at runtime
    whenever the measured size actually fits."""
    bad = contaminated_ids(docs, benchmark, n, id_col, text_col,
                           bench_text_col)
    return docs.join(bad, id_col, "left_anti")


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# (name, RE2-compatible pattern, replacement). ORDER MATTERS and is part
# of the contract: SSN before phone (an SSN is also a phone-shaped digit
# run), IP before phone (dotted quads are phone-shaped too). Patterns
# stay in the Java∩RE2 regex subset (no lookahead, no backrefs, ASCII
# \d/\s/\b) so the DuckDB oracle runs the IDENTICAL strings.
#
# Every quantifier is BOUNDED (RFC 5321 limits: local part ≤64, domain
# ≤255; phones ≤32 chars). Unbounded +/{7,} make Java's backtracking
# matcher O(n²) on a hostile megabyte digit run (each start position
# consumes the rest of the string before failing) — a single-task
# CPU-wedge straggler. Bounded quantifiers cap per-position work at a
# constant, keeping the scan linear in BOTH engines (RE2 is linear
# either way — the bound protects the Java side).
PII_RULES = [
    ("email",
     r"[A-Za-z0-9._%+-]{1,64}@[A-Za-z0-9.-]{1,251}\.[A-Za-z]{2,24}",
     "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("ip", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    # Two phone shapes, both requiring phone-LIKE structure — a bare
    # permissive [\d\s.-]{7,} class would also consume ordinary numeric
    # content ('scores 10 20 30 40', 'pi 3.14159 2.71828', year lists),
    # deleting legitimate training text. (1) international: an explicit
    # leading '+' licenses loose separators; (2) NANP-style: 3-3-4 digit
    # groups with at most one separator between groups (a year list or
    # decimal constant never parses as consecutive 3-3-4 runs). The NANP
    # branch needs a LEADING anchor, not just the trailing \b: with only
    # `\(?\d{3}...` the engine slides INTO long digit runs and redacts
    # their last 10 digits (ISBN 9780306406157 → 978<PHONE>, order ids,
    # epoch-millis timestamps). `(?:\(\d{3}\)|\b\d{3})` fixes it in the
    # Java∩RE2 subset: inside a pure digit run no position satisfies \b,
    # and a 10-digit span inside a longer run also fails the TRAILING
    # \b — so ≥11-digit runs never match, while 555-867-5309 and
    # (415) 555-2671 still do.
    ("phone",
     r"\+\d[\d\s().-]{7,30}\d"
     r"|(?:\(\d{3}\)|\b\d{3})[\s.-]?\d{3}[\s.-]?\d{4}\b",
     "<PHONE>"),
]


def redact_pii(df: DataFrame, text_col: str = "text",
               out_col: str = "redacted") -> DataFrame:
    """Chained PII redaction with per-rule match counts.

    Counts are defined ON THE STAGED TEXT (rule k counts matches after
    rules 1..k-1 replaced) — so an SSN counts once as an SSN, not again
    as a phone. Pure ``regexp_replace``/``regexp_extract_all`` chain: a
    narrow, shuffle-free map the oracle replicates verbatim."""
    staged: Column = F.col(text_col)
    counts = {}
    for name, pat, rep in PII_RULES:
        counts[f"n_{name}"] = F.size(
            F.regexp_extract_all(staged, F.lit(pat), F.lit(0)))
        staged = F.regexp_replace(staged, pat, rep)
    out = df.withColumn(out_col, staged)
    for cname, expr in counts.items():
        out = out.withColumn(cname, expr)
    return out


# ---------------------------------------------------------------------------
# Deterministic source-weighted sampling (data-mix construction)
# ---------------------------------------------------------------------------


def mix_threshold_hex(weight: float) -> str:
    """First-8-hex-chars md5 threshold for a keep fraction. Hex strings
    of equal length compare lexicographically as numbers, so the filter
    is a plain string comparison — identical in Spark and DuckDB
    (md5 hex output matches engine-for-engine). weight ≥ 1 → 'g', which
    every hex string sorts below (keep all)."""
    if weight >= 1.0:
        return "g"
    return format(max(int(weight * 16**8), 0), "08x")


def sample_mix(docs: DataFrame, weights: dict, key_col: str = "doc_id",
               source_col: str = "source", seed: str = "mix1") -> DataFrame:
    """Source-weighted deterministic subsample: keep a row iff the first
    8 hex chars of ``md5(seed || key)`` fall below its source's
    threshold. Sources absent from ``weights`` are dropped (weight 0).

    Unlike ``df.sampleBy``, the decision is a pure function of
    (seed, key) — stable under repartitioning, retries, and engine
    (the DuckDB oracle evaluates the same md5 comparison), which is what
    a reproducible training-data mix requires. Narrow filter; no
    shuffle."""
    h = F.substring(md5_of(seed, F.col(key_col)), 1, 8)
    cond = F.lit(False)
    for src, w in weights.items():
        cond = cond | (
            (F.col(source_col) == src) & (h < F.lit(mix_threshold_hex(w))))
    return docs.filter(cond)


def sample_mix_table(docs: DataFrame, weights: DataFrame,
                     key_col: str = "doc_id", source_col: str = "source",
                     weight_col: str = "weight",
                     seed: str = "mix1") -> DataFrame:
    """``sample_mix`` for LARGE source cardinality: weights arrive as a
    (source, weight) DataFrame instead of a Python dict, join broadcast,
    and the same md5-bucket threshold decides per row. The dict variant
    compiles one CASE branch per source — fine for tens of sources,
    plan-bloat for thousands; this shape is constant-size regardless.
    Sources absent from the weights table are dropped (inner join =
    weight 0), matching the dict variant's contract."""
    # greatest(…, 0): a negative weight must clamp to keep-nothing like
    # mix_threshold_hex's max(int(…), 0) — unclamped, floor of a
    # negative goes through conv's 64-bit unsigned wrap and lpad
    # truncation to 'ffffffff', silently keeping ~everything
    thr = F.when(F.col(weight_col) >= 1.0, F.lit("g")).otherwise(
        F.lpad(F.conv(
            F.greatest(
                F.floor(F.col(weight_col) * F.lit(float(16**8))),
                F.lit(0)).cast("string"),
            10, 16), 8, "0"))
    w = weights.select(F.col(source_col).alias("_mix_src"),
                       F.lower(thr).alias("_mix_thr"))
    h = F.substring(md5_of(seed, F.col(key_col)), 1, 8)
    return (
        docs.join(F.broadcast(w), docs[source_col] == F.col("_mix_src"))
        .filter(h < F.col("_mix_thr"))
        .drop("_mix_src", "_mix_thr")
    )


def weighted_sample(docs: DataFrame, k: int, weight_col: str,
                    key_col: str = "doc_id",
                    seed: str = "es1") -> DataFrame:
    """Exactly-``k`` weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006): each row gets the key ``ln(u)/w`` for a
    deterministic per-row uniform ``u`` and weight ``w``; the k largest
    keys are the sample, and the inclusion distribution is exactly
    successive weight-proportional draws. This is the length-/quality-
    proportional subsample a mix builder wants when ``sample_mix``'s
    per-source fractions are too coarse (e.g. "100k documents, longer
    ones proportionally more likely").

    Determinism & cross-engine: ``u = (conv(md5 prefix) + 1) / 2^60``
    is a pure (seed, key) function; int64→double conversion and
    division are IEEE-exact in both engines, ``ln`` is ≤1-ulp in both
    — an ordering flip would need two keys within ~1e-15 relative,
    impossible in practice and in any case FIXED for a given dataset
    (ties beyond that break on key ASC). Stable under repartitioning
    and retries, unlike ``df.sample``.

    Scale shape: the ordering runs on a NARROW (key, weight) projection
    — Spark compiles ``orderBy().limit(k)`` to TakeOrderedAndProject
    (per-partition top-k, merge on driver; no global sort, no full
    shuffle) — and the k winners broadcast-semi-join back, so payloads
    never move. Rows with NULL or non-positive weight can never be
    drawn (P=0 mass), mirroring ``sample_mix_table``'s clamp.
    """
    if k <= 0:
        raise ValueError(f"k must be positive: {k}")
    clash = {"_es_key", "_es_w", "_es_o"} & set(docs.columns)
    if clash:
        raise ValueError(f"input columns clash with synthesized names: "
                         f"{sorted(clash)}")
    narrow = (
        docs.select(F.col(key_col).alias("_es_key"),
                    F.col(weight_col).cast("double").alias("_es_w"))
        .where(F.col("_es_w") > 0)
    )
    u = ((hex_int(md5_of(seed, F.col("_es_key")), 15) + F.lit(1))
         .cast("double") / F.lit(float(2 ** 60)))
    picked = (
        narrow.withColumn("_es_o", F.log(u) / F.col("_es_w"))
        .orderBy(F.col("_es_o").desc(), F.col("_es_key").asc())
        .limit(k)
        .select("_es_key")
    )
    return docs.join(
        F.broadcast(picked),
        docs[key_col] == F.col("_es_key"), "left_semi")


# ---------------------------------------------------------------------------
# URL triage (RefinedWeb/CCNet-style pre-fetch filtering)
# ---------------------------------------------------------------------------


# Payload extensions that mark a non-HTML fetch (media/binary/asset):
# the curation pipelines drop these before any text processing. Kept
# in the Java∩RE2 regex subset; query strings after the path are
# tolerated. Anchored to the PATH component, not the full URL.
URL_BINARY_EXT_PATTERN = (
    r"(?i)\.(?:jpe?g|png|gif|webp|svg|ico|css|js|woff2?|ttf|pdf|zip|gz|"
    r"tar|rar|7z|exe|dmg|iso|mp3|mp4|m4a|avi|mov|wmv|flv|webm)$"
)


# Public-suffix entries are at most this many labels deep (the real PSL
# tops out at 5, e.g. a long .jp geo suffix); bounding the candidate
# fan-out keeps the per-host explode O(1).
_PSL_MAX_SUFFIX_LABELS = 5


def _registered_domains(hosts: DataFrame, suffixes: DataFrame) -> DataFrame:
    """(host) → (host, _psl_domain) longest-public-suffix-plus-one map.

    Runs at host cardinality: the input is deduped first, each distinct
    host fans out to at most :data:`_PSL_MAX_SUFFIX_LABELS` trailing
    label-suffix candidates, the candidates broadcast-join the suffix
    table (a curated PSL fixture — ~1e4 rows, genuinely bounded), and
    ``max_by`` keeps the longest match. A host equal to a suffix
    (``co.uk`` itself) or with no label above the match yields NULL —
    the caller's fallback rule decides.
    """
    col0 = suffixes.columns[0]
    sfx = suffixes.select(F.lower(F.col(col0)).alias("_sfx")).distinct()
    hosts = hosts.where(F.col("host").isNotNull()).distinct()
    # Stage every array expression before the explode (HOF/explode
    # pushdown trap — see repo rule): _labels, then the candidate
    # (suffix, domain) structs, then explode_outer + isNotNull on the
    # GENERATED attribute.
    staged = (
        hosts
        .withColumn("_labels", F.split(F.col("host"), r"\."))
        .withColumn("_n", F.size("_labels"))
        # suffix of k trailing labels needs a (k+1)-th label above it to
        # form a registered domain, so k ranges 1.._n-1 (capped); guard
        # the empty case — F.sequence(1, 0) counts DOWN, not empty.
        # k ranges 1.._n (capped): k = _n is the host ITSELF as a suffix
        # candidate — when the full host is a public suffix (the co.uk
        # apex), the longest match must be the host and the registered
        # domain NULL, not the shorter 'uk' match promoting co.uk to a
        # registered domain. Guard the empty case — F.sequence(1, 0)
        # counts DOWN, not empty.
        .withColumn(
            "_ks",
            F.when(
                F.col("_n") >= 1,
                F.sequence(
                    F.lit(1),
                    F.least(F.col("_n"),
                            F.lit(_PSL_MAX_SUFFIX_LABELS))),
            ).otherwise(F.array().cast("array<int>")))
        .withColumn(
            "_cands",
            F.transform(
                "_ks",
                lambda k: F.struct(
                    F.array_join(
                        F.slice(F.col("_labels"),
                                F.col("_n") - k + 1, k),
                        ".").alias("sfx"),
                    F.when(
                        k < F.col("_n"),
                        F.array_join(
                            F.slice(F.col("_labels"),
                                    F.col("_n") - k, k + 1),
                            "."),
                    ).alias("dom"),
                    k.alias("k"))))
        .withColumn("_cand", F.explode_outer("_cands"))
        .where(F.col("_cand").isNotNull())
        .select("host", F.col("_cand.sfx").alias("_sfx"),
                F.col("_cand.dom").alias("_dom"),
                F.col("_cand.k").alias("_k"))
    )
    # max over (k, dom) structs, NOT max_by: the longest match may
    # carry a NULL dom (host == suffix) and must still WIN — the
    # struct max orders on k first and carries the NULL through.
    return (
        staged.join(F.broadcast(sfx), on="_sfx")
        .groupBy("host")
        .agg(F.max(F.struct(F.col("_k").alias("k"),
                            F.col("_dom").alias("d"))).alias("_m"))
        .select("host", F.col("_m.d").alias("_psl_domain"),
                F.lit(True).alias("_psl_hit"))
    )


def url_filter(docs: DataFrame, blocklist: DataFrame = None,
               url_col: str = "url", max_url_len: int = 2048,
               max_query_params: int = 8,
               suffixes: DataFrame = None) -> DataFrame:
    """RefinedWeb/CCNet-style URL triage: annotate every row with the
    parsed ``host`` plus a ``url_keep`` verdict and the first-match
    ``url_reason`` (``bad_scheme`` | ``too_long`` | ``binary_extension``
    | ``query_spam`` | ``blocked_domain`` | NULL when kept). Callers
    drop with ``.filter("url_keep")`` — the annotation form keeps the
    reason histogram observable (a curation run reports WHY it dropped
    34% of a crawl). A NULL url is ``bad_scheme`` (the conditions below
    NULL-propagate, so without the explicit leading rule a NULL row
    would fall through every WHEN to the kept default).

    ``blocklist`` is an optional (domain) DataFrame of registered
    domains. ``suffixes`` is an optional one-column DataFrame of public
    suffixes (PSL-style: ``com``, ``co.uk``, ``github.io`` …); when
    given, the registered domain is the longest matching suffix plus
    one label — so a blocklist entry ``badsite.co.uk`` matches
    ``ads.badsite.co.uk`` while ``good.co.uk`` survives. Without it,
    matching falls back to the host's last two labels (a documented
    simplification of the eTLD+1 rule).

    Scale shape: everything except the two probes is a narrow JVM
    projection (``parse_url`` + bounded regexes — no Python, no
    shuffle). The suffix resolution runs at HOST cardinality, not row
    cardinality: distinct hosts → ≤:data:`_PSL_MAX_SUFFIX_LABELS`
    candidate suffixes each → broadcast join against the (small,
    curated) suffix table → longest-match argmax → host→domain map
    joined back. The blocklist join is an equi-join on the registered
    domain; curated blocklists are MBs (1e5-1e6 domains), so the hint
    is left to AQE rather than forced broadcast (same reasoning as
    ``decontaminate``'s unbounded-side rule)."""
    from .extract import host_col

    c = F.col(url_col)
    # host_col = try_parse_url + lowercase: Spark 4 parse_url RAISES on
    # a malformed URL (one hostile row must not fail a task; try_ yields
    # NULL and the scheme rule classifies the row as dropped), and the
    # host must be lowercased HERE or a mixed-case 'Ads.BadSite.com'
    # bypasses the lowercased blocklist join below.
    host = host_col(c)
    path = F.try_parse_url(c, F.lit("PATH"))
    query = F.try_parse_url(c, F.lit("QUERY"))
    fallback_reg = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)

    annotated = docs.withColumn("host", host)
    if suffixes is not None:
        domains = _registered_domains(
            annotated.select("host"), suffixes)
        annotated = (
            annotated.join(domains, on="host", how="left")
            # the USING join moves `host` to the front; restore the
            # docs-columns-then-host order the no-suffix path has
            .select(*docs.columns, "host", "_psl_domain", "_psl_hit")
            # a host the PSL MATCHED keeps its verdict as-is — including
            # the NULL of a suffix-apex host (co.uk itself has no
            # registered domain and must not fall back); only hosts with
            # NO suffix match take the last-two-labels fallback (the
            # PSL's own '*' default rule)
            .withColumn(
                "_reg_domain",
                F.when(F.col("_psl_hit"), F.col("_psl_domain"))
                .otherwise(fallback_reg))
            .drop("_psl_domain", "_psl_hit"))
    else:
        annotated = annotated.withColumn("_reg_domain", fallback_reg)

    if blocklist is not None:
        b = blocklist.select(
            F.lower(F.col(blocklist.columns[0])).alias("_reg_domain"),
            F.lit(True).alias("_blocked"))
        annotated = annotated.join(b, on="_reg_domain", how="left")
    else:
        annotated = annotated.withColumn(
            "_blocked", F.lit(None).cast("boolean"))

    reason = (
        F.when(c.isNull(), F.lit("bad_scheme"))
        .when(~c.rlike(r"(?i)^https?://"), F.lit("bad_scheme"))
        .when(F.length(c) > max_url_len, F.lit("too_long"))
        .when(F.coalesce(path, F.lit("")).rlike(URL_BINARY_EXT_PATTERN),
              F.lit("binary_extension"))
        .when(F.size(F.split(F.coalesce(query, F.lit("")), r"&"))
              > max_query_params, F.lit("query_spam"))
        .when(F.col("_blocked"), F.lit("blocked_domain"))
        .otherwise(F.lit(None).cast("string"))
    )
    return (
        annotated.withColumn("url_reason", reason)
        .withColumn("url_keep", F.col("url_reason").isNull())
        .drop("_reg_domain", "_blocked")
    )


def host_quality_filter(docs: DataFrame, url_col: str = "url",
                        pass_col: str = "passes_gopher",
                        max_fail_frac: float = 0.5,
                        min_docs: int = 2) -> DataFrame:
    """RefinedWeb-style HOST-level curation: per-document quality
    verdicts (``pass_col`` — e.g. ``gopher_quality_flags``'
    ``passes_gopher``) aggregate per host, and every document from a
    host whose failing fraction exceeds ``max_fail_frac`` is marked
    dropped — a content farm is a property of the site, not of the one
    page that happens to pass. Hosts with fewer than ``min_docs``
    documents are kept (no evidence either way), as are docs whose URL
    yields no host (they already answer to ``url_filter``). Annotation
    form (``host_fail_frac``, ``host_keep``), same observability
    contract as ``url_filter``; callers drop with
    ``.filter("host_keep")``.

    Scale shape: the verdict aggregates a narrow ``(host, bool)``
    projection — map-side-combined counts on host-scale keys, Zipfian
    host skew bounded by partial aggregation; the join back is the one
    payload move, on the same host key. A NULL ``pass_col`` counts as
    failing (unknown quality is not evidence of quality)."""
    from .extract import host_col

    host = host_col(F.col(url_col))
    narrow = docs.select(host.alias("_host"),
                         F.coalesce(F.col(pass_col), F.lit(False))
                         .alias("_ok"))
    verdicts = (
        narrow.where(F.col("_host").isNotNull())
        .groupBy("_host")
        .agg(F.count(F.lit(1)).alias("_n"),
             F.sum(F.when(~F.col("_ok"), 1).otherwise(0)).alias("_nf"))
        .select(
            F.col("_host"),
            (F.col("_nf") / F.col("_n").cast("double"))
            .alias("host_fail_frac"),
            ((F.col("_n") < min_docs)
             | (F.col("_nf") / F.col("_n").cast("double")
                <= max_fail_frac)).alias("host_keep"))
    )
    return (
        docs.withColumn("_host", host)
        .join(verdicts, on="_host", how="left")
        .withColumn("host_keep", F.coalesce(F.col("host_keep"),
                                            F.lit(True)))
        .drop("_host")
    )


def cap_per_host(docs: DataFrame, k: int, url_col: str = "url",
                 quality_col: str = None,
                 key_col: str = "doc_id") -> DataFrame:
    """Per-host document quota — the Gopher / RefinedWeb "limit the
    contribution of any single site" rule: keep at most ``k`` documents
    per URL host, preferring higher ``quality_col`` (when given), with
    ties — and the whole ordering when no quality column exists — broken
    by ``md5(key)`` so reruns, partitionings, and the DuckDB twin all
    pick the same survivors. Documents whose URL yields no host are kept
    (unparseable URLs answer to ``url_filter``, not the quota).
    Annotation form (``host_rank`` 1-based within host, ``host_cap_keep``),
    the same observability contract as ``url_filter`` /
    ``host_quality_filter``; callers drop with ``.filter("host_cap_keep")``.

    Scale shape: the rank window sees only a narrow ``(host, key,
    quality)`` projection — document payloads never enter the shuffle —
    and verdicts join back on the key column. Zipfian hosts make the
    window partition skewed, but each row is three scalar columns, the
    same per-row bound as the dedup winner windows; a 10M-page host is
    ~300 MB of keys on one reducer, not 300 GB of text."""
    from pyspark.sql import Window

    from .extract import host_col

    host = host_col(F.col(url_col))
    qual = (F.col(quality_col).cast("double") if quality_col
            else F.lit(0.0))
    narrow = docs.select(host.alias("_host"),
                         F.col(key_col).alias("_key"),
                         qual.alias("_q"))
    w = Window.partitionBy("_host").orderBy(
        F.col("_q").desc_nulls_last(), md5_of(F.col("_key")))
    ranked = (
        narrow.where(F.col("_host").isNotNull())
        .select("_key", F.row_number().over(w).alias("host_rank"))
    )
    return (
        docs.join(ranked, docs[key_col] == ranked._key, "left")
        .drop("_key")
        .withColumn("host_cap_keep",
                    F.coalesce(F.col("host_rank") <= k, F.lit(True)))
    )


# ---------------------------------------------------------------------------
# Deterministic training-export shuffle
# ---------------------------------------------------------------------------


def shuffle_shards(docs: DataFrame, n_shards: int = 1024,
                   key_col: str = "doc_id",
                   seed: str = "shuf1",
                   max_rows_per_shard: int = 100_000_000) -> DataFrame:
    """Deterministic global shuffle for training export — the last mile
    of a curation pipeline: training wants the corpus in random order,
    split into a fixed number of shard files, and REPRODUCIBLY so
    (re-running the export after a retry or a repartition must emit
    byte-identical shards). ``orderBy(rand())`` fails that bar (rand is
    partition-seeded); this is a pure function of (seed, key): shard =
    first-8-hex-digits of md5(seed‖key) mod ``n_shards``, in-shard
    order = the full hash (key tiebreak). Adds ``shard`` and
    ``shard_pos`` (0-based position within the shard).

    Scale shape: one shuffle, on the shard id — uniform by md5
    construction, so every shard is the same size (corpus/n_shards)
    and no reducer is hot ACROSS shards, but each shard's full payload
    still sorts in one task: per-shard volume is corpus/n_shards, so
    ``n_shards`` must scale with the corpus (1,024 shards over 100 TB
    would mean ~100 GB single-task sorts). ``max_rows_per_shard``
    enforces that relationship — the job fails loudly, mid-window,
    naming the shard, instead of silently grinding a giant
    single-partition sort. Downstream ``.write.partitionBy('shard')``
    emits one reproducibly-ordered file set per shard."""
    from pyspark.sql import Window

    h = md5_of(seed, F.col(key_col))
    shard = F.pmod(hex_int(h, 8), F.lit(n_shards)).cast("int")
    w = Window.partitionBy("shard").orderBy("_shuf_h", key_col)
    rn = F.row_number().over(w) - 1
    # woven into the live shard_pos expression (guard.isNull() is TRUE
    # on every surviving row) so column pruning cannot drop it — same
    # pattern as range_join's cell-cap guard
    guard = F.assert_true(
        rn < F.lit(max_rows_per_shard),
        F.concat(
            F.lit(f"shuffle_shards: shard "), F.col("shard"),
            F.lit(f" exceeds max_rows_per_shard={max_rows_per_shard}; "
                  f"raise n_shards (corpus/n_shards rows sort in ONE "
                  f"task) or max_rows_per_shard")),
    )
    return (
        docs.withColumn("_shuf_h", h)
        .withColumn("shard", shard)
        .withColumn(
            "shard_pos",
            F.when(guard.isNull(), rn).cast("int"))
        .drop("_shuf_h")
    )


def pack_sequences(docs: DataFrame, ctx_len: int = 2048,
                   tokens_col: str = "n_tokens",
                   shard_col: str = "shard",
                   pos_col: str = "shard_pos",
                   max_rows_per_shard: int = 100_000_000) -> DataFrame:
    """GPT-style sequence-packing plan: documents are concatenated in
    the deterministic shard order (see ``shuffle_shards``) and chopped
    into fixed ``ctx_len``-token training sequences. Emits per-doc
    placement: ``tok_offset`` (first token's offset in the shard's
    concatenated stream), ``seq_first``/``seq_last`` (the sequence
    indices the doc lands in), and ``crosses_boundary``. A zero-token
    doc occupies a point: seq_last == seq_first.

    Scale shape: packing is PER SHARD — the running-sum window
    partitions on the shard id, so no global single-partition window
    exists (the classic cumulative-sum scale-killer); each shard is an
    independent stream, which is how training loaders consume shard
    files anyway. One shuffle, on the shard id, uniform by the md5
    shard construction — but per-shard volume = corpus/n_shards runs
    the running sum in ONE task, so ``max_rows_per_shard`` fails the
    job loudly when the shard count was sized too small for the corpus
    (same guard as ``shuffle_shards``; the two are sized together)."""
    from pyspark.sql import Window

    w = (Window.partitionBy(shard_col).orderBy(pos_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    guard = F.assert_true(
        F.col(pos_col) < F.lit(max_rows_per_shard),
        F.concat(
            F.lit("pack_sequences: shard "), F.col(shard_col),
            F.lit(f" exceeds max_rows_per_shard={max_rows_per_shard}; "
                  f"repack with more shards or raise the cap")),
    )
    offset = F.when(
        guard.isNull(),
        F.coalesce(F.sum(tokens_col).over(w), F.lit(0)))
    n = F.col(tokens_col)
    seq_first = F.floor(offset / ctx_len)
    seq_last = F.floor((offset + F.greatest(n, F.lit(1)) - 1) / ctx_len)
    return (
        docs.withColumn("tok_offset", offset.cast("bigint"))
        .withColumn("seq_first", seq_first.cast("bigint"))
        .withColumn("seq_last", seq_last.cast("bigint"))
        .withColumn("crosses_boundary", seq_last != seq_first)
    )


#: tracking params stripped by canonicalize_urls — only UNAMBIGUOUS
#: tracking keys ('ref' is deliberately kept: it is content-bearing on
#: many sites, e.g. git-ref selectors, and stripping it would collapse
#: distinct resources). (?i) because mailers emit UTM_Source; the
#: (=|$) tail also matches valueless spellings like '?fbclid'. Bounded
#: quantifier keeps the Java regex linear on hostile input.
_TRACKING_RE = r"(?i)^(utm_[a-z_]{1,32}|gclid|fbclid|msclkid|mc_eid)(=|$)"


def _pct_normalize(s):
    """RFC 3986 §6.2.2 percent-encoding normalization of one URL
    component (Column → Column, pure JVM): the hex digits of every
    percent triplet are uppercased (``%2f`` → ``%2F``) and triplets
    encoding UNRESERVED characters (ALPHA / DIGIT / ``-._~``) are
    decoded (``%7E`` → ``~``, ``%2e`` → ``.``); reserved and non-ASCII
    octets stay encoded. Shape: split on ``%`` — every element after
    the first begins with whatever followed a ``%``, so a leading
    2-hex-digit match identifies a triplet, and a dangling ``%`` (no
    valid hex) passes through verbatim. NULL in → NULL out.
    Idempotent: decoded output contains no triplet and uppercase hex is
    a fixed point."""
    parts = F.split(s, "%", -1)
    head = F.element_at(parts, 1)
    tail = F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(0)))

    def seg(e):
        hex2 = F.substring(e, 1, 2)
        rest = F.substring(e, 3, 1 << 30)
        code = F.conv(hex2, 16, 10).cast("int")
        unreserved = (
            code.between(48, 57) | code.between(65, 90)
            | code.between(97, 122) | code.isin(45, 46, 95, 126))
        return F.when(
            e.rlike("^[0-9A-Fa-f]{2}"),
            F.concat(
                F.when(unreserved, F.char(code))
                .otherwise(F.concat(F.lit("%"), F.upper(hex2))),
                rest),
        ).otherwise(F.concat(F.lit("%"), e))

    return F.concat(head, F.array_join(F.transform(tail, seg), ""))


def canonicalize_urls(df: DataFrame, url_col: str = "url",
                      out_col: str = "canonical_url") -> DataFrame:
    """URL canonicalization — the prerequisite for URL-level dedup and
    revisit detection: byte-different spellings of the same resource
    (scheme/host case, default ports, tracking params, param order,
    fragments) collapse to one canonical form:

    ``lower(scheme)://lower(host)[:nondefault-port]path?sorted-params``

    where tracking params (``utm_*``, gclid, fbclid, ...) and the
    fragment are dropped, an empty path becomes ``/``, userinfo is
    stripped, and percent-encoding is normalized per RFC 3986 §6.2.2
    (hex uppercased, unreserved characters decoded — see
    :func:`_pct_normalize`) in the path and each param BEFORE the
    tracking filter and the param sort, so ``%7Euser`` and ``~user``
    dedup together and an encoded ``utm%5Fsource`` is still stripped.
    Unparseable URLs canonicalize to NULL (callers route them to
    quarantine like ``url_filter`` does). Entirely JVM-side; the param
    array is STAGED before the higher-order filter/sort (the measured
    HOF-inlining trap), so the URL is parsed once, not once per
    param."""
    u = F.col(url_col)
    proto = F.lower(F.try_parse_url(u, F.lit("PROTOCOL")))
    auth = F.lower(F.try_parse_url(u, F.lit("AUTHORITY")))
    host_port = F.element_at(F.split(auth, "@"), -1)
    hp = (
        F.when(proto == "http",
               F.regexp_replace(host_port, ":80$", ""))
        .when(proto == "https",
              F.regexp_replace(host_port, ":443$", ""))
        .otherwise(host_port)
    )
    raw_path = F.try_parse_url(u, F.lit("PATH"))
    staged = (
        df.withColumn("_rawpath", raw_path)
        .withColumn(
            "_path",
            F.when(F.col("_rawpath").isNull() | (F.col("_rawpath") == ""),
                   F.lit("/"))
            .otherwise(_pct_normalize(F.col("_rawpath"))))
        .withColumn("_q", F.try_parse_url(u, F.lit("QUERY")))
        .withColumn(
            "_params",
            F.array_sort(F.filter(
                F.transform(F.split(F.col("_q"), "&"), _pct_normalize),
                lambda p: (p != "") & ~p.rlike(_TRACKING_RE))))
    )
    path = F.col("_path")
    qs = (
        F.when(F.col("_q").isNull() | (F.size("_params") == 0), F.lit(""))
        .otherwise(F.concat(F.lit("?"),
                            F.array_join(F.col("_params"), "&")))
    )
    return staged.withColumn(
        out_col, F.concat(proto, F.lit("://"), hp, path, qs)
    ).drop("_rawpath", "_path", "_q", "_params")


def stratified_sample(docs: DataFrame, group_col: str, k: int,
                      seed: str = "strat1",
                      key_col: str = "doc_id") -> DataFrame:
    """Exactly-k-per-group deterministic sample — eval-set carving,
    per-source inspection slices, balanced annotation batches. Each
    group keeps its k members with the smallest ``md5(seed || key)``:
    uniform-without-replacement per group, yet a pure function of
    (seed, key) like ``sample_mix`` — stable under repartition, task
    retries, and re-runs, and a different seed draws an independent
    sample. Groups smaller than k are kept whole.

    One shuffle on the group key; the per-group window ranks by the
    hash (ties impossible: the hash input embeds the unique key). At
    100 TB the caveat is a mega-group serializing its own sort — the
    same bound as every per-host window in this repo; k rows ship on."""
    h = md5_of(seed, F.col(key_col))
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(h.asc())
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def assign_splits(docs: DataFrame, splits: dict | None = None,
                  key_col: str = "doc_id",
                  seed: str = "split1") -> DataFrame:
    """Deterministic train/val/test assignment — every corpus release
    needs one, and it must be a PURE FUNCTION of (seed, key): stable
    under repartitioning, retries, engine, and incremental re-runs (a
    document added next month cannot move any existing document across
    splits, which ``randomSplit`` cannot promise). Mechanism: the
    first 8 md5 hex chars of ``seed‖key`` land in [0, 16^8); cumulative
    fraction thresholds — the ``mix_threshold_hex`` convention, plain
    hex-string comparisons identical in Spark and DuckDB — carve the
    range into one bucket per split, in the dict's insertion order.

    ``splits`` maps name → fraction; fractions must sum to ≤ 1 (a
    shortfall leaves a holdout residue assigned NULL — explicitly
    unselected data). Appends a ``split`` column; narrow projection,
    no shuffle, no RNG state anywhere.
    """
    splits = {"train": 0.98, "val": 0.01, "test": 0.01} \
        if splits is None else splits
    if not splits:
        raise ValueError("splits must be non-empty")
    if any(f < 0 for f in splits.values()):
        raise ValueError(f"negative split fraction: {splits}")
    if sum(splits.values()) > 1.0 + 1e-9:
        raise ValueError(f"split fractions sum past 1: {splits}")
    h = F.substring(md5_of(seed, F.col(key_col)), 1, 8)
    expr = F.lit(None).cast("string")
    cum = 0.0
    bounds = []
    for name, frac in splits.items():
        cum += frac
        bounds.append((name, mix_threshold_hex(cum)))
    for name, hi in reversed(bounds):
        expr = F.when(h < F.lit(hi), F.lit(name)).otherwise(expr)
    return docs.withColumn("split", expr)


def term_blocklist_filter(docs: DataFrame, terms: DataFrame,
                          id_col: str = "doc_id",
                          text_col: str = "text",
                          max_hits: int = 0,
                          fold: bool = False) -> DataFrame:
    """Banned-term document filtering — the C4/RefinedWeb "contains a
    blocked word" gate, with the term list a CALLER parameter (the
    published lists are external content; this engine ships the
    mechanism, not the list). Returns one row per document:
    ``(id, n_hits, keep)`` where ``n_hits`` counts token occurrences of
    blocklisted terms and ``keep = n_hits <= max_hits`` (``max_hits``
    0 is the C4 any-hit drop; > 0 is the density-tolerant variant — a
    medical page mentioning one anatomical term survives, a spam page
    repeating it forty times does not).

    ``fold=True`` folds Unicode confusables (``fold_confusables``) in
    BOTH the document tokens and the term list before matching, so the
    classic evasion — swap one Latin letter for its Cyrillic twin —
    still matches. Terms are matched at token granularity (the same
    lowercased whitespace tokenizer as every token-level operator);
    multi-token phrases belong to the 13-gram decontamination machinery
    instead.

    Scale shape: documents explode to narrow ``(id, tok)`` rows (text
    never shuffles); the term list is curated-blocklist-sized (KBs-MBs)
    and broadcast, so the match is a map-side hash join; hits aggregate
    map-side-combined on the id key; the verdict joins back to the id
    projection. NULL text ⇒ zero tokens ⇒ kept (nothing to judge — the
    length gates elsewhere decide empty docs).
    """
    from ..functions.text import exploded_tokens, fold_confusables

    if max_hits < 0:
        raise ValueError(f"max_hits must be >= 0, got {max_hits}")
    t = terms.select(
        F.lower(F.col(terms.columns[0])).alias("_term")).distinct()
    toks = exploded_tokens(docs, id_col, text_col)
    if fold:
        t = t.select(fold_confusables(F.col("_term")).alias("_term")) \
             .distinct()
        toks = toks.select(F.col(id_col),
                           fold_confusables(F.col("tok")).alias("tok"))
    hits = (
        toks.join(F.broadcast(t), toks.tok == F.col("_term"))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_hits"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            (F.coalesce("_hits", F.lit(0)) <= F.lit(int(max_hits)))
            .alias("keep"),
        )
    )


def length_bucket_stats(docs: DataFrame, max_len: int = 2048,
                        min_bucket: int = 32,
                        text_col: str = "text") -> DataFrame:
    """Length-bucketed batching plan: assign each document to the
    smallest power-of-two token bucket that holds it (clamped to
    ``[min_bucket, max_len]``) and report per-bucket padding economics
    — the planning step for encoder-style inference/training batches,
    where batching a 40-token doc with a 2000-token doc wastes 98% of
    the batch as pad tokens (``pack_sequences`` is the decoder-side
    answer; this is the bucketing answer when documents must stay
    intact).

    The bucket is integer-exact in both engines (no float log2, whose
    rounding at exact powers of two differs per libm): the oracle twin
    computes ``1 << length(bin(n-1))``, the Spark side an equivalent
    when-ladder over the bounded power-of-two set. Docs over
    ``max_len`` clamp into the top bucket (they would be truncated to
    fit), NULL-text docs carry no tokens and are excluded. One narrow in-row projection + one
    aggregation over ≤ log2(max_len) bucket keys — nothing at corpus
    scale shuffles more than (bucket, two counters) rows.

    Output per bucket: ``(bucket, n_docs, sum_tokens, sum_pad,
    pad_waste_ppm)`` where waste = pad / (pad + tokens) of a batch
    padded to the bucket width.
    """
    if max_len < min_bucket or min_bucket < 1:
        raise ValueError(
            f"need 1 <= min_bucket <= max_len, got {min_bucket}/{max_len}")
    if max_len & (max_len - 1) or min_bucket & (min_bucket - 1):
        raise ValueError("min_bucket and max_len must be powers of two")
    n = F.least(token_count(text_col), F.lit(int(max_len)))
    # ≤ log2(max_len / min_bucket) + 1 integer comparisons — the bucket
    # set is plan metadata, so the ladder is a when-chain, not bit math
    bucket = F.when(n <= min_bucket, F.lit(int(min_bucket)))
    p = min_bucket
    while p < max_len:
        p *= 2
        bucket = bucket.when(n <= p, F.lit(int(p)))
    return (docs.where(F.col(text_col).isNotNull())
            .select(bucket.alias("bucket"), n.alias("_n"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("_n").alias("sum_tokens"),
                 (F.sum(F.col("bucket") - F.col("_n")))
                 .alias("sum_pad"))
            .select("bucket", "n_docs",
                    F.col("sum_tokens").cast("bigint").alias("sum_tokens"),
                    F.col("sum_pad").cast("bigint").alias("sum_pad"),
                    F.expr("sum_pad * 1000000 div (sum_pad + sum_tokens)")
                    .cast("bigint").alias("pad_waste_ppm")))
