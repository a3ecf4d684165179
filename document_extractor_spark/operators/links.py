"""Outlink extraction + host-level link graph — the web-graph side of a
Common-Crawl-scale pipeline (anchor text and host in/out-degree are
standard quality / ranking features; the reference's fixture pages carry
the same ``<a href>`` chrome this operator parses, cf. its nav/header
markup in ``templates`` and the ``<img>`` handling in
``pdf_to_png_converter.py:126-196`` — link extraction is the anchor-tag
twin of S3's image explode).

Spark mapping: entirely JVM-side — ``regexp_extract_all`` over the
decoded page, ``posexplode`` for document-order link indices, CASE-based
URL resolution, ``try_parse_url`` for hosts. No Python anywhere; the
plan is scan → project → generate (narrow). The host graph is one
groupBy on (src_host, dst_host) — a metadata-scale shuffle (hosts, not
pages). At 100 TB the anchor regex runs inside whole-stage codegen over
the scan, and the only shuffled payload is (host, host, 1) rows.

The three host rankers (``pagerank``, ``trustrank``, ``hits``) share
one edge and vertex prep, ``_rank_graph``: only an edge with both
endpoints and a positive, finite weight carries rank, and a host whose
edges all carry none stays a dangling vertex. They share one round
loop, ``_power_iterate`` (per-round ``localCheckpoint``, L1-delta
early exit, ``stats``). PageRank is TrustRank with every host a seed;
both run ``_teleport_rank``.

Deliberate simplifications, mirrored exactly in the DuckDB oracle:
- anchors with nested markup are skipped (``[^<]`` body — boilerplate
  chrome links, the bulk of the web graph's edges, are plain text);
- relative hrefs resolve against the site root, not the base path
  (host-granularity graphs only need the authority);
- anchors quoted inside ``<script>``/``<style>`` bodies are NOT
  excluded (a raw-regex scan cannot bound a script-body strip without
  reintroducing the O(n^2) backtracking straggler); at host
  granularity the resulting rare spurious edge is tolerable noise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .extract import host_col

# Bounded quantifiers throughout — unbounded classes are the measured
# O(n^2) Java-regex straggler on hostile megabyte runs; this subset is
# Java∩RE2 so the DuckDB oracle runs the identical pattern. (?i):
# legacy pages carry <A HREF=...> — tag and attribute names are
# case-insensitive. HREF is anchored into the ATTRIBUTE section
# ([^>] cannot cross the tag-open '>'), with a required whitespace
# separator before 'href' so body text quoting href=... or attributes
# like data-href cannot fabricate an edge.
A_TAG = r"(?i)<a\s[^>]{0,512}>[^<]{0,2048}</a>"
HREF = r"""(?i)^<a\s(?:[^>]{0,511}\s)?href=['"]([^'"]{1,2048})['"]"""
_SCHEME = r"^[a-zA-Z][a-zA-Z0-9+.-]{0,15}:"


def extract_outlinks(pages: DataFrame, url_col: str = "url",
                     html_col: str = "html") -> DataFrame:
    """pages(url, html BINARY) → one row per ``<a href>`` occurrence:
    ``(url, link_index 1-based document order, href, anchor, resolved,
    dst_host)``. Pure Catalyst, narrow."""
    # cast, not decode(.., 'UTF-8'): Spark 4 decode RAISES on malformed
    # bytes (hostile binary payloads must never fail the task); cast is
    # byte-identical on valid UTF-8 and lenient otherwise
    html_str = F.col(html_col).cast("string")
    # staged projection: keeps the regex out of explode's implicit
    # size()>0 pushdown (it would inline and re-evaluate the match)
    staged = pages.select(
        F.col(url_col),
        F.regexp_extract_all(html_str, F.lit(A_TAG), F.lit(0)).alias("_tags"),
    )
    base_scheme = F.try_parse_url(F.col(url_col), F.lit("PROTOCOL"))
    root = F.concat(base_scheme, F.lit("://"), host_col(F.col(url_col)))
    href = F.regexp_extract("tag", HREF, 1)
    resolved = (
        F.when(href == "", F.lit(None).cast("string"))
        .when(href.rlike(_SCHEME), href)
        .when(href.startswith("//"), F.concat(base_scheme, F.lit(":"), href))
        .when(href.startswith("/"), F.concat(root, href))
        .otherwise(F.concat(root, F.lit("/"), href))
    )
    return (
        staged.select(url_col, F.posexplode("_tags").alias("pos", "tag"))
        .select(
            url_col,
            (F.col("pos") + 1).alias("link_index"),
            href.alias("href"),
            F.regexp_extract("tag", r"(?i)>([^<]{0,2048})</a>", 1)
            .alias("anchor"),
            resolved.alias("resolved"),
        )
        .withColumn("dst_host", host_col(F.col("resolved")))
    )


def _rank_graph(edges: DataFrame, src: str, dst: str, weight: str):
    """The one edge and vertex prep of the rankers → ``(edges, verts)``.

    Rows with a NULL endpoint (unresolvable links) are not part of the
    graph: kept, they would send their share of rank to a NULL sink.
    ``verts`` is ``(host)``, every endpoint of the other rows,
    checkpointed (every round joins it). ``edges`` is ``(_src, _dst,
    _w DOUBLE)``, the rows whose weight is positive and finite. Any
    other weight carries no rank: a NULL one would keep its source out
    of the dangling set while passing nothing on (rank leaks), a zero
    or negative one makes an out-weight zero (a division by zero) or a
    score negative. A host whose edges all drop stays a vertex, and
    dangles."""
    edges = edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull())
    verts = (
        edges.select(F.col(src).alias("host"))
        .unionByName(edges.select(F.col(dst).alias("host")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    w = F.col("_w")
    e = (
        edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"),
                     F.col(weight).cast("double").alias("_w"))
        .where((w > 0) & (w < float("inf")))   # NaN sorts above +inf
    )
    return e, verts


def _power_iterate(scores: DataFrame, step, col: str, iterations: int,
                   tol: float, stats: dict) -> DataFrame:
    """The one round loop of the rankers: ``scores`` (host, ``col``)
    becomes ``step(scores)`` each round, ``localCheckpoint``ed so the
    lineage stays one round deep (the iterative-plan re-execution trap,
    same as ``duplicate_clusters``). ``iterations`` is the hard cap;
    the loop exits EARLY when the L1 delta of ``col`` between
    consecutive rounds drops below ``tol`` — one extra host-scale
    aggregate per round, over the two checkpointed frames (regular
    graphs converge in one round and pay for one instead of
    ``iterations``). ``tol=0`` skips that job entirely. When a
    ``stats`` dict is passed, the executed round count and final delta
    are recorded in it (run observability, mirroring
    ``duplicate_clusters``' counters).

    Scores are not bit-reproducible: every round's float sums run in
    the order Spark's shuffle delivers rows, which changes with the
    partition count and from run to run, so the last bits of a score
    (and of ``l1_delta``) can differ, by up to 2.2e-16 in observed
    repeats. ``tests/test_links.py`` pins the bound at 1e-12 across
    shuffle partition counts; compare ranker output with a tolerance."""
    if stats is None:
        stats = {}
    stats["iterations"] = 0
    stats["l1_delta"] = None
    for _ in range(iterations):
        stats["iterations"] += 1
        prev, scores = scores, step(scores).localCheckpoint(eager=True)
        if tol > 0:
            delta = (
                scores.join(prev.withColumnRenamed(col, "_prev"), "host")
                .agg(F.coalesce(
                    F.sum(F.abs(F.col(col) - F.col("_prev"))),
                    F.lit(0.0)))
                .collect()[0][0]
            )
            stats["l1_delta"] = delta
            if delta < tol:
                break
    return scores


def _teleport_rank(e: DataFrame, verts: DataFrame, n_seeds: int,
                   damping: float, iterations: int, tol: float,
                   stats: dict) -> DataFrame:
    """Personalized PageRank over :func:`_rank_graph` output whose
    ``verts`` carry a boolean ``_seed`` flag → ``(host, pr)``, summing
    to 1. Rank starts uniform over the ``n_seeds`` seeds; each round
    the teleport share (1-d)/|S| and the damped dangling mass land on
    the seeds only.

    The transition table (edge weight / source out-weight) is built
    ONCE and persisted pre-partitioned on the source key, so each round
    costs one co-partitioned join (only the rank table — host
    cardinality, not page cardinality — reshuffles) plus one
    map-side-combined groupBy on the destination. Dangling mass is a
    1-row aggregate collected on the driver — metadata-scale, like the
    convergence counters in ``duplicate_clusters``."""
    out_w = e.groupBy(F.col("_src").alias("host")).agg(
        F.sum("_w").alias("_out"))
    trans = (
        e.join(out_w, e._src == out_w.host)
        .select("_src", "_dst", (F.col("_w") / F.col("_out")).alias("_p"))
        .repartition("_src")
        .persist()
    )
    dangling = verts.join(out_w, "host", "left_anti").persist()
    # Graphs where every vertex has outlinks (most host graphs) skip
    # the per-round dangling-mass job entirely — it would collect a
    # constant 0.0 while serializing ahead of the real contribs job.
    has_dangling = bool(dangling.head(1))
    seed = F.col("_seed")

    def step(ranks):
        d_mass = 0.0
        if has_dangling:
            d_mass = (
                dangling.join(ranks, "host")
                .agg(F.coalesce(F.sum("pr"), F.lit(0.0)))
                .collect()[0][0]
            )
        contribs = (
            ranks.join(trans, ranks.host == trans._src)
            .groupBy(F.col("_dst").alias("host"))
            .agg(F.sum(F.col("pr") * F.col("_p")).alias("_in"))
        )
        return verts.join(contribs, "host", "left").select(
            "host",
            (F.when(seed, F.lit((1.0 - damping) / n_seeds))
             .otherwise(F.lit(0.0))
             + damping * (
                 F.coalesce(F.col("_in"), F.lit(0.0))
                 + F.when(seed, F.lit(d_mass / n_seeds))
                 .otherwise(F.lit(0.0))
             )).alias("pr"),
        )

    ranks = verts.select(
        "host",
        F.when(seed, F.lit(1.0 / n_seeds)).otherwise(F.lit(0.0)).alias("pr"))
    try:
        return _power_iterate(ranks, step, "pr", iterations, tol, stats)
    finally:
        trans.unpersist()
        dangling.unpersist()


def pagerank(edges: DataFrame, damping: float = 0.85,
             iterations: int = 10, src_col: str = "src_host",
             dst_col: str = "dst_host",
             weight_col: str = "n_links",
             tol: float = 1e-9,
             stats: dict = None) -> DataFrame:
    """Weighted PageRank over a host-level edge list — host authority is
    a standard web-corpus quality/ranking feature (the graph twin of the
    Gopher-style per-document scores). Returns ``(host, pagerank)`` for
    every vertex; ranks sum to 1.

    PageRank is :func:`trustrank` with every vertex a seed: uniform
    teleport, dangling mass redistributed uniformly. It runs the same
    :func:`_teleport_rank` power iteration, so the scale shape, the
    ``tol`` early exit (``tol=0`` runs every round) and the ``stats``
    counters are those of :func:`_power_iterate`. Edges with a NULL
    endpoint or a NULL, zero, negative or non-finite weight carry no
    rank (see :func:`_rank_graph`)."""
    e, verts = _rank_graph(edges, src_col, dst_col, weight_col)
    n = verts.count()
    if n == 0:
        return verts.withColumn("pagerank", F.lit(0.0))
    ranks = _teleport_rank(e, verts.withColumn("_seed", F.lit(True)), n,
                           damping, iterations, tol, stats)
    return ranks.select("host", F.col("pr").alias("pagerank"))


def hits(edges: DataFrame, iterations: int = 30,
         src_col: str = "src_host", dst_col: str = "dst_host",
         weight_col: str = "n_links",
         tol: float = 1e-9,
         stats: dict = None) -> DataFrame:
    """Weighted HITS over the host link graph — hub and authority
    scores, the complementary pair to :func:`pagerank` (a good hub
    LINKS TO quality; a good authority IS LINKED FROM quality — the
    classic seed-discovery signal for focused crawling).

    Returns ``(host, hub, authority)`` for every vertex; each score
    vector is L1-normalized (sums to 1 — L1 instead of the textbook L2
    so a regular fixture's fixed point stays exactly rational and the
    oracle can state it in closed form). Only positive weights count
    (see :func:`_rank_graph`), so every score is ≥ 0.

    The edge table is persisted TWICE, pre-partitioned on each join key
    (``_src`` for the authority step, ``_dst`` for the hub step), so
    every round is two co-partitioned joins + map-side-combined
    groupBys on host-scale keys; the normalizers are 1-row driver
    aggregates. The rounds run in :func:`_power_iterate` on the hub
    vector (early exit on its L1 delta); each round's authority vector
    is checkpointed beside it, never joined into the loop state. Like
    every ranker here, the scores repeat to 1e-12, not bit for bit:
    the sums follow the run-time shuffle order (see
    :func:`_power_iterate`)."""
    e, verts = _rank_graph(edges, src_col, dst_col, weight_col)
    n = verts.count()
    if n == 0:
        return verts.select(
            "host", F.lit(0.0).alias("hub"), F.lit(0.0).alias("authority"))
    e_by_src = e.repartition("_src").persist()
    e_by_dst = e.repartition("_dst").persist()

    def _normalize(raw, col, out):
        total = raw.agg(
            F.coalesce(F.sum(col), F.lit(0.0))).collect()[0][0]
        scale = 1.0 / total if total > 0 else 0.0
        return verts.join(raw, "host", "left").select(
            "host", (F.coalesce(F.col(col), F.lit(0.0))
                     * F.lit(scale)).alias(out))

    auth = verts.withColumn("authority", F.lit(0.0))

    def step(hub):
        nonlocal auth
        a_raw = (
            e_by_src.join(hub, e_by_src._src == hub.host)
            .groupBy(F.col("_dst").alias("host"))
            .agg(F.sum(F.col("hub") * F.col("_w")).alias("_a"))
        )
        auth = _normalize(a_raw, "_a", "authority").localCheckpoint(
            eager=True)
        h_raw = (
            e_by_dst.join(auth, e_by_dst._dst == auth.host)
            .groupBy(F.col("_src").alias("host"))
            .agg(F.sum(F.col("authority") * F.col("_w")).alias("_h"))
        )
        return _normalize(h_raw, "_h", "hub")

    try:
        hub = _power_iterate(verts.withColumn("hub", F.lit(1.0 / n)), step,
                             "hub", iterations, tol, stats)
    finally:
        e_by_src.unpersist()
        e_by_dst.unpersist()
    return hub.join(auth, "host").select("host", "hub", "authority")


def trustrank(edges: DataFrame, seeds: DataFrame, damping: float = 0.85,
              iterations: int = 10, src_col: str = "src_host",
              dst_col: str = "dst_host", weight_col: str = "n_links",
              seed_col: str = "host",
              tol: float = 1e-9,
              stats: dict = None) -> DataFrame:
    """TrustRank (Gyöngyi/Garcia-Molina/Pedersen 2004) over the host
    link graph: personalized PageRank whose teleport vector is uniform
    over a curated SEED set instead of all vertices — the standard
    web-spam-demotion ranking (trust flows out from hand-vetted hosts;
    spam farms that no trusted host links to accumulate ~none, however
    densely they interlink). Returns ``(host, trustrank)`` for every
    graph vertex; scores sum to 1.

    The :func:`_teleport_rank` iteration of :func:`pagerank`, with the
    teleport base and the dangling mass landing on the SEED set only
    (mass must re-enter through trust, never uniformly — uniform
    redistribution would leak trust to unlinked spam). The seed table
    is vertex-cardinality metadata (hundreds of hosts in practice); it
    is broadcast-joined as a flag onto the vertex table once. Raises
    ``ValueError`` when no seed intersects the graph — the teleport
    distribution would be undefined."""
    e, verts = _rank_graph(edges, src_col, dst_col, weight_col)
    seed_set = (
        seeds.select(F.col(seed_col).alias("host"))
        .where(F.col("host").isNotNull())
        .distinct()
    )
    verts = (
        verts.join(F.broadcast(seed_set).withColumn("_seed", F.lit(True)),
                   "host", "left")
        .select("host", F.coalesce("_seed", F.lit(False)).alias("_seed"))
        .localCheckpoint(eager=True)
    )
    n_seeds = verts.where(F.col("_seed")).count()
    if n_seeds == 0:
        raise ValueError(
            "trustrank: no seed host appears in the edge graph — the "
            "teleport distribution is undefined (check seed spelling / "
            "host normalization)")
    ranks = _teleport_rank(e, verts, n_seeds, damping, iterations, tol,
                           stats)
    return ranks.select("host", F.col("pr").alias("trustrank"))


def incoming_anchor_profile(links: DataFrame) -> DataFrame:
    """Outlink rows → per-destination-host incoming anchor-text stats:
    ``(dst_host, n_inlinks, n_anchor_texts, top_anchor)``. Incoming
    anchor text is a classic relevance/quality signal (what the REST of
    the web calls a page — search engines index it alongside the page's
    own text), the inbound twin of ``host_link_graph``.

    Two map-side-combined shuffles, both on host-scale keys: first
    (dst_host, anchor) — the anchor dimension spreads a hot host's rows
    across reducers, bounding Zipfian host skew — then dst_host alone
    over the already-collapsed per-anchor counts. ``top_anchor`` is the
    most frequent anchor, ties broken lexicographically-smallest, via a
    single ``min(struct(-n, anchor))`` (no window, no second pass).
    Empty anchors (image links, styled spans) are counted in
    ``n_inlinks`` like any other value; callers wanting text-only
    profiles filter upstream.
    """
    per = (
        links.where(F.col("dst_host").isNotNull())
        .groupBy("dst_host", "anchor")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    top = F.min(
        F.struct((-F.col("_n")).alias("_neg"), F.col("anchor").alias("_a"))
    )
    return per.groupBy("dst_host").agg(
        F.sum("_n").alias("n_inlinks"),
        F.count(F.lit(1)).alias("n_anchor_texts"),
        top.getField("_a").alias("top_anchor"),
    )


def host_link_graph(links: DataFrame, url_col: str = "url") -> DataFrame:
    """Outlink rows → host-level edge list ``(src_host, dst_host,
    n_links)``. One shuffle on the (host, host) key — host cardinality,
    not page cardinality; map-side partial aggregation bounds Zipfian
    host skew the same way ``host_stats`` does."""
    src = host_col(F.col(url_col))
    return (
        links.where(F.col("dst_host").isNotNull())
        .groupBy(src.alias("src_host"), F.col("dst_host"))
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


def triangle_counts(edges: DataFrame, src: str = "src_host",
                    dst: str = "dst_host") -> DataFrame:
    """Per-vertex triangle counts + local clustering coefficient over
    an undirected graph given as (possibly duplicated, possibly
    directed) edge rows — the community-structure signal link-spam
    detection reads on the host graph: organic neighborhoods close
    triangles (friends of friends link each other), link farms are
    near-bipartite blasts that close almost none, so a high-degree
    host with near-zero clustering is a classic spam shape.

    Algorithm: the node-iterator with DEGREE ORDERING (Suri &
    Vassilvitskii, WWW 2011): canonicalize + dedupe edges, direct each
    edge from its lower to its higher endpoint in the (degree, id)
    total order, build wedges by self-joining directed edges on their
    low endpoint, and close them against the directed edge set. Every
    triangle is found exactly once, and — the scale story — wedge
    fan-out per key is the OUT-degree in degree order, which is
    O(sqrt(m)) even for celebrity vertices, so the wedge join cannot
    blow up on the web graph's power-law hubs the way a naive
    neighbor-join does.

    Spark shape: three narrow shuffles (degree agg; wedge self-join on
    the low endpoint; closing join on the (b, c) pair) plus the final
    credit agg — all on 2-3 column host rows, map-side combinable.
    Output: ``(host, degree, triangles, clustering_ppm)`` with the
    exact integer local coefficient ``2·T·10^6 div (d·(d-1))`` (0 for
    degree < 2), one row per vertex including triangle-free ones.
    """
    u, v = F.col(src), F.col(dst)
    e = (
        edges.where(u.isNotNull() & v.isNotNull() & (u != v))
        .select(F.least(u, v).alias("a"), F.greatest(u, v).alias("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("x"))
        .unionByName(e.select(F.col("b").alias("x")))
        .groupBy("x").agg(F.count(F.lit(1)).alias("degree"))
    )
    # direct each edge from lower to higher (degree, id) — join the
    # degree table twice, then swap endpoints where needed
    da = deg.select(F.col("x").alias("a"), F.col("degree").alias("_dega"))
    db = deg.select(F.col("x").alias("b"), F.col("degree").alias("_degb"))
    keyed = e.join(da, "a").join(db, "b")
    a_first = (F.struct("_dega", "a") < F.struct("_degb", "b"))
    directed = keyed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi"))
    # wedges around each low endpoint; b < c in plain id order makes
    # each unordered candidate pair appear once
    w1 = directed.select(F.col("lo").alias("p"), F.col("hi").alias("b"))
    w2 = directed.select(F.col("lo").alias("p"), F.col("hi").alias("c"))
    wedges = w1.join(w2, "p").where(F.col("b") < F.col("c"))
    closing = directed.select(
        F.least("lo", "hi").alias("b"), F.greatest("lo", "hi").alias("c"))
    tris = wedges.join(closing, ["b", "c"])
    credit = (
        tris.withColumn("_verts", F.array("p", "b", "c"))
        .select(F.explode_outer("_verts").alias("x"))
        .groupBy("x").agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.join(credit, "x", "left")
        .select(
            F.col("x").alias("host"), "degree",
            F.coalesce("triangles", F.lit(0)).cast("bigint")
            .alias("triangles"))
        .withColumn(
            "clustering_ppm",
            F.when(F.col("degree") >= 2,
                   F.expr("(triangles * 2000000L) div "
                          "(degree * (degree - 1L))"))
            .otherwise(F.lit(0)).cast("bigint"))
    )


def resolve_redirects(edges: DataFrame, src: str = "src_url",
                      dst: str = "dst_url",
                      max_hops: int = 16) -> DataFrame:
    """Resolve redirect chains to their terminal URLs — the crawl-graph
    canonicalization every dedup/link pass wants BEFORE keying on URLs
    (http→https hops, www variants, shorteners: keying on the chain's
    head splits one page's signals across aliases). Input: one (src →
    dst) row per observed redirect. Output: one row per redirecting
    URL — ``(url, final_url, hops, resolved)`` where ``resolved`` is
    false for chains still unterminated after ``max_hops`` (i.e.
    redirect CYCLES or absurd chains — flagged, never looped forever).

    Algorithm: pointer doubling (the ``dup_clusters`` connected-
    components trick applied to functional graphs): each round joins
    the mapping with itself, so reach doubles — ``ceil(log2(max_hops))``
    narrow url-keyed self-joins total, each carrying (url, next, hops).
    At 100 TB that is 4-5 shuffles of 3-column rows instead of a
    per-hop iterative walk. Multiple contradictory redirects from one
    URL collapse deterministically to the lexicographically smallest
    target.
    """
    import math as _math

    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1: {max_hops}")
    m = (
        edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull()
                    & (F.col(src) != F.col(dst)))
        .groupBy(F.col(src).alias("url"))
        .agg(F.min(F.col(dst)).alias("next"))
        .withColumn("hops", F.lit(1).cast("bigint"))
    )
    rounds = max(1, _math.ceil(_math.log2(max_hops)))
    for _ in range(rounds):
        b = m.select(F.col("url").alias("_b_url"),
                     F.col("next").alias("_b_next"),
                     F.col("hops").alias("_b_hops"))
        m = (
            m.join(b, m["next"] == b["_b_url"], "left")
            .select(
                "url",
                F.coalesce("_b_next", "next").alias("next"),
                (F.col("hops") + F.coalesce("_b_hops", F.lit(0)))
                .alias("hops"))
            .localCheckpoint(eager=True)
        )
    srcs = m.select(F.col("url").alias("_s")).distinct()
    return (
        m.join(srcs, m["next"] == srcs["_s"], "left")
        .select(
            "url", F.col("next").alias("final_url"),
            F.col("hops"),
            (F.col("_s").isNull() & (F.col("hops") <= max_hops))
            .alias("resolved"))
    )


def reciprocity(edges: DataFrame, src: str = "src_host",
                dst: str = "dst_host") -> DataFrame:
    """Per-host link reciprocity over the directed host graph: of the
    DISTINCT hosts A links to, what fraction link back? Link-exchange
    rings and paid-backlink farms show reciprocity near 1 while
    organic editorial linking is strongly asymmetric (the classic
    Garlaschelli & Loffredo 2004 reciprocity signal, applied per-host)
    — the companion to ``triangle_counts``' clustering view of the
    same spam shape.

    Scale shape: dedupe to distinct host-pair edges (self-loops and
    NULLs out), then probe the edge set with its own reversal via a
    LEFT join on the (dst, src) pair — edge-keyed, map-side
    combinable, no vertex-degree fan-out: a celebrity host's rows
    spread across partitions by the PAIR key, so power-law hubs do
    not make a hot partition. Final agg groups on the host key.
    Output: ``(host, n_out_hosts, n_reciprocal, reciprocity_ppm)``
    with the exact integer ratio ``n_reciprocal * 10^6 div
    n_out_hosts``.
    """
    e = (edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull()
                     & (F.col(src) != F.col(dst)))
         .select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
         .distinct())
    rev = e.select(F.col("_d").alias("_s"), F.col("_s").alias("_d"),
                   F.lit(1).alias("_back"))
    return (e.join(rev, ["_s", "_d"], "left")
            .groupBy(F.col("_s").alias("host"))
            .agg(F.count(F.lit(1)).alias("n_out_hosts"),
                 F.sum(F.coalesce(F.col("_back"), F.lit(0)))
                 .alias("n_reciprocal"))
            .select("host", "n_out_hosts",
                    F.col("n_reciprocal").cast("bigint")
                    .alias("n_reciprocal"),
                    F.expr("n_reciprocal * 1000000 div n_out_hosts")
                    .cast("bigint").alias("reciprocity_ppm")))
