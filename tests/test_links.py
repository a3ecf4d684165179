"""Outlink extraction + host link graph (operators/links.py)."""

import pytest
from pyspark.sql import functions as F

from document_extractor_spark.operators.links import (
    extract_outlinks,
    host_link_graph,
)
from document_extractor_spark.plans import assert_no_python


def _page(url, body):
    return (url, bytearray(body.encode("utf-8")))


def _pages(spark, rows):
    return spark.createDataFrame(rows, "url string, html binary")


def test_extract_outlinks_resolution_rules(spark):
    html = (
        "<body>"
        "<a href='https://other.example.com/p'>abs</a>"
        "<a href='//cdn.example.net/x'>proto-rel</a>"
        "<a href='/root/path'>rooted</a>"
        "<a href='rel/page.html'>bare</a>"
        "<a href='mailto:a@b.example'>mail</a>"
        "</body>"
    )
    df = _pages(spark, [_page("https://src.example.org/dir/doc", html)])
    rows = {r["link_index"]: r for r in extract_outlinks(df).collect()}
    assert len(rows) == 5
    assert rows[1]["resolved"] == "https://other.example.com/p"
    assert rows[1]["dst_host"] == "other.example.com"
    assert rows[2]["resolved"] == "https://cdn.example.net/x"
    assert rows[2]["dst_host"] == "cdn.example.net"
    assert rows[3]["resolved"] == "https://src.example.org/root/path"
    # documented simplification: bare-relative resolves against the root
    assert rows[4]["resolved"] == "https://src.example.org/rel/page.html"
    # mailto keeps its scheme and has no authority
    assert rows[5]["resolved"] == "mailto:a@b.example"
    assert rows[5]["dst_host"] is None
    assert rows[1]["anchor"] == "abs"
    assert_no_python(extract_outlinks(df))


def test_extract_outlinks_skips_unparseable_anchors(spark):
    html = (
        "<a href='/ok'>fine</a>"
        "<a href='/nested'><b>bold</b></a>"   # nested markup: skipped
        "<a name='no-href'>plain</a>"          # no href: empty string
        "<p>not a link</p>"
    )
    df = _pages(spark, [_page("https://h.example.org/d", html)])
    rows = extract_outlinks(df).collect()
    hrefs = {r["href"] for r in rows}
    assert "/ok" in hrefs and "/nested" not in hrefs
    # the href-less anchor surfaces with NULL resolution, never a bogus URL
    empty = [r for r in rows if r["href"] == ""]
    assert len(empty) == 1
    assert empty[0]["resolved"] is None and empty[0]["dst_host"] is None


def test_extract_outlinks_null_and_empty_html(spark):
    df = _pages(spark, [("https://h.example.org/1", None),
                        _page("https://h.example.org/2", ""),
                        _page("https://h.example.org/3", "<a href='/z'>z</a>")])
    rows = extract_outlinks(df).collect()
    assert [r["url"] for r in rows] == ["https://h.example.org/3"]


def test_extract_outlinks_hostile_payloads(spark):
    """Binary garbage, megabyte hrefs, and unparseable base URLs must
    never fail the task (Spark 4 decode raises on malformed UTF-8 —
    the operator casts instead)."""
    hostile = spark.createDataFrame(
        [("https://x.example.org/q",
          bytearray(b"\xff\xfe\x00garbage\x80<a href='/ok'>t</a>")),
         ("https://x.example.org/r",
          bytearray(b"<a href='" + b"9" * 5000 + b"'>big</a>")),
         ("notaurl", bytearray(b"<a href='rel/path'>rel</a>"))],
        "url string, html binary")
    rows = extract_outlinks(hostile).collect()
    by_url = {r["url"]: r for r in rows}
    # the valid anchor inside the garbage page still extracts
    assert by_url["https://x.example.org/q"]["href"] == "/ok"
    assert by_url["https://x.example.org/q"]["dst_host"] == "x.example.org"
    # >2048-char href exceeds the bounded quantifier: tag skipped, no row
    assert "https://x.example.org/r" not in by_url
    # base URL with no authority: relative href resolves to NULL-host
    assert by_url["notaurl"]["dst_host"] is None
    # the graph drops NULL-dst rows rather than failing
    g = host_link_graph(extract_outlinks(hostile)).collect()
    assert {(r["src_host"], r["dst_host"]) for r in g} == {
        ("x.example.org", "x.example.org")}


def test_explode_images_hostile_payload(spark):
    """Same decode trap in the image exploder (operators/media.py)."""
    from document_extractor_spark.operators.media import explode_images

    df = spark.createDataFrame(
        [("u", bytearray(b"\x80\xffjunk<img src='/i.png'/>"))],
        "url string, html binary")
    rows = explode_images(df).collect()
    assert len(rows) == 1 and rows[0]["src"] == "/i.png"


def test_host_link_graph_counts(spark):
    html_a = "<a href='/local'>l</a><a href='https://b.example.org/'>b</a>"
    html_b = "<a href='https://b.example.org/self'>s</a>"
    df = _pages(spark, [
        _page("https://a.example.org/1", html_a),
        _page("https://a.example.org/2", html_a),
        _page("https://b.example.org/1", html_b),
    ])
    g = {(r["src_host"], r["dst_host"]): r["n_links"]
         for r in host_link_graph(extract_outlinks(df)).collect()}
    assert g == {
        ("a.example.org", "a.example.org"): 2,
        ("a.example.org", "b.example.org"): 2,
        ("b.example.org", "b.example.org"): 1,
    }


def test_outlinks_fixture_shape(spark, sf_dir):
    """The contract fixture: 11 links per page, cross-host targets by
    doc_id arithmetic."""
    from document_extractor_spark.sources.docpages import pages_with_links

    links = extract_outlinks(pages_with_links(spark, sf_dir).limit(3))
    rows = links.collect()
    per_url = {}
    for r in rows:
        per_url.setdefault(r["url"], []).append(r)
    for url, rs in per_url.items():
        assert len(rs) == 11
        cross = [r for r in rs if r["href"].startswith("https://")]
        assert len(cross) == 3
        assert all(r["dst_host"].endswith(".example.org") for r in rs)

def test_extract_outlinks_case_insensitive_tags(spark):
    """Legacy-HTML anchors (<A HREF=...>) must not vanish from the
    graph: tag and attribute names are case-insensitive."""
    html = ("<A HREF='https://up.example.com/p'>UP</A>"
            "<a HREF=\"/mixed\">m</a>")
    df = _pages(spark, [_page("https://src.example.org/d", html)])
    rows = {r["link_index"]: r for r in extract_outlinks(df).collect()}
    assert len(rows) == 2
    assert rows[1]["resolved"] == "https://up.example.com/p"
    assert rows[1]["anchor"] == "UP"
    assert rows[2]["resolved"] == "https://src.example.org/mixed"


def test_extract_outlinks_href_only_from_attributes(spark):
    """href quoted in the anchor BODY or hiding inside another
    attribute name (data-href) must not fabricate an edge."""
    html = (
        "<a name='x'>set href=\"http://evil.test/\" in config</a>"
        "<a data-href='http://also.evil.test/'>text</a>"
        "<a class='c' href='/real'>ok</a>"
    )
    df = _pages(spark, [_page("https://h.example.org/d", html)])
    rows = extract_outlinks(df).collect()
    assert {r["href"] for r in rows} == {"", "/real"}
    assert {r["dst_host"] for r in rows if r["dst_host"]} == \
        {"h.example.org"}


def test_hosts_are_lowercased_everywhere(spark):
    """Host identity is case-insensitive (RFC 3986): mixed-case page
    and target authorities collapse to one lowercase graph node."""
    html = "<a href='https://CDN.Example.NET/x'>c</a><a href='/l'>l</a>"
    df = _pages(spark, [_page("https://WWW.Example.ORG/d", html)])
    rows = {r["link_index"]: r for r in extract_outlinks(df).collect()}
    assert rows[1]["dst_host"] == "cdn.example.net"
    assert rows[2]["dst_host"] == "www.example.org"
    g = {(r["src_host"], r["dst_host"])
         for r in host_link_graph(extract_outlinks(df)).collect()}
    assert g == {("www.example.org", "cdn.example.net"),
                 ("www.example.org", "www.example.org")}

def _numpy_pagerank(edges, damping, iters):
    """Reference power iteration (dense numpy) with uniform dangling
    redistribution — the oracle for the asymmetric-graph test."""
    import numpy as np

    nodes = sorted({e[0] for e in edges} | {e[1] for e in edges})
    ix = {h: i for i, h in enumerate(nodes)}
    n = len(nodes)
    M = np.zeros((n, n))
    for s, d, w in edges:
        M[ix[d], ix[s]] += w
    out = M.sum(axis=0)
    pr = np.full(n, 1.0 / n)
    for _ in range(iters):
        dmass = pr[out == 0].sum()
        nz = out > 0
        contrib = M[:, nz] @ (pr[nz] / out[nz])
        pr = (1 - damping) / n + damping * (contrib + dmass / n)
    return {h: pr[ix[h]] for h in nodes}


def test_pagerank_matches_numpy_asymmetric(spark):
    """Asymmetric weighted graph with a dangling node: the DataFrame
    power iteration must match a dense numpy reference to 1e-12."""
    from document_extractor_spark.operators.links import pagerank

    edges = [("a", "b", 3), ("a", "c", 1), ("b", "c", 2),
             ("c", "a", 1), ("b", "d", 5)]   # d dangles
    df = spark.createDataFrame(
        edges, "src_host string, dst_host string, n_links bigint")
    got = {r["host"]: r["pagerank"]
           for r in pagerank(df, damping=0.85, iterations=12).collect()}
    want = _numpy_pagerank(edges, 0.85, 12)
    assert set(got) == set(want)
    for h in want:
        assert abs(got[h] - want[h]) < 1e-12, (h, got[h], want[h])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_uniform_on_fixture_graph(spark, sf_dir):
    """The contract fixture's host graph is a circulant doubly
    stochastic chain (every page emits 8 self-links + 3 cross refs, so
    per-source transition probabilities are identical) — PageRank is
    exactly uniform 1/37 regardless of damping or rounds."""
    from document_extractor_spark.operators.links import (
        extract_outlinks,
        host_link_graph,
        pagerank,
    )
    from document_extractor_spark.sources.docpages import pages_with_links

    g = host_link_graph(extract_outlinks(pages_with_links(spark, sf_dir)))
    rows = pagerank(g, iterations=3).collect()
    assert len(rows) == 37
    for r in rows:
        assert abs(r["pagerank"] - 1.0 / 37) < 1e-12


def _numpy_trustrank(edges, seeds, damping, iters):
    """Reference TrustRank: teleport AND dangling mass go to the seed
    set uniformly; init is uniform over seeds."""
    import numpy as np

    nodes = sorted({e[0] for e in edges} | {e[1] for e in edges})
    ix = {h: i for i, h in enumerate(nodes)}
    n = len(nodes)
    M = np.zeros((n, n))
    for s, d, w in edges:
        M[ix[d], ix[s]] += w
    out = M.sum(axis=0)
    seed_vec = np.zeros(n)
    for h in seeds:
        if h in ix:
            seed_vec[ix[h]] = 1.0
    seed_vec /= seed_vec.sum()
    pr = seed_vec.copy()
    for _ in range(iters):
        dmass = pr[out == 0].sum()
        nz = out > 0
        contrib = M[:, nz] @ (pr[nz] / out[nz])
        pr = (1 - damping) * seed_vec + damping * (contrib
                                                   + dmass * seed_vec)
    return {h: pr[ix[h]] for h in nodes}


def test_trustrank_matches_numpy_asymmetric(spark):
    """Asymmetric weighted graph with a dangling node and a 2-host seed
    set: the DataFrame iteration must match the dense numpy reference
    (teleport + dangling mass both land on seeds only)."""
    from document_extractor_spark.operators.links import trustrank

    edges = [("a", "b", 3), ("a", "c", 1), ("b", "c", 2),
             ("c", "a", 1), ("b", "d", 5), ("d", None, 1)]  # null dropped
    df = spark.createDataFrame(
        edges, "src_host string, dst_host string, n_links bigint")
    seeds = spark.createDataFrame([("a",), ("c",)], "host string")
    got = {r["host"]: r["trustrank"]
           for r in trustrank(df, seeds, damping=0.85,
                              iterations=12).collect()}
    want = _numpy_trustrank(
        [e for e in edges if e[1] is not None], ["a", "c"], 0.85, 12)
    assert set(got) == set(want)
    for h in want:
        assert abs(got[h] - want[h]) < 1e-12, (h, got[h], want[h])
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # trust reaches d only through the damped chain — strictly less
    # than any seed, and spam-isolated vertices would get exactly 0
    assert got["d"] < got["a"] and got["d"] < got["c"]


def test_trustrank_isolated_cluster_gets_zero(spark):
    """A spam cluster ({x,y} linking only to each other) with no inlink
    from the trusted component accumulates EXACTLY zero trust — the
    defining TrustRank property (uniform-teleport PageRank would give
    it mass)."""
    from document_extractor_spark.operators.links import trustrank

    edges = [("a", "b", 1), ("b", "a", 1),
             ("x", "y", 7), ("y", "x", 7)]
    df = spark.createDataFrame(
        edges, "src_host string, dst_host string, n_links bigint")
    seeds = spark.createDataFrame([("a",)], "host string")
    stats = {}
    got = {r["host"]: r["trustrank"]
           for r in trustrank(df, seeds, iterations=25,
                              stats=stats).collect()}
    assert got["x"] == 0.0 and got["y"] == 0.0
    assert abs(got["a"] + got["b"] - 1.0) < 1e-9
    # the 2-cycle contracts at damping^k — 25 rounds is far from
    # tol=1e-9, so the cap (not the early exit) ends the loop and the
    # recorded delta shows the geometric decay
    assert stats["iterations"] == 25
    assert 0 < stats["l1_delta"] < 0.85 ** 20


def test_trustrank_no_seed_in_graph_raises(spark):
    from document_extractor_spark.operators.links import trustrank
    import pytest

    df = spark.createDataFrame(
        [("a", "b", 1)], "src_host string, dst_host string, n_links bigint")
    seeds = spark.createDataFrame([("zz",), (None,)], "host string")
    with pytest.raises(ValueError, match="no seed host"):
        trustrank(df, seeds)


def test_trustrank_closed_form_on_seed_cycle(spark):
    """Planted fixture shape (the driver-contract oracle's closed form):
    5 seed hosts in a cycle among themselves, every non-seed linking
    INTO a seed — trust is exactly 1/5 per seed, 0 per non-seed, and
    the fixed point is reached in round 1."""
    from document_extractor_spark.operators.links import trustrank

    edges = []
    for i in range(5):
        edges.append((f"h{i}", f"h{(i + 1) % 5}", 1))
    for i in range(5, 37):
        edges.append((f"h{i}", f"h{i % 5}", 1))
    df = spark.createDataFrame(
        edges, "src_host string, dst_host string, n_links bigint")
    seeds = spark.createDataFrame(
        [(f"h{i}",) for i in range(5)], "host string")
    stats = {}
    rows = trustrank(df, seeds, iterations=10, stats=stats).collect()
    assert len(rows) == 37
    for r in rows:
        want = 0.2 if int(r["host"][1:]) < 5 else 0.0
        assert abs(r["trustrank"] - want) < 1e-12, (r["host"], r["trustrank"])
    assert stats["iterations"] == 1


def test_incoming_anchor_profile_counts_and_tiebreak(spark):
    """top_anchor = most frequent; frequency ties break to the
    lexicographically smallest anchor; empty anchors and null dst_hosts
    follow the documented semantics (counted / dropped)."""
    from document_extractor_spark.operators.links import (
        incoming_anchor_profile,
    )

    rows = [
        # host a: 'zz' x2 beats 'aa' x1
        ("u1", "a", "zz"), ("u2", "a", "zz"), ("u3", "a", "aa"),
        # host b: 'bb' and 'ab' tie at 1 → 'ab' wins lexicographically
        ("u4", "b", "bb"), ("u5", "b", "ab"),
        # host c: empty anchor only — counted, and IS the top anchor
        ("u6", "c", ""),
        # unresolvable link: dropped entirely
        ("u7", None, "xx"),
    ]
    df = spark.createDataFrame(
        rows, "url string, dst_host string, anchor string")
    got = {r["dst_host"]: (r["n_inlinks"], r["n_anchor_texts"],
                           r["top_anchor"])
           for r in incoming_anchor_profile(df).collect()}
    assert got == {"a": (3, 2, "zz"), "b": (2, 2, "ab"), "c": (1, 1, "")}


def test_incoming_anchor_profile_on_fixture(spark, sf_dir):
    """Fixture closed form: every host's chrome anchors each appear
    n_docs(host) times and always beat the singleton 'Ref …' anchors;
    'About' is the lexicographic winner of the 8-way chrome tie."""
    from document_extractor_spark.operators.links import (
        extract_outlinks,
        incoming_anchor_profile,
    )
    from document_extractor_spark.sources.docpages import pages_with_links

    from collections import Counter

    links = extract_outlinks(pages_with_links(spark, sf_dir))
    prof = {r["dst_host"]: r
            for r in incoming_anchor_profile(links).collect()}
    doc_ids = [int(r["url"].rsplit("/", 1)[1])
               for r in links.select("url").distinct().collect()]
    per_host = Counter(i % 37 for i in doc_ids)
    assert len(prof) == 37
    assert sum(r["n_inlinks"] for r in prof.values()) == 11 * len(doc_ids)
    for j in range(37):
        r = prof[f"h{j}.example.org"]
        cross = sum(per_host[(j - 5 * k) % 37] for k in (1, 2, 3))
        # 8 chrome anchors from each of the host's own pages + one
        # globally-unique 'Ref …' anchor per cross inlink
        assert r["n_inlinks"] == 8 * per_host[j] + cross
        assert r["n_anchor_texts"] == 8 + cross
        assert r["top_anchor"] == "About"


def test_pagerank_drops_null_host_edges(spark):
    """Unresolvable links (null src/dst) must not leak rank mass: the
    result equals PageRank of the non-null subgraph and sums to 1."""
    from document_extractor_spark.operators.links import pagerank

    clean = [("a", "b", 1), ("b", "a", 1), ("b", "c", 2), ("c", "a", 1)]
    noisy = clean + [("a", None, 5), (None, "c", 5)]
    df = spark.createDataFrame(
        noisy, "src_host string, dst_host string, n_links bigint")
    got = {r["host"]: r["pagerank"]
           for r in pagerank(df, iterations=8).collect()}
    want = _numpy_pagerank(clean, 0.85, 8)
    assert set(got) == {"a", "b", "c"}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    for h in want:
        assert abs(got[h] - want[h]) < 1e-12


def test_pagerank_converges_early_on_regular_graph(spark, sf_dir):
    """The circulant fixture graph has uniform 1/37 as an exact fixed
    point, so the L1-delta early exit must stop after round 1 of the
    10-round cap — and still return the exact stationary vector."""
    from document_extractor_spark.operators.links import (
        extract_outlinks,
        host_link_graph,
        pagerank,
    )
    from document_extractor_spark.sources.docpages import pages_with_links

    g = host_link_graph(extract_outlinks(pages_with_links(spark, sf_dir)))
    stats = {}
    rows = pagerank(g, iterations=10, stats=stats).collect()
    assert stats["iterations"] == 1
    assert stats["l1_delta"] is not None and stats["l1_delta"] < 1e-9
    for r in rows:
        assert abs(r["pagerank"] - 1.0 / 37) < 1e-12


def test_pagerank_tol_zero_runs_all_iterations(spark):
    """tol=0 disables the convergence job: the full iteration budget
    runs even on an instantly-converged graph."""
    from document_extractor_spark.operators.links import pagerank

    df = spark.createDataFrame(
        [("a", "b", 1), ("b", "a", 1)],
        "src_host string, dst_host string, n_links bigint")
    stats = {}
    pagerank(df, iterations=4, tol=0, stats=stats).collect()
    assert stats["iterations"] == 4 and stats["l1_delta"] is None


@pytest.mark.parametrize("ranker", ["pagerank", "trustrank", "hits"])
def test_rankers_drop_hostile_edge_weights(spark, ranker):
    """A zero, NULL, negative, NaN or infinite edge weight carries no
    rank: its source stays a vertex and dangles. No division by zero,
    no leaked PageRank mass, no negative HITS score."""
    from document_extractor_spark.operators.links import (
        hits,
        pagerank,
        trustrank,
    )

    clean = [("a", "b", 1.0), ("b", "c", 2.0), ("c", "a", 1.0)]
    hostile = [("d", "a", 0.0), ("e", "b", None), ("f", "c", -1.0),
               ("g", "a", float("nan")), ("h", "b", float("inf"))]
    schema = "src_host string, dst_host string, n_links double"
    df = spark.createDataFrame(clean + hostile, schema)
    if ranker == "hits":
        got = {r["host"]: (r["hub"], r["authority"])
               for r in hits(df, iterations=8, tol=0).collect()}
        want = {r["host"]: (r["hub"], r["authority"]) for r in hits(
            spark.createDataFrame(clean, schema), iterations=8,
            tol=0).collect()}
        assert all(v >= 0.0 for pair in got.values() for v in pair)
        for s, _, _ in hostile:
            assert got.pop(s) == (0.0, 0.0)
        assert set(got) == set(want)
        for h in want:
            for x, y in zip(got[h], want[h]):
                assert abs(x - y) < 1e-12, (h, got[h], want[h])
        return
    # a zero-weight edge adds a vertex but no transition
    ref = clean + [(s, d, 0.0) for s, d, _ in hostile]
    if ranker == "pagerank":
        out = pagerank(df, iterations=8)
        want = _numpy_pagerank(ref, 0.85, 8)
    else:
        seeds = spark.createDataFrame([("a",), ("d",)], "host string")
        out = trustrank(df, seeds, iterations=8)
        want = _numpy_trustrank(ref, ["a", "d"], 0.85, 8)
    got = {r["host"]: r[ranker] for r in out.collect()}
    assert set(got) == set(want)
    for h in want:
        assert abs(got[h] - want[h]) < 1e-12, (h, got[h], want[h])
    assert abs(sum(got.values()) - 1.0) < 1e-9



def test_ranker_output_bound_across_shuffle_partitions(spark):
    """Rank sums follow the shuffle order Spark picks at run time, so
    ranker output is not bit-reproducible; it is reproducible to 1e-12.
    The same graph at 1 and 7 shuffle partitions stays inside that."""
    import random

    from document_extractor_spark.operators.links import hits, pagerank

    rnd = random.Random(7)
    hosts = [f"h{i:02d}" for i in range(40)]
    edges = sorted({(rnd.choice(hosts), rnd.choice(hosts),
                     float(rnd.randint(1, 9))) for _ in range(160)})
    df = spark.createDataFrame(
        edges, "src_host string, dst_host string, n_links double")

    def scores():
        pr = {r["host"]: (r["pagerank"],) for r in
              pagerank(df, iterations=4, tol=0).collect()}
        hi = {r["host"]: (r["hub"], r["authority"]) for r in
              hits(df, iterations=4, tol=0).collect()}
        return pr, hi

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    try:
        runs = []
        for parts in ("1", "7"):
            spark.conf.set(key, parts)
            runs.append(scores())
    finally:
        spark.conf.set(key, old)
    assert spark.conf.get(key) == old
    for one, seven in zip(*runs):
        assert set(one) == set(seven) and len(one) > 30
        diff = max(abs(x - y) for h in one
                   for x, y in zip(one[h], seven[h]))
        assert diff <= 1e-12, diff

# --- triangle counting -------------------------------------------------------

from document_extractor_spark.operators.links import triangle_counts


def _tc(spark, edges):
    df = spark.createDataFrame(edges, "src_host string, dst_host string")
    return {r["host"]: r for r in triangle_counts(df).collect()}


def test_triangles_on_known_graph(spark):
    # K4 on a,b,c,d (4 triangles, every vertex in 3) plus a pendant e
    k4 = [(x, y) for i, x in enumerate("abcd") for y in "abcd"[i + 1:]]
    got = _tc(spark, k4 + [("d", "e")])
    for h in "abc":
        assert (got[h]["degree"], got[h]["triangles"]) == (3, 3)
        assert got[h]["clustering_ppm"] == 1_000_000      # fully clustered
    assert (got["d"]["degree"], got["d"]["triangles"]) == (4, 3)
    assert got["d"]["clustering_ppm"] == 3 * 2_000_000 // 12
    assert (got["e"]["degree"], got["e"]["triangles"],
            got["e"]["clustering_ppm"]) == (1, 0, 0)


def test_duplicate_reversed_and_self_edges_canonicalized(spark):
    edges = [("a", "b"), ("b", "a"), ("a", "b"),       # one edge
             ("b", "c"), ("c", "a"), ("a", "a"),        # self loop dropped
             (None, "a"), ("a", None)]
    got = _tc(spark, edges)
    assert all(r["triangles"] == 1 and r["degree"] == 2
               for r in got.values())
    assert set(got) == {"a", "b", "c"}


def test_matches_brute_force_on_arithmetic_graph(spark):
    import itertools
    edges = [(f"h{i % 13}", f"h{(i * 3 + 1) % 13}") for i in range(60)]
    got = _tc(spark, edges)
    # brute force over the canonical undirected edge set
    eset = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    verts = {x for e in eset for x in e}
    tri = {v: 0 for v in verts}
    for a, b, c in itertools.combinations(sorted(verts), 3):
        if {tuple(sorted((a, b))), tuple(sorted((a, c))),
                tuple(sorted((b, c)))} <= eset:
            tri[a] += 1
            tri[b] += 1
            tri[c] += 1
    for v in verts:
        assert got[v]["triangles"] == tri[v], v
        deg = sum(1 for e in eset if v in e)
        assert got[v]["degree"] == deg


# --- redirect resolution -------------------------------------------------------

from document_extractor_spark.operators.links import resolve_redirects


def _rr(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src_url string, dst_url string")
    return {r["url"]: r for r in resolve_redirects(df, **kw).collect()}


def test_chains_resolve_with_hop_counts(spark):
    got = _rr(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("q", "d")])
    assert (got["a"]["final_url"], got["a"]["hops"],
            got["a"]["resolved"]) == ("d", 3, True)
    assert (got["b"]["final_url"], got["b"]["hops"]) == ("d", 2)
    assert (got["c"]["final_url"], got["c"]["hops"]) == ("d", 1)
    assert got["q"]["final_url"] == "d"
    assert "d" not in got                         # terminals don't redirect


def test_cycles_flagged_not_looped(spark):
    got = _rr(spark, [("x", "y"), ("y", "x"), ("a", "x")])
    assert got["x"]["resolved"] is False
    assert got["y"]["resolved"] is False
    assert got["a"]["resolved"] is False          # chain INTO a cycle
    # a long but terminating chain still resolves
    chain = [(f"u{i}", f"u{i+1}") for i in range(12)]
    got2 = _rr(spark, chain)
    assert (got2["u0"]["final_url"], got2["u0"]["hops"],
            got2["u0"]["resolved"]) == ("u12", 12, True)


def test_contradictory_and_self_edges(spark):
    got = _rr(spark, [("a", "c"), ("a", "b"), ("s", "s")])
    assert got["a"]["final_url"] == "b"           # min target wins
    assert "s" not in got                         # self-edge dropped
    import pytest as _pt
    df = spark.createDataFrame([("a", "b")], "src_url string, dst_url string")
    with _pt.raises(ValueError, match="max_hops"):
        resolve_redirects(df, max_hops=0)


# ---------------------------------------------------------------------------
# reciprocity
# ---------------------------------------------------------------------------


def test_reciprocity_mixed_graph(spark):
    from document_extractor_spark.operators.links import reciprocity

    edges = [
        ("a", "b"), ("b", "a"),          # reciprocated pair
        ("a", "c"),                      # one-way
        ("c", "d"), ("d", "c"),          # reciprocated pair
        ("d", "d"),                      # self-loop: ignored
        ("a", "b"),                      # duplicate edge: deduped
        (None, "x"), ("x", None),        # NULLs: ignored
    ]
    got = {r["host"]: (r["n_out_hosts"], r["n_reciprocal"],
                       r["reciprocity_ppm"])
           for r in reciprocity(spark.createDataFrame(
               edges, "src_host string, dst_host string")).collect()}
    assert got == {
        "a": (2, 1, 500000),
        "b": (1, 1, 1000000),
        "c": (1, 1, 1000000),
        "d": (1, 1, 1000000),
    }


def test_reciprocity_plan_is_jvm_only(spark):
    from document_extractor_spark.operators.links import reciprocity
    from document_extractor_spark.plans import assert_no_python

    df = spark.createDataFrame(
        [("a", "b")], "src_host string, dst_host string")
    assert_no_python(reciprocity(df))
