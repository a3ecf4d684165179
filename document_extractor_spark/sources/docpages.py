"""Build a Common-Crawl-style ``pages`` table from the driver's
``documents`` table — entirely JVM-side (concat/regexp expressions, no
Python), so the extraction round-trip query has a closed-form SQL oracle:

    html = chrome ⊕ <h1>Document {id}</h1><p>{escaped text}</p> ⊕ chrome
    ⇒ extracted_text must equal 'Document {id}\\n\\n' + text, byte for byte.

This turns the driver's DuckDB cross-check into an end-to-end correctness
gate over the full extraction pipeline (boilerplate strip + typed spans).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_PREFIX = (
    "<!DOCTYPE html><html><head><title>Doc</title>"
    "<script>var x=1;</script><style>p{margin:0}</style></head><body>"
    "<header><a href='/'>Home</a> <a href='/about'>About</a></header>"
    "<nav><ul><li><a href='/a'>Cat A</a></li><li><a href='/b'>Cat B</a></li>"
    "<li><a href='/c'>Cat C</a></li></ul></nav><main><h1>Document "
)
_MID = "</h1><p>"
_SUFFIX = (
    "</p></main><aside><p>Related: <a href='/x'>one</a>, "
    "<a href='/y'>two</a></p></aside>"
    "<footer><p>Copyright 2026 Example. <a href='/t'>Terms</a></p></footer>"
    "</body></html>"
)


def _escaped(col):
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, "&", "&amp;")
    c = F.regexp_replace(c, "<", "&lt;")
    return F.regexp_replace(c, ">", "&gt;")


def pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    html = F.concat(
        F.lit(_PREFIX), F.col("doc_id").cast("string"), F.lit(_MID),
        _escaped("text"), F.lit(_SUFFIX),
    )
    return docs.select(
        F.concat(F.lit("https://docs.example.org/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang"),
    )


def doc_id_from_url(col="url"):
    return F.element_at(F.split(col, "/"), -1).cast("bigint").alias("doc_id")


# Formatting variant: the main paragraph is centered and wholly wrapped
# in <strong><em> so the extracted item must carry {bold, italic,
# alignment} and the H3 renderer must re-emit the formatting — all with
# closed-form oracles.
def pages_with_formatting(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit(_PREFIX), did,
        F.lit("</h1><p style='text-align: center'><strong><em>"),
        _escaped("text"),
        F.lit("</em></strong></p></main>"),
        F.lit(_SUFFIX.replace("</p></main>", "", 1)),
    )
    return docs.select(
        F.concat(F.lit("https://docs.example.org/"), did).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang"),
    )


def pages_with_figures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id").cast("string")
    figs = F.concat(
        *[
            F.concat(
                F.lit("<figure><img src='/img/"), did, F.lit(f"-{k}.jpg' "
                "alt='chart'><figcaption>Caption "), F.lit(str(k)),
                F.lit(" for document "), did, F.lit("</figcaption></figure>"),
            )
            for k in (1, 2)
        ]
    )
    html = F.concat(
        F.lit(_PREFIX), did, F.lit(_MID), _escaped("text"), F.lit("</p>"),
        figs, F.lit(_SUFFIX.replace("</p></main>", "</main>", 1)),
    )
    return docs.select(
        F.concat(F.lit("https://docs.example.org/"), did).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang"),
    )


# Link-graph variant: pages live on the h{doc_id%37}.example.org hosts
# (the host_profile fixture's host scheme) and embed, besides the 8
# relative chrome anchors, 3 cross-host references whose targets are
# pure doc_id arithmetic — so outlink extraction, URL resolution, and
# the host-level edge list all have closed-form oracles.
def pages_with_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 37
    refs = F.concat(
        *[
            F.concat(
                F.lit("<a href='https://h"),
                ((F.col("doc_id") + 5 * k) % 37).cast("string"),
                F.lit(".example.org/d/"), did, F.lit(f"-{k}'>Ref {k} "
                "for document "), did, F.lit("</a>"),
            )
            for k in (1, 2, 3)
        ]
    )
    html = F.concat(
        F.lit(_PREFIX), did, F.lit(_MID), _escaped("text"), F.lit("</p>"),
        refs, F.lit(_SUFFIX.replace("</p></main>", "</main>", 1)),
    )
    return docs.select(
        F.concat(F.lit("https://h"), m.cast("string"),
                 F.lit(".example.org/d/"), did).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang"),
    )


# Head-metadata variant for the page_metadata operator: a realistic
# <head> whose title / canonical / og:* values are pure functions of
# (doc_id, source) — with deliberately mixed attribute orders and quote
# styles, an escaped '&' in the title, and tags omitted on arithmetic
# subsets — so extraction has a closed-form oracle that also proves the
# NULL (missing-tag) paths.
def pages_with_head_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id").cast("string")
    title = F.when((F.col("doc_id") % 11) == 0, F.lit("")).otherwise(
        F.concat(F.lit("<title>Doc "), did, F.lit(" &amp; "),
                 F.col("source"), F.lit("</title>")))
    canon = F.concat(F.lit("https://example.org/d/"), did)
    canonical = F.when(
        (F.col("doc_id") % 3) == 0,
        F.concat(F.lit('<link href="'), canon, F.lit('" rel="canonical">')),
    ).otherwise(
        F.concat(F.lit('<link rel="canonical" href="'), canon, F.lit('">')))
    og_title = F.concat(
        F.lit('<meta property="og:title" content="OG Doc '), did, F.lit('">'))
    og_site = F.concat(  # content-before-property order
        F.lit('<meta content="site'), (F.col("doc_id") % 7).cast("string"),
        F.lit('" property="og:site_name">'))
    og_image = F.when((F.col("doc_id") % 5) == 0, F.lit("")).otherwise(
        F.concat(F.lit("<meta property='og:image' "
                       "content='https://img.example.org/"),
                 did, F.lit(".png'>")))  # single-quoted attrs
    html = F.concat(
        F.lit("<!DOCTYPE html><html><head>"), title, canonical, og_title,
        og_site, og_image, F.lit("</head><body><p>"), _escaped("text"),
        F.lit("</p></body></html>"),
    )
    return docs.select(
        F.concat(F.lit("https://docs.example.org/"), did).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang"),
    )


# JSON-LD variant for the structured-data operator: realistic
# <script type="application/ld+json"> blocks whose field values are pure
# functions of doc_id — an Article/Product/NewsArticle block (multiline,
# nested author object; omitted when doc_id%7==0) and a BreadcrumbList
# block (flat, no date/author, present when doc_id%4==0) — alongside the
# chrome's PLAIN <script> (a negative control: no type attribute, must
# not match). Extraction therefore has a closed-form oracle that also
# proves the no-block and missing-field NULL paths.
def pages_with_jsonld(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id").cast("string")
    ld_type = (
        F.when((F.col("doc_id") % 3) == 0, F.lit("Article"))
        .when((F.col("doc_id") % 3) == 1, F.lit("Product"))
        .otherwise(F.lit("NewsArticle")))
    article = F.when((F.col("doc_id") % 7) != 0, F.concat(
        F.lit('<script type="application/ld+json">\n{\n'
              '  "@context": "https://schema.org",\n  "@type": "'),
        ld_type,
        F.lit('",\n  "name": "Item '), did,
        F.lit('",\n  "datePublished": "2026-01-'),
        F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
        F.lit('",\n  "author": {"@type": "Person", "name": "Author '),
        (F.col("doc_id") % 5).cast("string"),
        F.lit('"}\n}\n</script>'),
    )).otherwise(F.lit(""))
    breadcrumb = F.when((F.col("doc_id") % 4) == 0, F.concat(
        F.lit("<script type='application/ld+json'>"
              '{"@context":"https://schema.org",'
              '"@type":"BreadcrumbList","name":"Trail '),
        did, F.lit('"}</script>'),
    )).otherwise(F.lit(""))
    html = F.concat(
        F.lit(_PREFIX), did, F.lit(_MID), _escaped("text"),
        F.lit("</p></main>"), article, breadcrumb,
        F.lit(_SUFFIX.replace("</p></main>", "", 1)),
    )
    return docs.select(
        F.concat(F.lit("https://docs.example.org/"), did).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang"),
    )


# hreflang variant for the alternate-language operator: every page
# lives at /en/{id} and declares itself plus arithmetic alternates —
# de on %2, fr on %3 (href-before-hreflang order), x-default on %5
# (pointing back at the en URL, as real sites do) — next to two
# negative controls (a stylesheet link and an RSS alternate WITHOUT
# hreflang). Alternates are pure doc_id functions, so the exploded
# rows and the per-page min-href cluster representative are both
# closed-form.
def pages_with_hreflang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id").cast("string")

    def alt(lang: str):
        return F.concat(
            F.lit(f'<link rel="alternate" hreflang="{lang}" '
                  f'href="https://docs.example.org/{lang}/'),
            did, F.lit('">'))

    en_url = F.concat(F.lit("https://docs.example.org/en/"), did)
    links = F.concat(
        F.lit('<link rel="stylesheet" href="/main.css">'),
        alt("en"),
        F.when((F.col("doc_id") % 2) == 0, alt("de")).otherwise(F.lit("")),
        F.when((F.col("doc_id") % 3) == 0, F.concat(
            F.lit('<link href="https://docs.example.org/fr/'), did,
            F.lit('" hreflang="FR" rel="alternate">'))).otherwise(F.lit("")),
        F.when((F.col("doc_id") % 5) == 0, F.concat(
            F.lit('<link rel="alternate" hreflang="x-default" href="'),
            en_url, F.lit('">'))).otherwise(F.lit("")),
        F.lit('<link rel="alternate" type="application/rss+xml" '
              'href="/feed.xml">'),
    )
    html = F.concat(
        F.lit("<!DOCTYPE html><html><head>"), links,
        F.lit("</head><body><p>"), _escaped("text"),
        F.lit("</p></body></html>"),
    )
    return docs.select(
        en_url.alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang"),
    )


# Mixed-payload variant for the sniffing operator: doc_id%7 selects the
# payload family (PDF / gzip / PNG / JPEG / UTF-16LE-BOM text / HTML /
# plain text), doc_id%13==0 overrides to empty bytes — all built
# JVM-side (unhex magic prefixes + encoded text), so the sniff verdict
# is a pure doc_id CASE the oracle states directly.
def pages_with_mixed_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id").cast("string")
    body = F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8")
    m = F.col("doc_id") % 7
    payload = (
        F.when((F.col("doc_id") % 13) == 0, F.encode(F.lit(""), "UTF-8"))
        .when(m == 0, F.concat(F.encode(F.lit("%PDF-1.4\n"), "UTF-8"), body))
        .when(m == 1, F.concat(F.unhex(F.lit("1F8B0800")), body))
        .when(m == 2, F.concat(F.unhex(F.lit("89504E470D0A1A0A")), body))
        .when(m == 3, F.concat(F.unhex(F.lit("FFD8FFE0")), body))
        .when(m == 4, F.concat(F.unhex(F.lit("FFFE")), body))
        .when(m == 5, F.concat(
            F.encode(F.concat(F.lit("<!DOCTYPE html><html><body><p>"),
                              _escaped("text"),
                              F.lit("</p></body></html>")), "UTF-8")))
        # 'txt: ' prefix keeps the bare-text branch a closed form even
        # if a corpus document happens to start with '<html' or is empty
        .otherwise(F.concat(F.encode(F.lit("txt: "), "UTF-8"), body))
    )
    return docs.select(
        F.concat(F.lit("https://docs.example.org/"), did).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        payload.alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang"),
    )


# PDF variant for the position/margin operators: each document becomes a
# deterministic one-page PDF with a FIXED layout — an 18 pt title at
# (72, 720) and a two-line 12 pt body at (72, 680) holding the first two
# 40-char chunks of the (whitespace-normalized, ASCII-only) text — so
# every extracted item position and every layout margin is a closed-form
# constant the DuckDB oracle can state directly. PDF bytes are built in
# an Arrow UDF (test source, not the extraction hot path).
def pdf_pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .generator import build_pdf

    @F.arrow_udf("binary")
    def _pdf_bytes(did, body):
        # /Info values are pure functions of doc_id so the metadata
        # probe has a closed-form oracle (S1 full coverage:
        # pdf_to_png_converter.py:198-236 field set).
        return pa.array([
            build_pdf(
                [[(72, 720, 18, [f"Document {d}"]),
                  (72, 680, 12, [a[:40], a[40:80]])]],
                info={
                    "Title": f"Document {d}",
                    "Author": f"Author {int(d) % 7}",
                    "Subject": f"Subject {int(d) % 3}",
                    "Creator": "docgen",
                    "Producer": "document-extractor-spark",
                    "CreationDate": f"D:2026010{int(d) % 9 + 1}120000Z",
                    "ModDate": f"D:2026020{int(d) % 9 + 1}120000Z",
                },
            )
            for d, a in zip(did.to_pylist(), body.to_pylist())
        ], pa.binary())

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id").cast("string")
    # whitespace-normalize then strip non-ASCII (build_pdf writes
    # latin-1 literals; the oracle must see the same bytes roundtrip)
    ascii_body = F.regexp_replace(
        F.regexp_replace(F.trim("text"), r"\s+", " "), "[^ -~]", "")
    return (
        docs.select("doc_id", did.alias("did"), ascii_body.alias("body"),
                    F.col("lang"))
        .filter(F.length("body") >= 80)
        .select(
            F.concat(F.lit("https://docs.example.org/pdf/"),
                     F.col("did")).alias("url"),
            F.lit(None).cast("timestamp").alias("warc_ts"),
            _pdf_bytes("did", "body").alias("html"),
            F.lit(None).cast("string").alias("text"),
            F.col("lang"),
        )
    )


# Evaluation variant for extraction-quality metrics: pages where the
# GOLD content labels and the classifier's verdicts deliberately
# DISAGREE on two planted blocks, so precision/recall of the block
# classifier have non-vacuous closed forms:
#   - main <p> reference-link list: gold CONTENT (author's references),
#     classifier drops it (link_density 1.0) → one FN per page;
#   - 45-word cookie-banner <div> outside main/chrome: gold BOILERPLATE,
#     the NumWords rule keeps it (>40 words after a link-heavy
#     predecessor) → one FP per page;
#   - h1 + main text <p>: gold content, kept → two TP per page;
#   - header/nav/footer chrome: gold boilerplate, dropped → TN.
_EVAL_BANNER = (
    "This website uses cookies to improve your browsing experience and "
    "to analyze our traffic in detail so we may remember your settings "
    "and preferences across repeat visits while sharing aggregate usage "
    "data with our trusted advertising and analytics partners as "
    "described in the policy"
)


def pages_with_eval_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id").cast("string")
    refs = F.concat(
        F.lit("<p>"),
        *[
            F.concat(F.lit(f"<a href='/ref/{k}-"), did,
                     F.lit(f"'>Reference {k}</a> "))
            for k in (1, 2, 3)
        ],
        F.lit("</p>"),
    )
    html = F.concat(
        F.lit(_PREFIX), did, F.lit(_MID), _escaped("text"), F.lit("</p>"),
        refs, F.lit("</main><div><p>" + _EVAL_BANNER + "</p></div>"),
        F.lit(_SUFFIX.replace("</p></main>", "", 1)
              .replace("<aside><p>Related: <a href='/x'>one</a>, "
                       "<a href='/y'>two</a></p></aside>", "", 1)),
    )
    return docs.select(
        F.concat(F.lit("https://docs.example.org/"), did).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang"),
    )


# Outline variant: two-page PDFs carrying a real /Outlines bookmark
# tree whose shape is pure doc_id arithmetic — Chapter 1 (page 0) with
# doc_id%3 child sections (page 1), then Chapter 2 (page 1) — so the
# pre-order walk, levels, and destination page resolution all have a
# closed-form oracle (including the no-children path at doc_id%3==0).
def pdf_pages_with_outlines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .generator import build_pdf

    @F.arrow_udf("binary")
    def _pdf_bytes(did):
        out = []
        for d in did.to_pylist():
            k = int(d) % 3
            sections = [(f"Section 1.{j}", 1, []) for j in range(1, k + 1)]
            out.append(build_pdf(
                [[(72, 720, 18, [f"Doc {d} page one"])],
                 [(72, 720, 18, [f"Doc {d} page two"])]],
                outlines=[("Chapter 1", 0, sections),
                          ("Chapter 2", 1, [])],
            ))
        return pa.array(out, pa.binary())

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id").cast("string")
    return docs.select(
        F.concat(F.lit("https://docs.example.org/pdfo/"), did).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        _pdf_bytes(did).alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang"),
    )


# Table variant: one 3x3 table (header row + two data rows) whose cells
# are pure doc_id arithmetic, so the relational cell export has a
# closed-form oracle.
def pages_with_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id").cast("string")
    cell = [[F.concat(F.lit("v"),
                      ((F.col("doc_id") + r * 3 + c) % 10).cast("string"))
             for c in range(3)] for r in (1, 2)]
    table = F.concat(
        F.lit("<table><tr><th>c0</th><th>c1</th><th>c2</th></tr>"),
        *[F.concat(F.lit("<tr>"),
                   *[F.concat(F.lit("<td>"), cell[r][c], F.lit("</td>"))
                     for c in range(3)],
                   F.lit("</tr>"))
          for r in range(2)],
        F.lit("</table>"),
    )
    html = F.concat(
        F.lit(_PREFIX), did, F.lit(_MID), _escaped("text"),
        F.lit("</p>"), table,
        F.lit(_SUFFIX.replace("</p></main>", "</main>", 1)),
    )
    return docs.select(
        F.concat(F.lit("https://docs.example.org/"), did).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang"),
    )
