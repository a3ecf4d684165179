"""Block-digest guard for the DOM flattener.

Every ``Block`` field ``flatten`` produces, the layout flags
(``columns``, ``has_header``, ``has_footer``) and the ``is_content``
verdicts of ``classify_blocks`` are hashed per page over three page
sets: generated corpus pages from three seeds, the fixture rows, and
seeded hostile mutations of both. One digest per group of pages is
pinned in ``tests/golden/flatten_blocks.json``; any change to any block
of any page changes its group's digest.

Regenerate the fixture only for a deliberate behaviour change:

    PYTHONPATH=. python tests/test_flatten_digest.py --write
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import random
import sys

from document_extractor_spark.extractor.html_extract import (
    Block,
    classify_blocks,
    flatten,
)
from document_extractor_spark.sources.generator import (
    corpus_rows,
    fixture_rows,
)

GOLDEN = os.path.join(os.path.dirname(__file__), "golden",
                      "flatten_blocks.json")

#: every field of ``Block``, in declaration order
BLOCK_FIELDS = ("index", "tag", "ancestors", "text", "n_words",
                "n_link_words", "table_html", "table_grid", "is_content",
                "btype", "level", "fmt", "src", "image_type", "alignment")

CORPUS_SEEDS = (1, 2, 3)
CORPUS_PAGES = 500          # per seed
GROUP = 100                 # pages per pinned digest
FIXTURE_VARIANTS = 15       # mutated copies of each fixture row
CORPUS_MUTANT_EVERY = 6     # one mutant per this many corpus pages

# whitespace that ``str.split`` honours but ``[ \t\r\n\f\v]`` does not
_ODD_WS = ("\xa0", "\u2003", "\u3000", "\x85", "\x1c", "\x1d", "\x1e",
           "\x1f", "\u2000", "\u200a")

_INSERTS = (
    "x<y", " a < b ", "<", "</>", "< /p>", "</ p>", "<a href=/x/>",
    "<a href=/x/>link words</a>", "<span style='column-count: 3'>",
    "<br>", "<br/>", "<hr>", "<img src='/i.png' alt='odd  alt'>",
    "<img src=/x.gif width=16 height=16/>", "&nbsp;&amp;&lt;b&gt;",
    "<!DOCTYPE html>", "<?xml version='1.0'?>", "<!-- c -->", "<!---->",
    "<b>", "</b>", "<em>", "</i>", "<u>", "</ins>", "</a>", "<a>",
    "<p style=\"text-align:right\">", "<div style='text-align: center'>",
    "<pre>  keep\n   this  </pre>", "<pre>", "</pre>", "<table>",
    "</table>", "<tr>", "<td colspan=3>", "<td rowspan='2'>", "</td>",
    "<th>", "<li>", "</li>", "<ul>", "</ol>", "<main>", "</article>",
    "<nav>", "</aside>", "<header>", "</footer>", "<h2>", "</h3>",
    "<title>", "<svg><p>hidden</p></svg>", "<noscript>gone</noscript>",
    "</script>", "<style>p{}</style>", "<SCRIPT>var a='</p>';</SCRIPT>",
    "<p/>", "<div/>", "<a\nhref='x'\n>", "<p title=\"a>b\">",
    "<p title='x\"y'>", "<1>", "<-x>", "</1>", "<a b='unterminated>",
)


def _mutate(html: str, rnd: random.Random) -> str:
    """1-4 seeded hostile edits of ``html``."""
    for _ in range(rnd.randint(1, 4)):
        n = len(html)
        at = rnd.randrange(n + 1)
        op = rnd.randrange(13)
        if op == 0:                      # drop a close tag
            i = html.find("</", at)
            j = html.find(">", i) if i >= 0 else -1
            if j > i >= 0:
                html = html[:i] + html[j + 1:]
        elif op == 1:                    # duplicate a close tag
            i = html.find("</", at)
            j = html.find(">", i) if i >= 0 else -1
            if j > i >= 0:
                html = html[:j + 1] + html[i:j + 1] + html[j + 1:]
        elif op == 2:                    # upper-case tag names
            html = html[:at] + "".join(
                c.upper() if c.isalpha() and rnd.random() < 0.5 else c
                for c in html[at:at + 400]) + html[at + 400:]
        elif op == 3:                    # truncate
            html = html[:at]
        elif op == 4:                    # odd whitespace in text
            i = html.find(">", at)
            if i >= 0:
                ws = "".join(rnd.choice(_ODD_WS + (" ", "\n", "\t"))
                             for _ in range(rnd.randint(1, 4)))
                html = html[:i + 1] + ws + "w" + ws + html[i + 1:]
        elif op == 5:                    # unterminated comment
            html = html[:at] + "<!-- never closed " + html[at:]
        elif op == 6:                    # unterminated script
            html = html[:at] + "<script>var x = '<p>" + html[at:]
        elif op == 7:                    # column-count on body
            html = html.replace(
                "<body", "<body style=\"column-count:%d\"" % rnd.randint(2, 4),
                1) if "<body" in html else \
                "<body style='column-count: 2'>" + html
        elif op == 8:                    # inline tags left open in a cell
            i = html.find("<td", at)
            j = html.find(">", i) if i >= 0 else -1
            if j > i >= 0:
                html = html[:j + 1] + rnd.choice(
                    ("<b>", "<a href=/x/>", "<i><u>", "<span>", "<em>")) \
                    + html[j + 1:]
        else:                            # splice a hostile snippet
            html = html[:at] + rnd.choice(_INSERTS) + html[at:]
    return html


def _hostile_pages() -> list:
    """Every snippet and odd space spliced into text, a block, a table
    cell, a list item and ``<pre>`` of a small page."""
    shells = ("<p>alpha SNIP beta</p>",
              "<div><p>alpha <b>bold</b> SNIP <a href=/x>l</a> beta</p></div>",
              "<table><tr><td>alpha SNIP beta</td><td>c</td></tr></table>",
              "<main><ul><li>alpha SNIP</li><li>beta</li></ul></main>",
              "<pre>  alpha\n SNIP  beta </pre><p>after</p>")
    snippets = _INSERTS + _ODD_WS + tuple(f"a{w}b{w}" for w in _ODD_WS)
    return [f"<html><body>{shell.replace('SNIP', snip)}</body></html>"
            for shell in shells for snip in snippets]


def page_groups() -> dict:
    """group name -> list of pages, in a fixed order."""
    groups = {"hostile": _hostile_pages()}
    corpus = []
    for seed in CORPUS_SEEDS:
        pages = [r["html"].decode("utf-8", errors="replace")
                 for r in corpus_rows(CORPUS_PAGES, seed=seed, pdf_frac=0.0)]
        corpus += pages
        for k in range(0, len(pages), GROUP):
            groups[f"corpus/seed{seed}/{k:04d}"] = pages[k:k + GROUP]
    fixtures = [r["html"].decode("utf-8", errors="replace")
                for r in fixture_rows()]
    groups["fixtures"] = fixtures
    rnd = random.Random(20261018)
    groups["mutated/fixtures"] = [_mutate(p, rnd) for p in fixtures
                                  for _ in range(FIXTURE_VARIANTS)]
    mutants = [_mutate(p, rnd) for p in corpus[::CORPUS_MUTANT_EVERY]]
    for k in range(0, len(mutants), GROUP):
        groups[f"mutated/corpus/{k:04d}"] = mutants[k:k + GROUP]
    return groups


def page_digest(html: str) -> str:
    fl = flatten(html)
    blocks = [tuple(getattr(b, f) for f in BLOCK_FIELDS) for b in fl.blocks]
    classify_blocks(fl.blocks)
    verdicts = [b.is_content for b in fl.blocks]
    payload = repr((fl.columns, fl.has_header, fl.has_footer, blocks,
                    verdicts))
    return hashlib.sha256(payload.encode("utf-8", "surrogatepass")).hexdigest()


def group_digests() -> dict:
    out = {}
    for name, pages in page_groups().items():
        h = hashlib.sha256()
        for p in pages:
            h.update(page_digest(p).encode("ascii"))
        out[name] = {"pages": len(pages), "sha256": h.hexdigest()}
    return out


def test_block_fields_are_pinned():
    assert tuple(f.name for f in dataclasses.fields(Block)) == BLOCK_FIELDS


def test_flatten_block_digests():
    with open(GOLDEN, encoding="utf-8") as f:
        expected = json.load(f)
    got = group_digests()
    assert sorted(got) == sorted(expected)
    bad = [name for name in expected if got[name] != expected[name]]
    assert not bad, f"flatten output changed in page groups {bad}"


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        sys.exit(__doc__)
    with open(GOLDEN, "w", encoding="utf-8") as f:
        json.dump(group_digests(), f, indent=1, sort_keys=True)
        f.write("\n")
