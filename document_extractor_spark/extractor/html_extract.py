"""Main-content extraction from raw HTML bytes — pure Python, stdlib only.

This is the deterministic replacement for the reference's GPT-4V page
extractor (``openai_content_extractor.py:63-307`` in
EricBui619/document-extractor): instead of prompting a vision model for
typed content items, we flatten the DOM into text blocks, score them with
text-density + link-density heuristics (Boilerpipe / Readability-style
block classification, public algorithm: Kohlschütter et al., WSDM 2010),
classify block types by tag, then apply the reference's deterministic
structural rewrites:

- header-level assignment     (``content_structure_fixer.py:90-118``)
- section↔table reorder       (``content_structure_fixer.py:17-88``)
- adjacent-table merge        (``content_structure_fixer.py:120-177``)
- multi-record KV → table     (``key_value_converter.py:24-397``)

The output is ``ExtractResult(text, spans, items, layout, error)`` where
``spans`` are byte-offset-free *character* offsets into ``text`` and
``text[start:end]`` reconstructs each block exactly (tested invariant).

Everything here is a pure function of the input bytes: no I/O, no global
mutable state, no randomness — a hard requirement for byte-identical
re-extraction across Spark tasks and batch boundaries.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from html import escape, unescape
from typing import Optional

# ---------------------------------------------------------------------------
# Tag sets
# ---------------------------------------------------------------------------

BLOCK_TAGS = {
    "address", "article", "aside", "blockquote", "div", "dd", "dl", "dt",
    "fieldset", "figcaption", "figure", "footer", "form", "h1", "h2", "h3",
    "h4", "h5", "h6", "header", "hr", "li", "main", "nav", "ol", "p", "pre",
    "section", "table", "td", "th", "title", "tr", "ul",
}

# Content inside these is invisible — never contributes text.
SKIP_TAGS = {
    "script", "style", "noscript", "template", "head", "svg", "iframe",
    "select", "option", "button", "datalist", "canvas", "object", "audio",
    "video",
}

# Ancestor tags that mark page chrome (boilerplate regardless of score).
CHROME_TAGS = {"nav", "aside"}

HEADER_TAGS = {"h1", "h2", "h3", "h4", "h5", "h6"}

# Block types — same enum as the reference prompt schema
# (openai_content_extractor.py:164): header/paragraph/table/list/caption/
# image, plus page_header/page_footer (emitted opt-in via
# ``emit_chrome`` — the reference classifies them by page position,
# openai_content_extractor.py:146-149), plus kv_table for converted
# key-value records.
T_HEADER = "header"
T_PARAGRAPH = "paragraph"
T_TABLE = "table"
T_LIST = "list"
T_CAPTION = "caption"
T_KV_TABLE = "kv_table"
T_IMAGE = "image"
T_PAGE_HEADER = "page_header"
T_PAGE_FOOTER = "page_footer"

_WS_RE = re.compile(r"[ \t\r\n\f\v]+")
_NL_TRIM_RE = re.compile(r" *\n *")
_ROMAN_RE = re.compile(r"^[IVXLCDM]+\.")   # content_structure_fixer.py:109
_ARABIC_RE = re.compile(r"^\d+\.")          # content_structure_fixer.py:113
_COLCOUNT_RE = re.compile(r"column-count\s*:\s*(\d+)")
_TEXT_ALIGN_RE = re.compile(r"text-align\s*:\s*(left|right|center|justify)")

# Inline formatting tags → index into the flattener's open-tag counters.
# Items carry {bold, italic, underline} like the reference's
# (openai_content_extractor.py:158-200); a block is flagged only when ALL
# of its word-carrying text sits inside the tag.
_FMT_TAGS = {"b": 0, "strong": 0, "i": 1, "em": 1, "u": 2, "ins": 2}
FMT_BOLD, FMT_ITALIC, FMT_UNDERLINE = 1, 2, 4


# ---------------------------------------------------------------------------
# Data model
# ---------------------------------------------------------------------------


@dataclass(slots=True)
class Block:
    """One flattened DOM text block."""

    index: int
    tag: str                      # innermost block-level tag
    ancestors: tuple              # open block tags outside this one
    text: str                     # whitespace-normalized visible text
    n_words: int = 0
    n_link_words: int = 0
    table_html: Optional[str] = None   # raw <table>…</table> source (tables only)
    table_grid: Optional[list] = None  # list[list[str]] cell texts (tables only)
    is_content: bool = False
    btype: str = T_PARAGRAPH
    level: int = 0                # header level
    fmt: int = 0                  # FMT_* bitmask (all text formatted)
    src: Optional[str] = None     # image blocks: <img src>
    image_type: Optional[str] = None  # image blocks: classified enum
    alignment: Optional[str] = None  # style text-align on an open block tag

    @property
    def link_density(self) -> float:
        return self.n_link_words / self.n_words if self.n_words else 0.0


@dataclass
class Item:
    """Content item — mirrors the reference's item schema
    (openai_content_extractor.py:158-200), reduced to the fields that are
    meaningful for text extraction."""

    order: int
    type: str
    content: str                  # text content (tables: rendered grid text)
    html: Optional[str] = None    # tables/kv_tables: exact HTML
    level: int = 0
    row_count: int = 0
    column_count: int = 0
    converted_from_kv: bool = False
    src: Optional[str] = None     # image items: source URL
    image_type: Optional[str] = None  # image items: reference enum
    bold: bool = False            # formatting flags — the reference's
    italic: bool = False          # {bold, italic, underline}
    underline: bool = False       # (openai_content_extractor.py:158-200)
    alignment: Optional[str] = None   # text-align of the owning block
    list_type: Optional[str] = None   # lists: 'ordered' | 'unordered'
    font_size: Optional[float] = None  # PDF items: run font size (pt)
    # PDF items: {x_start, y_start, x_end, y_end} page percentages
    # (openai_content_extractor.py:167-173); None on HTML items
    position: Optional[dict] = None


@dataclass
class ExtractResult:
    text: str = ""
    spans: list = field(default_factory=list)   # (start, end, type)
    items: list = field(default_factory=list)   # list[Item]
    layout: dict = field(default_factory=dict)
    error: Optional[str] = None


# ---------------------------------------------------------------------------
# DOM flattening
# ---------------------------------------------------------------------------


# Tokenizer — the hand-rolled replacement for stdlib ``html.parser``
# (which spends ~90% of extraction time in per-tag regex machinery and
# line/column bookkeeping we never use). One compiled alternation,
# matched once per token by ``finditer``: every position of a page
# starts exactly one branch, so the tokens tile the page and the scan
# for the next tag runs in C.
_TAGNAME = r"[a-zA-Z][^\t\n\r\f />\x00]*"
# quote-aware attrs blob; possessive, so a run of plain characters is
# one regex step rather than one per character (no parse it gives up
# could have matched: a `>` can only end it outside quotes)
_ATTRS = r"(?:[^>\"']++|\"[^\"]*+\"|'[^']*+')*+"
_TOKEN_RE = re.compile(
    r"([^<]+)"                                   # 1: text run
    r"|</\s*(" + _TAGNAME + ")" + _ATTRS + ">"   # 2: end tag name
    r"|<(" + _TAGNAME + ")(" + _ATTRS + ")>"     # 3: start tag name, 4: attrs
    # 5: dropped — a comment (to EOF when unclosed), a declaration, a
    # processing instruction or a bogus end tag like `</>` (to next '>')
    r"|(<!--.*?-->|<!--.*|<![^>]*>?|<\?[^>]*>?|</[^>]*>?)"
    r"|(<[a-zA-Z].*)"                   # 6: unterminated tag: text to EOF
    r"|<",                              # any other '<' is text
    re.DOTALL,
)
_END_TAG_RE = re.compile(r"</\s*" + _TAGNAME + _ATTRS + ">")
# A trailing "/" marks a self-closing tag only when it is a standalone
# token — i.e. NOT the last character of an unquoted attribute value
# (`<a href=/about/>`: html.parser and the HTML spec treat that slash as
# part of the value, so the anchor stays open).
_SELFCLOSE_RE = re.compile(r"(?:^|[\s\"'])/$")
_ATTR_RE = re.compile(
    r"([^\s/=>]+)(?:\s*=\s*(\"[^\"]*\"|'[^']*'|[^>\s]*))?"
)
_RAWTEXT_END = {
    "script": re.compile(r"</\s*script", re.IGNORECASE),
    "style": re.compile(r"</\s*style", re.IGNORECASE),
}

# Tag -> action tables of ``_Flattener.run``. A tag takes the action of
# its first category in the order invisible, link, formatting, br, hr,
# img, table part, block; any other tag is ``_S_OTHER`` / ``_E_OTHER``.
# The structural start actions (``_S_OTHER`` and up) honour a
# ``column-count`` style.
(_S_SKIP, _S_LINK, _S_FMT, _S_BR, _S_HR, _S_IMG, _S_OTHER, _S_BLOCK,
 _S_PRE, _S_HEADER, _S_FOOTER, _S_ROW, _S_CELL, _S_TABLE) = range(14)
_START_ACTIONS = {
    **dict.fromkeys(BLOCK_TAGS, _S_BLOCK),
    "pre": _S_PRE, "header": _S_HEADER, "footer": _S_FOOTER, "tr": _S_ROW,
    "td": _S_CELL, "th": _S_CELL, "table": _S_TABLE,
    "br": _S_BR, "hr": _S_HR, "img": _S_IMG, "a": _S_LINK,
    **dict.fromkeys(_FMT_TAGS, _S_FMT),
    **dict.fromkeys(SKIP_TAGS, _S_SKIP),
}
(_E_SKIP, _E_LINK, _E_FMT, _E_OTHER, _E_BLOCK, _E_PRE, _E_CELL,
 _E_TABLE) = range(8)
_END_ACTIONS = {
    **dict.fromkeys(BLOCK_TAGS, _E_BLOCK),
    "pre": _E_PRE, "td": _E_CELL, "th": _E_CELL, "table": _E_TABLE,
    "a": _E_LINK,
    **dict.fromkeys(_FMT_TAGS, _E_FMT),
    **dict.fromkeys(SKIP_TAGS, _E_SKIP),
}
_BR_FRAG = ("br", "", False, 0)


def _collapse_ws(s: str) -> str:
    """``_WS_RE.sub(" ", s)``, skipping the regex when ``s`` has no
    whitespace run to rewrite (the common case for prose)."""
    if ("  " in s or "\n" in s or "\t" in s or "\r" in s or "\f" in s
            or "\v" in s):
        return _WS_RE.sub(" ", s)
    return s


def _fmt_bits(open_counts: list) -> int:
    """FMT_* bitmask of the open b/strong, i/em, u/ins counts."""
    return ((FMT_BOLD if open_counts[0] else 0)
            | (FMT_ITALIC if open_counts[1] else 0)
            | (FMT_UNDERLINE if open_counts[2] else 0))


def _style_attr(attrs_blob: str) -> str:
    """Last ``style`` attribute value out of a raw attrs blob (mirrors
    ``dict(attrs)`` keep-last semantics of html.parser)."""
    val = ""
    for m in _ATTR_RE.finditer(attrs_blob):
        if m.group(1).lower() == "style":
            v = m.group(2) or ""
            if v[:1] in ("'", '"'):
                v = v[1:-1]
            val = unescape(v) if "&" in v else v
    return val


def _cell_spans(attrs_blob: str) -> tuple:
    """(colspan, rowspan) of a cell, clamped to the HTML-spec limits —
    the E4/E5 grid normalization (openai_content_extractor.py:355-444
    semantics)."""
    cs = rs = 1
    for am in _ATTR_RE.finditer(attrs_blob):
        k = am.group(1).lower()
        if k in ("colspan", "rowspan"):
            v = (am.group(2) or "").strip("\"'")
            try:
                iv = int(v)
            except ValueError:
                iv = 1
            if k == "colspan":
                cs = min(_MAX_COLSPAN, max(1, iv))
            else:
                rs = min(_MAX_ROWSPAN, max(1, iv))
    return cs, rs


class _Flattener:
    """Error-tolerant single-pass DOM flattener.

    Produces ``self.blocks`` — the ordered list of text blocks — plus layout
    hints. Unclosed / mis-nested tags are tolerated: end tags pop to the
    nearest matching open tag, stray end tags are ignored, and everything
    left open is flushed at close. ``run()`` drives the tokenizer and the
    tag -> action tables above in one loop (stdlib html.parser semantics,
    pinned by the byte-frozen goldens and ``tests/test_flatten_digest.py``).
    """

    def __init__(self, raw: str):
        self.raw = raw
        self.blocks: list[Block] = []
        self.stack: list[str] = []
        # (stack_len_at_push, align) — alignment valid while its owning
        # block tag is still open; _pop_to trims stale entries
        self._align_stack: list = []
        self._frags: list = []      # (kind, text, in_link, fmt) kind: 'txt'|'pre'|'br'
        # layout
        self.columns = 1
        self.has_header = False
        self.has_footer = False

    # -- open-tag stack ---------------------------------------------------
    def _pop_to(self, tag):
        stack = self.stack
        if tag in stack:
            while stack.pop() != tag:
                pass
            depth = len(stack)
            align = self._align_stack
            while align and align[-1][0] > depth:
                align.pop()

    # -- block assembly ---------------------------------------------------
    def _flush(self):
        """The pending fragments -> one text block (none when blank)."""
        frags = self._frags
        if len(frags) == 1:
            # fast path: the overwhelmingly common single-fragment block
            kind, txt, in_link, fmt = frags.pop()
            if kind == "txt":
                if txt.isspace():
                    return
                text = _collapse_ws(txt).strip()
            elif kind == "pre":
                text = txt.strip("\n")
                if not text:
                    return
            else:
                return
            words = len(text.split())
            link_words = words if in_link else 0
        else:
            parts = []
            words = link_words = 0
            has_pre = any_nl = False
            fmt_acc = -1        # AND over word-carrying frags; -1 = none yet
            for kind, txt, in_link, fmt in frags:
                if kind == "txt":
                    if txt.isspace():
                        # whitespace-only inter-tag run — collapses to one
                        # space, zero words
                        parts.append(" ")
                        continue
                    txt = _collapse_ws(txt)
                elif kind == "pre":
                    has_pre = True
                else:
                    parts.append("\n")
                    any_nl = True
                    continue
                parts.append(txt)
                w = len(txt.split())
                if w:
                    words += w
                    if in_link:
                        link_words += w
                    fmt_acc = fmt if fmt_acc < 0 else (fmt_acc & fmt)
            frags.clear()
            text = "".join(parts)
            if has_pre:
                text = text.strip("\n")
            elif any_nl:
                text = _NL_TRIM_RE.sub("\n", text).strip()
            else:
                text = text.strip()
            if not text:
                return
            fmt = max(fmt_acc, 0)
        stack = self.stack
        if stack:
            tag = stack[-1]
            if tag not in BLOCK_TAGS:
                tag = next((t for t in reversed(stack) if t in BLOCK_TAGS),
                           "body")
            ancestors = tuple(stack[:-1])
        else:
            tag, ancestors = "body", ()
        align = self._align_stack
        self.blocks.append(Block(
            len(self.blocks), tag, ancestors, text, words, link_words,
            fmt=fmt, alignment=align[-1][1] if align else None))

    def _emit_image(self, attrs_blob: str):
        """Block-level images become typed blocks (reference emits
        `image` items, openai_content_extractor.py:164,186)."""
        src = alt = ""
        width = height = None
        for am in _ATTR_RE.finditer(attrs_blob):
            k = am.group(1).lower()
            if k in ("src", "alt", "width", "height"):
                v = (am.group(2) or "").strip("\"'")
                if k == "src":
                    src = unescape(v) if "&" in v else v
                elif k == "alt":
                    alt = unescape(v) if "&" in v else v
                else:
                    try:
                        iv = int(v)
                    except ValueError:
                        continue
                    if k == "width":
                        width = iv
                    else:
                        height = iv
        self.blocks.append(Block(
            len(self.blocks), "img", tuple(self.stack),
            _collapse_ws(alt).strip(), src=src or None,
            image_type=classify_image_type(src, alt, width, height)))

    def _emit_table(self, start: int, end: int, rows: list, words: int,
                    link_words: int):
        grid = _expand_grid(rows)
        if grid:
            self.blocks.append(Block(
                len(self.blocks), "table", tuple(self.stack),
                "\n".join("\t".join(r) for r in grid), words, link_words,
                table_html=self.raw[start:end], table_grid=grid))

    # -- the one loop -----------------------------------------------------
    def run(self) -> None:
        """Single pass over ``self.raw``: text runs split at tags, entities
        decoded per run (not in trailing text after the last tag),
        script/style consumed as rawtext, comments / declarations / PIs
        discarded — the html.parser behaviors this pipeline actually
        observes, without its per-tag overhead. Each token costs one
        regex match, one dict lookup for its tag's action and that
        action's few statements."""
        html = self.raw
        n = len(html)
        stack = self.stack
        frags = self._frags
        align = self._align_stack
        flush = self._flush
        pop_to = self._pop_to
        skip = link = pre = tdepth = 0
        in_link = False
        kind = "txt"                # fragment kind of text: 'txt' | 'pre'
        fmt_open = [0, 0, 0]        # open b/strong, i/em, u/ins counts
        fmt = 0                     # FMT_* bitmask of the open ones
        # table state: start offset, rows of (cell chunks, colspan,
        # rowspan), the open cell's chunks, word counts
        tstart = -1
        grid: list = []
        cell: Optional[list] = None
        twords = tlink_words = 0
        tokens = _TOKEN_RE.finditer(html)
        while tokens is not None:
            it, tokens = tokens, None
            for m in it:
                k = m.lastindex
                if k == 4:                                  # start tag
                    tag = m[3].lower()
                    attrs = m[4]
                    act = _START_ACTIONS.get(tag, _S_OTHER)
                    if act == _S_SKIP:
                        skip += 1
                    elif skip:
                        pass
                    elif act == _S_LINK:
                        link += 1
                        in_link = True
                    elif act >= _S_OTHER:
                        if "column-count" in attrs:
                            cm = _COLCOUNT_RE.search(_style_attr(attrs))
                            if cm:
                                self.columns = max(self.columns,
                                                   int(cm.group(1)))
                        if tdepth:
                            # inside a table every tag is pushed
                            if act == _S_TABLE:
                                tdepth += 1
                            elif act == _S_ROW:
                                grid.append([])
                                cell = None
                            elif act == _S_CELL:
                                if not grid:
                                    grid.append([])
                                cell = []
                                grid[-1].append(
                                    (cell, *_cell_spans(attrs))
                                    if "span" in attrs else (cell, 1, 1))
                            stack.append(tag)
                        elif act == _S_TABLE:
                            if frags:
                                flush()
                            tstart = m.start()
                            grid = []
                            cell = None
                            twords = tlink_words = 0
                            tdepth = 1
                            stack.append(tag)
                        elif act != _S_OTHER:               # block tag
                            if frags:
                                flush()
                            if act == _S_PRE:
                                pre += 1
                                kind = "pre"
                            elif act == _S_HEADER:
                                self.has_header = True
                            elif act == _S_FOOTER:
                                self.has_footer = True
                            stack.append(tag)
                            if "text-align" in attrs:
                                am = _TEXT_ALIGN_RE.search(_style_attr(attrs))
                                if am:
                                    align.append((len(stack), am.group(1)))
                    elif act == _S_BR:
                        if tdepth and cell is not None:
                            cell.append("\n")
                        else:
                            frags.append(_BR_FRAG)
                    elif act == _S_HR:
                        if frags:
                            flush()
                    elif act == _S_FMT:
                        fmt_open[_FMT_TAGS[tag]] += 1
                        fmt = _fmt_bits(fmt_open)
                    elif not tdepth and not frags:          # _S_IMG
                        # inline images mid-paragraph (pending frags)
                        # are ignored — emitting them would split the
                        # paragraph for decorative icons
                        self._emit_image(attrs)
                    if not (attrs.endswith("/")
                            and _SELFCLOSE_RE.search(attrs)):
                        if act == _S_SKIP and tag in _RAWTEXT_END:
                            # script/style: its text is raw up to the
                            # first `</script` / `</style`
                            e = _RAWTEXT_END[tag].search(html, m.end())
                            if e is None:
                                break                       # runs to EOF
                            skip -= 1
                            m2 = _END_TAG_RE.match(html, e.start())
                            pos = m2.end() if m2 else (
                                (html.find(">", e.start()) + 1) or n)
                            tokens = _TOKEN_RE.finditer(html, pos)
                            break
                        continue
                    # a self-closing tag closes at once: fall through
                elif k == 2:                                # end tag
                    tag = m[2].lower()
                elif k == 5:            # comment, declaration, PI, bogus
                    continue
                else:                                       # text
                    if skip:
                        continue
                    if k == 1:
                        data = m[1]
                        if "&" in data:
                            data = unescape(data)
                    else:       # an unterminated tag, or a stray '<'
                        data = m[6] if k else "<"
                    if tdepth:
                        if cell is not None:
                            cell.append(data)
                            w = len(data.split())
                            twords += w
                            if link:
                                tlink_words += w
                    elif data and (frags or pre or not data.isspace()):
                        # (a run of invalid char refs decodes to ""); a
                        # blank run opens no block, so an <img> after
                        # indentation still stands alone
                        frags.append((kind, data, in_link, fmt))
                    continue
                act = _END_ACTIONS.get(tag, _E_OTHER)
                if act == _E_SKIP:
                    if skip:
                        skip -= 1
                elif skip:
                    pass
                elif act == _E_LINK:
                    if link:
                        link -= 1
                        in_link = link > 0
                elif act == _E_FMT:
                    fi = _FMT_TAGS[tag]
                    if fmt_open[fi]:
                        fmt_open[fi] -= 1
                        fmt = _fmt_bits(fmt_open)
                elif tdepth:
                    if act == _E_TABLE:
                        tdepth -= 1
                        pop_to(tag)
                        if not tdepth:
                            self._emit_table(tstart, m.end(), grid, twords,
                                             tlink_words)
                    else:
                        if act == _E_CELL:
                            cell = None
                        pop_to(tag)
                elif act != _E_OTHER:                       # block tag
                    if frags:
                        flush()
                    if act == _E_PRE and pre:
                        pre -= 1
                        if not pre:
                            kind = "txt"
                    pop_to(tag)
        if tdepth:
            # a table still open at the end of the page (a truncated
            # page) closes as if its `</table>` tags followed
            while tdepth:
                tdepth -= 1
                pop_to("table")
            self._emit_table(tstart, n, grid, twords, tlink_words)
        if frags:
            flush()


def flatten(html: str) -> _Flattener:
    p = _Flattener(html)
    p.run()
    return p


# ---------------------------------------------------------------------------
# Table structure refinement (E4/E5 — openai_content_extractor.py:355-444)
# ---------------------------------------------------------------------------


# Hostile-input bounds. colspan/rowspan are clamped to the HTML-spec
# limits (colspan ≤ 1000, rowspan ≤ 65534) at parse time, and the
# *expanded* grid is additionally capped at a total cell budget so a
# 171-byte page with colspan=5000000 can neither wedge the CPU nor drive
# a multi-GB allocation (which on an overcommitting executor means the
# OOM killer SIGKILLs the whole Python worker, not a caught
# MemoryError). Once the budget is exhausted, remaining cells degrade
# gracefully to span 1×1 — their text is kept, only the replication is
# dropped.
_MAX_COLSPAN = 1000
_MAX_ROWSPAN = 65534
_MAX_GRID_CELLS = 100_000


def _expand_grid(rows) -> list:
    """Normalize a parsed cell grid into a rectangle: honor colspan /
    rowspan by replicating the spanning cell's text into every grid
    position it covers, pad ragged rows with empty cells, drop all-empty
    rows.

    This is the deterministic replacement for the reference's 2nd-pass
    GPT table refinement (``refine_table_structure``,
    ``openai_content_extractor.py:355-425``: "re-verify rows/cols/merged
    cells/empty cells") fused into the first parse — idempotent by
    construction. ``rows`` items are ``(cell_text_chunks, colspan,
    rowspan)`` tuples.
    """
    exp: list[list[str]] = []
    occ: dict = {}          # (row, col) -> text carried down by rowspan
    total = 0               # expanded-cell budget (_MAX_GRID_CELLS)
    for r, row in enumerate(rows):
        exp_row: list[str] = []
        c = 0
        for cell, cs, rs in row:
            while (r, c) in occ:
                exp_row.append(occ.pop((r, c)))
                c += 1
            parts = [x if x == "\n" else _collapse_ws(x) for x in cell]
            txt = _NL_TRIM_RE.sub("\n", "".join(parts)).strip()
            rem = _MAX_GRID_CELLS - total
            if rem <= 1:
                cs = rs = 1          # budget spent: keep text, drop spans
            else:
                cs = min(cs, rem)
                rs = min(rs, max(1, rem // cs))
            for dc in range(cs):
                exp_row.append(txt)
                for dr in range(1, rs):
                    occ[(r + dr, c + dc)] = txt
            total += cs * rs
            c += cs
        while (r, c) in occ:
            exp_row.append(occ.pop((r, c)))
            c += 1
        exp.append(exp_row)
    occ.clear()
    exp = [row for row in exp if any(row)]
    width = max((len(r) for r in exp), default=0)
    # padding obeys the same budget: a single hostile wide row must not
    # multiply into rows×width cells
    if width and len(exp) * width > _MAX_GRID_CELLS:
        width = max(1, _MAX_GRID_CELLS // len(exp))
    for row in exp:
        if len(row) > width:
            del row[width:]
        else:
            row.extend([""] * (width - len(row)))    # E5: fill ragged rows
    return exp


def refine_table_html(table_html: str) -> str:
    """E4 as a standalone idempotent string operator: re-parse a
    ``<table>`` HTML fragment, normalize its structure (span expansion +
    rectangularization via ``_expand_grid``), and re-emit canonical HTML.
    ``refine(refine(x)) == refine(x)`` — tested invariant."""
    fl = flatten(table_html)
    for b in fl.blocks:
        if b.tag == "table" and b.table_grid:
            body = "".join(
                "<tr>" + "".join(f"<td>{escape(c)}</td>" for c in row)
                + "</tr>"
                for row in b.table_grid
            )
            return f"<table>{body}</table>"
    return table_html


# ---------------------------------------------------------------------------
# Boilerplate classification (Boilerpipe NumWordsRules-style)
# ---------------------------------------------------------------------------


# A block under (or being) one of these is page chrome.
_CHROME_SCOPE = CHROME_TAGS | {"header", "footer"}


def _scope_flags(blocks: list[Block]) -> tuple[list, list]:
    """(in_chrome, in_main) per block, scanning each distinct ancestors
    tuple once."""
    by_ancestors: dict = {}
    chrome = []
    main = []
    for b in blocks:
        f = by_ancestors.get(b.ancestors)
        if f is None:
            anc = b.ancestors
            f = by_ancestors[anc] = (
                any(t in _CHROME_SCOPE for t in anc),
                "main" in anc or "article" in anc)
        chrome.append(f[0] or b.tag in _CHROME_SCOPE)
        main.append(f[1])
    return chrome, main


def _looks_like_kv(text: str) -> bool:
    """≥2 lines parsing as ``key<sep>value`` with short keys — retained even
    when short (the reference always keeps KV record blocks and converts
    them, key_value_converter.py:359-397)."""
    lines = [ln for ln in text.split("\n") if ln.strip()]
    if len(lines) < 2:
        return False
    parsed = [_parse_kv_line(ln) for ln in lines]
    return sum(1 for p in parsed if p is not None) >= 2


def classify_blocks(blocks: list[Block]) -> None:
    """Mark ``is_content`` per block.

    Core rule set is the public Boilerpipe ``NumWordsRulesClassifier``
    (prev/curr/next word & link-density decision list), with deterministic
    tag overrides for chrome containers, headings, lists and tables.
    """
    n = len(blocks)
    in_chrome, in_main = _scope_flags(blocks)
    # Pass 1: raw classifier on prose blocks.
    for i, b in enumerate(blocks):
        if in_chrome[i]:
            b.is_content = False
            continue
        if b.tag == "title":
            b.is_content = False
            continue
        if b.tag == "table":
            b.is_content = b.link_density <= 0.35
            continue
        if b.tag in HEADER_TAGS or b.tag in ("figcaption", "img"):
            b.is_content = False  # resolved in pass 3 (attach to content)
            continue
        # Semantic-markup override: explicit <main>/<article> IS the page's
        # declared main content — keep unless link-dominated.
        if b.tag != "li" and in_main[i] and b.link_density <= 0.35 and b.n_words > 0:
            b.is_content = True
            continue
        # image blocks are transparent to the word-count neighbor rules —
        # a zero-word img between two paragraphs must not perturb their
        # classification
        j = i - 1
        while j >= 0 and blocks[j].tag == "img":
            j -= 1
        prev = blocks[j] if j >= 0 else None
        j = i + 1
        while j < n and blocks[j].tag == "img":
            j += 1
        nxt = blocks[j] if j < n else None
        b.is_content = _num_words_rule(prev, b, nxt) or (
            b.link_density <= 0.1 and _looks_like_kv(b.text)
        )
    # Pass 2: list grouping — a <ul>/<ol> whose items jointly look like
    # content is kept wholesale; nav-like link lists die together.
    i = 0
    while i < n:
        b = blocks[i]
        if b.tag == "li" and not in_chrome[i]:
            j = i
            words = 0
            link_words = 0
            while j < n and blocks[j].tag == "li" and not in_chrome[j]:
                words += blocks[j].n_words
                link_words += blocks[j].n_link_words
                j += 1
            ld = link_words / words if words else 1.0
            keep = ld <= 0.35 and (words >= 8 or in_main[i])
            for k in range(i, j):
                blocks[k].is_content = keep
            i = j
        else:
            i += 1
    # Pass 3: headings/captions/images attach to nearby kept content
    # (within the following 3 blocks; captions/images look both ways).
    for i, b in enumerate(blocks):
        if b.tag in HEADER_TAGS or b.tag in ("figcaption", "img"):
            if in_chrome[i]:
                continue
            window = blocks[i + 1 : i + 4] if b.tag in HEADER_TAGS else \
                blocks[max(0, i - 2) : i + 3]
            b.is_content = any(x.is_content for x in window)


def _num_words_rule(prev: Optional[Block], curr: Block, nxt: Optional[Block]) -> bool:
    """Boilerpipe NumWordsRulesClassifier decision list (public algorithm)."""
    if curr.link_density > 0.333333:
        return False
    p_ld = prev.link_density if prev is not None else 0.0
    p_w = prev.n_words if prev is not None else 0
    n_w = nxt.n_words if nxt is not None else 0
    if p_ld <= 0.555556:
        return curr.n_words > 16 or n_w > 15 or p_w > 4
    return curr.n_words > 40 or n_w > 17


# ---------------------------------------------------------------------------
# Items: typing + structural fixes (R1-R4 semantics)
# ---------------------------------------------------------------------------


# image_type enum (openai_content_extractor.py:186): the reference asks
# GPT-4V to classify; the deterministic replacement votes on src/alt
# keywords and the declared pixel size (tiny = decoration). First match
# wins; 'photo' is the default like a camera-captured <img> with no
# structural signal.
_IMAGE_TYPE_RULES = [
    ("logo", ("logo", "brand", "favicon")),
    ("chart", ("chart", "graph", "plot", "histogram")),
    ("diagram", ("diagram", "schematic", "flowchart", "architecture")),
    ("table_image", ("table", "spreadsheet", "grid")),
]


def classify_image_type(src: str, alt: str, width: Optional[int],
                        height: Optional[int]) -> str:
    if width is not None and height is not None \
            and width <= 32 and height <= 32:
        return "decoration"
    hay = f"{src} {alt}".lower()
    for itype, keys in _IMAGE_TYPE_RULES:
        if any(k in hay for k in keys):
            return itype
    return "photo"


def _chrome_kind(b: Block) -> Optional[str]:
    """page_header / page_footer membership for a chrome block. nav and
    aside blocks are navigation chrome with no reference item type — they
    are never emitted, even when nested inside <header>/<footer>."""
    if b.tag in CHROME_TAGS or any(t in CHROME_TAGS for t in b.ancestors):
        return None
    if b.tag == "header" or "header" in b.ancestors:
        return T_PAGE_HEADER
    if b.tag == "footer" or "footer" in b.ancestors:
        return T_PAGE_FOOTER
    return None


def _fmt_kwargs(fmt: int) -> dict:
    return {
        "bold": bool(fmt & FMT_BOLD),
        "italic": bool(fmt & FMT_ITALIC),
        "underline": bool(fmt & FMT_UNDERLINE),
    }


def blocks_to_items(blocks: list[Block],
                    emit_chrome: bool = False) -> list[Item]:
    items: list[Item] = []
    i = 0
    n = len(blocks)
    while i < n:
        b = blocks[i]
        if not b.is_content:
            if emit_chrome and b.tag != "img" and b.text:
                kind = _chrome_kind(b)
                if kind:
                    items.append(Item(order=len(items), type=kind,
                                      content=b.text,
                                      alignment=b.alignment,
                                      **_fmt_kwargs(b.fmt)))
            i += 1
            continue
        if b.tag in HEADER_TAGS:
            items.append(Item(order=len(items), type=T_HEADER, content=b.text,
                              level=int(b.tag[1]), alignment=b.alignment,
                              **_fmt_kwargs(b.fmt)))
            i += 1
        elif b.tag == "table":
            grid = b.table_grid or []
            items.append(Item(order=len(items), type=T_TABLE, content=b.text,
                              html=b.table_html,
                              row_count=len(grid),
                              column_count=max((len(r) for r in grid), default=0)))
            i += 1
        elif b.tag == "img":
            items.append(Item(order=len(items), type=T_IMAGE, content=b.text,
                              src=b.src, image_type=b.image_type))
            i += 1
        elif b.tag == "li":
            lines = []
            fmt_acc = -1
            first = blocks[i]
            # one item per list CONTAINER: an <ol> run and the <ul> that
            # follows it are separate lists (ancestors change at the
            # container boundary), so list_type stays per-container
            while (i < n and blocks[i].tag == "li" and blocks[i].is_content
                   and blocks[i].ancestors == first.ancestors):
                lines.append(blocks[i].text)
                fmt_acc = blocks[i].fmt if fmt_acc < 0 \
                    else fmt_acc & blocks[i].fmt
                i += 1
            # H8: ol vs ul from the list container (html_generator_v2.py:
            # 330-501 renders by metadata.list_type)
            ltype = "ordered" if "ol" in first.ancestors else "unordered"
            items.append(Item(order=len(items), type=T_LIST,
                              content="\n".join(lines), list_type=ltype,
                              alignment=first.alignment,
                              **_fmt_kwargs(max(fmt_acc, 0))))
        elif b.tag == "figcaption":
            items.append(Item(order=len(items), type=T_CAPTION, content=b.text,
                              alignment=b.alignment, **_fmt_kwargs(b.fmt)))
            i += 1
        else:
            items.append(Item(order=len(items), type=T_PARAGRAPH,
                              content=b.text, alignment=b.alignment,
                              **_fmt_kwargs(b.fmt)))
            i += 1
    return items


def fix_header_levels(items: list[Item]) -> None:
    """R2 — content_structure_fixer.py:90-118: roman-numeral headers →
    level 2, arabic-numbered headers → level 3, others keep their level."""
    for it in items:
        if it.type != T_HEADER:
            continue
        txt = it.content.strip()
        if _ROMAN_RE.match(txt):
            it.level = 2
        elif _ARABIC_RE.match(txt):
            it.level = 3
        elif it.level == 0:
            it.level = 1


def fix_section_table_order(items: list[Item]) -> list[Item]:
    """R1 — content_structure_fixer.py:17-88: if a table is followed within
    2 items by a numbered section header (``^[IVX]+\\.`` / ``^\\d+\\.``),
    move the header before the table."""
    out = list(items)
    i = 0
    while i < len(out):
        if out[i].type in (T_TABLE, T_KV_TABLE):
            for j in range(i + 1, min(i + 3, len(out))):
                it = out[j]
                if it.type == T_HEADER and (
                    _ROMAN_RE.match(it.content.strip())
                    or _ARABIC_RE.match(it.content.strip())
                ):
                    out.insert(i, out.pop(j))
                    i += 1  # past the moved header; table now at i
                    break
        i += 1
    for k, it in enumerate(out):
        it.order = k
    return out


_TBODY_ROWS_RE = re.compile(r"<tr[\s\S]*?</tr\s*>", re.IGNORECASE)
_TABLE_CLOSE_RE = re.compile(r"</table\s*>\s*$", re.IGNORECASE)


def splice_table_rows(parent: Optional[str],
                      cont: Optional[str]) -> Optional[str]:
    """``parent`` with ``cont``'s ``<tr>`` rows inserted before its closing
    ``</table>``; None when either is empty, ``cont`` has no row or
    ``parent`` does not end its table. The rows go in verbatim (a cell's
    backslashes are text, not a substitution template)."""
    if not parent or not cont:
        return None
    rows = _TBODY_ROWS_RE.findall(cont)
    close = _TABLE_CLOSE_RE.search(parent)
    if not rows or close is None:
        return None
    return parent[:close.start()] + "".join(rows) + "</table>"


def fix_adjacent_tables(items: list[Item]) -> list[Item]:
    """R3 — content_structure_fixer.py:120-177: merge two consecutive table
    items (HTML adjacency replaces the reference's <5%-vertical-gap rule,
    which needs pixel coordinates we don't have for web pages): splice the
    second table's rows before the first's ``</table>``."""
    out: list[Item] = []
    for it in items:
        if (
            out
            and it.type == T_TABLE
            and out[-1].type == T_TABLE
            and out[-1].column_count == it.column_count
        ):
            prev = out[-1]
            html = splice_table_rows(prev.html, it.html)
            if html is not None:
                prev.html = html
                prev.content = prev.content + "\n" + it.content
                prev.row_count += it.row_count
                continue
        out.append(it)
    for k, it in enumerate(out):
        it.order = k
    return out


# ---------------------------------------------------------------------------
# KV → table (R5-R8 semantics, key_value_converter.py)
# ---------------------------------------------------------------------------

# key_value_converter.py:15 — separators ': = - – —'; we require a space
# around dash separators to avoid splitting hyphenated words.
_KV_SEPARATORS = [":", "=", " - ", " – ", " — "]
_MAX_KEY_LEN = 50  # key_value_converter.py:155


def _parse_kv_line(line: str):
    """First separator wins per line (key_value_converter.py:205-246)."""
    best = None
    for sep in _KV_SEPARATORS:
        idx = line.find(sep)
        if idx > 0 and (best is None or idx < best[0]):
            best = (idx, sep)
    if best is None:
        return None
    idx, sep = best
    key = line[:idx].strip()
    val = line[idx + len(sep):].strip()
    if not key or len(key) > _MAX_KEY_LEN:
        return None
    return key, val


def parse_multi_record_kv(text: str):
    """Detect ≥2 records each with the same ≥2 keys in the same order.

    Records split by blank lines (key_value_converter.py:67-100) or, if no
    blank lines, by the repeated first key (key_value_converter.py:102-145).
    Returns (headers, records) or None.
    """
    lines = [ln.rstrip() for ln in text.split("\n")]
    # blank-line split
    groups: list[list[str]] = [[]]
    for ln in lines:
        if ln.strip() == "":
            if groups[-1]:
                groups.append([])
        else:
            groups[-1].append(ln)
    if not groups[-1]:
        groups.pop()
    if len(groups) == 1:
        # repeated-first-key split
        parsed = [_parse_kv_line(ln) for ln in groups[0]]
        if any(p is None for p in parsed) or not parsed:
            return None
        first_key = parsed[0][0]
        groups = []
        cur: list[str] = []
        for ln, p in zip([l for l in lines if l.strip()], parsed):
            if p[0] == first_key and cur:
                groups.append(cur)
                cur = []
            cur.append(ln)
        if cur:
            groups.append(cur)
    if len(groups) < 2:
        return None
    records = []
    headers: Optional[list[str]] = None
    for g in groups:
        rec = []
        for ln in g:
            p = _parse_kv_line(ln)
            if p is None:
                return None
            rec.append(p)
        keys = [k for k, _ in rec]
        if len(keys) < 2 or len(set(keys)) != len(keys):
            return None
        if headers is None:
            headers = keys
        elif keys != headers:      # same keys, same order (kvc.py:184-203)
            return None
        records.append(dict(rec))
    if headers is None or len(records) < 2:
        return None
    return headers, records


def kv_records_to_html(headers: list[str], records: list[dict]) -> str:
    """R7 — styled table render (key_value_converter.py:248-312),
    structure-faithful (header row + zebra body), minus inline colors;
    ``html.escape`` is the reference's escaping set (kvc.py:296-312)."""
    th = "".join(f"<th>{escape(h)}</th>" for h in headers)
    rows = []
    for rec in records:
        tds = "".join(f"<td>{escape(rec.get(h, ''))}</td>" for h in headers)
        rows.append(f"<tr>{tds}</tr>")
    return f"<table><thead><tr>{th}</tr></thead><tbody>{''.join(rows)}</tbody></table>"


def convert_kv_items(items: list[Item]) -> list[Item]:
    """R8 — paragraph → kv_table item conversion
    (key_value_converter.py:314-397)."""
    for it in items:
        if it.type != T_PARAGRAPH or "\n" not in it.content:
            continue
        parsed = parse_multi_record_kv(it.content)
        if parsed is None:
            continue
        headers, records = parsed
        it.type = T_KV_TABLE
        it.html = kv_records_to_html(headers, records)
        grid_lines = ["\t".join(headers)]
        for rec in records:
            grid_lines.append("\t".join(rec.get(h, "") for h in headers))
        it.content = "\n".join(grid_lines)
        it.row_count = len(records)
        it.column_count = len(headers)
        it.converted_from_kv = True
    return items


# ---------------------------------------------------------------------------
# Top level
# ---------------------------------------------------------------------------


def assemble(items: list[Item]) -> tuple[str, list]:
    """Join items with a blank line; emit (start, end, type) spans such that
    ``text[start:end] == item.content`` for every item."""
    parts = []
    spans = []
    pos = 0
    for it in items:
        if parts:
            parts.append("\n\n")
            pos += 2
        start = pos
        parts.append(it.content)
        pos += len(it.content)
        spans.append((start, pos, it.type))
    return "".join(parts), spans


def extract_html(html_bytes: bytes, encoding: str = "utf-8",
                 emit_chrome: bool = False) -> ExtractResult:
    """bytes → ExtractResult. Never raises: failures land in ``error``.

    ``emit_chrome``: additionally surface header/footer chrome as typed
    ``page_header``/``page_footer`` items (the reference classifies them
    by page position, openai_content_extractor.py:146-149; by default we
    drop chrome per the main-text north star)."""
    try:
        html = html_bytes.decode(encoding, errors="replace")
        fl = flatten(html)
        blocks = fl.blocks
        classify_blocks(blocks)
        items = blocks_to_items(blocks, emit_chrome=emit_chrome)
        fix_header_levels(items)
        items = convert_kv_items(items)
        items = fix_section_table_order(items)
        items = fix_adjacent_tables(items)
        text, spans = assemble(items)
        layout = {
            "columns": fl.columns,
            "has_header": fl.has_header,
            "has_footer": fl.has_footer,
        }
        return ExtractResult(text=text, spans=spans, items=items, layout=layout)
    except Exception as exc:  # noqa: BLE001 — per-row isolation, never fail a task
        return ExtractResult(error=f"{type(exc).__name__}: {exc}")
