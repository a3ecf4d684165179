"""Minimal from-scratch PDF text extraction — pure Python + stdlib zlib.

Replaces the reference's rasterize-then-GPT-4V path
(``pdf_to_png_converter.py:24-124`` + ``openai_content_extractor.py:63-307``
in EricBui619/document-extractor) with direct content-stream parsing, per
the north star: page tree walk, text-run extraction (Tj/TJ/Td/TD/Tm/T*),
y-clustered lines, x-gap column detection, top-down / left-right reading
order (finish left column first — the reading-order contract the reference
prompts for, ``openai_content_extractor.py:83-86``).

Supported subset (closed — our fixture generator only emits this):
- objects located by a full-file scan (no xref needed → tolerant of
  linearized/appended files), ``N 0 obj … endobj``
- streams: raw or ``/FlateDecode``
- text operators: BT/ET, Tf, Td, TD, TL, T*, Tm, Tj, TJ, '
- strings: literal ``(…)`` with escapes + octal, hex ``<…>``
- encodings: latin-1-ish one-byte text (fixture fonts are standard 14)

The result is the HTML path's ``ExtractResult`` of ``Item``s: header,
paragraph and table items in reading order, each with its ``position``
bbox, text and spans from ``html_extract.assemble``, and a layout of
``columns`` plus text-extent ``margin_*_percent``. Pure function of the
input bytes; never raises (errors → ``ExtractResult.error``).
"""

from __future__ import annotations

import re
import zlib
from dataclasses import dataclass
from html import escape
from typing import Optional

from .html_extract import ExtractResult, Item, assemble

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b(.*?)endobj", re.DOTALL)
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\nendstream", re.DOTALL)
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
_KIDS_RE = re.compile(rb"/Kids\s*\[(.*?)\]", re.DOTALL)
_CONTENTS_RE = re.compile(rb"/Contents\s+(\d+)\s+\d+\s+R")
_CONTENTS_ARR_RE = re.compile(rb"/Contents\s*\[(.*?)\]", re.DOTALL)
_TYPE_PAGE_RE = re.compile(rb"/Type\s*/Page\b(?!s)")
_TYPE_CATALOG_RE = re.compile(rb"/Type\s*/Catalog\b")
_PAGES_REF_RE = re.compile(rb"/Pages\s+(\d+)\s+\d+\s+R")
_MEDIABOX_RE = re.compile(
    rb"/MediaBox\s*\[\s*([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)\s*\]"
)


@dataclass
class TextRun:
    x: float
    y: float
    size: float
    text: str


# ---------------------------------------------------------------------------
# Object model
# ---------------------------------------------------------------------------


def _parse_objects(data: bytes) -> dict[int, bytes]:
    return {int(m.group(1)): m.group(3) for m in _OBJ_RE.finditer(data)}


def _object_stream(body: bytes) -> Optional[bytes]:
    m = _STREAM_RE.search(body)
    if m is None:
        return None
    raw = m.group(1)
    if b"/FlateDecode" in body[: m.start()]:
        try:
            return zlib.decompress(raw)
        except zlib.error:
            return None
    return raw


_INFO_REF_RE = re.compile(rb"/Info\s+(\d+)\s+\d+\s+R")
_INFO_KEY_RE = re.compile(rb"/(\w+)\s*\(((?:\\.|[^\\)])*)\)")


def pdf_metadata(pdf_bytes: bytes) -> dict:
    """S1 — ``get_pdf_metadata`` (pdf_to_png_converter.py:198-236):
    document ``/Info`` dict + page count + first-page dims, as a plain
    dict with the reference's key names. Never raises."""
    out = {
        "title": None, "author": None, "subject": None, "creator": None,
        "producer": None, "creation_date": None, "modification_date": None,
        "total_pages": 0, "is_pdf": is_pdf(pdf_bytes),
        "page_width": None, "page_height": None,
    }
    keymap = {
        "Title": "title", "Author": "author", "Subject": "subject",
        "Creator": "creator", "Producer": "producer",
        "CreationDate": "creation_date", "ModDate": "modification_date",
    }
    try:
        objs = _parse_objects(pdf_bytes)
        pages = _page_order(objs)
        out["total_pages"] = len(pages)
        if pages:
            m = _MEDIABOX_RE.search(objs[pages[0]])
            if m:
                out["page_width"] = float(m.group(3)) - float(m.group(1))
                out["page_height"] = float(m.group(4)) - float(m.group(2))
        mi = _INFO_REF_RE.search(pdf_bytes)
        if mi and int(mi.group(1)) in objs:
            body = objs[int(mi.group(1))]
            for km in _INFO_KEY_RE.finditer(body):
                key = km.group(1).decode("ascii", "replace")
                if key in keymap:
                    val = km.group(2).replace(b"\\(", b"(") \
                        .replace(b"\\)", b")").replace(b"\\\\", b"\\")
                    out[keymap[key]] = val.decode("latin-1")
    except Exception:  # noqa: BLE001 — metadata probe never fails a row
        pass
    return out


_OUTLINES_REF_RE = re.compile(rb"/Outlines\s+(\d+)\s+\d+\s+R")
_FIRST_REF_RE = re.compile(rb"/First\s+(\d+)\s+\d+\s+R")
_NEXT_REF_RE = re.compile(rb"/Next\s+(\d+)\s+\d+\s+R")
_TITLE_RE = re.compile(rb"/Title\s*\(((?:\\.|[^\\)])*)\)")
_DEST_REF_RE = re.compile(rb"/Dest\s*\[\s*(\d+)\s+\d+\s+R")


def pdf_outline(pdf_bytes: bytes) -> list[dict]:
    """Bookmark (``/Outlines``, PDF 32000-1 §12.3.3) tree → flat
    pre-order list of ``{pos, level, title, page_idx}`` — the document
    structure a print-oriented PDF declares about itself, which the
    reference's rasterize-and-ask flow discards entirely
    (pdf_to_png_converter.py renders pixels; bookmarks never reach the
    model). Cycle-guarded (crawled PDFs lie), depth via /First
    recursion, sibling order via /Next; a missing /Title or /Dest
    yields NULL fields, never a raise."""
    items: list[dict] = []
    try:
        objs = _parse_objects(pdf_bytes)
        page_idx = {num: i for i, num in enumerate(_page_order(objs))}
        root = None
        for body in objs.values():
            if _TYPE_CATALOG_RE.search(body):
                m = _OUTLINES_REF_RE.search(body)
                if m:
                    root = int(m.group(1))
                break
        if root is None or root not in objs:
            return items
        seen: set[int] = set()

        def walk(num, level: int):
            while (num is not None and num in objs and num not in seen
                   and len(items) < 100_000):
                seen.add(num)
                body = objs[num]
                tm = _TITLE_RE.search(body)
                dm = _DEST_REF_RE.search(body)
                items.append({
                    "pos": len(items),
                    "level": level,
                    "title": _decode_literal(tm.group(1)) if tm else None,
                    "page_idx": (page_idx.get(int(dm.group(1)))
                                 if dm else None),
                })
                fm = _FIRST_REF_RE.search(body)
                if fm:
                    walk(int(fm.group(1)), level + 1)
                nm = _NEXT_REF_RE.search(body)
                num = int(nm.group(1)) if nm else None

        fm = _FIRST_REF_RE.search(objs[root])
        if fm:
            walk(int(fm.group(1)), 0)
    except Exception:  # noqa: BLE001 — structure probe never fails a row
        pass
    return items


def _page_order(objs: dict[int, bytes]) -> list[int]:
    """Walk Catalog → Pages tree in /Kids order; fall back to document order
    of /Type /Page objects when the tree is broken."""
    root_pages = None
    for body in objs.values():
        if _TYPE_CATALOG_RE.search(body):
            m = _PAGES_REF_RE.search(body)
            if m:
                root_pages = int(m.group(1))
            break
    pages: list[int] = []
    seen: set[int] = set()

    def walk(num: int):
        if num in seen or num not in objs:
            return
        seen.add(num)
        body = objs[num]
        if _TYPE_PAGE_RE.search(body):
            pages.append(num)
            return
        m = _KIDS_RE.search(body)
        if m:
            for r in _REF_RE.finditer(m.group(1)):
                walk(int(r.group(1)))

    if root_pages is not None:
        walk(root_pages)
    if not pages:
        pages = sorted(n for n, b in objs.items() if _TYPE_PAGE_RE.search(b))
    return pages


# ---------------------------------------------------------------------------
# Content-stream tokenizer
# ---------------------------------------------------------------------------

_ESCAPES = {
    b"n": "\n", b"r": "\r", b"t": "\t", b"b": "\b", b"f": "\f",
    b"(": "(", b")": ")", b"\\": "\\",
}


def _decode_literal(buf: bytes) -> str:
    out = []
    i = 0
    n = len(buf)
    while i < n:
        c = buf[i : i + 1]
        if c == b"\\":
            nxt = buf[i + 1 : i + 2]
            if nxt in _ESCAPES:
                out.append(_ESCAPES[nxt])
                i += 2
            elif nxt.isdigit():
                j = i + 1
                while j < min(i + 4, n) and buf[j : j + 1].isdigit():
                    j += 1
                out.append(chr(int(buf[i + 1 : j], 8)))
                i = j
            else:
                i += 1
        else:
            out.append(c.decode("latin-1"))
            i += 1
    return "".join(out)


_TOKEN_RE = re.compile(
    rb"\((?:[^()\\]|\\.)*\)"      # literal string
    rb"|<[0-9A-Fa-f\s]*>"          # hex string
    rb"|\[|\]"
    rb"|/[^\s/\[\]()<>]*"          # name
    rb"|[-+]?\d*\.?\d+"            # number
    rb"|[A-Za-z'\"*]+"             # operator
)


def _tokens(stream: bytes):
    for m in _TOKEN_RE.finditer(stream):
        yield m.group(0)


def extract_runs(stream: bytes) -> list[TextRun]:
    """Execute the text-positioning subset of the content stream."""
    runs: list[TextRun] = []
    stack: list = []
    x = y = 0.0          # text-line matrix origin (tx, ty)
    cx = cy = 0.0        # current point
    leading = 0.0
    size = 12.0
    in_text = False
    arr: Optional[list] = None

    def emit(s: str):
        if s:
            runs.append(TextRun(x=cx, y=cy, size=size, text=s))

    for tok in _tokens(stream):
        c0 = tok[:1]
        if tok == b"[":
            arr = []
            continue
        if tok == b"]":
            stack.append(arr if arr is not None else [])
            arr = None
            continue
        if c0 == b"(":
            val = _decode_literal(tok[1:-1])
            (arr if arr is not None else stack).append(val)
            continue
        if c0 == b"<":
            hx = re.sub(rb"\s", b"", tok[1:-1])
            if len(hx) % 2:
                hx += b"0"
            val = bytes.fromhex(hx.decode("ascii")).decode("latin-1")
            (arr if arr is not None else stack).append(val)
            continue
        if c0 == b"/":
            stack.append(tok)
            continue
        if re.fullmatch(rb"[-+]?\d*\.?\d+", tok):
            (arr if arr is not None else stack).append(float(tok))
            continue
        # operator
        op = tok
        if op == b"BT":
            in_text = True
            x = y = cx = cy = 0.0
            stack.clear()
        elif op == b"ET":
            in_text = False
            stack.clear()
        elif op == b"Tf":
            if stack and isinstance(stack[-1], float):
                size = stack[-1]
            stack.clear()
        elif op == b"TL":
            if stack and isinstance(stack[-1], float):
                leading = stack[-1]
            stack.clear()
        elif op == b"Td":
            if len(stack) >= 2 and isinstance(stack[-1], float):
                x += stack[-2]
                y += stack[-1]
                cx, cy = x, y
            stack.clear()
        elif op == b"TD":
            if len(stack) >= 2 and isinstance(stack[-1], float):
                leading = -stack[-1]
                x += stack[-2]
                y += stack[-1]
                cx, cy = x, y
            stack.clear()
        elif op == b"Tm":
            if len(stack) >= 6:
                x, y = float(stack[-2]), float(stack[-1])
                cx, cy = x, y
            stack.clear()
        elif op == b"T*":
            y -= leading
            cx, cy = x, y
            stack.clear()
        elif op == b"Tj":
            if in_text and stack and isinstance(stack[-1], str):
                emit(stack[-1])
            stack.clear()
        elif op == b"'":
            y -= leading
            cx, cy = x, y
            if in_text and stack and isinstance(stack[-1], str):
                emit(stack[-1])
            stack.clear()
        elif op == b"TJ":
            if in_text and stack and isinstance(stack[-1], list):
                parts = [e for e in stack[-1] if isinstance(e, str)]
                emit("".join(parts))
            stack.clear()
        else:
            stack.clear()
    return runs


# ---------------------------------------------------------------------------
# Layout: lines, columns, paragraphs
# ---------------------------------------------------------------------------

_LINE_TOL = 2.0          # pt — runs within this y-delta form one line
_COL_GAP_MIN = 72.0      # pt — min x gap between column clusters
# Estimated glyph advance as a fraction of font size. The content-stream
# subset carries no font metrics, so run width is approximated as
# 0.55 em/char (Helvetica average) — deterministic, documented, and only
# used for the item position percentages / margin estimates the reference
# schema carries (openai_content_extractor.py:167-173, 190-199).
_EST_ADVANCE = 0.55


def _run_x_end(r: TextRun) -> float:
    return r.x + _EST_ADVANCE * r.size * len(r.text)


def _cluster_lines(runs: list[TextRun]) -> list[dict]:
    """Group runs into lines by y; each line: {y, x, x_end, size, runs}."""
    lines: list[dict] = []
    for r in sorted(runs, key=lambda r: (-r.y, r.x)):
        if lines and abs(lines[-1]["y"] - r.y) <= _LINE_TOL:
            lines[-1]["runs"].append(r)
        else:
            lines.append({"y": r.y, "x": r.x, "size": r.size, "runs": [r]})
    for ln in lines:
        ln["runs"].sort(key=lambda r: r.x)
        ln["x"] = ln["runs"][0].x
        ln["x_end"] = max(_run_x_end(r) for r in ln["runs"])
        ln["size"] = max(r.size for r in ln["runs"])
        ln["text"] = " ".join(r.text for r in ln["runs"]).strip()
    return [ln for ln in lines if ln["text"]]


def _split_columns(runs: list[TextRun], page_width: float) -> list[list[TextRun]]:
    """Two-cluster x-gap detection over text runs: if run x-origins form two
    clusters separated by ≥ _COL_GAP_MIN with ≥2 runs each, the left column
    is read fully before the right (openai_content_extractor.py:83-86).
    Runs BEFORE line clustering — else left/right runs at equal y would fuse
    into one line."""
    if len(runs) < 4:
        return [runs]
    xs = sorted(set(round(r.x, 1) for r in runs))
    best_gap, split_at = 0.0, None
    for a, b in zip(xs, xs[1:]):
        if b - a > best_gap:
            best_gap, split_at = b - a, (a + b) / 2.0
    if best_gap < _COL_GAP_MIN or split_at is None or split_at < page_width * 0.25:
        return [runs]
    left = [r for r in runs if r.x < split_at]
    right = [r for r in runs if r.x >= split_at]
    if len(left) < 2 or len(right) < 2:
        return [runs]
    return [left, right]


def _pct(v: float, span: float) -> float:
    return round(max(0.0, min(100.0, 100.0 * v / span)) if span > 0 else 0.0, 2)


def _bbox_pct(x0: float, x1: float, top: float, bottom: float,
              width: float, height: float) -> dict:
    """A bbox in pt (PDF user space is bottom-up) as the item position:
    page percentages from the top-left."""
    return {"x_start": _pct(x0, width), "y_start": _pct(height - top, height),
            "x_end": _pct(x1, width), "y_end": _pct(height - bottom, height)}


# ---------------------------------------------------------------------------
# Table detection (column-aligned line grids) + pct-gap adjacent merge
# ---------------------------------------------------------------------------

_CELL_ALIGN_TOL = 3.0    # pt — cell x-origins matching across rows
_TABLE_GAP_PCT = 5.0     # content_structure_fixer.py:152 — <5% page height


def _is_tabular(ln: dict) -> bool:
    """A line whose runs form table CELLS: ≥3 runs always qualifies;
    exactly 2 runs only when the inter-run gap is narrower than the
    page-column threshold (a wide 2-run line is a 2-column LAYOUT, which
    ``_split_columns`` owns — the one ambiguity the content stream
    cannot resolve, documented as a 2-column-table limitation)."""
    runs = ln["runs"]
    if len(runs) < 2:
        return False
    if len(runs) == 2:
        return runs[1].x - _run_x_end(runs[0]) < _COL_GAP_MIN
    return True


def _same_grid(a: dict, b: dict) -> bool:
    ra, rb = a["runs"], b["runs"]
    return len(ra) == len(rb) and all(
        abs(x.x - y.x) <= _CELL_ALIGN_TOL for x, y in zip(ra, rb))


def _detect_tables(lines: list[dict]) -> tuple[list[list[dict]], list[dict]]:
    """Split top-down-ordered lines into table blocks (≥2 consecutive
    lines with the same aligned cell grid) and the remaining flow lines.
    The content-stream subset has no table markup — recurring column
    alignment IS the table signal (the reference gets table items from
    its vision model; this is the text-run equivalent)."""
    blocks: list[list[dict]] = []
    rest: list[dict] = []
    cur: list[dict] = []

    def flush():
        if len(cur) >= 2:
            blocks.append(list(cur))
        else:
            rest.extend(cur)
        cur.clear()

    for ln in lines:
        # A same-grid line continues the block only within a normal row
        # leading (≤2× font size) — a larger vertical gap starts a NEW
        # table, which the <5%-page-gap MERGE rule may then rejoin
        # (that separation is what makes the merge rule observable).
        row_gap_ok = bool(cur) and (
            cur[-1]["y"] - ln["y"] <= 2.0 * max(ln["size"], cur[-1]["size"]))
        if _is_tabular(ln) and cur and _same_grid(cur[-1], ln) \
                and row_gap_ok:
            cur.append(ln)
        else:
            flush()
            if _is_tabular(ln):
                cur.append(ln)
            else:
                rest.append(ln)
    flush()
    return blocks, rest


def _table_item(block: list[dict], width: float, height: float) -> Item:
    html = "<table><tbody>" + "".join(
        "<tr>" + "".join(f"<td>{escape(r.text)}</td>" for r in ln["runs"])
        + "</tr>"
        for ln in block
    ) + "</tbody></table>"
    content = "\n".join(
        "\t".join(r.text for r in ln["runs"]) for ln in block)
    pos = _bbox_pct(min(ln["x"] for ln in block),
                    max(ln["x_end"] for ln in block),
                    block[0]["y"] + block[0]["size"], block[-1]["y"],
                    width, height)
    return Item(0, "table", content, html=html, row_count=len(block),
                column_count=len(block[0]["runs"]),
                font_size=max(ln["size"] for ln in block), position=pos)


_PDF_TBODY_RE = re.compile(r"^.*?<tbody>", re.DOTALL)


def merge_adjacent_pdf_tables(items: list[Item]) -> list[Item]:
    """R3, the real rule — ``content_structure_fixer.py:120-177``: two
    CONSECUTIVE table items whose vertical gap is under 5% of page
    height merge into one. Reference semantics preserved exactly: the
    scan appends the merged item and skips past the pair (a 3-table
    chain merges its first two per pass), y_end extends to the second
    table's, row counts add. Unlike the reference's literal
    string-surgery (which leaves a second ``<tbody>``), the splice is
    clean — our table HTML is self-generated and well-formed."""
    out: list[Item] = []
    i = 0
    while i < len(items):
        cur = items[i]
        if (
            cur.type == "table"
            and i + 1 < len(items)
            and items[i + 1].type == "table"
        ):
            nxt = items[i + 1]
            a, b = cur.position, nxt.position
            if abs(b["y_start"] - a["y_end"]) < _TABLE_GAP_PCT:
                cur.html = (cur.html.replace("</tbody></table>", "")
                            + _PDF_TBODY_RE.sub("", nxt.html, count=1))
                cur.content = cur.content + "\n" + nxt.content
                cur.row_count += nxt.row_count
                cur.position = {**a, "y_end": b["y_end"],
                                "x_end": max(a["x_end"], b["x_end"]),
                                "x_start": min(a["x_start"], b["x_start"])}
                out.append(cur)
                i += 2
                continue
        out.append(cur)
        i += 1
    return out


def _lines_to_items(lines: list[dict], body_size: float, width: float,
                    height: float) -> list[Item]:
    """Paragraph grouping by vertical gap; header detection by font size
    (a header item has ``level`` 1): a paragraph whose size exceeds the
    page's ``body_size`` by 15% is a header.

    Each item carries a position bbox as page percentages (x/y from the
    top-left, 0-100 — the reference's item position schema,
    openai_content_extractor.py:167-173): x from the line origins /
    estimated advances, y_start from the first line's baseline + ascent
    (≈ font size), y_end from the last line's baseline. PDF user space
    is bottom-up, so y pct = 100·(height − y)/height."""
    items: list[Item] = []
    para: list[str] = []
    bbox: list = []           # [min_x, max_x_end, top_y, bottom_y] in pt
    prev_y = None
    prev_size = None

    def flush():
        if para:
            header = (prev_size or 0) > body_size * 1.15
            items.append(Item(0, "header" if header else "paragraph",
                              "\n".join(para), level=1 if header else 0,
                              font_size=prev_size or body_size,
                              position=_bbox_pct(*bbox, width, height)))
            para.clear()
            bbox.clear()

    for ln in lines:
        gap = None if prev_y is None else prev_y - ln["y"]
        new_para = (
            prev_y is None
            or (gap is not None and gap > max(ln["size"], prev_size or 0) * 1.6)
            or (prev_size is not None and abs(ln["size"] - prev_size) > 0.5)
        )
        if new_para:
            flush()
        top = ln["y"] + ln["size"]
        if not para:
            bbox[:] = [ln["x"], ln["x_end"], top, ln["y"]]
        else:
            bbox[0] = min(bbox[0], ln["x"])
            bbox[1] = max(bbox[1], ln["x_end"])
            bbox[2] = max(bbox[2], top)
            bbox[3] = min(bbox[3], ln["y"])
        para.append(ln["text"])
        prev_y = ln["y"]
        prev_size = ln["size"]
    flush()
    return items


def extract_pdf(pdf_bytes: bytes) -> ExtractResult:
    """bytes → ExtractResult; never raises."""
    try:
        objs = _parse_objects(pdf_bytes)
        page_nums = _page_order(objs)
        if not page_nums:
            # corrupt/truncated PDF — must surface as a parse failure so
            # the run counters don't silently swallow bad payloads
            return ExtractResult(error="PdfNoPages")
        items: list[Item] = []
        layout = {"columns": 1}    # widest x-gap column split seen
        for num in page_nums:
            body = objs[num]
            m = _MEDIABOX_RE.search(body)
            width = float(m.group(3)) - float(m.group(1)) if m else 612.0
            height = float(m.group(4)) - float(m.group(2)) if m else 792.0
            streams: list[bytes] = []
            mc = _CONTENTS_RE.search(body)
            if mc:
                refs = [int(mc.group(1))]
            else:
                ma = _CONTENTS_ARR_RE.search(body)
                refs = [int(r.group(1)) for r in _REF_RE.finditer(ma.group(1))] if ma else []
            for ref in refs:
                if ref in objs:
                    s = _object_stream(objs[ref])
                    if s:
                        streams.append(s)
            runs = extract_runs(b"\n".join(streams))
            # Tables are detected on the GLOBAL line clustering, before
            # the column split — a table's aligned cells at equal y MUST
            # cluster into one multi-run line, which is exactly what the
            # column splitter would tear apart.
            lines = _cluster_lines(runs)
            # body size: the lower median of every line on the page,
            # table lines included, so a lone title over one body line
            # (or over a table) still reads as a header
            sizes = sorted(ln["size"] for ln in lines)
            body_size = sizes[(len(sizes) - 1) // 2] if sizes else 12.0
            blocks, rest_lines = _detect_tables(lines)
            rest_runs = [r for ln in rest_lines for r in ln["runs"]]
            page_items: list[Item] = []
            cols = _split_columns(rest_runs, width)
            layout["columns"] = max(layout["columns"], len(cols))
            for col_runs in cols:
                page_items.extend(_lines_to_items(
                    _cluster_lines(col_runs), body_size, width, height))
            if blocks:
                page_items.extend(_table_item(b, width, height)
                                  for b in blocks)
                # Tables re-enter the flow by vertical position. Stable
                # sort: a multi-column page with tables reads in y order
                # (documented approximation); table-free pages keep the
                # exact left-column-first order, untouched.
                page_items.sort(key=lambda it: it.position["y_start"])
                page_items = merge_adjacent_pdf_tables(page_items)
            items.extend(page_items)
        for k, it in enumerate(items):
            it.order = k
        if items:
            # Doc-level text-extent margins as page percentages
            # (margin_*_percent, openai_content_extractor.py:195-198):
            # distance from each page edge to the union of item bboxes.
            # Positions are already per-page percentages, so the union is
            # comparable across pages with differing mediaboxes.
            ps = [it.position for it in items]
            layout.update({
                "margin_top_percent": round(min(p["y_start"] for p in ps), 2),
                "margin_bottom_percent": round(
                    100.0 - max(p["y_end"] for p in ps), 2),
                "margin_left_percent": round(min(p["x_start"] for p in ps), 2),
                "margin_right_percent": round(
                    100.0 - max(p["x_end"] for p in ps), 2),
            })
        text, spans = assemble(items)
        return ExtractResult(text=text, spans=spans, items=items,
                             layout=layout)
    except Exception as exc:  # noqa: BLE001
        return ExtractResult(error=f"{type(exc).__name__}: {exc}")


def is_pdf(payload: bytes) -> bool:
    """Magic-byte discrimination — PDF payloads ride in the same ``html``
    binary column (FIXTURES.md §1)."""
    return payload[:5] == b"%PDF-"
