"""Unified payload dispatch: one pure function from raw bytes to the
north-star output record.

``extract_payload`` is the single function the Spark layer vectorizes —
it discriminates HTML vs PDF by magic bytes (FIXTURES.md §1: PDF payloads
ride in the same ``html`` binary column), runs ``extract_pdf`` or
``extract_html`` (both return an ``ExtractResult`` of ``Item``s) and
returns a plain dict with stable key order, ready for Arrow
serialization.

Output record (north-star schema + lineage counters):
  url, extracted_text, spans[(start,end,type)], lang, parse_error,
  n_blocks, n_bytes_in, n_bytes_out
plus, opt-in, ``content_items`` (one dict per ``Item``, its fields in
declaration order) and ``layout``.
"""

from __future__ import annotations

from dataclasses import fields
from typing import Optional

from .html_extract import ExtractResult, Item, extract_html
from .langid import detect_lang
from .pdf_extract import extract_pdf, is_pdf

# Bytes that essentially never occur in text of any encoding: NUL..BS,
# SO..US minus the \t\n\r\f\v whitespace family. >10% of the head being
# these = binary payload (images, archives, random bytes).
_BIN_BYTES = bytes(b for b in range(0x20)
                   if b not in (0x09, 0x0A, 0x0B, 0x0C, 0x0D))
_BIN_TABLE = bytes.maketrans(b"", b"")


def _looks_binary(payload: bytes, probe: int = 1024,
                  threshold: float = 0.10) -> bool:
    if payload[:5] == b"%PDF-":
        return False
    head = bytes(payload[:probe])
    if not head:
        return False
    n_bin = len(head) - len(head.translate(_BIN_TABLE, _BIN_BYTES))
    return n_bin / len(head) > threshold


_EMPTY_LAYOUT = {"columns": 1, "has_header": False, "has_footer": False,
                 "margin_top_percent": None, "margin_bottom_percent": None,
                 "margin_left_percent": None, "margin_right_percent": None}

_ITEM_FIELDS = tuple(f.name for f in fields(Item))


def _html_position(start: int, end: int, total: int) -> Optional[dict]:
    """Reading-order position substitute for items without one (HTML
    items; PDF items carry real line/column extents): web pages carry
    no pixel geometry, so y pct = character-offset pct of the assembled
    text (span start/end) and x spans the full width — keeps the
    reference's position schema (openai_content_extractor.py:167-173)
    populated and monotone in reading order. Documented substitute, like
    the span-offset item shape (SURVEY §1.3)."""
    if total <= 0:
        return None
    return {
        "x_start": 0.0,
        "y_start": round(100.0 * start / total, 2),
        "x_end": 100.0,
        "y_end": round(100.0 * end / total, 2),
    }


def extract_payload(payload: Optional[bytes], url: str = "",
                    lang_hint: Optional[str] = None,
                    include_items: bool = False,
                    include_layout: bool = False,
                    emit_chrome: bool = False) -> dict:
    """When ``include_items`` is set, the record additionally carries the
    typed content-item array (the reference's core record shape,
    ``openai_content_extractor.py:158-200``) for the rendering operators;
    the default hot-path record stays lean (north-star schema only).
    ``include_layout`` adds the page layout struct {columns, has_header,
    has_footer, margin_*_percent} (openai_content_extractor.py:190-199),
    defaults filled in from ``_EMPTY_LAYOUT``; ``emit_chrome``
    surfaces header/footer chrome as typed page_header/page_footer items."""
    n_in = len(payload) if payload is not None else 0
    if payload is None or len(payload) == 0:
        res = ExtractResult(error="EmptyPayload")
    elif _looks_binary(payload):
        # non-text payload that is not a recognized format: surface as a
        # parse failure rather than emitting mojibake "text" — keeps the
        # A4 run counters honest about corrupt inputs
        res = ExtractResult(error="BinaryPayload")
    elif is_pdf(payload):
        res = extract_pdf(payload)
    else:
        res = extract_html(bytes(payload), emit_chrome=emit_chrome)
    # an error result carries no text, spans, items or layout
    lang = lang_hint or ("und" if res.error else detect_lang(res.text))
    rec = {
        "url": url,
        "extracted_text": res.text,
        "spans": [{"start": s, "end": e, "type": t} for s, e, t in res.spans],
        "lang": lang,
        "parse_error": res.error,
        "n_blocks": len(res.items),
        "n_bytes_in": n_in,
        "n_bytes_out": len(res.text.encode("utf-8")),
    }
    if include_items:
        total = len(res.text)
        rec["content_items"] = items = []
        # assemble() emits spans 1:1 with items, in order
        for it, (start, end, _) in zip(res.items, res.spans, strict=True):
            item = {f: getattr(it, f) for f in _ITEM_FIELDS}
            if it.position is None:
                item["position"] = _html_position(start, end, total)
            items.append(item)
    if include_layout:
        rec["layout"] = {**_EMPTY_LAYOUT, **res.layout}
    return rec
