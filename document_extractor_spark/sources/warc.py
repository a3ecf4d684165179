"""Common Crawl archive ingest — WARC, WET and WAT files → tables.

The north star names a "Common-Crawl-style" corpus; Common Crawl ships
three parallel archives per segment, all in the WARC container (ISO
28500): concatenated records, each a ``WARC/1.0`` header block
(``WARC-Type``, ``WARC-Target-URI``, ``WARC-Date``, ``Content-Length``)
plus a body. Crawl archives are gzipped PER RECORD (each record its own
gzip member), exactly so they can be split at member boundaries.

One reader serves all three kinds. ``_records`` walks one archive's
bytes — per-record-gzip or plain — Content-Length-framed (no regex over
the whole file), one record in memory at a time, and yields ``(url,
warc_ts, body)`` for the records of one ``WARC-Type``. ``_read_records``
is the only Spark shape: ``binaryFile`` scan (only ``content`` read) →
one ``mapInArrow`` that runs the walk and yields bounded Arrow slices
(``warc_ts`` a tz-aware UTC ``datetime``, the Arrow UTC timestamp), so
executor memory is bounded by the largest RECORD, not the archive.
Parallelism is per-file (Common Crawl segments are ~1 GB × 64k files
per crawl — far more files than executors); on a real cluster the same
reader runs over ``s3a://commoncrawl/...`` paths unchanged. Each public
reader picks only the file glob, the record type, the body decoding and
the JVM-side projection.

The walk is total (hostile archives are data): a desynced record, an
oversized header block or a non-numeric or negative ``Content-Length``
ends its gzip member (a plain archive is one member), and a corrupt
gzip member ends the archive. The records before the damage are kept,
and nothing raises.

Pure-stdlib parsing (zlib multi-member inflate); no warcio dependency.
"""

from __future__ import annotations

import io
import re
import zlib
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.extract import record_batch
from .pages import PAGES_SCHEMA

_CRLF2 = b"\r\n\r\n"
_MAX_HEADER = 64 * 1024          # sanity cap on a header block
_GZIP_MAGIC = b"\x1f\x8b"
_INFLATE_CHUNK = 1 << 20         # feed the inflater 1 MiB at a time
_SLICE_ROWS, _SLICE_BYTES = 1024, 64 << 20   # reader flush bound


def _inflate_members(data: bytes):
    """Yield decompressed gzip members of a per-record-gzipped WARC.
    zlib with wbits=47 stops at each member boundary. The inflater is
    fed bounded slices from a moving offset — feeding it the whole
    remaining buffer per member would copy O(archive) bytes per RECORD
    (quadratic: a 1 GB segment with 50k records would memcpy ~25 TB);
    this way every byte is copied once, and memory holds one member
    plus one slice. A corrupt member ends the archive: its boundary,
    and so the next member's start, is unknown."""
    view = memoryview(data)
    pos, n = 0, len(data)
    while n - pos >= 2 and bytes(view[pos:pos + 2]) == _GZIP_MAGIC:
        d = zlib.decompressobj(47)
        out = bytearray()
        try:
            while not d.eof and pos < n:
                fed = bytes(view[pos:pos + _INFLATE_CHUNK])
                pos += len(fed)
                out += d.decompress(fed)
            out += d.flush()
        except zlib.error:
            return
        # bytes past the member boundary belong to the next member
        pos -= len(d.unused_data)
        yield bytes(out)


def _parse_header_block(block: bytes) -> dict:
    headers = {}
    for line in block.split(b"\r\n")[1:]:          # [0] = WARC/1.0
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.strip().lower().decode("latin-1")] = \
                v.strip().decode("latin-1", "replace")
    return headers


def _iter_warc_records(stream: io.BufferedIOBase):
    """Yield (warc_headers, body_bytes) from a plain (uncompressed)
    WARC byte stream — Content-Length framing, never regex/split over
    the whole archive."""
    while True:
        # skip inter-record blank lines
        line = stream.readline()
        while line in (b"\r\n", b"\n"):
            line = stream.readline()
        if not line:
            return
        if not line.startswith(b"WARC/"):
            return                                  # desynced → stop, no raise
        header = bytearray(line)
        while True:
            line = stream.readline()
            if not line or line in (b"\r\n", b"\n"):
                break
            header += line
            if len(header) > _MAX_HEADER:
                return
        h = _parse_header_block(bytes(header))
        try:
            length = int(h.get("content-length", "0"))
        except ValueError:
            return
        if length < 0:                              # never a read-to-end
            return
        body = stream.read(length)
        yield h, body


_WARC_FRACTION = re.compile(r"\.([0-9]+)Z\Z")


def _warc_ts(h: dict):
    """``WARC-Date`` → UTC datetime. ``YYYY-MM-DDThh:mm:ssZ``, with the
    optional fraction of seconds WARC/1.1 allows (kept to the
    microsecond Spark timestamps hold); any other form → None."""
    raw = h.get("warc-date")
    if not raw:
        return None
    micros = 0
    frac = _WARC_FRACTION.search(raw)
    if frac:
        raw = raw[:frac.start()] + "Z"
        micros = int(frac[1][:6].ljust(6, "0"))
    try:
        return datetime.strptime(raw, "%Y-%m-%dT%H:%M:%SZ") \
            .replace(microsecond=micros, tzinfo=timezone.utc)
    except ValueError:
        return None


def _records(data: bytes, warc_type: str):
    """(url, warc_ts, body) for every ``warc_type`` record of one
    archive's bytes that names a target URI — per-record-gzip and
    plain archives alike."""
    members = _inflate_members(data) if data[:2] == _GZIP_MAGIC else (data,)
    for member in members:
        for h, body in _iter_warc_records(io.BytesIO(member)):
            url = h.get("warc-target-uri")
            if h.get("warc-type") == warc_type and url:
                yield url, _warc_ts(h), body


def _read_records(spark: SparkSession, path: str, glob: str,
                  warc_type: str, decode, body_type) -> DataFrame:
    """Archives under ``path`` matching ``glob`` → ``(url, warc_ts,
    body, warc_day)``, ``body = decode(raw_body)`` of ``body_type``.

    ``binaryFile`` gives one row per archive; the walk streams records
    inside the Arrow batch and yields in bounded slices: one segment
    decompresses to several GB, so accumulating every record of the
    archive into one DataFrame would hold the whole decompressed
    segment in executor memory — the bound must stay "largest
    record", not "largest archive". A slice counts the larger of the
    raw and decoded body sizes, so neither multi-byte text nor a
    compressed HTTP payload under-counts."""
    schema = T.StructType([
        PAGES_SCHEMA["url"], PAGES_SCHEMA["warc_ts"],
        T.StructField("body", body_type),
        T.StructField("warc_day", T.StringType()),
    ])

    def parse(batches):
        rows, nbytes = [], 0
        for batch in batches:
            for data in batch.column(0).to_pylist():
                for url, ts, raw in _records(data, warc_type):
                    body = decode(raw)
                    rows.append((url, ts, body,
                                 ts.strftime("%Y-%m-%d") if ts else None))
                    nbytes += max(len(raw), len(body))
                    if len(rows) >= _SLICE_ROWS or nbytes >= _SLICE_BYTES:
                        yield record_batch(rows, schema)
                        rows, nbytes = [], 0
        if rows:
            yield record_batch(rows, schema)

    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("content")
        .mapInArrow(parse, schema)
    )


def _utf8(body: bytes) -> str:
    return body.decode("utf-8", "replace")


def _warc_record(warc_type: bytes, content_type: bytes, body: bytes,
                 url: str | None = None, iso_ts: str | None = None) -> bytes:
    """One framed WARC/1.0 record; target URI and date only when
    ``url`` is given (a ``warcinfo`` record has neither)."""
    head =[b"WARC/1.0", b"WARC-Type: " + warc_type]
    if url is not None:
        head += [b"WARC-Target-URI: " + url.encode(),
                 b"WARC-Date: " + iso_ts.encode()]
    head += [b"Content-Type: " + content_type,
             b"Content-Length: %d" % len(body)]
    return b"\r\n".join(head) + _CRLF2 + body + _CRLF2


def _archive(records, per_record_gzip: bool) -> bytes:
    """Concatenate framed records, one gzip member per record when
    ``per_record_gzip`` (the Common Crawl shape)."""
    out = bytearray()
    for rec in records:
        if per_record_gzip:
            gz = zlib.compressobj(6, zlib.DEFLATED, 31)
            rec = gz.compress(rec) + gz.flush()
        out += rec
    return bytes(out)


# ---------------------------------------------------------------------------
# WARC: ``response`` records; the body is an HTTP response (status line +
# headers + payload), and the payload is the page → pages rows.
# ---------------------------------------------------------------------------


def _dechunk(payload: bytes) -> bytes:
    """Reassemble a ``Transfer-Encoding: chunked`` body: hex-size line,
    CRLF, that many bytes, CRLF, repeated until a 0-size chunk. Crawl
    captures store the wire bytes, so chunk framing survives into the
    WARC. Best-effort: on malformed framing, return what was assembled
    so far (truncated beats chunk-size lines interleaved in the html)."""
    out = bytearray()
    pos, n = 0, len(payload)
    while pos < n:
        eol = payload.find(b"\r\n", pos)
        if eol < 0:
            break
        token = payload[pos:eol].split(b";", 1)[0].strip()
        try:
            size = int(token, 16)
        except ValueError:
            return payload if not out else bytes(out)
        if size == 0:
            break
        start = eol + 2
        out += payload[start:start + size]
        pos = start + size + 2                     # skip trailing CRLF
    return bytes(out)


def _http_payload(body: bytes) -> bytes:
    """Strip the HTTP response envelope of a ``response`` record body,
    undoing the two wire encodings real Common Crawl captures carry:
    ``Transfer-Encoding: chunked`` (hex-framed) and ``Content-Encoding:
    gzip/deflate`` (compressed payload bytes). Without these, chunked
    records yield html interleaved with hex size lines and compressed
    records yield binary garbage. Best-effort throughout — a malformed
    encoding degrades to the raw bytes, never raises."""
    idx = body.find(_CRLF2)
    if body[:5] != b"HTTP/" or not (0 <= idx < _MAX_HEADER):
        return body
    head = body[:idx].lower()
    payload = body[idx + len(_CRLF2):]
    headers = {}
    for line in head.split(b"\r\n")[1:]:
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.strip()] = v.strip()
    if b"chunked" in headers.get(b"transfer-encoding", b""):
        payload = _dechunk(payload)
    enc = headers.get(b"content-encoding", b"")
    try:
        if enc in (b"gzip", b"x-gzip"):
            payload = zlib.decompress(payload, 47)
        elif enc == b"deflate":
            try:
                payload = zlib.decompress(payload)
            except zlib.error:                     # raw-deflate servers
                payload = zlib.decompress(payload, -15)
    except zlib.error:
        pass                                       # keep raw bytes
    return payload


def iter_warc_pages(data: bytes):
    """(url, warc_ts, payload) for every ``response`` record of one WARC
    file's bytes."""
    for url, ts, body in _records(data, "response"):
        yield url, ts, _http_payload(body)


def read_warc_pages(spark: SparkSession, path: str) -> DataFrame:
    """WARC files → the standard pages frame (url, warc_ts, html, text,
    lang) + ``warc_day`` derived from each record's WARC-Date, ready for
    ``extract_pages`` / the Iceberg-style writer; downstream stays the
    narrow zero-shuffle extract plan."""
    raw = _read_records(spark, path, "*.warc*", "response", _http_payload,
                        T.BinaryType())
    return raw.select(
        "url", "warc_ts", F.col("body").alias("html"),
        *(F.lit(None).cast(PAGES_SCHEMA[c].dataType).alias(c)
          for c in ("text", "lang")),
        "warc_day",
    )


def build_warc(records, per_record_gzip: bool = True) -> bytes:
    """Test/fixture writer: (url, iso_ts, payload_bytes) → WARC bytes in
    the Common Crawl shape (response records wrapped in an HTTP/1.1 200
    envelope)."""
    return _archive((
        _warc_record(
            b"response", b"application/http; msgtype=response",
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Content-Length: %d\r\n\r\n" % len(payload) + payload,
            url, iso_ts)
        for url, iso_ts, payload in records), per_record_gzip)


def warc_to_pages_table(spark: SparkSession, warc_path: str,
                        out_path: str) -> None:
    """Ingest WARC archives into the Iceberg-style pages layout — the
    front door from a raw crawl to everything else in this engine."""
    df = read_warc_pages(spark, warc_path)
    (df.filter(F.col("warc_day").isNotNull())
       .write.mode("overwrite").partitionBy("warc_day").parquet(out_path))


# ---------------------------------------------------------------------------
# WET: ``conversion`` records; the text/plain body IS Common Crawl's own
# extracted text (no HTTP envelope) → a text-only corpus with no
# extraction pass.
# ---------------------------------------------------------------------------


def iter_wet_docs(data: bytes):
    """(url, warc_ts, text) for every ``conversion`` record of one WET
    file's bytes; non-UTF-8 bytes are replaced, never raised."""
    for url, ts, body in _records(data, "conversion"):
        yield url, ts, _utf8(body)


def read_wet_docs(spark: SparkSession, path: str) -> DataFrame:
    """WET files → ``(url, warc_ts, text, warc_day)`` — the text-only
    corpus table that feeds the dedup/curation tiers directly."""
    return _read_records(spark, path, "*.wet*", "conversion", _utf8,
                         T.StringType()).withColumnRenamed("body", "text")


def build_wet(records, per_record_gzip: bool = True,
              with_warcinfo: bool = True) -> bytes:
    """Test/fixture writer: (url, iso_ts, text_str) → WET bytes in the
    Common Crawl shape (``conversion`` records, text/plain bodies; a
    leading ``warcinfo`` record like real WET files so type filtering
    is exercised)."""
    info = [_warc_record(b"warcinfo", b"application/warc-fields",
                         b"software: document-extractor-spark fixture\r\n")]
    return _archive(
        (info if with_warcinfo else [])
        + [_warc_record(b"conversion", b"text/plain", text.encode("utf-8"),
                        url, iso_ts)
           for url, iso_ts, text in records], per_record_gzip)


# ---------------------------------------------------------------------------
# WAT: ``metadata`` records; the body is a JSON envelope describing the
# matching response (HTML head metadata, outlinks) → titles and link
# graphs WITHOUT the payload archive (~1/5 of the WARC bytes). Python
# frames the records only; every JSON field is extracted JVM-side.
# ---------------------------------------------------------------------------

_WAT_META_PATH = ("$.Envelope.Payload-Metadata.HTTP-Response-Metadata"
                  ".HTML-Metadata")


def read_wat_meta(spark: SparkSession, path: str) -> DataFrame:
    """WAT files → ``(url, warc_ts, warc_day, title, link_urls)`` —
    page-head metadata and the outlink list straight from the crawl's
    own metadata archive (``get_json_object`` + PERMISSIVE ``from_json``
    on the links array — malformed envelopes yield NULL fields, never
    task failures)."""
    raw = _read_records(spark, path, "*.wat*", "metadata", _utf8,
                        T.StringType())
    links_json = F.get_json_object("body", _WAT_META_PATH + ".Links")
    links = F.from_json(links_json, "array<struct<url:string>>")
    return raw.select(
        "url", "warc_ts", "warc_day",
        F.get_json_object("body", _WAT_META_PATH + ".Head.Title")
        .alias("title"),
        F.filter(
            F.transform(F.coalesce(links, F.array()), lambda x: x["url"]),
            lambda u: u.isNotNull(),
        ).alias("link_urls"),
    )


def build_wat(records, per_record_gzip: bool = True) -> bytes:
    """Test/fixture writer: (url, iso_ts, title, link_urls) → WAT bytes
    in the Common Crawl shape (``metadata`` records, JSON envelope with
    Head.Title and the Links array)."""
    import json

    def envelope(title, link_urls):
        return json.dumps({"Envelope": {"Payload-Metadata": {
            "HTTP-Response-Metadata": {"HTML-Metadata": {
                "Head": {"Title": title},
                "Links": [{"path": "A@/href", "url": u} for u in link_urls],
            }}}}}, ensure_ascii=False).encode("utf-8")

    return _archive((
        _warc_record(b"metadata", b"application/json",
                     envelope(title, link_urls), url, iso_ts)
        for url, iso_ts, title, link_urls in records), per_record_gzip)
