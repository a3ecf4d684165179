"""Seeded inputs: every byte a workload reads is a function of the seed.

Generation runs in one process with no pool, so the same seed gives the
same files. Only the reference extraction, which reads the generated
bytes and never writes inputs, runs in a spawn pool."""

from __future__ import annotations

import gc
import hashlib
import multiprocessing
import os
from collections import defaultdict
from multiprocessing import resource_tracker

import pyarrow as pa
import pyarrow.parquet as pq

from document_extractor_spark.extractor.core import extract_payload
from document_extractor_spark.sources.generator import corpus_rows

PAGES_ARROW_SCHEMA = pa.schema([
    pa.field("url", pa.string()),
    pa.field("warc_ts", pa.timestamp("us")),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])
TEXTS_ARROW_SCHEMA = pa.schema([
    pa.field("doc_id", pa.int64()),
    pa.field("text", pa.string()),
])

#: prefix of the planted near-duplicates in ``curate_text``
EDIT_PREFIX = "EDIT EDIT EDIT "


def page_rows(n: int, seed: int, pdf_frac: float, n_days: int) -> list:
    """``n`` generated pages; page ``i`` lands on day ``i % n_days``."""
    return list(corpus_rows(n, seed=seed, pdf_frac=pdf_frac, n_days=n_days))


def day_of(row: dict) -> str:
    return row["warc_ts"].strftime("%Y-%m-%d")


def write_pages(root: str, rows: list, files_per_day: int) -> list:
    """Write ``rows`` as ``warc_day=D/part-NNNNN.parquet``, each day split
    into ``files_per_day`` files of one row group. Returns the days."""
    by_day = defaultdict(list)
    for r in rows:
        by_day[day_of(r)].append(r)
    for day, day_rows in sorted(by_day.items()):
        d = os.path.join(root, f"warc_day={day}")
        os.makedirs(d, exist_ok=True)
        step = -(-len(day_rows) // files_per_day)
        for k in range(0, len(day_rows), step):
            chunk = day_rows[k:k + step]
            pq.write_table(
                pa.Table.from_pylist(chunk, schema=PAGES_ARROW_SCHEMA),
                os.path.join(d, f"part-{k // step:05d}.parquet"),
                compression="snappy", row_group_size=len(chunk))
    return sorted(by_day)


def write_texts(root: str, docs: list) -> None:
    """One parquet file per ``(doc_id, text)`` so each text is one task:
    chunking cost grows faster than text length, and a file holding
    several long texts would be the straggler of every pass."""
    os.makedirs(root, exist_ok=True)
    for doc_id, text in docs:
        pq.write_table(
            pa.Table.from_pylist([{"doc_id": doc_id, "text": text}],
                                 schema=TEXTS_ARROW_SCHEMA),
            os.path.join(root, f"part-{doc_id:05d}.parquet"),
            compression="snappy")


def text_md5(text: str) -> str:
    return hashlib.md5(text.encode("utf-8")).hexdigest()


def tree_digest(root: str) -> str:
    """Content digest of every file under ``root`` (relative names)."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _reference_one(item):
    url, payload, lang = item
    rec = extract_payload(payload, url=url, lang_hint=lang or None)
    return (url, text_md5(rec["extracted_text"]), rec["parse_error"],
            rec["n_bytes_out"])


def reference(rows: list, procs: int) -> dict:
    """url -> (md5 of extracted_text, parse_error, n_bytes_out) from
    direct ``extract_payload`` calls, outside Spark, in ``procs`` spawned
    processes."""
    items = [(r["url"], r["html"], r["lang"]) for r in rows]
    pool = multiprocessing.get_context("spawn").Pool(procs)
    try:
        out = pool.map(_reference_one, items, chunksize=16)
    finally:
        pool.close()
        pool.join()
    # the pool leaves a resource-tracker process that would otherwise
    # outlive the run: release the pool's semaphores, then stop and reap it
    del pool
    gc.collect()
    resource_tracker._resource_tracker._stop()
    return {u: (m, e, b) for u, m, e, b in out}


def extracted_texts(rows: list) -> list:
    return [extract_payload(r["html"], url=r["url"])["extracted_text"]
            for r in rows]


def plant(texts: list, n_planted: int) -> tuple:
    """``texts`` plus edited copies of the first ``n_planted``. Returns
    (docs [(doc_id, text)], planted pairs [(orig_id, copy_id)])."""
    docs = list(enumerate(texts))
    n = len(docs)
    pairs = []
    for k in range(n_planted):
        docs.append((n + k, EDIT_PREFIX + texts[k]))
        pairs.append((k, n + k))
    return docs, pairs
