"""The workloads. Each is a closed loop: one pass at a time over a fixed,
seeded input. A workload prepares its input, warms up with a pass whose
output it checks row by row, then runs timed passes.

- ``crawl_extract``: the narrow production path, scan -> extract ->
  observe -> noop. Bound by the extraction kernel; no shuffle, no write.
- ``curate_text``: feature-hash scoring and content-defined chunking
  over full-length extracted text. JVM expressions and a shuffle; no
  Python worker and no HTML parsing.

The extraction job with its parquet write, manifests and resume is no
workload of its own: its layers are priced in every traced run
(``layers.job_layers``).
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

from pyspark.sql import functions as F

import inputs
from document_extractor_spark.operators.cdc import (
    cdc_chunks,
    cdc_dup_candidates,
)
from document_extractor_spark.operators.extract import (
    extract_pages,
    observe_extract,
)
from document_extractor_spark.operators.linmodel import (
    hashed_linear_score,
    linmodel_oracle_sql,
)
from document_extractor_spark.plans import physical_plan
from document_extractor_spark.sources.pages import read_pages


@dataclass
class Pass:
    """What one timed pass did: input docs and bytes."""
    docs: int
    bytes_in: int


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


#: every curated text is cut to the median extracted page length:
#: chunking cost grows faster than length, so one length keeps the cost
#: of a pass the same across seeds
TEXT_CHARS = 9000


def _sample_texts(rows: list) -> tuple:
    """Extracted texts of the first 4 HTML pages, 1 of them copied with an
    edit: the curation layers' input for the extraction workload."""
    html = [r for r in rows if not r["html"].startswith(b"%PDF")]
    texts = [t[:TEXT_CHARS] for t in inputs.extracted_texts(html[:4])]
    return inputs.plant(texts, 1)


def _compare_rows(bench, got: dict, ref: dict, what: str) -> None:
    """``got``/``ref``: url -> (md5 of text, parse_error, ...). A doc fails
    when it is missing, its text differs, or it has a parse error."""
    bad = 0
    for url, (md5, err, *_rest) in ref.items():
        g = got.get(url)
        if g is None or g[0] != md5 or g[1] is not None or err is not None:
            bad += 1
    bad += len(set(got) - set(ref))
    bench.check(len(ref), bad, what)


class CrawlExtract:
    name = "crawl_extract"
    #: the extraction plan must stay a narrow map with no Exchange
    zero_shuffle = True
    #: untimed passes after the verified warm-up pass. The JIT keeps
    #: compiling and Spark keeps forking Python workers, each importing
    #: the program, for three passes; timed passes start after that
    warm_passes = 3
    N_DOCS = 800
    N_DAYS = 2
    FILES_PER_DAY = 4  # 8 files: two task waves at local[4]

    def __init__(self, bench):
        self.b = bench

    def prepare(self, d: str) -> None:
        self.rows = inputs.page_rows(self.N_DOCS, self.b.seed, 0.05,
                                     self.N_DAYS)
        self.pages = os.path.join(d, "pages")
        inputs.write_pages(self.pages, self.rows, self.FILES_PER_DAY)
        self.bytes_in = sum(len(r["html"]) for r in self.rows)

    def _plan(self):
        return observe_extract(
            extract_pages(read_pages(self.b.spark, self.pages)))

    def warm(self) -> None:
        out = extract_pages(read_pages(self.b.spark, self.pages))
        self._warm_rows = {
            r["url"]: (r["h"], r["parse_error"])
            for r in out.select("url", F.md5("extracted_text").alias("h"),
                                "parse_error").collect()}

    def verify_warm(self) -> None:
        self.ref = inputs.reference(self.rows, self.b.nproc)
        _compare_rows(self.b, self._warm_rows, self.ref, "crawl_extract rows")

    def run_pass(self, meter) -> Pass:
        with meter:
            df, obs = self._plan()
            noop_sink(df)
        m = obs.get
        self.last_df = df
        expect_out = sum(v[2] for v in self.ref.values())
        bad = abs(self.N_DOCS - m["docs"]) + m["parse_failures"]
        if bad == 0 and m["bytes_out"] != expect_out:
            bad = self.N_DOCS
        self.b.check(self.N_DOCS, bad, "crawl_extract pass")
        return Pass(self.N_DOCS, self.bytes_in)

    def plan_shape_source(self) -> list:
        return [physical_plan(self.last_df)]

    def layer_pages(self) -> tuple:
        return self.pages, self.rows

    def layer_texts(self) -> tuple:
        return _sample_texts(self.rows)


class CurateText:
    name = "curate_text"
    zero_shuffle = False
    #: the CPU time of a pass keeps falling for three passes after the
    #: verified one while the JIT compiles the chunking expressions
    warm_passes = 3
    #: one task wave at local[4]: chunking costs seconds per text
    N_DOCS = 3
    N_PLANTED = 1
    DIM = 1024

    def __init__(self, bench):
        self.b = bench
        rnd = random.Random(bench.seed)
        self.weights = [rnd.randint(-3000, 3000) for _ in range(self.DIM)]

    def prepare(self, d: str) -> None:
        n = TEXT_CHARS
        rows = inputs.page_rows(16 * self.N_DOCS, self.b.seed, 0.0, 1)
        picked = [(r, t[:n]) for r, t in
                  zip(rows, inputs.extracted_texts(rows))
                  if len(t) >= n][:self.N_DOCS]
        if len(picked) < self.N_DOCS:
            raise RuntimeError(f"seed {self.b.seed}: only {len(picked)} "
                               f"texts of {n} chars")
        self.rows = [r for r, _ in picked]
        self.pages = os.path.join(d, "pages")
        inputs.write_pages(self.pages, self.rows, 4)
        self.docs, self.pairs = inputs.plant([t for _, t in picked],
                                             self.N_PLANTED)
        self.texts = os.path.join(d, "texts")
        inputs.write_texts(self.texts, self.docs)
        self.bytes_in = sum(len(t.encode("utf-8")) for _, t in self.docs)

    def _frames(self):
        texts = self.b.spark.read.parquet(self.texts)
        scored = hashed_linear_score(texts, self.weights)
        cands = cdc_dup_candidates(cdc_chunks(texts))
        return scored, cands

    def warm(self) -> None:
        scored, cands = self._frames()
        self._scores = {
            r["doc_id"]: (r["q_n_feats"], r["q_score_milli"], r["q_keep"])
            for r in scored.select("doc_id", "q_n_feats", "q_score_milli",
                                   "q_keep").collect()}
        self._cands = {(r["id_a"], r["id_b"]) for r in cands.collect()}

    def verify_warm(self) -> None:
        import duckdb
        import pyarrow as pa

        con = duckdb.connect()
        try:
            con.register("t", pa.Table.from_pylist(
                [{"doc_id": i, "text": t} for i, t in self.docs],
                schema=inputs.TEXTS_ARROW_SCHEMA))
            sql = linmodel_oracle_sql("t", "doc_id", "text", self.weights)
            want = {r[0]: tuple(r[1:]) for r in con.execute(sql).fetchall()}
        finally:
            con.close()
        bad = sum(1 for k, v in want.items() if self._scores.get(k) != v)
        bad += len(set(self._scores) - set(want))
        self.b.check(len(want), bad, "curate_text scores vs DuckDB")
        missing = [p for p in self.pairs if p not in self._cands]
        self.b.check(len(self.pairs), len(missing),
                     "curate_text planted pairs")

    def run_pass(self, meter) -> Pass:
        with meter:
            scored, cands = self._frames()
            noop_sink(scored)
            noop_sink(cands)
        self.last = (scored, cands)
        return Pass(len(self.docs), self.bytes_in)

    def plan_shape_source(self) -> list:
        return [physical_plan(df) for df in self.last]

    def layer_pages(self) -> tuple:
        return self.pages, self.rows

    def layer_texts(self) -> tuple:
        return self.docs, self.pairs


WORKLOADS = {w.name: w for w in (CrawlExtract, CurateText)}
