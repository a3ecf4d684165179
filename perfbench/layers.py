"""Per-layer metrics of the traced run.

Every number comes from spans the benchmark records around its own calls
into the program's public functions: a one-core replay of the kernel
stages, nested Spark plans whose differences price each layer, the full
job with its write and commit calls wrapped, the curation operators, and
task metrics from Spark's event log."""

from __future__ import annotations

import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

import inputs
import measure
from document_extractor_spark import checkpoint, pipeline
from document_extractor_spark.extractor import html_extract as hx
from document_extractor_spark.extractor import langid, pdf_extract
from document_extractor_spark.extractor.core import extract_payload
from document_extractor_spark.operators.cdc import (
    cdc_chunks,
    cdc_dup_candidates,
)
from document_extractor_spark.operators.extract import (
    extract_pages,
    observe_extract,
)
from document_extractor_spark.operators.linmodel import hashed_linear_score
from document_extractor_spark.sources.pages import (
    read_pages,
    read_pages_table,
)
from workloads import noop_sink

#: pages replayed through the kernel, each ``_REPLAY_ROUNDS`` times: over
#: a thousand extract_payload samples, enough for a p99
_REPLAY_DOCS = 340
_REPLAY_ROUNDS = 3


def kernel_replay(bench, rows: list) -> dict:
    """One-core replay of ``rows`` through the calls ``extract_html``
    makes, stage by stage, then through ``extract_payload`` whole."""
    T = bench.tracer
    rows = rows[:_REPLAY_DOCS]
    html_rows = [r for r in rows if not pdf_extract.is_pdf(r["html"])]
    pdf_rows = [r for r in rows if pdf_extract.is_pdf(r["html"])]
    n_blocks = n_items = 0
    payload_ms = []
    b_in = b_out = 0
    for _ in range(_REPLAY_ROUNDS):
        for r in html_rows:
            with T.span("html_extract.decode"):
                html = r["html"].decode("utf-8", errors="replace")
            with T.span("html_extract.flatten"):
                blocks = hx.flatten(html).blocks
            with T.span("html_extract.classify_blocks"):
                hx.classify_blocks(blocks)
            with T.span("html_extract.blocks_to_items"):
                items = hx.blocks_to_items(blocks)
            with T.span("html_extract.fix_structure"):
                hx.fix_header_levels(items)
                items = hx.convert_kv_items(items)
                items = hx.fix_section_table_order(items)
                items = hx.fix_adjacent_tables(items)
            with T.span("html_extract.assemble"):
                text, _ = hx.assemble(items)
            # the hot path skips detection when the page carries a lang
            # hint; this prices the call for pages that do not
            with T.span("langid.detect_lang"):
                langid.detect_lang(text)
            n_blocks += len(blocks)
            n_items += len(items)
        for r in pdf_rows:
            with T.span("pdf_extract.extract_pdf"):
                pdf_extract.extract_pdf(r["html"])
        for r in rows:
            t0 = time.perf_counter()
            with T.span("core.extract_payload"):
                rec = extract_payload(r["html"], url=r["url"],
                                      lang_hint=r["lang"] or None)
            payload_ms.append((time.perf_counter() - t0) * 1000)
            b_in += rec["n_bytes_in"]
            b_out += rec["n_bytes_out"]
    st = T.self_times()
    n_html = max(1, len(html_rows) * _REPLAY_ROUNDS)
    n_pdf = max(1, len(pdf_rows) * _REPLAY_ROUNDS)

    def per_html(name):
        return st.get(name, (0.0, 0))[0] / n_html * 1000

    q = statistics.quantiles(payload_ms, n=100)
    out = {f"html_extract.{s}_ms": per_html(f"html_extract.{s}")
           for s in ("flatten", "classify_blocks", "blocks_to_items",
                     "fix_structure", "assemble", "decode")}
    out.update({
        "html_extract.blocks_per_doc": n_blocks / n_html,
        "html_extract.kept_block_frac": n_items / max(1, n_blocks),
        "langid.detect_lang_ms": per_html("langid.detect_lang"),
        "pdf_extract.extract_pdf_ms":
            st.get("pdf_extract.extract_pdf", (0.0, 0))[0] / n_pdf * 1000,
        "core.extract_payload_ms_p50": statistics.median(payload_ms),
        "core.extract_payload_ms_p99": q[98],
        "core.bytes_out_over_in": b_out / max(1, b_in),
    })
    return out


def _timed(bench, name: str, build, reps: int = 2) -> float:
    """Median wall of ``reps`` noop runs of the plan ``build()`` makes."""
    walls = []
    for _ in range(reps):
        with bench.tracer.span(name):
            t0 = time.perf_counter()
            noop_sink(build())
            walls.append(time.perf_counter() - t0)
    return measure.median(walls)


def extract_plan(spark, pages: str):
    return extract_pages(read_pages(spark, pages))


def nested_plans(bench, pages: str) -> tuple:
    """(a) scan -> noop, (b) scan -> identity mapInPandas, (c) scan ->
    extract; their differences are the scan, the Arrow round trip to the
    Python worker and the extraction itself. Returns (metrics, wall of
    (c))."""
    spark = bench.spark
    ident_schema = read_pages(spark, pages).select("url", "html",
                                                   "lang").schema

    def scan():
        return read_pages(spark, pages).select("url", "html", "lang")

    a = _timed(bench, "sources.pages.scan", scan)
    b = _timed(bench, "operators.extract.identity",
               lambda: scan().mapInPandas(lambda it: it, ident_schema))
    c = _timed(bench, "operators.extract.extract",
               lambda: extract_plan(spark, pages))
    return {"sources.pages.scan_s": a,
            "operators.extract.arrow_roundtrip_s": b - a,
            "operators.extract.extract_s": c - b}, c


def wrap_job_calls(tracer, prefix: str) -> list:
    """Span the write, commit and resume-planning calls the extraction
    job makes; returns the undo callables."""
    return [
        tracer.wrap(pipeline, "write_result",
                    prefix + "sources.pages.write_result"),
        tracer.wrap(pipeline, "commit_partition",
                    prefix + "checkpoint.commit_partition"),
        tracer.wrap(pipeline, "committed_partitions",
                    prefix + "checkpoint.committed_partitions"),
        tracer.wrap(checkpoint, "input_fingerprint",
                    prefix + "checkpoint.input_fingerprint"),
    ]


def job_layers(bench, pages: str) -> dict:
    """``run_extract_job`` over all day partitions of ``pages`` but the
    last, then the last appended and a resumed rerun, with the write,
    commit and resume-planning calls wrapped in spans."""
    T = bench.tracer
    job_in = bench.path("layer_job", "pages")
    out = bench.path("layer_job", "out")
    days = sorted(os.listdir(pages))
    # with one day there is nothing to hold back: the rerun only skips
    held = days[-1:] if len(days) > 1 else []
    shutil.copytree(pages, job_in,
                    ignore=lambda d, names: held if d == pages else [])
    undo = wrap_job_calls(T, "")
    try:
        bench.job_group("layer.pipeline")
        with T.span("pipeline.run_extract_job"):
            s1 = pipeline.run_extract_job(bench.spark, job_in, out)
        jobs = len(bench.spark.sparkContext.statusTracker()
                   .getJobIdsForGroup("layer.pipeline"))
        bench.job_group(None)
        for day in held:
            shutil.copytree(os.path.join(pages, day),
                            os.path.join(job_in, day))
        t0 = time.perf_counter()
        with T.span("pipeline.resume"):
            s2 = pipeline.run_extract_job(bench.spark, job_in, out,
                                          resume=True)
        resume_s = time.perf_counter() - t0
    finally:
        bench.job_group(None)
        for u in undo:
            u()
    ok = (s2["partitions_skipped"] == len(days) - len(held)
          and s2["partitions_processed"] == len(held))
    bench.check(1, 0 if ok else 1, "layer job resume")
    day = days[0].split("=", 1)[1]
    builds = []
    for _ in range(5):
        t0 = time.perf_counter()
        with T.span("pipeline.plan_build"):
            observe_extract(extract_pages(
                read_pages_table(bench.spark, job_in)
                .filter(F.col("warc_day") == day), keep_warc_day=True))
        builds.append(time.perf_counter() - t0)

    def mean_ms(name):
        d = T.durations(name)
        return sum(d) / max(1, len(d)) * 1000

    return {
        "pipeline.spark_jobs_per_partition":
            jobs / max(1, s1["partitions_processed"]),
        "pipeline.plan_build_ms": measure.median(builds) * 1000,
        "pipeline.resume_s": resume_s,
        "sources.pages.write_result_s":
            mean_ms("sources.pages.write_result") / 1000,
        "checkpoint.commit_partition_ms":
            mean_ms("checkpoint.commit_partition"),
        "checkpoint.committed_partitions_ms":
            T.durations("checkpoint.committed_partitions")[-1] * 1000,
        "checkpoint.input_fingerprint_ms":
            mean_ms("checkpoint.input_fingerprint"),
    }


def curation_layers(bench, docs: list, pairs: list) -> dict:
    """Feature-hash scoring and CDC over ``docs`` (one file per text)."""
    spark = bench.spark
    d = bench.path("layer_texts")
    shutil.rmtree(d, ignore_errors=True)
    inputs.write_texts(d, docs)
    texts = spark.read.parquet(d)
    weights = [(7 * i) % 2001 - 1000 for i in range(1024)]
    score_s = _timed(bench, "linmodel.hashed_linear_score",
                     lambda: hashed_linear_score(texts, weights))
    feats = (hashed_linear_score(texts, weights)
             .agg(F.avg("q_n_feats")).first()[0])
    chunks_s = _timed(bench, "cdc.cdc_chunks",
                      lambda: cdc_chunks(texts), reps=1)
    n_chunks = cdc_chunks(texts).count()
    t0 = time.perf_counter()
    with bench.tracer.span("cdc.cdc_dup_candidates"):
        cands = {(r["id_a"], r["id_b"])
                 for r in cdc_dup_candidates(cdc_chunks(texts)).collect()}
    cand_s = time.perf_counter() - t0 - chunks_s
    hit = sum(1 for p in pairs if p in cands)
    return {
        "linmodel.hashed_linear_score_s": score_s,
        "linmodel.features_per_doc": float(feats),
        "cdc.cdc_chunks_s": chunks_s,
        "cdc.chunks_per_doc": n_chunks / len(docs),
        "cdc.cdc_dup_candidates_s": cand_s,
        "cdc.candidate_pairs": float(len(cands)),
        "cdc.planted_pair_recall": hit / max(1, len(pairs)),
        "cdc.candidate_precision": hit / max(1, len(cands)),
    }


def spark_task_layers(bench, pass_walls: list) -> dict:
    """Task metrics of the timed passes (job group ``pass``) from the
    event log of the stopped session."""
    m = measure.group_task_metrics(bench.event_log(), "pass")
    dur = m["task_durations_s"]
    return {
        "spark.core_busy_frac":
            m["run_s"] / (sum(pass_walls) * bench.nproc),
        "spark.task_s_max_over_p50":
            max(dur) / max(1e-9, statistics.median(dur)),
        "spark.python_mb_sent": m["python_mb_sent"] / len(pass_walls),
        "spark.python_mb_received":
            m["python_mb_received"] / len(pass_walls),
        "spark.shuffle_write_mb": m["shuffle_write_mb"] / len(pass_walls),
        "spark.gc_s": m["gc_s"] / len(pass_walls),
    }


def local1(bench, pages: str, n_docs: int, docs_per_s_n: float) -> dict:
    """Extraction at ``local[1]`` on a fresh session in the same JVM,
    against the ``local[nproc]`` rate of the same plan."""
    spark = bench.start_spark(1)
    first_day = os.path.join(pages, sorted(os.listdir(pages))[0])
    noop_sink(extract_plan(spark, first_day))
    with bench.tracer.span("spark.local1"):
        t0 = time.perf_counter()
        noop_sink(extract_plan(spark, pages))
        wall = time.perf_counter() - t0
    rate1 = n_docs / wall
    return {"spark.local1_docs_per_s": rate1,
            "spark.scaling_1_to_n": docs_per_s_n / (bench.nproc * rate1)}
