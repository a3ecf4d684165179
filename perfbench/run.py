"""Benchmark of the extraction engine.

    python3 perfbench/run.py --workload crawl_extract --seed 1 \
        --seconds 14 --trace 0

Run from the repository root. Each run starts one Spark session at
``local[nproc]``, prepares the workload's seeded input, warms up with a
pass whose output it checks row by row, runs timed passes for
``--seconds`` and checks the 21 golden rows of ``tests/golden``. The
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it records the environment and plan shape of the run; spans and
the run record are written under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: set-up steps that can repeat inside one process run this many times
SETUP_REPEATS = 3

_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench +{time.perf_counter() - _T0:.1f}s] {msg}",
          file=sys.stderr, flush=True)


def declared_metrics(trace: bool) -> dict:
    """name -> unit of the metrics BENCHMARK.json declares for the mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def _env_record(bench, spark_version: str) -> dict:
    import pandas
    import pyarrow

    import measure

    sha = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.isfile(head):
        with open(head, encoding="ascii") as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            p = os.path.join(ROOT, ".git", ref[5:])
            if os.path.isfile(p):
                with open(p, encoding="ascii") as f:
                    sha = f.read().strip()
        else:
            sha = ref
    return {"nproc": bench.nproc, "loadavg_start": measure.loadavg(),
            "git_sha": sha, "spark": spark_version,
            "pandas": pandas.__version__, "pyarrow": pyarrow.__version__}


def _golden_check(bench) -> None:
    """The golden fixture rows through ``extract_pages``; the expected
    file is read, never written."""
    from document_extractor_spark.operators.extract import extract_pages
    from document_extractor_spark.sources.generator import fixture_rows
    from document_extractor_spark.sources.pages import PAGES_SCHEMA

    with open(os.path.join(ROOT, "tests", "golden", "expected.json"),
              encoding="utf-8") as f:
        golden = {g["url"]: g for g in json.load(f)}
    df = bench.spark.createDataFrame(fixture_rows(), schema=PAGES_SCHEMA)
    got = {r["url"]: r.asDict(recursive=True)
           for r in extract_pages(df).collect()}
    bad = 0
    for url, exp in golden.items():
        g = got.get(url)
        if g is None or any(g[k] != exp[k] for k in
                            ("extracted_text", "lang", "parse_error",
                             "spans")):
            bad += 1
    bench.check(len(golden), bad, "golden rows")


def run(args) -> dict:
    import inputs
    import measure
    from harness import Bench
    from workloads import WORKLOADS

    bench = Bench(ROOT, args.workload, args.seed, args.seconds,
                  bool(args.trace))
    wl = WORKLOADS[args.workload](bench)
    T = bench.tracer
    try:
        with T.span("setup.session"):
            t0 = time.perf_counter()
            spark = bench.start_spark(bench.nproc, event_log=bench.trace)
            session_s = time.perf_counter() - t0
        log("session up")
        env = _env_record(bench, spark.version)
        prep, digests = [], set()
        for i in range(SETUP_REPEATS):
            d = bench.path(f"input{i}")
            with T.span("setup.prepare"):
                t0 = time.perf_counter()
                wl.prepare(d)
                prep.append(time.perf_counter() - t0)
            digests.add(inputs.tree_digest(d))
            if i:
                shutil.rmtree(bench.path(f"input{i - 1}"))
        # the same seed must give the same bytes every time
        bench.check(SETUP_REPEATS, 0 if len(digests) == 1 else 1,
                    "seeded inputs repeat")
        log("inputs prepared")
        with T.span("setup.warm"):
            t0 = time.perf_counter()
            wl.warm()
            warm_s = time.perf_counter() - t0
        log("warm pass done")
        with T.span("verify.warm"):
            t0 = time.perf_counter()
            wl.verify_warm()
            verify_s = time.perf_counter() - t0
        log("warm pass verified")
        root_pid = os.getpid()
        with T.span("setup.warm"):
            t0 = time.perf_counter()
            for _ in range(wl.warm_passes):
                wl.run_pass(measure.PassMeter(root_pid))
            warm_s += time.perf_counter() - t0
        setup_s = session_s + measure.median(prep) + warm_s
        log("warm-up passes done")

        passes, metas = [], []
        steal, busy = [], []
        traced_walls, plain_walls = [], []
        bench.job_group("pass")
        loop_t0 = time.perf_counter()
        with measure.RssSampler(root_pid) as rss:
            while (time.perf_counter() - loop_t0 < bench.seconds
                   or len(passes) < (2 if bench.trace else 1)):
                traced = bench.trace and len(passes) % 2 == 1
                meter = measure.PassMeter(root_pid)
                if traced:
                    with T.span("pass"):
                        p = wl.run_pass(meter)
                    traced_walls.append(meter.wall_s)
                else:
                    p = wl.run_pass(meter)
                    plain_walls.append(meter.wall_s)
                passes.append(p)
                metas.append(meter)
                steal.append(meter.steal_jiffies)
                busy.append(meter.busy_jiffies)
        bench.job_group(None)
        log(f"{len(passes)} timed passes done")
        env.update({"pass_wall_s": [m.wall_s for m in metas],
                    "pass_cpu_s": [m.cpu_s for m in metas],
                    "steal_jiffies": steal, "busy_jiffies": busy,
                    "passes": len(passes),
                    "python_worker_rss_mb": rss.peak_python_mb})

        shape = {"exchange": 0, "broadcast_exchange": 0, "python_nodes": 0}
        for plan in wl.plan_shape_source():
            for k, v in measure.plan_shape(plan).items():
                shape[k] += v
        env["plan_shape"] = shape
        bench.check(1, int(wl.zero_shuffle and shape["exchange"] > 0),
                    "plan shape")
        with T.span("verify.golden"):
            t0 = time.perf_counter()
            _golden_check(bench)
            golden_s = time.perf_counter() - t0

        log("goldens verified")
        walls = [m.wall_s for m in metas]
        metrics = {
            "setup_s": setup_s,
            # throughput per second of wall time the host did not steal
            "docs_per_s": measure.median(
                [p.docs / m.unstolen_s for p, m in zip(passes, metas)]),
            "mb_per_s": measure.median(
                [p.bytes_in / 1e6 / m.unstolen_s
                 for p, m in zip(passes, metas)]),
            "cpu_s_per_kdoc": measure.median(
                [m.cpu_s / (p.docs / 1000) for p, m in zip(passes, metas)]),
            "worker_rss_mb": rss.peak_total_mb,
        }
        if bench.trace:
            metrics = layer_metrics(bench, wl, walls, traced_walls,
                                    plain_walls)
        else:
            metrics["ok_frac"] = 1 - bench.failed / max(1, bench.attempted)
        bench.shutdown()
        log("stopped")
    except BaseException:
        bench.shutdown()
        raise
    env["problems"] = bench.problems
    env["phases_s"] = {"session": session_s, "prepare": prep,
                       "warm": warm_s, "verify_warm": verify_s,
                       "golden": golden_s, "timed": sum(walls)}
    bench.clean()
    with open(bench.path("run.json"), "w", encoding="utf-8") as f:
        json.dump({"env": env, "metrics": metrics}, f, indent=1)
    if bench.trace:
        T.dump(bench.path("spans.json"))
    print(json.dumps({"env": env}))
    units = declared_metrics(bench.trace)
    if set(units) != set(metrics):
        raise RuntimeError(
            f"measured metrics differ from BENCHMARK.json: "
            f"{sorted(set(units) ^ set(metrics))}")
    return {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }


def layer_metrics(bench, wl, walls, traced_walls, plain_walls) -> dict:
    import layers
    import measure

    pages, rows = wl.layer_pages()
    out = {"trace.overhead_frac":
           measure.median(traced_walls) / measure.median(plain_walls) - 1}
    out.update(layers.kernel_replay(bench, rows))
    nested, c_wall = layers.nested_plans(bench, pages)
    out.update(nested)
    out.update(layers.job_layers(bench, pages))
    out.update(layers.curation_layers(bench, *wl.layer_texts()))
    bench.stop_spark()
    out.update(layers.spark_task_layers(bench, walls))
    out.update(layers.local1(bench, pages, len(rows), len(rows) / c_wall))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["crawl_extract", "curate_text"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # Spark's JVM, its Python workers and every temporary file stay inside
    # the checkout
    tmp = os.path.join(ROOT, ".perfbench_out", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in
                        os.environ.get("PYTHONPATH", "").split(os.pathsep)
                        if p])
    sys.path[:0] = [ROOT]
    log("start")
    try:
        result = run(args)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
