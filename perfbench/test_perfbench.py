"""Tests of the benchmark's own logic; no Spark session is started.

    python3 -m pytest perfbench -q
"""

import json
import os
import sys
import time

sys.path[:0] = [os.path.dirname(os.path.abspath(__file__)),
                os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]

import inputs  # noqa: E402
import measure  # noqa: E402


class _Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def check(self, n_attempted, n_failed, what):
        self.attempted += n_attempted
        self.failed += n_failed


def test_corrupted_text_makes_failures_nonzero():
    """The row check counts a doc whose extracted text differs from the
    direct extract_payload reference; a clean copy counts none."""
    from document_extractor_spark.extractor.core import extract_payload
    from workloads import _compare_rows

    rows = inputs.page_rows(6, seed=5, pdf_frac=0.0, n_days=1)
    ref = inputs.reference(rows, procs=2)
    got = {}
    for r in rows:
        rec = extract_payload(r["html"], url=r["url"], lang_hint=r["lang"])
        got[r["url"]] = (inputs.text_md5(rec["extracted_text"]),
                         rec["parse_error"])
    clean = _Tally()
    _compare_rows(clean, got, ref, "rows")
    assert (clean.attempted, clean.failed) == (6, 0)

    url = rows[2]["url"]
    text = extract_payload(rows[2]["html"], url=url)["extracted_text"]
    got[url] = (inputs.text_md5(text[:-1] + "#"), None)
    del got[rows[4]["url"]]
    bad = _Tally()
    _compare_rows(bad, got, ref, "rows")
    assert (bad.attempted, bad.failed) == (6, 2)
    assert 1 - bad.failed / bad.attempted < 1


def test_seeded_inputs_repeat_and_differ_by_seed(tmp_path):
    digests = []
    for i, seed in enumerate((7, 7, 8)):
        d = str(tmp_path / f"p{i}")
        inputs.write_pages(d, inputs.page_rows(20, seed, 0.05, 2), 2)
        digests.append(inputs.tree_digest(d))
    assert digests[0] == digests[1] != digests[2]


def test_plant_pairs_copies_with_prefix():
    docs, pairs = inputs.plant(["a b c", "d e f", "g h"], 2)
    assert pairs == [(0, 3), (1, 4)]
    assert docs[3] == (3, inputs.EDIT_PREFIX + "a b c")


def test_self_time_subtracts_children():
    t = measure.Tracer("r", enabled=True)
    with t.span("outer"):
        time.sleep(0.02)
        with t.span("inner"):
            time.sleep(0.03)
        with t.span("inner"):
            time.sleep(0.03)
    st = t.self_times()
    assert st["inner"][1] == 2
    (outer_dur,) = t.durations("outer")
    assert abs(st["outer"][0] - (outer_dur - st["inner"][0])) < 1e-9
    assert 0.015 < st["outer"][0] < outer_dur - 0.05
    assert t.spans[1]["parent"] == t.spans[0]["id"]
    assert {s["run"] for s in t.spans} == {"r"}


def test_disabled_tracer_records_nothing():
    t = measure.Tracer("r", enabled=False)
    with t.span("x"):
        pass
    assert t.spans == []


def test_wrap_spans_calls_and_undo_restores():
    class Mod:
        @staticmethod
        def f(x):
            return x + 1

    orig = Mod.f
    t = measure.Tracer("r", enabled=True)
    undo = t.wrap(Mod, "f", "mod.f")
    assert Mod.f(1) == 2
    undo()
    assert Mod.f is orig
    assert [s["name"] for s in t.spans] == ["mod.f"]


_ADAPTIVE_PLAN = """AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   *(3) HashAggregate(keys=[a#1], functions=[count(1)])
   +- AQEShuffleRead coalesced
      +- ShuffleQueryStage 1
         +- Exchange hashpartitioning(a#1, 4), ENSURE_REQUIREMENTS
            +- *(2) BroadcastHashJoin [k#2], [k#3], Inner, BuildRight
               :- MapInPandas <lambda>(url#0)#7, [a#1]
               +- BroadcastQueryStage 0
                  +- BroadcastExchange HashedRelationBroadcastMode
                     +- *(1) Filter isnotnull(k#3)
+- == Initial Plan ==
   HashAggregate(keys=[a#1], functions=[count(1)])
   +- Exchange hashpartitioning(a#1, 4), ENSURE_REQUIREMENTS
      +- MapInPandas <lambda>(url#0)#7, [a#1]
"""


def test_plan_shape_counts_final_plan_only():
    assert measure.plan_shape(_ADAPTIVE_PLAN) == {
        "exchange": 1, "broadcast_exchange": 1, "python_nodes": 1}
    narrow = ("CollectMetrics extract_metrics\n"
              "+- MapInPandas <lambda>(url#0, html#2)#7\n"
              "   +- *(1) Project [url#0, html#2]\n"
              "      +- FileScan parquet [url#0,html#2]")
    assert measure.plan_shape(narrow) == {
        "exchange": 0, "broadcast_exchange": 0, "python_nodes": 1}


def test_group_task_metrics_reads_only_the_group(tmp_path):
    def task(stage, launch, finish, run_ms, gc_ms, shuffle, sent, recv):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": launch, "Finish Time": finish,
                              "Accumulables": [
                                  {"Name": "data sent to Python workers",
                                   "Update": str(sent)},
                                  {"Name":
                                   "data returned from Python workers",
                                   "Update": str(recv)}]},
                "Task Metrics": {"Executor Run Time": run_ms,
                                 "JVM GC Time": gc_ms,
                                 "Shuffle Write Metrics":
                                     {"Shuffle Bytes Written": shuffle}}}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "pass"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1],
         "Properties": {"spark.jobGroup.id": "other"}},
        task(0, 1000, 3000, 1900, 100, 2**20, 3 * 2**20, 2**20),
        task(0, 1000, 2000, 900, 0, 0, 2**20, 2**20),
        task(1, 0, 9000, 9000, 500, 0, 0, 0),
    ]
    log = tmp_path / "log"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    m = measure.group_task_metrics(str(log), "pass")
    assert m["jobs"] == 1 and m["tasks"] == 2
    assert m["run_s"] == 2.8 and m["gc_s"] == 0.1
    assert m["shuffle_write_mb"] == 1.0
    assert (m["python_mb_sent"], m["python_mb_received"]) == (4.0, 2.0)
    assert sorted(m["task_durations_s"]) == [1.0, 2.0]


def test_pass_meter_counts_own_cpu():
    with measure.PassMeter(os.getpid()) as m:
        t0 = time.process_time()
        while time.process_time() - t0 < 0.2:
            pass
    assert m.cpu_s >= 0.15
    assert m.wall_s >= 0.2


def test_unstolen_time_drops_the_stolen_share():
    m = measure.PassMeter(os.getpid())
    m.wall_s, m.busy_jiffies, m.steal_jiffies = 10.0, 300, 100
    assert m.unstolen_s == 7.5
    m.busy_jiffies = m.steal_jiffies = 0
    assert m.unstolen_s == 10.0
