"""Unit tests of the benchmark's own code (no Spark session needed).

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import eventlog  # noqa: E402

TINY_LOG = os.path.join(HERE, "data", "tiny_eventlog.jsonl")


# The tiny log is a trimmed real Spark 4.1 event log of three pairs of jobs:
#   group "000:python": spark.range(0, 100, 1, 2).mapInPandas(keep even ids)
#                       .groupBy(id % 3).count().collect()
#   group "001:jvm":    spark.range(0, 10, 1, 2).count()
#   no group:           spark.range(0, 10, 1, 2).count()

def test_jobs_stages_tasks_per_group():
    c = eventlog.group_counters(TINY_LOG)
    assert set(c) == {"000:python", "001:jvm", ""}
    for group in c.values():
        assert (group["jobs"], group["stages"], group["tasks"]) == (2, 2, 3)


def test_python_rows_from_plan_accumulables():
    c = eventlog.group_counters(TINY_LOG)
    # 100 ids in, the even half comes back out of the MapInPandas node
    assert c["000:python"]["python_rows"] == 50
    assert c["001:jvm"]["python_rows"] == 0
    assert c["000:python"]["python_worker_s"] > 0
    assert c["001:jvm"]["python_worker_s"] == 0


def test_times_and_python_share():
    c = eventlog.group_counters(TINY_LOG)["000:python"]
    assert 0 < c["exec_cpu_s"] < c["exec_run_s"]
    assert c["shuffle_write_mb"] > 0
    share = eventlog.python_share(c)
    assert share == 1 - c["exec_cpu_s"] / c["exec_run_s"]
    assert eventlog.python_share({"exec_run_s": 0.0}) is None


def test_python_node_names():
    for name in ("MapInPandas", "PythonMapInArrow", "MapInArrow",
                 "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas"):
        assert eventlog.is_python_node(name)
    for name in ("HashAggregate", "Exchange", "Project", "Range"):
        assert not eventlog.is_python_node(name)


def test_event_log_files_accepts_file_dir_and_rolling_dir(tmp_path):
    one = tmp_path / "app" / "local-1"
    one.parent.mkdir()
    one.write_text("")
    assert eventlog.event_log_files(str(one)) == [str(one)]
    assert eventlog.event_log_files(str(one.parent)) == [str(one)]
    rolling = tmp_path / "eventlog_v2_local-2"
    rolling.mkdir()
    for n in (10, 2, 1):
        (rolling / f"events_{n}_local-2").write_text("")
    (rolling / "appstatus_local-2").write_text("")
    assert [os.path.basename(p) for p in eventlog.event_log_files(str(rolling))] \
        == ["events_1_local-2", "events_2_local-2", "events_10_local-2"]


def test_benchmark_json_matches_the_metrics_the_benchmark_prints():
    import run
    import tracing

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == \
        [(metric, unit) for metric, _, _, unit in tracing.PER_LAYER]
    import workloads

    assert sorted(w["name"] for w in spec["workloads"]) == \
        sorted(workloads.WORKLOADS) == sorted(tracing.TRACES)


def test_increments_resend_earlier_clean_pages_once():
    import workloads

    ticks = workloads.plan_increments(seed=5, n_ticks=4, rows=300,
                                      resend_share=0.1)
    assert [len(rows) for rows, _ in ticks] == [300] * 4
    assert ticks[0][1] == []
    seen: dict[str, dict] = {}
    all_resent: list[str] = []
    for k, (rows, resent) in enumerate(ticks):
        assert len(resent) == 30 if k else not resent
        by_url = {r["url"]: r for r in rows}
        for url in resent:
            original = seen[url]            # sent by an earlier tick
            again = by_url[url]
            assert (again["html"], again["text"]) == \
                (original["html"], original["text"])
            assert (again["warc_ts"] - original["warc_ts"]).days == 7
        all_resent += resent
        for r in rows:
            seen.setdefault(r["url"], r)
    assert len(all_resent) == len(set(all_resent))
    # same seed, same inputs
    assert workloads.plan_increments(5, 4, 300, 0.1) == ticks


class _FakeContext:
    def __init__(self):
        self.props = {}

    def setJobGroup(self, group, description):
        self.props["spark.jobGroup.id"] = group

    def setLocalProperty(self, key, value):
        self.props[key] = value


class _FakeSpark:
    def __init__(self):
        self.sparkContext = _FakeContext()


def test_removed_target_is_reported_missing_not_failed():
    import tracing

    tr = tracing.Tracer(_FakeSpark())
    with tr.span("functions.fused", rows_in=10):
        tracing.target("functions.fused", "no_such_function")
    with tr.span("functions.quality", rows_in=10):
        tracing.need({}, "fused")
    with tr.span("operators.preview") as rec:
        rec["rows_out"] = 3
    assert "no_such_function not found" in tr.spans[0]["missing"]
    assert "unavailable" in tr.spans[1]["missing"]
    assert "wall_s" in tr.spans[2] and "missing" not in tr.spans[2]
    # missing spans are neither attempted nor failed; job group cleared
    assert (tr.ops.attempted, tr.ops.failed) == (1, 0)
    assert tr.sc.props["spark.jobGroup.id"] is None
    tracing.merge_counters(tr.spans, {})
    metrics, missing = tracing.per_layer_metrics(tr.spans)
    assert "operators.preview.wall_s" in metrics
    assert "no_such_function" in missing["functions.fused.wall_s"]
    assert missing["streaming.tick.jobs"] == "span streaming.tick did not run"


def test_failing_span_counts_as_failed_operation():
    import tracing

    tr = tracing.Tracer(_FakeSpark())
    with tr.span("plans.run_batch"):
        raise RuntimeError("boom")
    assert (tr.ops.attempted, tr.ops.failed) == (1, 1)
    assert "RuntimeError: boom" in tr.spans[0]["problems"][0]


def test_keep_f1():
    import workloads

    assert workloads.keep_f1([(True, True)] * 9 + [(False, False)]) == 1.0
    # one false positive among 9 true positives: p = 0.9, r = 1
    assert abs(workloads.keep_f1([(True, True)] * 9 + [(False, True)])
               - 2 * 0.9 / 1.9) < 1e-12


def test_tree_cpu_counts_this_process_and_reaped_children():
    import subprocess

    import hostinfo

    cpu = hostinfo.TreeCpu()
    before = cpu()
    t0 = time.process_time()
    while time.process_time() - t0 < 0.3:
        pass
    # a child that burns CPU and is reaped counts through cutime
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.3: pass"], check=True)
    spent = cpu() - before
    assert 0.5 <= spent < 2.0
    # no JVM in this tree, so no JIT share
    assert cpu.by_command().get("java.jit", 0.0) == 0.0


def test_tree_cpu_leaves_out_excluded_threads():
    import hashlib
    import threading

    import hostinfo

    cpu = hostinfo.TreeCpu()
    ids: list[int] = []

    def burn():
        # hashing a large buffer releases the GIL, so the main thread can
        # read /proc meanwhile
        ids.append(threading.get_native_id())
        block, h = bytes(1 << 20), hashlib.sha256()
        t0 = time.thread_time()
        while time.thread_time() - t0 < 1.0:
            h.update(block)

    thread = threading.Thread(target=burn)
    thread.start()
    while not ids:
        time.sleep(0.01)
    cpu.exclude.add(ids[0])
    before = cpu()
    time.sleep(0.3)
    # read while the burner still runs: a thread that has ended is part of
    # the process total and can no longer be told apart
    spent = cpu() - before
    thread.join()
    assert spent < 0.15
