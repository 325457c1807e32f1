"""The benchmark's own tests: checksum arithmetic, span self time,
event-log parsing, and a smoke run of each workload at a tiny size.

    python3 -m pytest perfbench/tests -q                     # 1 s
    PERFBENCH_SMOKE=1 python3 -m pytest perfbench/tests -q   # ~5 min

The smoke runs start Spark (about a minute each) and write state under
.perfbench/, so they are skipped unless PERFBENCH_SMOKE=1 is set.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zlib

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import corpora, sparklog  # noqa: E402
from perfbench.trace import Tracer, covered, layer_self_times, self_times  # noqa: E402
from perfbench.workloads import POOL, Run, corpus_seed  # noqa: E402

smoke = pytest.mark.skipif(
    os.environ.get("PERFBENCH_SMOKE") != "1",
    reason="starts Spark; set PERFBENCH_SMOKE=1 to run",
)


def test_crc_sum_is_order_insensitive_crc32_sum():
    hexes = [corpora.sha256_hex(t) for t in ("a", "b", "", "ünï")]
    want = sum(zlib.crc32(h.encode()) for h in hexes)
    assert corpora.crc_sum(hexes) == want
    assert corpora.crc_sum(reversed(hexes)) == want
    # sha256("") as Spark's sha2('', 256) prints it
    assert hexes[2] == (
        "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855"
    )


def test_reference_keeps_latest_capture_and_flags_errors():
    import datetime as dt

    t0 = dt.datetime(2025, 1, 1)
    html = b"<html><body><p>" + b"Some words here. " * 20 + b"</p></body></html>"
    rows = [
        ("u1", t0, b""),
        ("u1", t0 + dt.timedelta(seconds=5), html),
        ("u2", t0, None),
    ]
    ref = corpora.reference(rows)
    assert set(ref) == {"u1", "u2"}
    assert ref["u2"]["error"] and ref["u2"]["n_chunks"] == 0
    assert not ref["u1"]["error"] and ref["u1"]["n_chunks"] >= 1


def test_syndicated_corpus_adds_near_copies_under_mirror_hosts():
    rows = corpora.syndicated_rows(1, 200)
    base = corpora.mix_rows(1, 200)
    copies = [i for i, r in enumerate(rows) if "://mirror" in r[0]]
    assert copies and all(i % corpora.SYNDICATE_EVERY == 0 for i in copies)
    for i in copies:
        src = base[i - corpora.SYNDICATE_EVERY // 2]
        assert rows[i][2] != src[2] and len(rows[i][2]) > len(src[2])
    kept = [i for i in range(200) if i not in copies]
    assert [rows[i] for i in kept] == [base[i] for i in kept]


def test_seed_picks_a_pinned_corpus_and_unpinned_keys_fail():
    assert sorted({corpus_seed(s) for s in range(-5, 40)}) == list(range(1, POOL + 1))
    assert corpus_seed(1) == 1 and corpus_seed(POOL + 2) == 2
    run = Run(ROOT, "ingest-mix", POOL + 1, 1)
    assert run.pin_key() == "n300/s1"
    sums = {"extracted": 5, "extracted_rows": 2}
    pinned = {"ingest-mix": {"n300/s1": dict(sums)}}
    assert run.check_pinned(sums, pinned) == []
    assert run.check_pinned({**sums, "extracted": 6}, pinned)
    assert run.check_pinned(sums, {"ingest-mix": {}})
    with open(os.path.join(ROOT, "perfbench", "pinned.json")) as f:
        have = json.load(f)
    for workload in ("ingest-mix", "curate-corpus"):
        assert {f"n300/s{s}" for s in range(1, POOL + 1)} <= set(have[workload])


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert covered([], 0, 1) == 0


def test_self_time_subtracts_union_of_children():
    tr = Tracer()
    root = tr.add("run", "perfbench", 0.0, 10.0, None)
    a = tr.add("a", "engine.io", 1.0, 4.0, root["id"])
    tr.add("b", "sched", 3.0, 6.0, root["id"])  # overlaps a
    tr.add("a1", "sched", 2.0, 3.0, a["id"])
    st = self_times(tr.spans)
    assert st[root["id"]] == pytest.approx(10.0 - 5.0)
    assert st[a["id"]] == pytest.approx(3.0 - 1.0)
    layers = layer_self_times(tr.spans)
    assert layers == pytest.approx(
        {"perfbench": 5.0, "engine.io": 2.0, "sched": 3.0 + 1.0}
    )


def test_span_context_manager_nests():
    tr = Tracer()
    with tr.span("outer", "jobs"):
        with tr.span("inner", "sched"):
            pass
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]


def _event_log(tmp_path) -> str:
    sql = "org.apache.spark.sql.execution.ui."
    plan = {
        "nodeName": "ArrowEvalPython",
        "simpleString": "ArrowEvalPython [route_extract_udf(html#2)#7], [p#5]",
        "metrics": [
            {"name": sparklog.PY_RUN, "accumulatorId": 91, "metricType": "timing"},
            {"name": sparklog.ROWS_OUT, "accumulatorId": 92, "metricType": "sum"},
        ],
        "children": [],
    }
    events = [
        {"Event": sql + "SparkListenerSQLExecutionStart", "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage IDs": [0]},
    ]
    for i, run_ms in enumerate((100, 100, 300)):
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": 0,
            "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 5,
                             "Disk Bytes Spilled": 0, "Memory Bytes Spilled": 0,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
                             "Output Metrics": {"Bytes Written": 0}},
        })
    events += [
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Submission Time": 1000, "Completion Time": 1400,
            "Accumulables": [{"ID": 91, "Name": sparklog.PY_RUN, "Value": "250"},
                             {"ID": 92, "Name": sparklog.ROWS_OUT, "Value": "40"}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 9000, "Stage IDs": []},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 9100},
    ]
    path = tmp_path / "app-1"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    return str(path)


def test_event_log_window_attributes_udf_and_task_metrics(tmp_path):
    log = sparklog.parse(_event_log(tmp_path))
    w = sparklog.window(log, 900, 2000)
    assert len(w["jobs"]) == 1  # job 1 is outside the window
    assert w["n_tasks"] == 3
    assert w["gc_s"] == pytest.approx(0.015)
    assert w["shuffle_mb"] == pytest.approx(30e-6)
    udf = w["udf"]["ArrowEvalPython:route_extract_udf"]
    assert udf[sparklog.PY_RUN] == 250 and udf[sparklog.ROWS_OUT] == 40
    assert sparklog.task_skew(udf["stages"]) == pytest.approx(3.0)


def _smoke(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--size", "40"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@smoke
@pytest.mark.parametrize("workload", ["ingest-mix", "ingest-pdf", "curate-corpus"])
def test_smoke_end_to_end(workload):
    out = _smoke(workload, 0)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert set(out["metrics"]) == {
        "docs_per_s", "cpu_ms_per_doc", "peak_rss_mb", "setup_s", "ok_frac"}
    assert all(m["value"] > 0 for m in out["metrics"].values())


@smoke
def test_smoke_traced_reports_every_per_layer_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        want = {m["name"] for m in json.load(f)["per_layer"]}
    out = _smoke("ingest-mix", 1)
    assert out["correct"]
    assert set(out["metrics"]) == want


def test_bare_directory_fails_without_a_result(tmp_path):
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest-mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
