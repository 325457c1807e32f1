"""Spark's own task and SQL metrics for one traced run, read from its
uncompressed event log with stdlib json.

Everything is attributed by time window: the benchmark drives one call
at a time from one thread, so a Spark job belongs to the span whose
wall-clock window holds its submission time.
"""

from __future__ import annotations

import json
import re
import statistics
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
ROWS_OUT = "number of output rows"


@dataclass
class Stage:
    sid: int
    submit_ms: float
    end_ms: float
    accum_ids: set = field(default_factory=set)
    task_run_ms: list = field(default_factory=list)
    gc_ms: int = 0
    spill_bytes: int = 0
    shuffle_write: int = 0
    output_bytes: int = 0


@dataclass
class EventLog:
    jobs: list  # (submit_ms, end_ms, [stage ids])
    stages: dict  # stage id -> Stage
    # accumulator id -> (node name, node key, metric name)
    accum_node: dict
    # accumulator id -> final value
    accum_value: dict


def _udf_key(node_name: str, simple: str) -> str:
    """'ArrowEvalPython [route_extract_udf(html#2)#7], ...' ->
    'ArrowEvalPython:route_extract_udf'."""
    m = re.search(r"[\[ ]([A-Za-z_][A-Za-z0-9_]*)\(", simple)
    return f"{node_name}:{m.group(1)}" if m else node_name


def _walk_plan(info: dict, out: dict) -> None:
    key = _udf_key(info["nodeName"], info.get("simpleString", ""))
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info["nodeName"], key, m["name"])
    for ch in info.get("children", []):
        _walk_plan(ch, out)


def parse(path: str) -> EventLog:
    jobs: dict[int, list] = {}
    stages: dict[int, Stage] = {}
    accum_node: dict[int, tuple] = {}
    accum_value: dict[int, float] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jobs[e["Job ID"]] = [e["Submission Time"], None, e["Stage IDs"]]
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]][1] = e["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                st = stages.setdefault(
                    si["Stage ID"], Stage(si["Stage ID"], 0.0, 0.0)
                )
                st.submit_ms = si.get("Submission Time") or 0.0
                st.end_ms = si.get("Completion Time") or st.submit_ms
                for a in si.get("Accumulables", []):
                    st.accum_ids.add(a["ID"])
                    try:
                        v = float(a["Value"])
                    except (TypeError, ValueError):
                        continue
                    # SQL accumulators are cumulative per execution
                    accum_value[a["ID"]] = max(accum_value.get(a["ID"], 0.0), v)
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(e["Stage ID"], Stage(e["Stage ID"], 0.0, 0.0))
                tm = e.get("Task Metrics") or {}
                if not tm:
                    continue
                st.task_run_ms.append(tm.get("Executor Run Time", 0))
                st.gc_ms += tm.get("JVM GC Time", 0)
                st.spill_bytes += tm.get("Disk Bytes Spilled", 0) + tm.get(
                    "Memory Bytes Spilled", 0
                )
                st.shuffle_write += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st.output_bytes += (tm.get("Output Metrics") or {}).get(
                    "Bytes Written", 0
                )
            elif kind in (
                _SQL + "SparkListenerSQLExecutionStart",
                _SQL + "SparkListenerSQLAdaptiveExecutionUpdate",
            ):
                _walk_plan(e["sparkPlanInfo"], accum_node)
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                for aid, v in e["accumUpdates"]:
                    accum_value[aid] = accum_value.get(aid, 0.0) + float(v)
    return EventLog(
        jobs=[tuple(v) for _, v in sorted(jobs.items()) if v[1] is not None],
        stages=stages,
        accum_node=accum_node,
        accum_value=accum_value,
    )


def window(log: EventLog, t0_ms: float, t1_ms: float) -> dict:
    """Spark metrics of the jobs submitted in [t0_ms, t1_ms]."""
    jobs = [j for j in log.jobs if t0_ms <= j[0] <= t1_ms]
    sids = {s for j in jobs for s in j[2] if s in log.stages}
    stages = [log.stages[s] for s in sids]
    accs = set().union(*(st.accum_ids for st in stages)) if stages else set()

    udf: dict[str, dict] = {}
    for aid in accs:
        node = log.accum_node.get(aid)
        if node is None:
            continue
        _name, key, metric = node
        if metric in (PY_RUN, PY_START, PY_SENT, PY_RETURNED, ROWS_OUT):
            u = udf.setdefault(key, {"accums": set()})
            u[metric] = u.get(metric, 0.0) + log.accum_value.get(aid, 0.0)
            u["accums"].add(aid)
    # a UDF group counts only if it ran Python (ROWS_OUT alone is not)
    udf = {k: v for k, v in udf.items() if PY_RUN in v}
    for u in udf.values():
        u["stages"] = [st for st in stages if st.accum_ids & u["accums"]]

    return {
        "jobs": jobs,
        "stages": stages,
        "n_tasks": sum(len(st.task_run_ms) for st in stages),
        "gc_s": sum(st.gc_ms for st in stages) / 1000.0,
        "spill_mb": sum(st.spill_bytes for st in stages) / 1e6,
        "shuffle_mb": sum(st.shuffle_write for st in stages) / 1e6,
        "output_mb": sum(st.output_bytes for st in stages) / 1e6,
        # UDF group -> summed node metrics, accumulator ids, stages
        "udf": udf,
    }


def task_skew(stages: list[Stage]) -> float:
    """Median over stages of max ÷ median task run time (stages with at
    least two tasks); 0 when there is none."""
    vals = []
    for st in stages:
        if len(st.task_run_ms) >= 2:
            med = statistics.median(st.task_run_ms)
            if med > 0:
                vals.append(max(st.task_run_ms) / med)
    return statistics.median(vals) if vals else 0.0
