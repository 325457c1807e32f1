"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest-mix --seed 1 --seconds 30 --trace 0

Runs one workload from a seed at local[nproc] and prints, as its last
line, one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer split. See perfbench/README.md for every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PINNED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pinned.json")


def configure_env() -> None:
    """Resource fit, set before the JVM starts: heap sized from this
    host's RAM, shuffle/spill on disk inside the checkout (not tmpfs),
    and PYTHONPATH so Python workers can import engine."""
    from perfbench.procstat import mem_total_bytes

    state = os.path.join(ROOT, ".perfbench")
    tmp = os.path.join(state, "tmp", str(os.getpid()))
    local = os.path.join(state, "spark-local", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    gb = max(1, min(2, mem_total_bytes() // 4 // 2**30))
    os.environ["SPARK_DRIVER_MEMORY"] = f"{gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.pop("SPARK_GRAFT_TMPFS", None)
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher's too: temp files in the
    # checkout, and no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def cleanup() -> None:
    pid = str(os.getpid())
    for sub in ("tmp", "spark-local", "work"):
        shutil.rmtree(os.path.join(ROOT, ".perfbench", sub, pid), ignore_errors=True)


def end_to_end(calls: list[dict], setup: dict) -> dict:
    return {
        "docs_per_s": statistics.median(c["docs"] / c["wall"] for c in calls),
        "cpu_ms_per_doc": statistics.median(
            1000.0 * c["cpu_s"] / c["docs"] for c in calls),
        "peak_rss_mb": statistics.median(c["peak_rss"] / 1e6 for c in calls),
        "setup_s": setup["setup_s"],
        "ok_frac": sum(c["ok"] for c in calls) / sum(c["expected"] for c in calls),
    }


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", type=int, default=None,
                   help="pages per call (smoke tests); default per workload")
    args = p.parse_args(argv)

    missing = [d for d in ("engine", "jobs") if not os.path.isdir(os.path.join(ROOT, d))]
    if missing:
        print(f"perfbench: {', '.join(missing)} not found under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2

    configure_env()
    from perfbench import procstat
    from perfbench.workloads import CheckFailed, Run

    run = Run(ROOT, args.workload, args.seed, args.seconds, size=args.size)
    with open(PINNED) as f:
        pinned = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"]
             for m in spec["per_layer" if args.trace else "end_to_end"]}
    problems: list[str] = []
    t_begin = time.monotonic()
    try:
        setup = run.setup()
        if args.trace:
            metrics, calls = run.traced()
            for k in ("session.start_s", "session.worker_warm_s"):
                metrics[k] = setup[k]
            hw = [c["host"] for c in calls]
            metrics["host.steal_pct"] = statistics.median(h["steal_pct"] for h in hw)
            metrics["host.load1"] = statistics.median(h["load1"] for h in hw)
        else:
            calls = run.loop()
            metrics = end_to_end(calls, setup)
        for c in calls:
            if c["error"]:
                problems.append(f"call failed: {c['error']}")
            elif c["failed"]:
                problems.append(f"{c['failed']} docs with wrong or missing output")
            problems += run.check_pinned(c["sums"], pinned)
        if problems:
            for c in calls:  # a checksum mismatch fails every doc
                c["failed"], c["ok"] = c["docs"], 0
            if not args.trace:
                metrics = end_to_end(calls, setup)
        if set(metrics) != set(units):
            raise RuntimeError(
                f"metrics differ from BENCHMARK.json: {set(metrics) ^ set(units)}")
    except CheckFailed as exc:
        problems.append(str(exc))
        metrics, calls, setup = {}, [], {}
    finally:
        run.close()

    attempted = sum(c["docs"] for c in calls) or 1
    failed = attempted if (problems and not calls) else sum(c["failed"] for c in calls)
    record = {
        "workload": args.workload, "seed": args.seed, "size": run.n,
        "trace": args.trace, "nproc": run.nproc,
        "wall_s": round(time.monotonic() - t_begin, 3),
        "setup_all_s": setup.get("setup_all_s"),
        "calls": [{"wall_s": round(c["wall"], 3), "docs": c["docs"],
                   "failed": c["failed"], "sums": c["sums"], "host": c["host"]}
                  for c in calls],
        "problems": problems,
        "gate": {"steal_pct_below": procstat.QUIET_STEAL_PCT,
                 "load1_per_cpu_at_most": procstat.QUIET_LOAD_PER_CPU},
    }
    os.makedirs(os.path.join(ROOT, ".perfbench", "runs"), exist_ok=True)
    stamp = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    with open(os.path.join(ROOT, ".perfbench", "runs", stamp + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        run.tracer.dump(os.path.join(ROOT, ".perfbench", "runs", stamp + ".spans.json"))
    cleanup()

    for c in record["calls"]:
        h = c["host"]
        print(f"perfbench host: steal {h['steal_pct']:.2f}% load1 {h['load1']:.2f} "
              f"quiet={h['quiet']} call {c['wall_s']}s")
    for msg in problems:
        print(f"perfbench check: {msg}")
    out = {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in sorted(metrics.items())},
    }
    print(json.dumps(out))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
