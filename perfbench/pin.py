"""Recompute the pinned output checksums in perfbench/pinned.json.

    python3 perfbench/pin.py --workload curate-corpus
    python3 perfbench/pin.py --workload ingest-mix --seeds 3 --size 40

For each corpus seed (default: the whole pool) it makes one job call
from the current code, checks it like a benchmark call (for ingest, every
url against the single-process kernel reference), and stores the call's
checksums under (workload, size, corpus seed). Run it only when the
expected output changes on purpose, and review the diff of pinned.json.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.run import PINNED, ROOT, cleanup, configure_env  # noqa: E402


def main(argv=None) -> int:
    from perfbench.workloads import POOL, WORKLOADS, Run

    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seeds", type=int, nargs="*", default=range(1, POOL + 1))
    p.add_argument("--size", type=int, default=None)
    args = p.parse_args(argv)

    configure_env()
    with open(PINNED) as f:
        pinned = json.load(f)
    run = None
    try:
        for seed in args.seeds:
            run = Run(ROOT, args.workload, seed, 0, size=args.size)
            run.start_session(run.nproc)
            run.prepare_inputs()
            rec = run.timed_call("pin", "call")
            if rec["error"] or rec["failed"]:
                print(f"{args.workload} {run.pin_key()}: call failed "
                      f"({rec['error'] or rec['failed']}); not pinned")
                return 1
            pinned.setdefault(args.workload, {})[run.pin_key()] = rec["sums"]
            print(f"{args.workload} {run.pin_key()}: {rec['sums']}")
            with open(PINNED, "w") as f:
                json.dump(pinned, f, indent=1, sort_keys=True)
                f.write("\n")
    finally:
        if run is not None:
            run.close()
        cleanup()
    return 0


if __name__ == "__main__":
    sys.exit(main())
