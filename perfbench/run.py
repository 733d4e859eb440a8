#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Prints a human-readable report, then, as the last line of stdout, one
JSON object {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
The full report (and, when tracing, every span) is written to
.perfbench_out/<workload>-seed<n>-<e2e|trace>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "engine", "session.py")):
        print(f"perfbench: no engine/ package under {ROOT}", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    from perfbench.harness import run, summary_lines
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {', '.join(WORKLOADS)}")
    d = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print("\n".join(summary_lines(d)))
    print(json.dumps({"correct": d["failed"] == 0, "attempted": d["attempted"],
                      "failed": d["failed"], "metrics": d["metrics"]}),
          flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
