#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload backlog_neardup --seed 1 --seconds 15 --trace 0

Prints one line per metric (name, value, unit) and, as the last line,
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones. A run whose metrics cannot all be computed (an
operation raised) still prints that line, with ``correct`` false and
uncomputable metrics as null, and then exits with code 1. Run it from the repository root or from anywhere
else: paths are resolved from this file. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(HERE)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["backlog_neardup", "live_sorted"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO_ROOT, "dataflow_mm_lrt_spark")):
        print(f"engine package dataflow_mm_lrt_spark not found under {REPO_ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [REPO_ROOT, HERE]
    from pb import harness

    result, table = harness.run(args.workload, args.seed, args.seconds, bool(args.trace), REPO_ROOT)
    for name, value, unit in table:
        print(f"{args.workload:16s} {name:34s} {value:>14.6g} {unit}")
    bad = [k for k, m in result["metrics"].items() if not math.isfinite(m["value"])]
    for k in bad:
        result["metrics"][k]["value"] = None
    if bad:
        result["correct"] = False
        print(f"non-finite metrics: {bad}", file=sys.stderr)
    print(json.dumps(result, allow_nan=False))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
