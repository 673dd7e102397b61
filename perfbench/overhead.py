#!/usr/bin/env python3
"""Tracing overhead: run one workload untraced and traced on the same
seeds and print, per end-to-end metric, the median of traced minus
untraced.

    python3 perfbench/overhead.py --workload changelog_churn --seeds 1,2,3 --seconds 15
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def _run(workload: str, seed: int, seconds: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed), "--seconds", seconds, "--trace", str(trace)],
        capture_output=True, text=True, check=True,
    ).stdout.splitlines()
    if trace:
        line = next(x for x in out if x.startswith("traced_end_to_end "))
        return json.loads(line.split(" ", 1)[1])
    return {k: v["value"] for k, v in json.loads(out[-1])["metrics"].items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--seconds", default="15")
    args = ap.parse_args()
    deltas: dict[str, list[float]] = {}
    for seed in (int(s) for s in args.seeds.split(",")):
        plain = _run(args.workload, seed, args.seconds, 0)
        traced = _run(args.workload, seed, args.seconds, 1)
        for k, v in plain.items():
            deltas.setdefault(k, []).append((traced[k] - v, v))
    for k, pairs in deltas.items():
        d = statistics.median(p[0] for p in pairs)
        base = statistics.median(p[1] for p in pairs)
        print(f"{args.workload} {k}: traced - untraced = {d:+.4g} (untraced median {base:.4g}, {100 * d / base:+.1f}%)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
