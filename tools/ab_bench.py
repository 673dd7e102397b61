#!/usr/bin/env python3
"""Paired A/B benchmark: a base revision against the working tree.

    python3 tools/ab_bench.py BASE_REV --workload changelog_churn --seeds 1 2 3

Extracts BASE_REV's committed files (``git archive``) into a temporary
directory and runs the unchanged ``perfbench/run.py`` of each side, one
process per run, interleaved seed by seed. The order alternates
(base, change), (change, base), ... so a machine that drifts slower or
faster during the session weighs on both sides alike.

For every metric both sides report it prints the base and change
medians, the change/base ratio, how many seed pairs moved the way the
metric counts as better, and whether the two sets of runs overlap
(``disjoint`` when every change run is on one side of every base run).
Directions come from ``BENCHMARK.json``; the workload's named metrics
(``metric <workload> <name> ...`` lines) are listed without one.
Each run lasts ``BENCHMARK.json``'s ``run_seconds``, as the benchmark
fixes it. ``--trace 1`` compares the per-layer metrics instead of the
end-to-end ones. A run that fails or prints no result is kept as
``correct`` 0 with no metrics, and the session goes on; the exit status
is then 1. ``--out FILE`` keeps every run's numbers as JSON, written
even when a run failed or the session was cut short.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def checkout(rev: str, dest: str) -> None:
    """The committed files of ``rev`` in ``dest``."""
    os.makedirs(dest)
    archive = subprocess.run(["git", "-C", ROOT, "archive", rev], check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(tree: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One ``perfbench/run.py`` run in ``tree``: its metrics by name, or
    only ``correct`` 0 when it printed no result line."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = proc.stdout.splitlines()
    if not lines or not lines[-1].startswith("{"):
        print(f"{' '.join(cmd)} in {tree} exited {proc.returncode} with no result line:\n"
              f"{proc.stderr[-2000:]}", file=sys.stderr, flush=True)
        return {"correct": 0.0}
    result = json.loads(lines[-1])
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    for line in lines:
        parts = line.split()
        if len(parts) == 5 and parts[0] == "metric" and parts[1] == workload:
            metrics.setdefault(parts[2], float(parts[3]))
    metrics["correct"] = float(result["correct"] and proc.returncode == 0)
    return metrics


def summarize(base: list[dict], change: list[dict], better: dict[str, str]) -> list[str]:
    """One line per metric, over the seed pairs in which both runs
    printed a result."""
    pairs = [(x, y) for x, y in zip(base, change) if len(x) > 1 and len(y) > 1]
    if not pairs:
        return ["no seed pair has results on both sides"]
    base, change = [x for x, _ in pairs], [y for _, y in pairs]
    names = [k for k in base[0] if k != "correct" and all(k in r for r in base + change)]
    rows = [f"{'metric':34} {'base':>12} {'change':>12} {'ratio':>7} {'better':>7}  distributions"]
    for name in names:
        b = [r[name] for r in base]
        c = [r[name] for r in change]
        mb, mc = statistics.median(b), statistics.median(c)
        ratio = f"{mc / mb:7.3f}" if mb else "      -"
        way = better.get(name)
        if way is None:
            wins = "      ?"
        else:
            won = sum((y > x) if way == "higher" else (y < x) for x, y in zip(b, c))
            wins = f"{won:>4}/{len(b):<2}"
        disjoint = max(c) < min(b) or min(c) > max(b)
        rows.append(f"{name:34} {mb:12.5g} {mc:12.5g} {ratio} {wins}  "
                    f"{'disjoint' if disjoint else 'overlap '} base [{min(b):.5g}, {max(b):.5g}] "
                    f"change [{min(c):.5g}, {max(c):.5g}]")
    return rows


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base", help="git revision to compare the working tree against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--workdir", help="existing directory for the base checkout (default: the system's temporary directory)")
    ap.add_argument("--out", help="write every run's metrics to this JSON file")
    args = ap.parse_args()
    bench = load_benchmark()
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}

    workdir = tempfile.mkdtemp(prefix="ab_bench-", dir=args.workdir)
    base_tree = os.path.join(workdir, "base")
    runs: dict[str, list[dict]] = {"base": [], "change": []}
    try:
        checkout(args.base, base_tree)
        for i, seed in enumerate(args.seeds):
            order = [("base", base_tree), ("change", ROOT)]
            for side, tree in order if i % 2 == 0 else order[::-1]:
                print(f"seed {seed}: {side} ...", file=sys.stderr, flush=True)
                runs[side].append(run_once(tree, args.workload, seed, bench["run_seconds"], args.trace))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        if args.out:
            with open(args.out, "w") as f:
                json.dump({"base": args.base, "workload": args.workload, "seeds": args.seeds,
                           "trace": args.trace, "runs": runs}, f, indent=1)

    print(f"{args.workload}: base {args.base} vs working tree, seeds {args.seeds}, "
          f"{'traced' if args.trace else 'untraced'}, paired in seed order")
    print("\n".join(summarize(runs["base"], runs["change"], better)))
    for side, results in runs.items():
        print(f"{side}: {sum(r['correct'] for r in results):.0f}/{len(results)} runs correct")
    return 0 if all(r["correct"] for side in runs.values() for r in side) else 1


if __name__ == "__main__":
    sys.exit(main())
