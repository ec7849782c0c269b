"""Paired A/B runs of the benchmark: a parent commit against the checkout.

    python3 perfbench/ab.py --parent HEAD~1 --workload analytics_mix --pairs 10

The parent is checked out into a temporary ``git worktree`` under
``.perfbench_work/``, and this checkout's ``perfbench/`` is copied over
it, so both sides run identical benchmark code and settings. Pair ``i``
runs both sides with the same seed; which side runs first
alternates from pair to pair.

For each end-to-end metric it reports each side's median and quartiles
and the change's win count, and applies the claim rule: the change must
win at least nine tenths of the pairs (ties count for neither side) and
the medians must differ by more than the parent's own quartile spread.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

import harness

#: pair ``i`` runs both sides with seed ``SEED_BASE + i``
SEED_BASE = 1000


def summarize(parent: list[float], change: list[float], better: str) -> dict:
    def quartiles(xs):
        q = statistics.quantiles(xs, n=4)
        return {"q1": q[0], "median": statistics.median(xs), "q3": q[2]}

    sign = 1 if better == "higher" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    losses = sum(1 for p, c in zip(parent, change) if sign * (c - p) < 0)
    p, c = quartiles(parent), quartiles(change)
    spread = p["q3"] - p["q1"]
    gain = (wins >= 0.9 * len(parent)
            and sign * (c["median"] - p["median"]) > spread)
    return {"parent": p, "change": c, "wins": wins, "losses": losses,
            "pairs": len(parent), "gain": gain}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="git revision")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    args = ap.parse_args(argv)
    if args.pairs < 10:
        ap.error("at least 10 pairs")
    spec = harness.benchmark_spec()

    worktree = os.path.join(harness.WORK_ROOT, "ab-parent")
    os.makedirs(harness.WORK_ROOT, exist_ok=True)
    subprocess.run(["git", "worktree", "add", "--detach", worktree,
                    args.parent], cwd=harness.ROOT, check=True)
    try:
        bench = os.path.join(worktree, "perfbench")
        shutil.rmtree(bench, ignore_errors=True)
        shutil.copytree(os.path.join(harness.ROOT, "perfbench"), bench,
                        ignore=shutil.ignore_patterns("__pycache__"))
        runs = {"parent": [], "change": []}
        for i in range(args.pairs):
            seed = SEED_BASE + i
            sides = [("parent", worktree), ("change", harness.ROOT)]
            for side, root in (sides if i % 2 == 0 else sides[::-1]):
                runs[side].append(harness.run_benchmark(
                    root, args.workload, seed, spec["run_seconds"])[1])
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", worktree],
                       cwd=harness.ROOT, check=False)
        shutil.rmtree(worktree, ignore_errors=True)

    report = {"workload": args.workload, "parent": args.parent,
              "failed": {s: sum(r["failed"] for r in rs)
                         for s, rs in runs.items()},
              "metrics": {}}
    for m in spec["end_to_end"]:
        name = m["name"]
        report["metrics"][name] = summarize(
            [r["metrics"][name]["value"] for r in runs["parent"]],
            [r["metrics"][name]["value"] for r in runs["change"]],
            m["better"],
        )
    print(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
