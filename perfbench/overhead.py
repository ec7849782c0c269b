"""Tracing overhead and span coverage, per workload.

    python3 perfbench/overhead.py --seed 1

Runs each workload once untraced and once traced with the same seed and
reports the tracing overhead (traced wall time minus untraced wall time)
next to the summed self time of the traced run's spans. The spans account
for the run when that sum matches the untraced wall time to within the
overhead.
"""

from __future__ import annotations

import argparse
import json
import sys

import harness
from metrics import WORKLOADS


def spans_account_for_run(wall: float, traced_wall: float,
                          span_self: float) -> bool:
    """Whether the summed span self times of a traced run match the
    untraced wall time to within the tracing overhead."""
    return abs(span_self - wall) <= abs(traced_wall - wall)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    seconds = harness.benchmark_spec()["run_seconds"]
    for workload in WORKLOADS:
        plain, _ = harness.run_benchmark(harness.ROOT, workload, args.seed,
                                         seconds, trace=0)
        _, result = harness.run_benchmark(harness.ROOT, workload, args.seed,
                                          seconds, trace=1)
        wall = plain["wall_s"]
        traced_wall = result["metrics"]["trace.wall_s"]["value"]
        spans = result["metrics"]["trace.span_self_s"]["value"]
        print(json.dumps({
            "workload": workload, "untraced_wall_s": wall,
            "traced_wall_s": traced_wall, "overhead_s": traced_wall - wall,
            "span_self_s": spans, "uncovered_s": traced_wall - spans,
            "spans_account_for_run":
                spans_account_for_run(wall, traced_wall, spans),
        }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
