"""Capacity sweep of ``ingest_live``; informational, never gated.

    python3 perfbench/sweep.py                       # local[4], 10k..240k/s
    python3 perfbench/sweep.py --master local[1]     # single-core baseline

Runs the live ingest workload once per input rate in one session and
prints, per rate, the latency percentiles over a 20 s window and the
backlog of files at its start and end. The sustainable rate is the
highest rate whose backlog did not grow by more than one trigger's worth
of files; the sweep stops at the first rate whose backlog grows.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

import harness
import ingest

RATES = (10_000, 20_000, 30_000, 60_000, 120_000, 240_000)
#: long enough for a growing backlog to stand clear of one trigger's worth
SECONDS = 20


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--master", default=harness.MASTER)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    run_dir = harness.RunDir("sweep")
    harness.prepare_process_env(run_dir)
    tracer = harness.Tracer(enabled=False)
    spark = None
    rows = []
    try:
        spark = harness.start_spark(run_dir, trace=False, master=args.master)
        for rate in RATES:
            sub = harness.RunDir(f"sweep-{rate}")
            try:
                out = ingest.run(spark, tracer, sub, args.seed, SECONDS,
                                 time.time(), rate=rate)
            finally:
                sub.close()
            grew = (out.info["backlog_files_end"]
                    - out.info["backlog_files_start"]
                    > ingest.TRIGGER_S * ingest.FILES_PER_S)
            row = {"master": args.master, "rate": rate,
                   "latency_ms": out.metrics["latency_ms"][0],
                   "tail_ms": out.metrics["tail_ms"][0],
                   "backlog_files_start": out.info["backlog_files_start"],
                   "backlog_files_end": out.info["backlog_files_end"],
                   "backlog_grew": grew, "failed": out.failed}
            rows.append(row)
            print(json.dumps(row), flush=True)
            if grew:
                break  # a higher rate only backs up faster
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        run_dir.close()
    ok = [r["rate"] for r in rows if not r["backlog_grew"] and not r["failed"]]
    print(json.dumps({"master": args.master,
                      "sustainable_rate": max(ok) if ok else None}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
