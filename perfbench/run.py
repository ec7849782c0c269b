"""Benchmark of scholar_stream_spark: one workload per process.

    python3 perfbench/run.py --workload analytics_mix --seed 1 --seconds 10 --trace 0

Workloads (see ``BENCHMARK.json`` for why each was chosen):

- ``producer_report`` closed loop: producer CLI backfills of fake REST
                      pages, then rounds of NDJSON files drained by
                      ``streaming.pipeline.start_ingest`` into the same
                      bronze table, each followed by a dashboard poll;
- ``analytics_mix``   closed loop: passes over a fixed mix of
                      ``__spark_entry__.queries()`` entries;
- ``ingest_live``     open loop: NDJSON files at 10,000 records/s into
                      ``streaming.pipeline.start_ingest``. Run on demand
                      only; ``BENCHMARK.json`` does not gate on it (see
                      ``metrics.ON_DEMAND``).

Run from the root of a checkout. With ``--trace 0`` the last line of
standard output carries the end-to-end metrics; with ``--trace 1`` it
carries the per-layer metrics of a traced run (spans, job groups and
Spark's event log). Everything a run writes lives under
``.perfbench_work/`` in the checkout and is removed when it ends, except
the span file of a traced run: ``.perfbench_work/traces/``, one JSON
object per span with its self time and the jobs, stages, tasks, executor
time, GC, shuffle and spill of its job group. Exit code 2 means the
checkout does not hold the program.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import uuid

import harness
import metrics as metric_names


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=metric_names.WORKLOADS + metric_names.ON_DEMAND)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p


def program_present() -> bool:
    return os.path.isfile(
        os.path.join(harness.ROOT, "scholar_stream_spark", "__init__.py")
    ) and os.path.isfile(os.path.join(harness.ROOT, "__spark_entry__.py"))


def _workload(name: str):
    if name == "ingest_live":
        import ingest

        return ingest.run
    if name == "producer_report":
        import producer

        return producer.run
    import mix

    return mix.run


def trace_summary(tracer: harness.Tracer, wall_s: float) -> dict:
    """Traced wall time and the summed self time of every span; the two
    agree when the spans cover the run."""
    return {
        "trace.wall_s": (wall_s, "s"),
        "trace.span_self_s": (
            sum(tracer.self_time(s) for s in tracer.spans), "s"),
        "trace.spans": (float(len(tracer.spans)), "count"),
    }


def main(argv: list[str] | None = None) -> int:
    t_start = time.time()
    args = _parser().parse_args(argv)
    if not program_present():
        print("perfbench: run from the root of a scholar_stream_spark "
              "checkout (scholar_stream_spark/ and __spark_entry__.py)",
              file=sys.stderr)
        return 2
    run_dir = harness.RunDir(args.workload)
    harness.prepare_process_env(run_dir)
    tracer = harness.Tracer(enabled=bool(args.trace),
                            run_id=uuid.uuid4().hex[:12])
    spark = None
    try:
        load_start = harness.load_average()
        with harness.RssSampler() as rss:
            with tracer.span("setup.session"):
                spark = harness.start_spark(run_dir, trace=bool(args.trace))
            eventlog = None
            if args.trace:
                tracer.spark = spark
                eventlog = harness.EventLog(os.path.join(run_dir.path,
                                                         "eventlog"))
            outcome = _workload(args.workload)(
                spark, tracer, run_dir, args.seed, args.seconds, t_start,
                eventlog=eventlog,
            )
        wall_s = time.time() - t_start
        info = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "wall_s": round(wall_s, 3),
            "load_start": load_start, "load_end": harness.load_average(),
            "peak_rss_mb": round(rss.peak_mb, 1),
            **harness.host_facts(), **outcome.info,
            **{k: v for k, (v, _) in outcome.metrics.items()
               if k in metric_names.HEADLINE},
        }
        if args.trace:
            layer = dict(outcome.metrics)
            layer.update(trace_summary(tracer, wall_s))
            layer["memory.peak_rss_mb"] = (rss.peak_mb, "MB")
            values = metric_names.per_layer_values(layer, args.workload)
            eventlog.poll()
            trace_file = os.path.join(
                harness.TRACE_DIR, f"{args.workload}-{tracer.run_id}.jsonl")
            tracer.dump(trace_file, eventlog)
            info["trace_file"] = os.path.relpath(trace_file, harness.ROOT)
            info["top_spans_self_s"] = {
                s.name: round(tracer.self_time(s), 3)
                for s in tracer.spans if s.parent is None
            }
        else:
            values = metric_names.end_to_end_values(
                outcome.metrics, setup_s=outcome.setup_s)
        for note in outcome.notes:
            print(f"perfbench: FAILED {note}", file=sys.stderr)
        print(json.dumps({"info": info}, default=str))
        print(harness.result_line(
            correct=outcome.failed == 0, attempted=outcome.attempted,
            failed=outcome.failed, metrics=values,
        ))
        return 0
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        run_dir.close()


if __name__ == "__main__":
    sys.exit(main())
