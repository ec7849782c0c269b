"""Names and units of every metric the benchmark prints.

Every run prints every metric of its kind, whichever workload it runs, so
the end-to-end metrics are named by role rather than by workload:

- ``latency_ms``: the workload's central latency. On ``ingest_live`` the
  median record, from its due time to its visible commit; on
  ``producer_report`` the median round of its closed loop, from NDJSON
  files landing in the watched directory, through ``start_ingest``, to a
  dashboard page that counts them; on ``analytics_mix`` the geometric
  mean over the mix of each query's median latency (a median over a
  handful of unlike queries jumps between them).
- ``tail_ms`` (printed in the info line, not gated): on ``ingest_live``
  the 99th-percentile record; on ``producer_report`` the 90th-percentile
  round; on ``analytics_mix`` the slowest query's median latency. A run
  has eight rounds or a few passes over nine queries, too few samples for
  a steady tail: over ten runs of ``producer_report`` its quartile spread
  reached 0.56 of its median.
- ``throughput_per_s``: on ``ingest_live`` the median batch's records per
  second of batch execution; on ``producer_report`` works landed per second of
  backfill, median of three backfills; on ``analytics_mix`` queries
  completed per second of the timed window's wall time.

Peak memory of the process tree (driver, JVM and Python workers) is a
per-layer metric, ``memory.peak_rss_mb``, not an end-to-end one: the JVM
runs with a 1 GB heap, yet about one run in six peaks 25-75% above the
others (up to 3.2 GB against 1.85 GB on ``producer_report``), and three
such runs in ten put its quartile spread at 0.36 of its median, past the
largest bound an end-to-end metric may have (0.25).

A per-layer metric of a layer the workload does not reach reads 0.
"""

from __future__ import annotations

from mix import MIX, MODULES

#: the workloads ``BENCHMARK.json`` gates on
WORKLOADS = ("producer_report", "analytics_mix")
#: run on demand only: on a 4-core host its per-batch cost sits at the
#: 2 s trigger interval, and from one process to the next batches take
#: about 1.0 s or about 1.4-2.1 s, so its latency is too bimodal to gate.
#: ``start_ingest`` is gated through the closed loop of ``producer_report``.
ON_DEMAND = ("ingest_live",)

#: the workloads' own headline numbers; ``tail_ms`` is reported, not gated
HEADLINE = ("latency_ms", "tail_ms", "throughput_per_s")

END_TO_END = (
    ("latency_ms", "ms"),
    ("throughput_per_s", "1/s"),
    ("setup_s", "s"),
)

INGEST_LAYERS = (
    ("pipeline.trigger_ms_p50", "ms"),
    ("pipeline.busy_ratio", "ratio"),
    ("pipeline.queue_wait_ms_p50", "ms"),
    ("pipeline.latest_offset_ms_p50", "ms"),
    ("pipeline.add_batch_ms_p50", "ms"),
    ("pipeline.wal_commit_ms_p50", "ms"),
    ("pipeline.jobs_per_batch", "count"),
    ("raw_landing.files_per_batch", "count"),
    ("accounting.dead_ratio", "ratio"),
    ("generator.late_ms_max", "ms"),
    ("pipeline.backlog_files_start", "count"),
    ("pipeline.backlog_files_end", "count"),
)

PRODUCER_LAYERS = (
    ("rest.latest_offset_ms_p50", "ms"),
    ("producer.add_batch_ms_p50", "ms"),
    ("producer.jobs_per_batch", "count"),
    ("pipeline.drain_ms_p50", "ms"),
    ("pipeline.trigger_ms_p50", "ms"),
    ("pipeline.latest_offset_ms_p50", "ms"),
    ("pipeline.add_batch_ms_p50", "ms"),
    ("pipeline.wal_commit_ms_p50", "ms"),
    ("pipeline.jobs_per_batch", "count"),
    ("raw_landing.files_per_batch", "count"),
    ("accounting.dead_ratio", "ratio"),
    ("bronze.files", "count"),
    ("bronze.bytes_per_record", "B"),
    ("catalog.init_ms_p50", "ms"),
    ("dashboard.poll_ms_p50", "ms"),
    ("dashboard.tiles_ms_p50", "ms"),
    ("dashboard.recent_ms_p50", "ms"),
    ("dashboard.jobs_per_poll", "count"),
)

MODULE_FIELDS = (
    ("construct_s", "s"),
    ("action_s", "s"),
    ("jobs_construct", "count"),
    ("jobs_action", "count"),
    ("exec_run_s", "s"),
    ("exec_cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_bytes", "B"),
)

MIX_LAYERS = tuple(
    (f"{module}.{name}", unit)
    for module in MODULES for name, unit in MODULE_FIELDS
) + tuple((f"q.{q}_s", "s") for q, _ in MIX)

#: every workload's traced run reports these
RUN_LAYERS = (
    ("memory.peak_rss_mb", "MB"),
    ("trace.wall_s", "s"),
    ("trace.span_self_s", "s"),
    ("trace.spans", "count"),
)

#: the per-layer metrics of the gated workloads
PER_LAYER = PRODUCER_LAYERS + MIX_LAYERS + RUN_LAYERS


def end_to_end_values(workload_metrics: dict, setup_s: float) -> dict:
    values = dict(workload_metrics)
    values["setup_s"] = (setup_s, "s")
    missing = [n for n, _ in END_TO_END if n not in values]
    if missing:
        raise RuntimeError(f"workload did not measure {missing}")
    return {n: (values[n][0], u) for n, u in END_TO_END}


def per_layer_values(layer_metrics: dict, workload: str) -> dict:
    names = INGEST_LAYERS + RUN_LAYERS if workload in ON_DEMAND else PER_LAYER
    unknown = set(layer_metrics) - {n for n, _ in names} - set(HEADLINE)
    if unknown:
        raise RuntimeError(f"undeclared per-layer metrics {sorted(unknown)}")
    return {
        n: (layer_metrics[n][0] if n in layer_metrics else 0.0, u)
        for n, u in names
    }
