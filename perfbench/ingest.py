"""``ingest_live``: open-loop NDJSON files into ``start_ingest``.

A generator thread drops files of pre-rendered envelope lines into the
watched directory on a fixed schedule that does not slow when the stream
falls behind. Each line carries its due time as ``event_ts``. A record's
latency runs from its due time to the ``recorded_at`` of the accounting
row of the batch that made it visible; the batch is found through the
``batch_id`` landing stamps into ``metadata``.

After the run the bronze table and the dead-letter table are checked
against what was generated: every well-formed line lands exactly once,
and every malformed line, and only those, is dead-lettered.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field
from statistics import median

import datagen
from harness import Outcome, weighted_percentile

MALFORMED_RATE = 0.001
#: the "demo" trigger's interval; processing-time triggers fire at whole
#: multiples of it since the epoch
TRIGGER_S = 2.0
TRIGGER_PHASE_S = 0.05
#: records per second of the open loop, unless a caller asks for another
RATE = 10_000
FILES_PER_S = 2
#: untimed bursts of ``BURST_FILES`` files landed at once before the open
#: loop starts, so the timed loop starts warm and empty
WARMUP_BURSTS = 2
BURST_FILES = 4


def next_trigger(t: float) -> float:
    """The first processing-time trigger at or after ``t``."""
    return (int(t // TRIGGER_S) + 1) * TRIGGER_S


def drop_file(input_dir: str, k: int, template: str, due: float) -> None:
    """Fill in the due time and move the file into the watched directory.
    It is written under a hidden name first, so the file source never
    sees it half written."""
    body = template.replace("{TS}", datagen.iso_us(int(round(due * 1e6))))
    tmp = os.path.join(input_dir, f".f{k:06d}.tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(body)
    os.rename(tmp, os.path.join(input_dir, f"f{k:06d}.ndjson"))


class Generator(threading.Thread):
    """Drops file ``first + i`` at ``t0 + i / FILES_PER_S``, whatever the
    stream does, and records how late each drop was."""

    def __init__(self, input_dir: str, templates: dict[int, str], first: int,
                 t0: float):
        super().__init__(daemon=True)
        self.input_dir = input_dir
        self.templates = templates
        self.first = first
        self.t0 = t0
        self.period = 1.0 / FILES_PER_S
        self.late_s: list[float] = []
        self.stop_event = threading.Event()
        self.error: BaseException | None = None

    def due(self, k: int) -> float:
        return self.t0 + (k - self.first) * self.period

    def run(self) -> None:
        try:
            for k in sorted(self.templates):
                wait = self.due(k) - time.time()
                if wait > 0 and self.stop_event.wait(wait):
                    return
                drop_file(self.input_dir, k, self.templates[k], self.due(k))
                self.late_s.append(time.time() - self.due(k))
        except Exception as exc:  # re-raised by the caller after join
            self.error = exc


@dataclass
class FileLanding:
    """How one generated file came out of the pipeline."""

    count: int = 0
    line_sum: int = 0
    line_sq_sum: int = 0
    batches: dict[int, int] = field(default_factory=dict)
    #: the newest ``IngestionTime`` of its rows, in epoch seconds
    latest: float = 0.0


def read_landing(spark, raw_path: str) -> tuple[dict[int, FileLanding], int]:
    """Per generated file: rows landed, the sum of their line numbers and
    of its squares, rows per batch and the newest commit time; plus the
    count of landed rows that are not a well-formed generated line. Works
    the producer CLI landed in the same table (ids ``W<page>-<i>``) are
    left out. One aggregation over the table."""
    from pyspark.sql import functions as F

    raw = spark.read.parquet(raw_path)
    wid = F.get_json_object("payload", "$.id")
    m = F.regexp_extract(wid, r"^L(\d+)-(\d+)$", 1)
    line = F.regexp_extract(wid, r"^L(\d+)-(\d+)$", 2)
    rows = raw.where(~F.coalesce(wid.rlike(r"^W\d+-\d+$"), F.lit(False)))
    rows = rows.select(
        F.when(m != "", m.cast("long")).otherwise(F.lit(-1)).alias("f"),
        F.when(m != "", line.cast("long")).alias("l"),
        F.split(F.get_json_object("metadata", "$.batch_id"), "-")[0]
        .cast("long").alias("batch"),
        F.get_json_object("metadata", "$.IngestionTime").alias("t"),
    ).groupBy("f", "batch").agg(
        F.count("*").alias("n"), F.sum("l").alias("s1"),
        F.sum(F.col("l") * F.col("l")).alias("s2"), F.max("t").alias("t"),
    ).collect()
    out: dict[int, FileLanding] = {}
    strays = 0
    for r in rows:
        if r["f"] < 0:
            strays += r["n"]
            continue
        got = out.setdefault(r["f"], FileLanding())
        got.count += r["n"]
        got.line_sum += r["s1"]
        got.line_sq_sum += r["s2"]
        got.batches[r["batch"]] = got.batches.get(r["batch"], 0) + r["n"]
        got.latest = max(got.latest, _epoch(r["t"]))
    return out, strays


def read_dead(spark, errors_path: str) -> list[tuple[int, int]]:
    """``(file, line)`` of every dead-lettered payload; ``(-1, -1)`` for a
    payload that is not one of the injected malformed lines."""
    from pyspark.sql import functions as F

    if not os.path.isdir(errors_path):
        return []
    dead = spark.read.parquet(errors_path).select(
        F.regexp_extract("payload", r'^\{"id":"M(\d+)-(\d+)"', 1).alias("f"),
        F.regexp_extract("payload", r'^\{"id":"M(\d+)-(\d+)"', 2).alias("l"),
    )
    return [
        (int(r["f"]), int(r["l"])) if r["f"] else (-1, -1)
        for r in dead.collect()
    ]


def count_failures(expected_good: dict[int, set[int]],
                   injected: set[tuple[int, int]],
                   landing: dict[int, FileLanding], strays: int,
                   dead: list[tuple[int, int]]) -> tuple[int, list[str]]:
    """Records lost, duplicated, wrongly dead-lettered or wrongly landed."""
    failed, notes = 0, []
    for f, lines in expected_good.items():
        got = landing.get(f, FileLanding())
        same = (got.count == len(lines) and got.line_sum == sum(lines)
                and got.line_sq_sum == sum(i * i for i in lines))
        if not same:
            # a count off by n is n records lost or duplicated; equal
            # counts with different line sums mean at least one of each
            failed += abs(got.count - len(lines)) or 2
            notes.append(f"file {f}: {got.count} of {len(lines)} records "
                         "landed" + (", ids differ" if got.count == len(lines)
                                     else ""))
    extra_files = set(landing) - set(expected_good)
    if extra_files or strays:
        failed += strays + sum(landing[f].count for f in extra_files)
        notes.append(f"{strays} landed rows are malformed lines")
    dead_set = set(dead)
    missed = injected - dead_set
    wrong = [d for d in dead if d not in injected]
    dup_dead = len(dead) - len(dead_set)
    if missed or wrong or dup_dead:
        failed += len(missed) + len(wrong) + dup_dead
        notes.append(f"dead letters: {len(missed)} missing, {len(wrong)} "
                     f"not injected, {dup_dead} duplicated")
    return failed, notes


class ProgressRecorder:
    """``StreamingQueryListener`` keeping each batch's ``durationMs``,
    start timestamp and input rows, keyed by ``(query run id, batch id)``."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        recorder = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802
                pass

            def onQueryProgress(self, event):  # noqa: N802
                p = event.progress
                recorder.batches[(str(p.runId), int(p.batchId))] = (
                    dict(p.durationMs or {}), str(p.timestamp),
                    int(p.numInputRows),
                )

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        self.batches: dict[tuple[str, int], tuple[dict, str, int]] = {}
        self.listener = _Listener()


def _epoch(ts) -> float:
    from datetime import datetime, timezone

    if isinstance(ts, str):
        ts = datetime.fromisoformat(ts.replace("Z", "+00:00"))
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=timezone.utc)
    return ts.timestamp()


def run(spark, tracer, run_dir, seed: int, seconds: float,
        t_start: float, rate: int = RATE, eventlog=None) -> Outcome:
    """Run the live ingest workload at ``rate`` records per second;
    ``t_start`` is when set-up began."""
    from scholar_stream_spark.streaming.accounting import IngestAccounting
    from scholar_stream_spark.streaming.pipeline import start_ingest

    input_dir = run_dir.sub("ingest-input")
    raw_path = os.path.join(run_dir.path, "bronze")
    errors_path = os.path.join(run_dir.path, "dead-letters")
    n_warm = WARMUP_BURSTS * BURST_FILES
    n_window = int(round(seconds * FILES_PER_S))
    n_files = n_warm + n_window
    per_file = rate // FILES_PER_S

    with tracer.span("setup.render_inputs"):
        bad = {
            k: datagen.malformed_positions(seed, k, per_file, MALFORMED_RATE)
            for k in range(n_files)
        }
        templates = {
            k: "\n".join(datagen.ingest_template(seed, k, per_file, bad[k]))
            + "\n"
            for k in range(n_files)
        }
    expected_good = {
        k: set(range(per_file)) - bad[k] for k in range(n_files)
    }
    injected = {(k, i) for k in range(n_files) for i in bad[k]}

    recorder = None
    if tracer.enabled:
        recorder = ProgressRecorder()
        spark.streams.addListener(recorder.listener)
    acct = IngestAccounting()
    with tracer.span("streaming.pipeline.start_ingest"):
        query = start_ingest(
            spark, input_dir, raw_path,
            checkpoint_path=os.path.join(run_dir.path, "checkpoint"),
            errors_path=errors_path, trigger="demo", accounting=acct,
        )
    gen = None
    try:
        with tracer.span("setup.warmup"):
            for k0 in range(0, n_warm, BURST_FILES):
                with tracer.span("setup.warmup.burst"):
                    # just before a trigger: the burst does not sit out
                    # most of an interval waiting for it
                    time.sleep(max(next_trigger(time.time() + 0.3) - 0.3
                                   - time.time(), 0.0))
                    now = time.time()
                    for k in range(k0, k0 + BURST_FILES):
                        drop_file(input_dir, k, templates.pop(k), now)
                    query.processAllAvailable()
        # every run puts its first file at the same phase of the trigger
        # grid, so no run is luckier with trigger alignment than another
        t0 = next_trigger(time.time()) + TRIGGER_PHASE_S
        gen = Generator(input_dir, templates, n_warm, t0)
        window_start = t0
        window_end = gen.due(n_files)
        setup_s = time.time() - t_start
        with tracer.span("window"):
            gen.start()
            gen.join(timeout=seconds + 30)
            time.sleep(max(window_end - time.time(), 0.0))
        with tracer.span("drain"):
            query.processAllAvailable()
    finally:
        if gen is not None:
            gen.stop_event.set()
            gen.join(timeout=10)
        query.stop()
        if recorder is not None:
            spark.streams.removeListener(recorder.listener)
    if gen.error is not None:
        raise gen.error
    if gen.is_alive() or len(gen.late_s) != n_window:
        raise RuntimeError("the ingest generator did not finish its schedule")

    with tracer.span("verify"):
        with tracer.span("verify.bronze"):
            landing, strays = read_landing(spark, raw_path)
        with tracer.span("verify.dead_letters"):
            dead = read_dead(spark, errors_path)
        failed, notes = count_failures(expected_good, injected, landing,
                                       strays, dead)
        if tracer.enabled:
            with tracer.span("operators.views.build_vw_works"):
                slo = reference_slo(spark, raw_path)

    recorded = {b.batch_seq: _epoch(b.recorded_at) for b in acct.batches}
    lat_ms, batch_of = [], {}
    for k in range(n_warm, n_files):
        for batch, n in landing.get(k, FileLanding()).batches.items():
            lat_ms.append(((recorded[batch] - gen.due(k)) * 1000.0, n))
            batch_of.setdefault(batch, []).append(k)
    window_batches = sorted(batch_of)

    def backlog(at: float) -> int:
        """Window files due before ``at`` that no committed batch had made
        visible by then."""
        return sum(
            1 for k in range(n_warm, n_files) if gen.due(k) < at and not any(
                recorded.get(b, float("inf")) <= at
                for b in landing.get(k, FileLanding()).batches)
        )

    backlog_start, backlog_end = backlog(window_start), backlog(window_end)
    p50 = weighted_percentile(lat_ms, 50)
    p99 = weighted_percentile(lat_ms, 99)

    throughput = median(_batch_rates(query, batch_of))

    metrics = {
        "latency_ms": (p50, "ms"),
        "tail_ms": (p99, "ms"),
        "throughput_per_s": (throughput, "1/s"),
    }
    info = {"window_batches": len(window_batches),
            "backlog_files_start": backlog_start,
            "backlog_files_end": backlog_end}
    if tracer.enabled:
        info["ingest_slo"] = slo
        metrics.update(_layers(recorder, eventlog, query, acct, gen, landing,
                               batch_of, window_start, window_end, raw_path))
        metrics["pipeline.backlog_files_start"] = (float(backlog_start),
                                                   "count")
        metrics["pipeline.backlog_files_end"] = (float(backlog_end), "count")
    return Outcome(
        attempted=n_files * per_file, failed=failed, notes=notes,
        metrics=metrics, setup_s=setup_s, info=info,
    )


def _batch_rates(query, batches) -> list[float]:
    """Records per second of ``triggerExecution`` for each of the given
    batches, from the query's own recent progress (its last 100 batches).
    The median over batches keeps one slow batch from moving the figure."""
    return [
        p.numInputRows / (p.durationMs["triggerExecution"] / 1000.0)
        for p in query.recentProgress
        if int(p.batchId) in batches and p.numInputRows
    ]


def reference_slo(spark, raw_path: str) -> dict:
    """Whole-second latency p50/p95 from the curated ``vw_works`` view over
    the bronze table, against the reference SLO (p50 <= 20 s,
    p95 <= 60 s). Informational: never gated."""
    from pyspark.sql import functions as F
    from scholar_stream_spark.operators.views import build_vw_works

    works = build_vw_works(spark.read.parquet(raw_path))
    p50, p95 = works.agg(
        F.percentile("latency_seconds", 0.5),
        F.percentile("latency_seconds", 0.95),
    ).first()
    return {"latency_seconds_p50": p50, "latency_seconds_p95": p95,
            "meets_p50_le_20s": p50 is not None and p50 <= 20,
            "meets_p95_le_60s": p95 is not None and p95 <= 60}


def _layers(recorder, eventlog, query, acct, gen, landing, batch_of,
            window_start, window_end, raw_path) -> dict:
    """Per-layer numbers of the traced run; see ``metrics.py``."""
    run_id = str(query.runId)
    prog = {b: recorder.batches[(run_id, b)] for b in batch_of
            if (run_id, b) in recorder.batches}

    def phase(name: str) -> float:
        vals = [float(d.get(name, 0)) for d, _, _ in prog.values()]
        return median(vals) if vals else 0.0

    busy = sum(float(d.get("triggerExecution", 0)) for d, _, _ in prog.values())
    waits = []
    for b, ks in batch_of.items():
        if b in prog:
            started = _epoch(prog[b][1])
            for k in ks:
                waits.append(((started - gen.due(k)) * 1000.0,
                              landing[k].batches[b]))
    eventlog.poll()
    per_batch = [n for (g, b), n in eventlog.jobs_by_batch.items()
                 if int(b) in batch_of]
    if per_batch:
        jobs_per_batch = median(per_batch)
    else:
        t = eventlog.by_group.get(run_id)
        jobs_per_batch = (t.jobs / max(len(prog), 1)) if t else 0.0
    n_files_landed = sum(
        1 for _, _, files in os.walk(raw_path)
        for f in files if f.endswith(".parquet")
    )
    in_window = [b for b in acct.batches if b.batch_seq in batch_of]
    n_in = sum(b.n_input for b in in_window)
    n_dead = sum(b.n_dead for b in in_window)
    return {
        "pipeline.trigger_ms_p50": (phase("triggerExecution"), "ms"),
        "pipeline.busy_ratio": (busy / 1000.0 / (window_end - window_start),
                                "ratio"),
        "pipeline.queue_wait_ms_p50": (
            weighted_percentile(waits, 50) if waits else 0.0, "ms"),
        "pipeline.latest_offset_ms_p50": (phase("latestOffset"), "ms"),
        "pipeline.add_batch_ms_p50": (phase("addBatch"), "ms"),
        "pipeline.wal_commit_ms_p50": (phase("walCommit"), "ms"),
        "pipeline.jobs_per_batch": (jobs_per_batch, "count"),
        "raw_landing.files_per_batch": (
            n_files_landed / max(len(acct.batches), 1), "count"),
        "accounting.dead_ratio": (n_dead / max(n_in, 1), "ratio"),
        "generator.late_ms_max": (max(gen.late_s) * 1000.0, "ms"),
    }
