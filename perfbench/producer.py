"""``producer_report``: backfills through the producer CLI, then a closed
loop of live landings, each followed by a dashboard poll, over the one
bronze table both write.

Each backfill drains seeded fake REST pages through
``scholar_stream_spark.__main__.main``; its rate is the throughput. Each
round of the closed loop drops seeded NDJSON envelope files into a
watched directory, drains them into the bronze table with
``streaming.pipeline.start_ingest(trigger="available_now")`` on one
checkpoint, and polls the dashboard as the ``report`` CLI does:
``_read_raw_or_empty`` -> ``init_catalog(role="R_ANALYST")`` ->
``render_report``. A round's latency runs from its files landing in the
directory to a rendered page that counts them.

Every page is checked against the bronze table: the sample count, the
newest ``landed_ts`` on top, and no clear email under the analyst role.
The backfilled works must land exactly once, every well-formed NDJSON
line exactly once, and every malformed line, and only those, in the dead
letters.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import sys
import time
from dataclasses import dataclass
from statistics import median

import datagen
import ingest
from harness import MASTER, Outcome, percentile

PER_PAGE = 500
#: the untimed warm-up backfill is one short page; then ``BACKFILLS``
#: timed backfills of ``BACKFILL_PAGES`` full pages each, whose median rate
#: is the throughput
WARMUP_WORKS = 50
BACKFILLS = 3
BACKFILL_PAGES = 1
#: a round of the closed loop lands ``ROUND_FILES`` files of
#: ``ROUND_LINES`` lines; the first ``WARMUP_ROUNDS`` are untimed, and at
#: least ``MIN_ROUNDS`` are timed
ROUND_FILES = 5
ROUND_LINES = 1_000
WARMUP_ROUNDS = 1
MIN_ROUNDS = 8
#: how often ``probe_dashboard`` times each dashboard query
PROBE_ROUNDS = 2
MASKED = re.compile(r"^(\*\*\*|.\*\*\*@.*)$")


@dataclass
class Expected:
    """What a poll must show: every row landed so far, newest on top."""

    samples: int
    latest_landed: float


def backfill(run_dir, pages: list[list[dict]], raw_path: str, name: str,
             errors_path: str) -> float:
    """One run of the producer CLI over ``pages``; returns its wall time."""
    from scholar_stream_spark.__main__ import main

    pages_file = os.path.join(run_dir.path, f"{name}-pages.json")
    with open(pages_file, "w", encoding="utf-8") as f:
        json.dump(pages, f)
    argv = [
        "--fake-pages", pages_file, "--raw-path", raw_path,
        "--errors-path", errors_path,
        "--checkpoint", os.path.join(run_dir.path, f"{name}-checkpoint"),
        "--batch-size", str(PER_PAGE), "--master", MASTER,
    ]
    t = time.perf_counter()
    with contextlib.redirect_stdout(sys.stderr):
        rc = main(argv)
    elapsed = time.perf_counter() - t
    if rc != 0:
        raise RuntimeError(f"producer CLI exited with {rc}")
    return elapsed


def poll(spark, raw_path: str, tracer) -> str:
    """One dashboard poll, as the ``report`` CLI makes it."""
    from scholar_stream_spark.__main__ import _read_raw_or_empty
    from scholar_stream_spark.app.dashboard import render_report
    from scholar_stream_spark.plans.catalog import init_catalog

    with tracer.span("poll"):
        raw = _read_raw_or_empty(spark, raw_path)
        with tracer.span("plans.catalog.init_catalog"):
            init_catalog(spark, raw, role="R_ANALYST")
        with tracer.span("app.dashboard.render_report"):
            return render_report(spark)


def bronze_truth(spark, raw_path: str) -> tuple[int, dict[str, int]]:
    """Rows in the bronze table, and the landed count of every work id the
    producer CLI wrote (ids ``W<page>-<i>``)."""
    from pyspark.sql import functions as F

    raw = spark.read.parquet(raw_path).select(
        F.get_json_object("payload", "$.id").alias("id"))
    counts = {r["id"]: r["count"] for r in raw.groupBy("id").count().collect()}
    works = {i: n for i, n in counts.items() if i and i.startswith("W")}
    return sum(counts.values()), works


def datetime_epoch(text: str) -> float:
    from datetime import datetime, timezone

    dt = datetime.fromisoformat(text.strip())
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.timestamp()


def check_report(text: str, expected: Expected) -> list[str]:
    """Ways a rendered dashboard page disagrees with the bronze table."""
    problems = []
    m = re.search(r"Samples \(5m\): (\d+)", text)
    if m is None or int(m.group(1)) != expected.samples:
        problems.append(
            f"samples {m.group(1) if m else 'missing'} != {expected.samples}")
    lines = text.splitlines()
    try:
        head = lines.index("Recent works")
        header = [c.strip() for c in lines[head + 1].split(" | ")]
        rows = [[c.strip() for c in ln.split(" | ")] for ln in lines[head + 3:]]
    except (ValueError, IndexError):
        return problems + ["recent works table missing"]
    if not rows or len(rows[0]) != len(header):
        return problems + ["recent works table empty"]
    landed = header.index("landed_ts")
    top = datetime_epoch(rows[0][landed].replace(" ", "T"))
    if abs(top - expected.latest_landed) > 1e-3:
        problems.append("top row is not the latest landed_ts")
    email = header.index("email")
    clear = [r[email] for r in rows
             if r[email] != "None" and not MASKED.match(r[email])]
    if clear:
        problems.append(f"{len(clear)} unmasked emails under R_ANALYST")
    return problems


def count_landing_failures(pages: list[list[dict]],
                           counts: dict[str, int]) -> tuple[int, list[str]]:
    """Works lost or duplicated between the REST pages and bronze."""
    ids = {w["id"] for page in pages for w in page}
    lost = len(ids - set(counts))
    dup = sum(n - 1 for i, n in counts.items() if n > 1)
    stray = sum(n for i, n in counts.items() if i not in ids)
    notes = []
    if lost or dup or stray:
        notes.append(f"backfill: {lost} works lost, {dup} duplicated, "
                     f"{stray} not generated")
    return lost + dup + stray, notes


class LiveRounds:
    """The closed loop's landings: seeded NDJSON files, drained by one
    ``start_ingest(trigger="available_now")`` per round, all rounds on one
    checkpoint, into the bronze table the producer CLI writes."""

    def __init__(self, run_dir, seed: int, raw_path: str):
        from scholar_stream_spark.streaming.accounting import IngestAccounting

        self.input_dir = run_dir.sub("ingest-input")
        self.checkpoint = os.path.join(run_dir.path, "ingest-checkpoint")
        self.errors_path = os.path.join(run_dir.path, "ingest-dead-letters")
        self.raw_path = raw_path
        self.seed = seed
        self.bad: dict[int, set[int]] = {}
        self.run_ids: list[str] = []
        self.accounting = IngestAccounting()

    @property
    def rounds(self) -> int:
        return len(self.run_ids)

    @staticmethod
    def files(r: int) -> range:
        return range(r * ROUND_FILES, (r + 1) * ROUND_FILES)

    def render(self) -> dict[int, str]:
        """The next round's files, ``{TS}`` still open."""
        out = {}
        for k in self.files(self.rounds):
            self.bad[k] = datagen.malformed_positions(
                self.seed, k, ROUND_LINES, ingest.MALFORMED_RATE)
            out[k] = "\n".join(datagen.ingest_template(
                self.seed, k, ROUND_LINES, self.bad[k])) + "\n"
        return out

    def land(self, spark, tracer, templates: dict[int, str]) -> float:
        """Drop the files, then drain them; returns when they were all in
        the directory (``perf_counter``)."""
        from scholar_stream_spark.streaming.pipeline import start_ingest

        now = time.time()
        for k, body in templates.items():
            ingest.drop_file(self.input_dir, k, body, now)
        dropped = time.perf_counter()
        with tracer.span("streaming.pipeline.start_ingest"):
            query = start_ingest(
                spark, self.input_dir, self.raw_path,
                checkpoint_path=self.checkpoint, errors_path=self.errors_path,
                trigger="available_now", accounting=self.accounting,
            )
            query.awaitTermination()
        self.run_ids.append(str(query.runId))
        return dropped

    def good_lines(self, r: int) -> int:
        return sum(ROUND_LINES - len(self.bad[k]) for k in self.files(r))

    def failures(self, spark) -> tuple[dict, int, list[str]]:
        """The landing of every file, and its records lost, duplicated,
        wrongly dead-lettered or wrongly landed."""
        landing, strays = ingest.read_landing(spark, self.raw_path)
        dead = ingest.read_dead(spark, self.errors_path)
        failed, notes = ingest.count_failures(
            {k: set(range(ROUND_LINES)) - bad for k, bad in self.bad.items()},
            {(k, i) for k, bad in self.bad.items() for i in bad},
            landing, strays, dead,
        )
        return landing, failed, notes


def run(spark, tracer, run_dir, seed: int, seconds: float,
        t_start: float, eventlog=None) -> Outcome:
    raw_path = os.path.join(run_dir.path, "bronze")
    errors_path = os.path.join(run_dir.path, "dead-letters")
    live = LiveRounds(run_dir, seed, raw_path)
    with tracer.span("setup.render_inputs"):
        warm_pages = datagen.rest_pages(seed, 0, 1, WARMUP_WORKS)
        batches = [
            datagen.rest_pages(seed, 1 + i * BACKFILL_PAGES, BACKFILL_PAGES,
                               PER_PAGE)
            for i in range(BACKFILLS)
        ]
    recorder = None
    if tracer.enabled:
        with tracer.span("trace.listener"):
            recorder = ingest.ProgressRecorder()
            spark.streams.addListener(recorder.listener)
    with tracer.span("setup.warmup"):
        with tracer.span("producer.main"):
            backfill(run_dir, warm_pages, raw_path, "warmup", errors_path)
        for _ in range(WARMUP_ROUNDS):
            live.land(spark, tracer, live.render())
            poll(spark, raw_path, tracer)
        warm_batches = set(recorder.batches) if recorder else set()
    setup_s = time.time() - t_start

    t_window = time.perf_counter()
    with tracer.span("window"):
        backfill_s = []
        for i, pages in enumerate(batches):
            with tracer.span("producer.main"):
                backfill_s.append(backfill(run_dir, pages, raw_path,
                                           f"backfill{i}", errors_path))
        with tracer.span("verify.bronze"):
            base_rows, counts = bronze_truth(spark, raw_path)
        files_before = bronze_files(raw_path)
        round_ms, reports = [], []
        while (len(round_ms) < MIN_ROUNDS
               or time.perf_counter() - t_window < seconds):
            with tracer.span("render_inputs"):
                templates = live.render()
            t = live.land(spark, tracer, templates)
            reports.append(poll(spark, raw_path, tracer))
            round_ms.append((time.perf_counter() - t) * 1000.0)

    # the two dashboard queries timed apart, for the per-layer numbers;
    # run untraced too, so traced and untraced runs do the same work
    tiles_ms, recent_ms = probe_dashboard(spark, tracer)

    with tracer.span("verify.live"):
        landing, failed, notes = live.failures(spark)
    with tracer.span("verify.polls"):
        lost, more = count_landing_failures(
            warm_pages + [p for pages in batches for p in pages], counts)
        failed += lost
        notes += more
        samples = base_rows
        for i, text in enumerate(reports):
            r = WARMUP_ROUNDS + i
            samples += live.good_lines(r)
            latest = max((landing[k].latest for k in live.files(r)
                          if k in landing), default=0.0)
            problems = check_report(text, Expected(samples, latest))
            if problems:
                failed += 1
                notes.append(f"poll {i}: " + "; ".join(problems))
    n_works = BACKFILL_PAGES * PER_PAGE
    metrics = {
        "latency_ms": (median(round_ms), "ms"),
        "tail_ms": (percentile(round_ms, 90), "ms"),
        "throughput_per_s": (median([n_works / s for s in backfill_s]),
                             "1/s"),
    }
    if tracer.enabled:
        with tracer.span("trace.layers"):
            spark.streams.removeListener(recorder.listener)
            metrics.update(_layers(tracer, eventlog, recorder, warm_batches,
                                   live, raw_path, samples, files_before))
        metrics["dashboard.tiles_ms_p50"] = (median(tiles_ms), "ms")
        metrics["dashboard.recent_ms_p50"] = (median(recent_ms), "ms")
    return Outcome(
        attempted=(WARMUP_WORKS + BACKFILLS * n_works
                   + live.rounds * ROUND_FILES * ROUND_LINES + len(reports)),
        failed=failed, notes=notes, metrics=metrics, setup_s=setup_s,
        info={"rounds": len(round_ms), "backfill_s": backfill_s},
    )


def bronze_files(raw_path: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(raw_path)
            for f in fs if f.endswith(".parquet")]


def probe_dashboard(spark, tracer):
    """Time ``latency_tiles`` and ``recent_works`` one by one over the
    catalog the last poll registered."""
    from scholar_stream_spark.app.dashboard import latency_tiles, recent_works

    tiles_ms, recent_ms = [], []
    with tracer.span("probe.dashboard"):
        for _ in range(PROBE_ROUNDS):
            t = time.perf_counter()
            with tracer.span("app.dashboard.latency_tiles"):
                latency_tiles(spark)
            tiles_ms.append((time.perf_counter() - t) * 1000.0)
            t = time.perf_counter()
            with tracer.span("app.dashboard.recent_works"):
                recent_works(spark).collect()
            recent_ms.append((time.perf_counter() - t) * 1000.0)
    return tiles_ms, recent_ms


def _layers(tracer, eventlog, recorder, warm_batches, live, raw_path,
            n_records, files_before) -> dict:
    """Per-layer numbers of the traced run; see ``metrics.py``."""
    timed_runs = set(live.run_ids[WARMUP_ROUNDS:])
    cli = {k: v for k, v in recorder.batches.items()
           if k not in warm_batches and k[0] not in live.run_ids and v[2] > 0}
    drains = {k: v for k, v in recorder.batches.items()
              if k[0] in timed_runs and v[2] > 0}

    def phase(batches: dict, name: str) -> float:
        vals = [float(d.get(name, 0)) for d, _, _ in batches.values()]
        return median(vals) if vals else 0.0

    eventlog.poll()

    def jobs_per_batch(batches: dict) -> float:
        ids = {(run, str(b)) for run, b in batches}
        per_batch = [n for key, n in eventlog.jobs_by_batch.items()
                     if key in ids]
        return median(per_batch) if per_batch else 0.0

    def span_ms(name: str, parent: str) -> list[float]:
        return [s.duration * 1000.0 for s in tracer.spans
                if s.name == name and s.parent is not None
                and tracer.spans[s.parent].name == parent]

    polls = [s for s in tracer.spans if s.name == "poll"]
    poll_jobs = eventlog.for_spans(
        s.span_id for s in tracer.spans
        if s.name == "poll" or (s.parent is not None and
                                tracer.spans[s.parent].name == "poll")
    ).jobs
    init_ms = [s.duration * 1000.0 for s in tracer.spans
               if s.name == "plans.catalog.init_catalog"]
    files = bronze_files(raw_path)
    acct = live.accounting.batches
    timed_polls = span_ms("poll", "window")
    return {
        "rest.latest_offset_ms_p50": (phase(cli, "latestOffset"), "ms"),
        "producer.add_batch_ms_p50": (phase(cli, "addBatch"), "ms"),
        "producer.jobs_per_batch": (jobs_per_batch(cli), "count"),
        "pipeline.drain_ms_p50": (
            median(span_ms("streaming.pipeline.start_ingest", "window")),
            "ms"),
        "pipeline.trigger_ms_p50": (phase(drains, "triggerExecution"), "ms"),
        "pipeline.latest_offset_ms_p50": (phase(drains, "latestOffset"),
                                          "ms"),
        "pipeline.add_batch_ms_p50": (phase(drains, "addBatch"), "ms"),
        "pipeline.wal_commit_ms_p50": (phase(drains, "walCommit"), "ms"),
        "pipeline.jobs_per_batch": (jobs_per_batch(drains), "count"),
        "raw_landing.files_per_batch": (
            (len(files) - len(files_before)) / max(len(drains), 1), "count"),
        "accounting.dead_ratio": (
            sum(b.n_dead for b in acct) / max(sum(b.n_input for b in acct), 1),
            "ratio"),
        "bronze.files": (float(len(files)), "count"),
        "bronze.bytes_per_record": (
            sum(os.path.getsize(f) for f in files) / max(n_records, 1), "B"),
        "catalog.init_ms_p50": (median(init_ms), "ms"),
        "dashboard.poll_ms_p50": (median(timed_polls), "ms"),
        "dashboard.jobs_per_poll": (poll_jobs / max(len(polls), 1), "count"),
    }
