"""Tests of the benchmark's own checks and bookkeeping.

    python3 -m pytest perfbench -q

The checks must turn a wrong answer into a failed operation: a wrong
fingerprint, a dropped or duplicated record, a misrouted line and a stale
or unmasked dashboard poll each raise the failure count.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from datetime import datetime, timezone

import pytest

import harness
import ingest
import metrics
import mix
import overhead
import producer

HERE = os.path.dirname(os.path.abspath(__file__))


# --------------------------------------------------------------------------
# ingest exactly-once


def landed(lines: list[int], batch: int = 7) -> ingest.FileLanding:
    return ingest.FileLanding(
        count=len(lines), line_sum=sum(lines),
        line_sq_sum=sum(i * i for i in lines), batches={batch: len(lines)},
    )


EXPECTED = {0: {0, 1, 2, 3}, 1: {0, 2, 3}}
INJECTED = {(1, 1)}


def test_clean_ingest_has_no_failures():
    landing = {0: landed([0, 1, 2, 3]), 1: landed([0, 2, 3])}
    failed, notes = ingest.count_failures(EXPECTED, INJECTED, landing, 0,
                                          [(1, 1)])
    assert (failed, notes) == (0, [])


def test_dropped_record_fails():
    landing = {0: landed([0, 1, 3]), 1: landed([0, 2, 3])}
    failed, _ = ingest.count_failures(EXPECTED, INJECTED, landing, 0, [(1, 1)])
    assert failed == 1


def test_duplicated_record_fails():
    landing = {0: landed([0, 1, 2, 3, 3]), 1: landed([0, 2, 3])}
    failed, _ = ingest.count_failures(EXPECTED, INJECTED, landing, 0, [(1, 1)])
    assert failed == 1


def test_record_swapped_for_a_duplicate_fails():
    landing = {0: landed([0, 1, 3, 3]), 1: landed([0, 2, 3])}
    failed, _ = ingest.count_failures(EXPECTED, INJECTED, landing, 0, [(1, 1)])
    assert failed >= 1


def test_malformed_line_landing_fails():
    landing = {0: landed([0, 1, 2, 3]), 1: landed([0, 2, 3])}
    failed, _ = ingest.count_failures(EXPECTED, INJECTED, landing, 1, [])
    assert failed == 2  # landed where it should not, missing where it should


def test_well_formed_line_dead_lettered_fails():
    landing = {0: landed([0, 1, 2, 3]), 1: landed([0, 2, 3])}
    failed, _ = ingest.count_failures(EXPECTED, INJECTED, landing, 0,
                                      [(1, 1), (-1, -1)])
    assert failed == 1


def test_template_marks_malformed_lines():
    lines = ingest.datagen.ingest_template(3, 5, 6, {2})
    assert lines[2].startswith('{"id":"M5-2"')
    for i in (0, 1, 3, 4, 5):
        body = json.loads(lines[i].replace("{TS}", "2024-01-01T00:00:00Z"))
        assert body["id"] == f"L5-{i}"


def test_inputs_depend_only_on_the_seed():
    d = ingest.datagen
    assert d.malformed_positions(1, 2, 3000, 0.01) == \
        d.malformed_positions(1, 2, 3000, 0.01)
    assert d.rest_pages(4, 0, 2, 20) == d.rest_pages(4, 0, 2, 20)
    assert d.rest_pages(4, 0, 2, 20) != d.rest_pages(5, 0, 2, 20)


# --------------------------------------------------------------------------
# dashboard polls


class _Rows:
    def __init__(self, rows):
        self._rows = rows

    def collect(self):
        return self._rows


class _Row(dict):
    def asDict(self):  # noqa: N802 (pyspark Row API)
        return dict(self)


class FakeSpark:
    """Serves the dashboard's two queries from fixed rows, so the test
    renders pages with the program's own ``render_report``."""

    def __init__(self, samples, works):
        self.samples, self.works = samples, works

    def sql(self, text):
        if "vw_latency" in text:
            return _Rows([_Row(avg_sec_5m=1.0, min_sec_5m=0.0, max_sec_5m=2.0,
                               samples_5m=self.samples, window_start=None,
                               window_end=None)])
        return _Rows([_Row(w) for w in self.works])


LATEST = datetime(2026, 1, 2, 3, 4, 5, 600000, tzinfo=timezone.utc)


def work(landed_ts: datetime, email: str | None = "a***@ex.com") -> dict:
    return {"work_id": "W1", "title": "t", "primary_author": "A",
            "publication_year": 2020, "email": email,
            "event_ts": landed_ts.replace(tzinfo=None),
            "landed_ts": landed_ts.replace(tzinfo=None),
            "latency_seconds": 0}


def page(samples: int, works: list[dict]) -> str:
    from scholar_stream_spark.app.dashboard import render_report

    return render_report(FakeSpark(samples, works))


EXPECT = producer.Expected(samples=10, latest_landed=LATEST.timestamp())


def test_fresh_poll_passes():
    assert producer.check_report(page(10, [work(LATEST)]), EXPECT) == []


def test_stale_poll_fails():
    older = LATEST.replace(second=0)
    assert producer.check_report(page(10, [work(older)]), EXPECT)
    assert producer.check_report(page(9, [work(LATEST)]), EXPECT)


def test_unmasked_email_fails():
    text = page(10, [work(LATEST, email="ada@ex.com")])
    assert producer.check_report(text, EXPECT) == [
        "1 unmasked emails under R_ANALYST"]


def test_empty_dashboard_fails():
    assert producer.check_report(page(0, []), EXPECT)


def test_lost_and_duplicated_works_fail():
    pages = [[{"id": "W1"}, {"id": "W2"}], [{"id": "W3"}]]
    assert producer.count_landing_failures(pages, {"W1": 1, "W2": 1,
                                                   "W3": 1})[0] == 0
    assert producer.count_landing_failures(pages, {"W1": 1, "W3": 2})[0] == 2


# --------------------------------------------------------------------------
# fingerprints


@pytest.fixture(scope="module")
def spark():
    from scholar_stream_spark import get_spark

    s = get_spark(master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()


def test_fingerprint_ignores_order_and_float_noise(spark):
    rows = [(i, float(i) / 3.0, [0.1 * i], f"s{i}") for i in range(50)]
    df = spark.createDataFrame(rows, "k long, x double, v array<double>, s string")
    noisy = spark.createDataFrame(
        [(k, x * (1 + 1e-13), [v[0] * (1 - 1e-13)], s)
         for k, x, v, s in reversed(rows)], df.schema)
    assert mix.fingerprint(df) == mix.fingerprint(noisy.repartition(3))
    changed = spark.createDataFrame(rows[:-1] + [(49, 1.0, [4.9], "s49")],
                                    df.schema)
    assert mix.fingerprint(changed) != mix.fingerprint(df)
    assert mix.fingerprint(df.limit(49))["rows"] == 49


def test_read_landing_skips_producer_works(spark, tmp_path):
    def meta(batch, t):
        return json.dumps({"IngestionTime": t, "batch_id": f"{batch}-x"})

    rows = [('{"id":"L0-0"}', meta(3, "2026-01-01T00:00:01.000000+00:00")),
            ('{"id":"L0-2"}', meta(3, "2026-01-01T00:00:02.000000+00:00")),
            ('{"id":"W1-2"}', meta(0, "2026-01-01T00:00:09.000000+00:00")),
            ('{"id":"M0-1","ti', meta(3, "2026-01-01T00:00:03.000000+00:00"))]
    path = str(tmp_path / "bronze")
    spark.createDataFrame(rows, "payload string, metadata string") \
        .write.parquet(path)
    landing, strays = ingest.read_landing(spark, path)
    assert strays == 1  # the malformed line, not the producer's work
    assert landing[0] == ingest.FileLanding(
        count=2, line_sum=2, line_sq_sum=4, batches={3: 2},
        latest=datetime(2026, 1, 1, 0, 0, 2, tzinfo=timezone.utc).timestamp())


def test_wrong_fingerprint_fails():
    expected = {"q1": {"rows": 3, "hash": 11}, "q2": {"rows": 1, "hash": 5}}
    assert mix.fingerprint_failures("q1", {"rows": 3, "hash": 11},
                                    expected) == []
    assert mix.fingerprint_failures("q2", {"rows": 1, "hash": 6}, expected)
    assert mix.fingerprint_failures("q3", {"rows": 1, "hash": 6}, expected)


def test_fingerprint_file_covers_the_mix():
    assert set(mix.load_fingerprints()) == {q for q, _ in mix.MIX}


# --------------------------------------------------------------------------
# tracing and the event log


def test_self_time_subtracts_covered_children():
    tr = harness.Tracer(enabled=True)
    tr.spans = [harness.Span(0, "top", None, 0.0, 10.0),
                harness.Span(1, "a", 0, 1.0, 4.0),
                harness.Span(2, "b", 0, 3.0, 6.0),
                harness.Span(3, "c", 0, 8.0, 9.0)]
    assert tr.self_time(tr.spans[0]) == pytest.approx(4.0)
    tr.spans[2] = harness.Span(2, "b", 0, 4.0, 6.0)
    # sequential spans: the self times partition the top span
    assert sum(tr.self_time(s) for s in tr.spans) == pytest.approx(10.0)


def test_spans_must_match_the_untraced_wall_within_the_overhead():
    # 1 s of overhead; spans cover the traced run but for 0.5 s
    assert overhead.spans_account_for_run(10.0, 11.0, 10.5)
    # spans that miss half the run do not account for it
    assert not overhead.spans_account_for_run(10.0, 11.0, 5.0)
    # nor do spans that overshoot the untraced run by more than the overhead
    assert not overhead.spans_account_for_run(10.0, 10.2, 10.5)


def test_event_log_totals_per_group_and_deletes_rolled_files(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    group = harness.group_id(4)
    events_1 = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": group,
                        "streaming.sql.batchId": "2"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": group}},
    ]
    task = {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
        "Executor Run Time": 30, "Executor CPU Time": 2_000_000,
        "JVM GC Time": 1, "Shuffle Read Metrics": {"Local Bytes Read": 5},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
        "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0}}
    (app / "events_1_local-1").write_text(
        "".join(json.dumps(e) + "\n" for e in events_1))
    (app / "events_2_local-1").write_text(json.dumps(task) + "\n{\"Ev")
    log = harness.EventLog(str(tmp_path))
    log.poll()
    t = log.for_spans([4])
    assert (t.jobs, t.stages, t.tasks, t.run_ms) == (1, 1, 1, 30)
    assert (t.shuffle_read, t.shuffle_write) == (5, 7)
    assert log.jobs_by_batch == {(group, "2"): 1}
    assert not (app / "events_1_local-1").exists()
    with open(app / "events_2_local-1", "a") as f:
        f.write('ent": "SparkListenerTaskEnd", "Stage ID": 0}\n')
    log.poll()
    assert log.for_spans([4]).tasks == 2


def test_percentiles():
    assert harness.percentile([5, 1, 3, 2, 4], 50) == 3
    assert harness.percentile(range(1, 101), 99) == 99
    assert harness.weighted_percentile([(10, 99), (20, 1)], 99) == 10
    assert harness.weighted_percentile([(10, 98), (20, 2)], 99) == 20


# --------------------------------------------------------------------------
# the contract


def test_benchmark_json_matches_the_metrics():
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert [w["name"] for w in doc["workloads"]] == list(metrics.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in doc["end_to_end"]] == \
        list(metrics.END_TO_END)
    assert [(m["name"], m["unit"]) for m in doc["per_layer"]] == \
        list(metrics.PER_LAYER)
    assert all(0 < m["bound"] <= 0.25 for m in doc["end_to_end"])


def test_refuses_a_checkout_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(harness.ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest_live",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 2
    assert out.stdout == ""
