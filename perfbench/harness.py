"""Shared machinery of the benchmark: the run directory, the Spark session,
spans, the event-log reader, the memory sampler and the result line.

Nothing here imports pyspark at module load: ``run.py`` must be able to
refuse a checkout that lacks the program before anything heavy starts.
"""

from __future__ import annotations

import glob
import json
import math
import os
import platform
import shutil
import subprocess
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
#: traced runs leave their spans here, one file per run
TRACE_DIR = os.path.join(WORK_ROOT, "traces")

#: Cores every workload runs on; fixed so runs on different hosts or
#: commits use the same engine parallelism.
MASTER = "local[4]"


# --------------------------------------------------------------------------
# statistics


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty sequence."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sequence")
    k = max(1, math.ceil(q / 100.0 * len(xs)))
    return float(xs[k - 1])


def weighted_percentile(pairs, q: float) -> float:
    """Nearest-rank percentile over ``(value, weight)`` pairs, where a
    weight is how many samples share the value."""
    pairs = sorted(pairs)
    total = sum(w for _, w in pairs)
    if total <= 0:
        raise ValueError("percentile of an empty sample")
    rank = max(1, math.ceil(q / 100.0 * total))
    seen = 0
    for v, w in pairs:
        seen += w
        if seen >= rank:
            return float(v)
    return float(pairs[-1][0])


# --------------------------------------------------------------------------
# run directory and session


class RunDir:
    """Scratch space of one run, inside the checkout, removed on close."""

    def __init__(self, workload: str):
        self.path = os.path.join(WORK_ROOT, f"{workload}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        self.tmp = self.sub("tmp")

    def sub(self, name: str) -> str:
        p = os.path.join(self.path, name)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass


def prepare_process_env(run_dir: RunDir) -> None:
    """Point every temp and scratch location of this process, the JVM and
    the Python workers into the run directory, and make the checkout
    importable by the workers. Call before the first pyspark import."""
    import tempfile

    os.environ["TMPDIR"] = run_dir.tmp
    tempfile.tempdir = run_dir.tmp
    os.environ["SPARK_LOCAL_DIRS"] = run_dir.sub("spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={run_dir.tmp} pyspark-shell"
    )
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    # collected timestamps come back as naive local datetimes
    os.environ["TZ"] = "UTC"
    time.tzset()
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(run_dir: RunDir, trace: bool, master: str = MASTER):
    """The program's own session factory, with scratch paths in the run
    directory and, when tracing, Spark's event log turned on."""
    from scholar_stream_spark import get_spark

    conf = {
        "spark.sql.warehouse.dir": run_dir.sub("warehouse"),
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir.tmp}",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + run_dir.sub("eventlog"),
                "spark.eventLog.rolling.enabled": "true",
                "spark.eventLog.rolling.maxFileSize": "10m",
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(master=master, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM this process launched and wait
    for it; the Python workers end with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


# --------------------------------------------------------------------------
# spans


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    run_id: str = ""

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Spans around the benchmark's calls into the program.

    Disabled, ``span`` only yields. Enabled, each span also becomes the
    Spark job group of its thread, so the event log attributes every job
    to the innermost span that started it. Spans stay in memory until the
    run ends.
    """

    enabled: bool
    run_id: str = ""
    spark: object = None
    spans: list[Span] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        s = Span(len(self.spans), name, parent.span_id if parent else None,
                 time.perf_counter(), run_id=self.run_id)
        self.spans.append(s)
        stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self._set_group(stack[-1] if stack else None)

    def _set_group(self, s: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if s is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group_id(s.span_id), s.name)

    def children(self, span_id: int | None) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def self_time(self, s: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(self.children(s.span_id), key=lambda c: c.start):
            if cur_end is None or c.start > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = c.start, c.end
            else:
                cur_end = max(cur_end, c.end)
        if cur_end is not None:
            covered += cur_end - cur_start
        return s.duration - covered

    def dump(self, path: str, eventlog: "EventLog") -> None:
        """Write every span, with its self time and the Spark work its job
        group ran, as one JSON object per line."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                row = dict(s.__dict__, self_s=self.self_time(s))
                row.update(eventlog.for_spans([s.span_id]).__dict__)
                f.write(json.dumps(row) + "\n")


def group_id(span_id: int) -> str:
    return f"perfbench-span-{span_id}"


# --------------------------------------------------------------------------
# event log


@dataclass
class StageTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0

    def add(self, other: "StageTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


class EventLog:
    """Incremental reader of Spark's rolling event log.

    ``poll()`` consumes the complete lines written since the last call and
    deletes every rolled-over file once it is fully read, so the log never
    piles up on disk. Totals are kept per job group; jobs are also counted
    per streaming batch id and per job group.
    """

    def __init__(self, log_dir: str):
        self.log_dir = log_dir
        self._offsets: dict[str, int] = {}
        self.by_group: dict[str | None, StageTotals] = {}
        self.jobs_by_batch: dict[tuple[str | None, str], int] = {}
        self._stage_group: dict[int, str | None] = {}

    def _files(self) -> list[str]:
        files = glob.glob(os.path.join(self.log_dir, "*", "events_*"))
        files += [
            p for p in glob.glob(os.path.join(self.log_dir, "*"))
            if os.path.isfile(p)
        ]

        def index(p: str) -> int:
            parts = os.path.basename(p).split("_")
            return int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0

        return sorted(files, key=index)

    def poll(self) -> None:
        files = self._files()
        for i, path in enumerate(files):
            try:
                with open(path, "rb") as f:
                    f.seek(self._offsets.get(path, 0))
                    data = f.read()
            except FileNotFoundError:
                continue
            end = data.rfind(b"\n") + 1
            for line in data[:end].splitlines():
                if line:
                    self._event(json.loads(line))
            self._offsets[path] = self._offsets.get(path, 0) + end
            rolled = i < len(files) - 1 and "/events_" in path
            if rolled and end == len(data):
                os.remove(path)
                self._offsets.pop(path, None)

    def _totals(self, group) -> StageTotals:
        return self.by_group.setdefault(group, StageTotals())

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", []):
                self._stage_group[sid] = group
            self._totals(group).jobs += 1
            batch = props.get("streaming.sql.batchId")
            if batch is not None:
                key = (group, batch)
                self.jobs_by_batch[key] = self.jobs_by_batch.get(key, 0) + 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev.get("Stage Info", {})
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id",
                              self._stage_group.get(info.get("Stage ID")))
            self._stage_group[info.get("Stage ID")] = group
            self._totals(group).stages += 1
        elif kind == "SparkListenerTaskEnd":
            group = self._stage_group.get(ev.get("Stage ID"))
            t = self._totals(group)
            m = ev.get("Task Metrics") or {}
            t.tasks += 1
            t.run_ms += m.get("Executor Run Time", 0)
            t.cpu_ns += m.get("Executor CPU Time", 0)
            t.gc_ms += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            t.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            t.shuffle_write += sw.get("Shuffle Bytes Written", 0)
            t.spill += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )

    def for_spans(self, span_ids) -> StageTotals:
        out = StageTotals()
        for sid in span_ids:
            t = self.by_group.get(group_id(sid))
            if t is not None:
                out.add(t)
        return out


# --------------------------------------------------------------------------
# memory


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat, encoding="utf-8") as f:
                text = f.read()
        except OSError:
            continue
        rest = text[text.rfind(")") + 2:].split()
        pid = int(stat.split("/")[2])
        kids.setdefault(int(rest[1]), []).append(pid)
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="utf-8") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root_pid: int | None = None) -> float:
    """Resident memory of a process and all its descendants (driver, JVM,
    Python workers), in MB."""
    root_pid = root_pid or os.getpid()
    kids = _children_map()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0


class RssSampler:
    """Background thread sampling the process tree's resident memory."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# --------------------------------------------------------------------------
# host facts and the result line


def _command_output(cmd: list[str]) -> str:
    try:
        out = subprocess.run(
            cmd, capture_output=True, text=True, timeout=20, cwd=ROOT
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    text = (out.stdout or out.stderr).strip()
    return text.splitlines()[0] if text else "unknown"


def benchmark_spec() -> dict:
    """``BENCHMARK.json`` of this checkout."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def run_benchmark(root: str, workload: str, seed: int, seconds: float,
                  trace: int = 0) -> tuple[dict, dict]:
    """One run of ``perfbench/run.py`` in the checkout at ``root``, as a
    child process; returns its info line and its result line."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=root, capture_output=True, text=True, timeout=900,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        raise RuntimeError(
            f"{workload} failed in {root}:\n{out.stderr[-3000:]}")
    return json.loads(lines[-2])["info"], json.loads(lines[-1])


def host_facts() -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "java": _command_output(["java", "-version"]),
        "git": _command_output(["git", "rev-parse", "HEAD"]),
    }


def load_average() -> float:
    return round(os.getloadavg()[0], 2)


@dataclass
class Outcome:
    """What one workload run hands back to ``run.py``.

    ``failed`` counts failed operations out of ``attempted``; ``notes``
    say which. ``metrics`` holds the workload's own numbers; ``run.py``
    adds set-up time and memory.
    """

    attempted: int
    failed: int
    notes: list[str]
    metrics: dict[str, tuple[float, str]]
    setup_s: float
    info: dict = field(default_factory=dict)


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {
                k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
            },
        }
    )
