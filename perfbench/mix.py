"""``analytics_mix``: one closed-loop client running passes over a fixed
mix of ``__spark_entry__.queries()`` entries.

The mix holds at least one query of every ``operators`` module the
fleet's mechanisms live in, next to plain relational controls. Each pass
runs the whole mix in an order drawn from the seed; every query is built
and then written to the ``noop`` sink, and both phases are timed.

The untimed warm-up pass computes each query's output fingerprint inside
Spark (row count plus an order-insensitive hash, doubles rounded to
eight significant digits) and checks it against ``fingerprints.json``.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import statistics
import time
from statistics import median

from harness import Outcome

#: (query, the operators module its entry calls)
MIX = (
    ("nation_pagerank", "graph"),
    ("dup_span_coverage", "dedup"),
    ("mask_email", "masking"),
    ("quality_classifier", "textops"),
    ("cluster_embeddings", "similarity"),
    ("multimodal_blob_stats", "multimodal"),
    ("pricing_summary", "relational"),
    ("topn_recent", "relational"),
    ("asof_join", "temporal"),
)
MODULES = tuple(dict.fromkeys(m for _, m in MIX))

#: Scale factor and data seed of the generated tables. The data are
#: fixed so the committed fingerprints hold; the run seed orders the mix.
SCALE = 0.01
DATA_SEED = 42
FINGERPRINTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "fingerprints.json")


# --------------------------------------------------------------------------
# fingerprints


def _canon(col, dtype):
    """A column whose JSON form does not depend on float noise: doubles
    and floats become eight significant digits, recursively."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        x = col.cast("double")
        return (F.when(x.isNull(), F.lit(None))
                .when(x == 0, F.lit("0"))
                .otherwise(F.format_string("%.8g", x)))
    if isinstance(dtype, T.DecimalType):
        return col.cast("string")
    if isinstance(dtype, T.BinaryType):
        return F.base64(col)
    if isinstance(dtype, T.StructType):
        return F.struct(*[
            _canon(col[f.name], f.dataType).alias(f.name) for f in dtype.fields
        ])
    if isinstance(dtype, T.ArrayType):
        return F.transform(col, lambda x: _canon(x, dtype.elementType))
    if isinstance(dtype, T.MapType):
        return F.transform_values(
            col, lambda _, v: _canon(v, dtype.valueType))
    return col


def fingerprint(df) -> dict:
    """Row count and an order-insensitive hash of the rows, both computed
    inside Spark: the sum (wrapping at 64 bits) of each canonical row's
    xxhash64."""
    from pyspark.sql import functions as F

    row = F.to_json(F.struct(*[
        _canon(F.col(f"`{f.name}`"), f.dataType).alias(f.name)
        for f in df.schema.fields
    ]))
    n, h = df.select(F.xxhash64(row).alias("h")).agg(
        F.count(F.lit(1)), F.sum("h")).first()
    return {"rows": int(n), "hash": int(h or 0)}


def fingerprint_failures(q: str, got: dict, expected: dict) -> list[str]:
    """Why query ``q``'s fingerprint fails the committed one, if it does."""
    if q not in expected:
        return [f"{q} has no committed fingerprint"]
    if got != expected[q]:
        return [f"{q} fingerprint {got} != {expected[q]}"]
    return []


def load_fingerprints() -> dict:
    with open(FINGERPRINTS, encoding="utf-8") as f:
        doc = json.load(f)
    if doc.get("scale") != SCALE or doc.get("data_seed") != DATA_SEED:
        raise RuntimeError(f"{FINGERPRINTS} is for another data set")
    return doc["queries"]


# --------------------------------------------------------------------------
# the workload


def run(spark, tracer, run_dir, seed: int, seconds: float,
        t_start: float, eventlog=None) -> Outcome:
    sf_dir = os.path.join(run_dir.path, "sf")
    # the tables are the benchmark's own input, not work of the program:
    # their generation is left out of the set-up time
    t_gen = time.perf_counter()
    with tracer.span("setup.datagen"):
        import datagen

        datagen.write_tables(sf_dir, SCALE, DATA_SEED)
    datagen_s = time.perf_counter() - t_gen
    import __spark_entry__ as entry

    queries = entry.queries()
    expected = load_fingerprints()
    failed, notes, attempted = 0, [], 0

    with tracer.span("setup.warmup"):
        for q, _ in MIX:
            attempted += 1
            with tracer.span(f"warmup.{q}"):
                try:
                    got = fingerprint(queries[q](spark, sf_dir))
                except Exception as exc:  # a failing query is a failed op
                    failed += 1
                    notes.append(f"{q} raised {type(exc).__name__}: {exc}")
                    continue
            problems = fingerprint_failures(q, got, expected)
            failed += bool(problems)
            notes += problems
        # a second, plain pass: the first one leaves the JIT compiling
        for q, _ in MIX:
            with tracer.span(f"warmup.{q}"):
                with contextlib.suppress(Exception):  # counted above
                    queries[q](spark, sf_dir).write.format("noop").mode(
                        "overwrite").save()
    setup_s = time.time() - t_start - datagen_s

    rng = random.Random(seed)
    names = [q for q, _ in MIX]
    latencies: dict[str, list[float]] = {q: [] for q in names}
    passes = 0
    t_window = time.perf_counter()
    with tracer.span("window"):
        # whole passes, each in a seeded order, until ``seconds`` have gone
        # by: every query runs equally often, so neither the mean latency
        # nor the throughput depends on which queries a cut-off pass held
        while passes == 0 or time.perf_counter() - t_window < seconds:
            passes += 1
            for q in rng.sample(names, len(names)):
                attempted += 1
                t = time.perf_counter()
                try:
                    with tracer.span(f"q.{q}"):
                        with tracer.span(f"q.{q}.construct"):
                            df = queries[q](spark, sf_dir)
                        with tracer.span(f"q.{q}.action"):
                            df.write.format("noop").mode("overwrite").save()
                except Exception as exc:  # a failing query is a failed op
                    failed += 1
                    notes.append(f"{q} raised {type(exc).__name__}: {exc}")
                    continue
                latencies[q].append(time.perf_counter() - t)
        window_s = time.perf_counter() - t_window
    runs = sum(len(xs) for xs in latencies.values())

    per_query_ms = [median(xs) * 1000.0 for xs in latencies.values() if xs]
    metrics = {
        "latency_ms": (statistics.geometric_mean(per_query_ms), "ms"),
        "tail_ms": (max(per_query_ms), "ms"),
        # queries completed per second of the window's wall time
        "throughput_per_s": (runs / window_s, "1/s"),
    }
    if tracer.enabled:
        with tracer.span("trace.layers"):
            metrics.update(_layers(tracer, eventlog, latencies))
    return Outcome(
        attempted=attempted, failed=failed, notes=notes, metrics=metrics,
        setup_s=setup_s,
        info={"passes": passes, "query_runs": runs,
              "datagen_s": round(datagen_s, 3)},
    )


def _layers(tracer, eventlog, latencies) -> dict:
    """Per module, summed over its queries, per run of each query:
    construction and action wall time, their job counts, and executor
    time, CPU, GC and shuffle bytes from the event log; per query, its
    median wall time."""
    from metrics import MODULE_FIELDS

    eventlog.poll()
    phases: dict[tuple[str, str], list] = {}
    for s in tracer.spans:
        parts = s.name.split(".")
        if len(parts) == 3 and parts[0] == "q":
            phases.setdefault((parts[1], parts[2]), []).append(s)
    out = {}
    for module in MODULES:
        totals = dict.fromkeys((name for name, _ in MODULE_FIELDS), 0.0)
        for q in (q for q, m in MIX if m == module):
            construct = phases.get((q, "construct"), [])
            action = phases.get((q, "action"), [])
            if not construct:
                continue
            n = len(construct)
            c = eventlog.for_spans(s.span_id for s in construct)
            a = eventlog.for_spans(s.span_id for s in action)
            totals["construct_s"] += sum(s.duration for s in construct) / n
            totals["action_s"] += sum(s.duration for s in action) / n
            totals["jobs_construct"] += c.jobs / n
            totals["jobs_action"] += a.jobs / n
            c.add(a)
            totals["exec_run_s"] += c.run_ms / 1000.0 / n
            totals["exec_cpu_s"] += c.cpu_ns / 1e9 / n
            totals["gc_s"] += c.gc_ms / 1000.0 / n
            totals["shuffle_bytes"] += (c.shuffle_read + c.shuffle_write) / n
        for name, unit in MODULE_FIELDS:
            out[f"{module}.{name}"] = (totals[name], unit)
    for q, xs in latencies.items():
        out[f"q.{q}_s"] = (median(xs) if xs else 0.0, "s")
    return out


def write_fingerprint_file() -> None:
    """Regenerate ``fingerprints.json`` from the current program:

        python3 perfbench/mix.py --write-fingerprints
    """
    import harness

    run_dir = harness.RunDir("fingerprints")
    harness.prepare_process_env(run_dir)
    spark = None
    try:
        spark = harness.start_spark(run_dir, trace=False)
        import datagen

        sf_dir = os.path.join(run_dir.path, "sf")
        datagen.write_tables(sf_dir, SCALE, DATA_SEED)
        import __spark_entry__ as entry

        queries = entry.queries()
        doc = {"scale": SCALE, "data_seed": DATA_SEED, "queries": {
            q: fingerprint(queries[q](spark, sf_dir)) for q, _ in MIX
        }}
        with open(FINGERPRINTS, "w", encoding="utf-8") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
            f.write("\n")
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        run_dir.close()


if __name__ == "__main__":
    import sys

    if sys.argv[1:] != ["--write-fingerprints"]:
        sys.exit("usage: python3 perfbench/mix.py --write-fingerprints")
    write_fingerprint_file()
