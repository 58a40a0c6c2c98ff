"""Turn one run's raw records (JSON lines written by perfbench.Main) into
the benchmark's metrics. Pure functions, tested in perfbench/tests."""
import math
import statistics

TAIL_PERCENTILES = (99, 95, 90, 75, 50)


def percentile(values, p):
    """Linear-interpolated p-th percentile (0..100) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n, beyond=10):
    """Highest of TAIL_PERCENTILES that leaves at least `beyond` of `n`
    samples above it, or None when even the median does not."""
    for p in TAIL_PERCENTILES:
        if n * (100 - p) / 100.0 >= beyond:
            return p
    return None


def quartile_spread(values):
    """Interquartile distance as a share of the median, with the quartiles
    of statistics.quantiles(values, n=4)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def self_times(spans):
    """Span id -> self seconds: the span's duration minus the part of its
    interval covered by its children (overlapping children counted once,
    clipped to the parent)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        start, end = s["start_ns"], s["end_ns"]
        covered, cursor = 0, start
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], cursor), min(c["end_ns"], end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s["id"]] = (end - start - covered) / 1e9
    return out


# per-layer span metrics: span name -> median self seconds per call;
# query families report the median whole duration of their spans
SPAN_METRICS = [
    "standards.generate", "standards.staging", "io.land_to_bronze",
    "io.bronze_to_silver", "warehouse.star", "analytics.marts", "ml.fit",
    "ml.score", "ml.registry", "text.curation", "dedup.index_build",
    "dedup.index_ingest",
    "ops.commit", "ops.merge", "ops.delete_mor", "ops.compact",
    "ops.manifest_read", "ops.read", "sources.read", "sources.time_travel",
    "graph.call",
]
QUERY_FAMILIES = ["scan", "join", "agg", "window", "timejoin", "tpch", "mv",
                  "graph", "clinical"]
# Spark counters: (metric, counter, scale, unit), reported per op
SPARK_COUNTERS = [
    ("spark.jobs", "jobs", 1, "count"),
    ("spark.stages", "stages", 1, "count"),
    ("spark.tasks", "tasks", 1, "count"),
    ("spark.task_wait_s", "task_wait_ms", 1e-3, "s"),
    ("spark.executor_run_s", "executor_run_ms", 1e-3, "s"),
    ("spark.executor_cpu_s", "executor_cpu_ns", 1e-9, "s"),
    ("spark.gc_s", "gc_ms", 1e-3, "s"),
    ("spark.shuffle_write_mb", "shuffle_write_bytes", 1 / 2**20, "MB"),
    ("spark.shuffle_read_mb", "shuffle_read_bytes", 1 / 2**20, "MB"),
    ("spark.spill_mb", "spill_bytes", 1 / 2**20, "MB"),
    ("spark.input_mb", "input_bytes", 1 / 2**20, "MB"),
    ("spark.output_mb", "output_bytes", 1 / 2**20, "MB"),
]

END_TO_END_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "op_p50_s": "s",
                    "retained_mb": "MB"}


def per_layer_units():
    units = {"trace.op_p50_s": "s", "trace.ops_per_s": "1/s",
             "trace.op_tail_s": "s",
             "lakehouse.write_p50_s": "s", "lakehouse.read_p50_s": "s",
             "queries.exec_s": "s",
             "plans.analysis_ms": "ms", "plans.optimization_ms": "ms",
             "plans.planning_ms": "ms",
             "ops.groups_per_read": "count", "ops.storage_amp": "ratio",
             "sources.rows_scanned_per_row_returned": "ratio",
             "text.stages_per_pass": "count"}
    units.update({f"{n}_s": "s" for n in SPAN_METRICS})
    units.update({f"queries.{f}.p50_s": "s" for f in QUERY_FAMILIES})
    units.update({m: u for m, _, _, u in SPARK_COUNTERS})
    return units


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def kind_median(ops):
    """Median over op kinds of each kind's median time, for successful
    ops: every kind in the mix weighs the same however often it runs, and
    the noise of single executions is damped before the kinds are
    ranked."""
    by_kind = {}
    for r in ops:
        if r["ok"]:
            by_kind.setdefault(r["kind"], []).append((r["end_ns"] - r["start_ns"]) / 1e9)
    return _median([statistics.median(ts) for ts in by_kind.values()])


def summarize(records, traced):
    """Records -> (attempted, failed, metrics dict name -> (value, unit)).

    A failed op (thrown or output mismatch) counts in `failed` and is left
    out of the latency samples: it is never a fast success."""
    setup = next(r for r in records if r["type"] == "setup")
    end = next(r for r in records if r["type"] == "end")
    ops = [r for r in records if r["type"] == "op"]
    attempted = len(ops)
    failed = sum(1 for r in ops if not r["ok"])
    ok = [(r["end_ns"] - r["start_ns"]) / 1e9 for r in ops if r["ok"]]
    busy = sum((r["end_ns"] - r["start_ns"]) / 1e9 for r in ops)
    p50 = kind_median(ops)
    ops_per_s = len(ok) / busy if busy > 0 else 0.0
    if not traced:
        values = {
            "setup_s": setup["session_s"] + statistics.median(setup["generate_s"])
            + setup["warmup_s"],
            "ops_per_s": ops_per_s,
            "op_p50_s": p50,
            "retained_mb": end["retained_mb"],
        }
        return attempted, failed, {k: (v, END_TO_END_UNITS[k]) for k, v in values.items()}

    # spans of the measured ops only, not of a warm-up on the client thread
    spans = [r for r in records if r["type"] == "span" and r["op"] >= 0]
    own = self_times(spans)
    by_name, dur_by_name = {}, {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(own[s["id"]])
        dur_by_name.setdefault(s["name"], []).append((s["end_ns"] - s["start_ns"]) / 1e9)
    counters = {}
    for r in records:
        if r["type"] == "counter":
            key = (r["span"], r["name"])
            counters[key] = counters.get(key, 0.0) + r["value"]

    def total(name, span=None):
        return sum(v for (s, n), v in counters.items()
                   if n == name and (span is None or s == span))

    n_ops = max(attempted, 1)
    tail = tail_percentile(len(ok))
    values = {
        "trace.op_p50_s": p50,
        "trace.ops_per_s": ops_per_s,
        "trace.op_tail_s": percentile(ok, tail) if tail else (max(ok) if ok else 0.0),
        "lakehouse.write_p50_s": _median([(r["end_ns"] - r["start_ns"]) / 1e9 for r in ops
                                          if r["ok"] and r["kind"].startswith("write.")]),
        "lakehouse.read_p50_s": _median([(r["end_ns"] - r["start_ns"]) / 1e9 for r in ops
                                         if r["ok"] and r["kind"].startswith("read.")]),
        "queries.exec_s": _median([t for n, ts in dur_by_name.items()
                                   if n.startswith("queries.") for t in ts]),
        "plans.analysis_ms": total("analysis_ms") / n_ops,
        "plans.optimization_ms": total("optimization_ms") / n_ops,
        "plans.planning_ms": total("planning_ms") / n_ops,
        "ops.groups_per_read": total("ops.groups_read") / total("ops.reads")
        if total("ops.reads") else 0.0,
        "ops.storage_amp": total("ops.storage_amp"),
        "sources.rows_scanned_per_row_returned":
            total("sources.rows_scanned") / total("sources.rows_returned")
            if total("sources.rows_returned") else 0.0,
        "text.stages_per_pass": total("stages", "text.curation") / len(by_name["text.curation"])
        if by_name.get("text.curation") else 0.0,
    }
    for n in SPAN_METRICS:
        values[f"{n}_s"] = _median(by_name.get(n, []))
    for f in QUERY_FAMILIES:
        values[f"queries.{f}.p50_s"] = _median(dur_by_name.get(f"queries.{f}", []))
    for metric, counter, scale, _ in SPARK_COUNTERS:
        values[metric] = total(counter) * scale / n_ops
    units = per_layer_units()
    return attempted, failed, {k: (v, units[k]) for k, v in values.items()}
