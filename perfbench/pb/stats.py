"""Percentiles, trace arithmetic and the per-layer metrics of a traced run."""
import math
import statistics

MIN_BEYOND = 10  # a tail percentile needs this many samples above it
SELF_TIME_TOLERANCE = 0.05  # traced self-times must cover op wall to 5%


# every per-layer metric a traced run reports, with its unit
UNITS = {
    "parser.parse_ms": "ms", "compiler.compile_ms": "ms", "exec.execute_ms": "ms",
    "exec.self_ms": "ms", "exec.rows_out": "rows", "exec.out_bytes": "bytes",
    "spark.actions": "count", "spark.analysis_ms": "ms", "spark.optimization_ms": "ms",
    "spark.planning_ms": "ms", "spark.first_job_ms": "ms", "spark.idle_frac": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.job_span_ms": "ms",
    "spark.task_ms": "ms", "spark.input_records": "rows", "spark.input_bytes": "bytes",
    "spark.records_per_row_out": "ratio", "spark.shuffle_bytes": "bytes", "spark.gc_ms": "ms",
    "spark.codegen_compiles": "count", "spark.codegen_ms": "ms", "model.open_ms": "ms",
    "model.build_ms": "ms", "model.files_discovered": "count", "ml.bm25_ms": "ms",
    "ml.ivf_ms": "ms", "ml.sq8_ms": "ms", "ml.pq_ms": "ms", "ml.rrf_ms": "ms",
    "ml.candidates_per_result": "ratio", "ingest.load_ms": "ms", "ingest.poll_ms": "ms",
    "ingest.compact_ms": "ms",
    "ingest.compactions": "count", "ingest.bytes_written": "bytes", "ingest.files_live": "count",
    "trace.overhead_frac": "ratio", "trace.uncovered_frac": "ratio",
}


class TooFewSamples(ValueError):
    pass


def percentile(values, p):
    """The p-th percentile (nearest rank). A tail percentile (p > 50) is
    refused unless at least MIN_BEYOND samples lie beyond it."""
    n = len(values)
    if n == 0:
        raise TooFewSamples("no samples")
    if p > 50 and math.floor(n * (100 - p) / 100) < MIN_BEYOND:
        raise TooFewSamples(f"p{p} needs {MIN_BEYOND} samples beyond it, have n={n}")
    if p == 50:
        return statistics.median(values)
    s = sorted(values)
    return s[min(n - 1, max(0, math.ceil(p / 100 * n) - 1))]


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals`, optionally clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, end = 0, None
    for a, b in sorted(clipped):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover."""
    a, b = span
    return (b - a) - union_length(children, a, b)


def _pair_jobs(records):
    starts, ends = {}, {}
    for r in records:
        if r["kind"] == "job_start":
            starts[r["job"]] = r["t_ms"] * 1_000_000
        elif r["kind"] == "job_end":
            ends[r["job"]] = r["t_ms"] * 1_000_000
    return [(starts[j], ends.get(j, starts[j])) for j in starts]


def _phases(records):
    """Per action, its Catalyst phases as (name, t0, t1) in epoch ns."""
    out = []
    for r in records:
        if r["kind"] == "action":
            ph = [(k, v["t0_ms"] * 1_000_000, v["t1_ms"] * 1_000_000)
                  for k, v in r["phases"].items()]
            out.append(ph)
    return out


def per_op_layers(op, spans, jobs, actions, stages):
    """Layer figures of one traced op (times in ms). `spans` are the op's
    harness spans; jobs, actions and stages are attributed by time."""
    t0, t1 = op["t0"], op["t1"]
    ms = 1e-6
    within = lambda t: t0 <= t <= t1
    my_jobs = [j for j in jobs if within(j[0])]
    my_actions = [a for a in actions if a and within(max(p[2] for p in a))]
    my_stages = [s for s in stages if within(s["t0_ms"] * 1_000_000)]
    phase_iv = [(p[1], p[2]) for a in my_actions for p in a
                if p[0] in ("analysis", "optimization", "planning")]
    spark_iv = phase_iv + my_jobs
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append((s["t0"], s["t1"]))
    dur = lambda name: sum(b - a for a, b in by.get(name, [])) * ms
    selfs = {name: sum(self_time(iv, spark_iv) for iv in ivs) * ms for name, ivs in by.items()}
    phase = lambda k: sum(p[2] - p[1] for a in my_actions for p in a if p[0] == k) * ms
    task_ms = sum(s.get("task_ms", 0) for s in my_stages)
    out = {
        "parser.parse_ms": dur("parser.parse"),
        "compiler.compile_ms": dur("compiler.compile"),
        "exec.execute_ms": dur("exec.execute"),
        "exec.self_ms": selfs.get("exec.execute", 0.0),
        "spark.actions": len(my_actions),
        "spark.analysis_ms": phase("analysis"),
        "spark.optimization_ms": phase("optimization"),
        "spark.planning_ms": phase("planning"),
        "spark.jobs": len(my_jobs),
        "spark.stages": len(my_stages),
        "spark.job_span_ms": union_length(my_jobs) * ms,
        "spark.task_ms": task_ms,
        "spark.input_records": sum(s.get("input_records", 0) for s in my_stages),
        "spark.input_bytes": sum(s.get("input_bytes", 0) for s in my_stages),
        "spark.shuffle_bytes": sum(s.get("shuffle_bytes", 0) for s in my_stages),
        "spark.gc_ms": sum(s.get("gc_ms", 0) for s in my_stages),
        "spark.codegen_compiles": op.get("codegen_compiles", 0),
        "spark.codegen_ms": op.get("codegen_ms", 0),
        "model.files_discovered": op.get("files_discovered", 0),
        "ingest.load_ms": dur("ingest.load"),
        "ingest.poll_ms": dur("ingest.poll"),
        "ingest.compact_ms": dur("ingest.compact"),
    }
    for tier in ("bm25", "ivf", "sq8", "pq", "rrf"):
        out[f"ml.{tier}_ms"] = dur(f"ml.{tier}")
    if my_jobs:
        out["spark.first_job_ms"] = (min(j[0] for j in my_jobs) - t0) * ms
    # every named layer's self time plus the Spark time under the spans
    covered = sum(selfs.values()) + union_length(
        spark_iv, min((a for ivs in by.values() for a, _ in ivs), default=t0),
        max((b for ivs in by.values() for _, b in ivs), default=t1)) * ms
    out["_covered_ms"] = covered
    out["_wall_ms"] = (t1 - t0) * ms
    return out


def layer_metrics(results, records, summary, cores, untraced_ops_per_s):
    """Per-layer metrics of a traced run: means per op, except the ratios
    (aggregate over the run) and the per-run ingest figures. The overhead
    is set against the untraced run of the same ops."""
    jobs = _pair_jobs(records)
    actions = _phases(records)
    stages = [r for r in records if r["kind"] == "stage"]
    spans = {}
    for r in records:
        if r["kind"] == "span":
            spans.setdefault(r["op"], []).append(r)
    per = [per_op_layers(r, spans.get(r["id"], []), jobs, actions, stages) for r in results]
    n = max(1, len(per))
    tot = lambda k: sum(p.get(k, 0) for p in per)
    m = dict.fromkeys(UNITS, 0.0)
    m.update({k: tot(k) / n for k in per[0] if not k.startswith("_")} if per else {})
    first = [p["spark.first_job_ms"] for p in per if "spark.first_job_ms" in p]
    m["spark.first_job_ms"] = statistics.mean(first) if first else 0.0
    span = tot("spark.job_span_ms")
    m["spark.idle_frac"] = 1 - tot("spark.task_ms") / (cores * span) if span else 0.0
    rows = sum(r.get("rows_out", 0) for r in results)
    m["exec.rows_out"] = rows / n
    m["exec.out_bytes"] = sum(r.get("out_bytes", 0) for r in results) / n
    # ratios over the ops that return rows (or ask for top-k), so the
    # ingest ops of a mixed workload do not count their input
    read = lambda key: sum(p["spark.input_records"] for p, r in zip(per, results) if key in r)
    m["spark.records_per_row_out"] = read("rows_out") / rows if rows else 0.0
    asked = sum(r.get("asked", 0) for r in results)
    m["ml.candidates_per_result"] = read("asked") / asked if asked else 0.0
    m["model.open_ms"] = summary.get("open_ms", 0.0)
    m["model.build_ms"] = summary.get("build_ms", 0.0)
    m["ingest.compactions"] = summary.get("compactions", 0)
    m["ingest.bytes_written"] = summary.get("bytes_written", 0)
    m["ingest.files_live"] = summary.get("files_live", 0)
    m["trace.overhead_frac"] = 1 - len(results) / summary["loop_s"] / untraced_ops_per_s
    gaps = [abs(p["_wall_ms"] - p["_covered_ms"]) / p["_wall_ms"] for p in per if p["_wall_ms"]]
    m["trace.uncovered_frac"] = statistics.median(gaps) if gaps else 0.0
    return m
