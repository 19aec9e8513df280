"""Metric arithmetic for the graft benchmark.

Turns the raw record a benchmark JVM writes (samples, scalars, checks,
spans) into the end-to-end and per-layer metrics named in BENCHMARK.json.
Pure functions only, so perfbench/test_benchlib.py can pin the rules.
"""

import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# The span that is one repeated user operation in each workload; the
# per-layer spark.* counts are medians over these spans.
OP_SPAN = {"convert": "convert.rep", "investigate": "route.query", "curate": "curate.batch"}

ANALYSIS_SECTIONS = ["summary", "top_types", "categories", "byte_array_distribution",
                     "large_byte_arrays"]
ANALYSIS_CHECKS = ["duplicate_strings", "bad_collections", "bad_object_arrays",
                   "bad_primitive_arrays", "boxed_numbers", "collection_sizing",
                   "duplicate_byte_arrays", "class_count", "gc_roots", "direct_byte_buffers",
                   "thread_stacks", "duplicate_object_arrays", "estimated_shallow_size"]
ROUTES = ["query", "analyze", "diff", "tables"]

SPARK_COUNTS = {
    # metric suffix: (count field, scale to the metric's unit, unit)
    "jobs": ("jobs", 1.0, "count"),
    "stages": ("stages", 1.0, "count"),
    "tasks": ("tasks", 1.0, "count"),
    "executor_run_s": ("executor_run_ms", 1e-3, "s"),
    "executor_cpu_s": ("executor_cpu_ns", 1e-9, "s"),
    "input_mb": ("input_bytes", 1e-6, "MB"),
    "shuffle_read_mb": ("shuffle_read_bytes", 1e-6, "MB"),
    "shuffle_write_mb": ("shuffle_write_bytes", 1e-6, "MB"),
    "spill_mb": ("spill_bytes", 1e-6, "MB"),
    "gc_s": ("gc_ms", 1e-3, "s"),
}


def valid_name(name):
    return bool(NAME_RE.match(name))


def median(values):
    return statistics.median(values) if values else None


def tail_fraction(n):
    """The percentile reported as the tail of n samples: the highest one,
    up to p90, that leaves at least 10 samples beyond it, and never below
    the median."""
    if n <= 0:
        return None
    return max(0.5, min(0.9, 1.0 - 10.0 / n))


def percentile(values, frac):
    """Linear interpolation between closest ranks (rank = frac * (n - 1))."""
    xs = sorted(values)
    if not xs:
        return None
    rank = frac * (len(xs) - 1)
    lo = int(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def tail(values):
    """(value, fraction) of the tail percentile of values."""
    frac = tail_fraction(len(values))
    return (percentile(values, frac), frac) if frac is not None else (None, None)


def covered(intervals, lo, hi):
    """Length of [lo, hi] that the union of the (start, end) intervals covers."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans):
    """Span id -> self time in ms: the span's duration minus the part of
    its interval that its child spans cover (overlapping children count
    once)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"])
            - covered(children.get(s["id"], []), s["start_ms"], s["end_ms"]) for s in spans}


def span_summary(spans):
    """Per span name: count, total and self time (ms), and Spark jobs."""
    selfs = self_times(spans)
    table = {}
    for s in spans:
        row = table.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0, "jobs": 0})
        row["count"] += 1
        row["total_ms"] += s["end_ms"] - s["start_ms"]
        row["self_ms"] += selfs[s["id"]]
        row["jobs"] += (s.get("counts") or {}).get("jobs", 0)
    return table


def end_to_end(raw):
    """Every end-to-end metric value (None when the run did not measure it)."""
    samples, scalars = raw["samples"], raw["scalars"]
    op = samples.get("op_ms", [])
    return {
        "op_p50_ms": median(op),
        "op_tail_ms": tail(op)[0],
        "rate_per_s": median(samples.get("rate", [])),
        "secondary_p50_s": median(samples.get("secondary_s", [])),
        "out_bytes_per_in_byte": median(samples.get("out_bytes_per_in_byte", [])),
        "setup_s": median(samples.get("setup_s", [])),
        "heap_peak_mb": scalars.get("heap_peak_mb"),
    }


def per_layer(raw, workload):
    """The per-layer metrics the traced run recorded: name -> (value, unit).
    A layer the workload never calls leaves no span or sample and so has
    no metric; BENCHMARK.json lists the ones every workload records."""
    samples, spans = raw["samples"], raw["spans"]
    m = {}

    def put(name, value, unit):
        if value is not None:
            m[name] = (value, unit)

    def span_ms(name):
        return median([s["end_ms"] - s["start_ms"] for s in spans if s["name"] == name])

    def span_s(metric, name):
        ms = span_ms(name)
        put(metric, None if ms is None else ms * 1e-3, "s")

    def span_diff_s(metric, name, minus):
        a, b = span_ms(name), span_ms(minus)
        put(metric, None if a is None or b is None else max(0.0, a - b) * 1e-3, "s")

    def jobs(metric, name):
        put(metric, median([s["counts"]["jobs"] for s in spans
                            if s["name"] == name and s.get("counts")]), "count")

    def sample(metric, unit):
        put(metric, median(samples.get(metric, [])), unit)

    span_s("hprof.header_walk_s", "hprof.header_walk")
    span_diff_s("heapdump.pass1_s", "heapdump.construct", "hprof.header_walk")
    span_s("heapdump.export_s", "heapdump.export")
    ops = [s for s in spans if s["name"] == OP_SPAN[workload] and s.get("counts")]
    if ops:
        for suffix, (field, scale, unit) in SPARK_COUNTS.items():
            put("spark." + suffix, median([s["counts"][field] * scale for s in ops]), unit)
        # the repeated operation's wall time inside running Spark jobs, and the
        # rest: graft's own work in the calling JVM (planning, listing, footers, HTTP)
        in_jobs = [covered(raw.get("jobs", []), s["start_ms"], s["end_ms"]) for s in ops]
        put("spark.job_wall_s", median(in_jobs) * 1e-3, "s")
        put("graft.outside_jobs_s", median([s["end_ms"] - s["start_ms"] - j
                                            for s, j in zip(ops, in_jobs)]) * 1e-3, "s")
    sample("export.files", "count")
    sample("export.mb", "MB")

    sample("investigate.open_s", "s")
    sample("investigate.switch_s", "s")
    sample("investigate.analyze_s", "s")
    sample("investigate.diff_s", "s")
    sample("investigate.tables_ms", "ms")
    sample("http.overhead_ms", "ms")
    span_s("sessions.register_s", "sessions.register")
    put("sessions.query_analyze_ms", span_ms("sessions.query_analyze"), "ms")
    put("sessions.collect_ms", span_ms("sessions.collect"), "ms")
    for name in ANALYSIS_SECTIONS:
        span_s("analysis.section.%s_s" % name, "analysis.section." + name)
    for name in ANALYSIS_CHECKS:
        span_s("analysis.check.%s_s" % name, "analysis.check." + name)
        jobs("analysis.check.%s.jobs" % name, "analysis.check." + name)
    span_s("heapdiff.type_delta_s", "heapdiff.type_delta")
    for route in ROUTES:
        jobs("spark.jobs_per_req." + route, "route." + route)

    sample("curate.docs_s", "1/s")
    span_s("dedup.exact_s", "dedup.exact")
    span_s("dedup.jaccard_pairs_s", "dedup.jaccard_pairs")
    span_s("components.cluster_s", "components.cluster")
    sample("dedup.accepted_per_candidate", "ratio")
    span_s("editdist.blocking_s", "editdist.blocking")
    span_diff_s("editdist.verify_s", "editdist.full", "editdist.blocking")
    span_s("index.probe_s", "index.probe")
    span_s("index.append_s", "index.append")
    span_s("index.remove_s", "index.remove")
    span_s("index.compact_s", "index.compact")
    sample("index.files", "count")
    return m
