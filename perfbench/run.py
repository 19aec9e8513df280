"""Run one graft benchmark workload and print its metrics.

    python3 perfbench/run.py --workload convert|investigate|curate \
        --seed N --seconds S --trace 0|1

Run from anywhere inside a checkout. The first run compiles graft and
the benchmark's Scala code (perfbench/build.py). Inputs are generated
from --seed inside the benchmark JVM; graft only sees the generated
files. With --trace 0
the last stdout line carries the end-to-end metrics, with --trace 1 the
per-layer metrics from the span trace. The exit code is 0 when every
output check passed, 1 when one failed, 2 when the benchmark could not
run at all.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import benchlib  # noqa: E402
import build  # noqa: E402

ROOT = Path(__file__).resolve().parents[1]
OUT = build.BUILD / "out"
DEADLINE_S = 175
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def measured(value):
    return isinstance(value, (int, float)) and value > 0


def calibrate():
    """Milliseconds for a fixed pure-Python loop: a loaded host reads slower."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return (time.perf_counter() - t0) * 1000


def host_snapshot():
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    return {"loadavg": [float(x) for x in load], "calibration_ms": calibrate()}


def run_jvm(args, work, raw_path, log_path, started):
    cmd = ["java", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + str(work / "tmp")]
    for p in JVM_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-cp", build.classpath(), "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--out", str(raw_path)]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)

        def stop(signum, _frame):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail("stopped by signal %d" % signum, 3)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            code = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail("workload did not finish in time; log: %s" % log_path, 3)
    if code != 0 or not raw_path.exists():
        with open(log_path) as f:
            tail = f.read()[-3000:]
        fail("benchmark JVM exited with %d:\n%s" % (code, tail))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.exists():
        fail("no BENCHMARK.json at %s" % ROOT)
    spec = json.loads(spec_path.read_text())
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail("unknown workload %r" % args.workload)
    e2e_spec = {m["name"]: m for m in spec["end_to_end"]}
    layer_spec = {m["name"]: m for m in spec["per_layer"]}
    bad = [n for n in list(e2e_spec) + list(layer_spec) if not benchlib.valid_name(n)]
    if bad:
        fail("invalid metric names in BENCHMARK.json: %s" % bad)

    host = {"nproc": len(os.sched_getaffinity(0)), "start": host_snapshot()}
    try:
        build.build()
    except SystemExit as e:
        fail(str(e))
    # a run must end within 180 s; a first run may take longer to build
    started = time.time()

    OUT.mkdir(parents=True, exist_ok=True)
    tag = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    work = build.BUILD / "work" / tag
    shutil.rmtree(work, ignore_errors=True)
    raw_path, log_path = OUT / ("raw-%s.json" % tag), OUT / ("log-%s.txt" % tag)
    raw_path.unlink(missing_ok=True)
    try:
        run_jvm(args, work, raw_path, log_path, started)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    raw = json.loads(raw_path.read_text())
    host["end"] = host_snapshot()

    e2e = benchlib.end_to_end(raw)
    layers = benchlib.per_layer(raw, args.workload)
    problems = list(raw["failures"])
    # every metric the result line carries must be measured and above 0
    missing = [n for n in e2e_spec if not measured(e2e.get(n))]
    if args.trace:
        missing += [n for n in layer_spec if not measured(layers.get(n, (None,))[0])]
        missing += ["%s (unit %s, BENCHMARK.json says %s)" % (n, layers[n][1], m["unit"])
                    for n, m in layer_spec.items() if n in layers and layers[n][1] != m["unit"]]
    if missing:
        problems.append("metrics not measured or 0: %s" % missing)
    attempted, failed = int(raw["attempted"]), int(raw["failed"])

    print("host: nproc=%d loadavg start=%s end=%s calibration_ms start=%.1f end=%.1f" % (
        host["nproc"], host["start"]["loadavg"], host["end"]["loadavg"],
        host["start"]["calibration_ms"], host["end"]["calibration_ms"]))
    op = raw["samples"].get("op_ms", [])
    print("samples: op=%d (tail = p%d), secondary=%d, setup=%d" % (
        len(op), round(100 * (benchlib.tail_fraction(len(op)) or 0)),
        len(raw["samples"].get("secondary_s", [])), len(raw["samples"].get("setup_s", []))))
    for name, m in e2e_spec.items():
        v = e2e.get(name)
        print("%-28s %14s %s" % (name, "-" if v is None else "%.4f" % v, m["unit"]))
    print("checks: %d attempted, %d failed" % (attempted, failed))
    for p in problems[:20]:
        print("  FAILED: " + p)

    result = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "host": host, "end_to_end": e2e,
              "attempted": attempted, "failed": failed, "failures": problems}
    if args.trace:
        result["per_layer"] = {n: {"value": v, "unit": u} for n, (v, u) in layers.items()}
        result["spans"] = benchlib.span_summary(raw["spans"])
        selfs = benchlib.self_times(raw["spans"])
        trace = [dict(s, self_ms=selfs[s["id"]]) for s in raw["spans"]]
        (OUT / ("trace-%s.json" % tag)).write_text(json.dumps(trace, indent=0))
        report_trace(args, result, e2e_spec)
    (OUT / ("result-%s.json" % tag)).write_text(json.dumps(result, indent=1))

    chosen = {n: v for n, (v, _) in layers.items()} if args.trace else e2e
    wanted = layer_spec if args.trace else e2e_spec
    metrics = {n: {"value": chosen[n], "unit": m["unit"]}
               for n, m in wanted.items() if measured(chosen.get(n))}
    correct = failed == 0 and not missing
    failed += 1 if missing else 0
    print(json.dumps({"correct": correct, "attempted": max(1, attempted, failed),
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


def report_trace(args, result, e2e_spec):
    """Human-readable trace summary and the tracing overhead against the
    untraced run of the same workload and seed, when one exists."""
    rows = sorted(result["spans"].items(), key=lambda kv: -kv[1]["self_ms"])
    print("spans by self time (name, count, total ms, self ms, Spark jobs):")
    for name, row in rows[:25]:
        print("  %-40s %4d %10.1f %10.1f %6d" % (name, row["count"], row["total_ms"],
                                                row["self_ms"], row["jobs"]))
    print("per-layer metrics (the result line carries those in BENCHMARK.json):")
    for name, m in result["per_layer"].items():
        print("%-44s %12.4f %s" % (name, m["value"], m["unit"]))
    base = OUT / ("result-%s-seed%d-trace0.json" % (args.workload, args.seed))
    if not base.exists():
        print("tracing overhead: no untraced run of this workload and seed to compare")
        return
    untraced = json.loads(base.read_text())["end_to_end"]
    overhead = {}
    for name in e2e_spec:
        a, b = result["end_to_end"].get(name), untraced.get(name)
        if a and b:
            overhead[name] = a / b - 1
            print("tracing overhead %-24s %+7.1f%%" % (name, 100 * overhead[name]))
    result["tracing_overhead"] = overhead


if __name__ == "__main__":
    main()
