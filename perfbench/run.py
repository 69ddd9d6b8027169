#!/usr/bin/env python3
"""Connector benchmark: Active911 envelopes -> pipeline -> CloudTAK posts.

    python3 perfbench/run.py --workload fleet_links --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --probe-decode

Run from the repository root. The program and the benchmark are built from
source first (perfbench/build.py). One run launches one JVM that sets up
a Spark session, generates the workload's inputs from the seed, runs it
and checks every post against what the generator intended. Report lines
go to stderr; the last line of stdout is one JSON object with `correct`,
`attempted`, `failed` and `metrics` (end-to-end metrics with --trace 0,
per-layer ones with --trace 1, the names in BENCHMARK.json).

--probe-decode is a one-off, outside the gated runs: it finds the largest
single envelope `alertsFromEnvelopes` decodes, one forked JVM per size.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("fleet_links", "county_bulk", "lookback_stream")
COLD_TWICE = ("fleet_links", "county_bulk")
TIMEOUT_S = 170
HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs these opens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_command(classes, work, main, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    return [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", *opens,
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, main, *args]


def run_jvm(cmd, work, timeout):
    """Run one JVM; relay its `#` report lines to stderr; return (exit
    code, RESULT object or None, tail of its log)."""
    log_path = os.path.join(work, "jvm.log")
    result = None
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=work)
        timer = threading.Timer(timeout, proc.kill)
        timer.start()
        try:
            for line in proc.stdout:
                if line.startswith("RESULT "):
                    result = json.loads(line[len("RESULT "):])
                elif line.startswith("# "):
                    print(line.rstrip("\n")[2:], file=sys.stderr, flush=True)
            code = proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    with open(log_path) as fh:
        tail = fh.read()[-3000:]
    return code, result, tail


def metric_units(trace):
    """Name -> unit of the metrics a run reports, from BENCHMARK.json."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def bench(args, classes, work):
    deadline = time.time() + TIMEOUT_S

    def launch(mode):
        t0_ms = time.time() * 1000
        cmd = jvm_command(classes, work, "perfbench.Main",
                          [args.workload, str(args.seed), str(args.seconds), mode,
                           repr(t0_ms), work])
        code, result, tail = run_jvm(cmd, work, timeout=max(1.0, deadline - time.time()))
        if code != 0 or result is None:
            print(f"benchmark JVM failed (exit {code}):\n{tail}", file=sys.stderr)
        return result if code == 0 else None

    # A batch run's set-up and cold cycle are single samples per JVM and
    # spread ~20 % between runs; a cold-only JVM first gives a second one.
    colds = []
    if not args.trace and args.workload in COLD_TWICE:
        colds.append(launch("cold"))
        if colds[0] is None:
            return 1
    main_result = launch(str(args.trace))
    if main_result is None:
        return 1
    runs = colds + [main_result]
    values = dict(main_result["metrics"])
    if colds:
        for k in ("setup_s", "cold_cycle_s"):
            values[k] = statistics.median(r["metrics"][k] for r in runs)
    units = metric_units(args.trace)
    if set(values) != set(units):
        print(f"metric names differ from BENCHMARK.json: missing {sorted(set(units) - set(values))}, "
              f"extra {sorted(set(values) - set(units))}", file=sys.stderr)
        return 1
    bad = [k for k, v in values.items() if not math.isfinite(v)]
    if bad:
        print(f"metrics not measured: {bad}", file=sys.stderr)
        return 1
    failed = sum(r["failed"] for r in runs)
    print(json.dumps({
        "correct": failed == 0, "attempted": sum(r["attempted"] for r in runs),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in sorted(values)}}))
    return 0


def probe(classes, work):
    """Largest alerts-per-envelope that decodes: double until a failure,
    then bisect to 25 alerts."""
    def attempt(n):
        code, result, tail = run_jvm(
            jvm_command(classes, work, "perfbench.Probe", [str(n)]), work, timeout=600)
        if result is None:
            lines = [l for l in tail.splitlines() if "Error" in l or "Exception" in l]
            result = {"alerts": n, "ok": False,
                      "error": f"JVM exit {code}: " + (lines[0].strip() if lines else "no output")}
        print(json.dumps(result), file=sys.stderr, flush=True)
        return result

    ok, bad, n = None, None, 100
    while n <= 6400:
        r = attempt(n)
        if r["ok"]:
            ok = r
            n *= 2
        else:
            bad = r
            break
    if bad is not None and ok is not None:
        while bad["alerts"] - ok["alerts"] > 25:
            r = attempt((ok["alerts"] + bad["alerts"]) // 2)
            if r["ok"]:
                ok = r
            else:
                bad = r
    print(json.dumps({"largest_ok": ok, "smallest_failing": bad}))
    return 0


def main():
    # a kill of this runner still stops the JVM: run_jvm's finally kills it
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, lambda signum, _: sys.exit(128 + signum))
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--probe-decode", action="store_true")
    args = p.parse_args()
    if not args.probe_decode and args.workload is None:
        p.error("--workload is required")
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    work = os.path.join(build.out_root(), f"work-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        return probe(classes, work) if args.probe_decode else bench(args, classes, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
