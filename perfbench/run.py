#!/usr/bin/env python3
"""Run one benchmark workload in a fresh JVM and print its metrics.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 \
        --seconds 5 --trace 0

Builds the engine from this checkout's sources (perfbench/build.py),
runs graftbench.Main on the workload's queries in a closed loop with one
client, checks every query's output against perfbench/reference/, and
prints human-readable lines followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json. --trace 1
reports its per-layer metrics: it first runs an untraced JVM on the
same seed, the baseline of trace.overhead, then the traced one.
--record writes the reference fingerprints from this run instead of
checking against them. Every file a run makes lives under .bench_build/
in the checkout and is removed when the run ends.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build    # noqa: E402
import metrics  # noqa: E402

RUNS_DIR = os.path.join(build.BUILD_DIR, "runs")
# the project's read-only sf0.1 fixtures (see TESTDATA.md)
DATA_DIR = "/root/testdata/sf0.1"
# The heap limit is build.sbt's default driver heap. The heap starts at
# 4 GiB, pre-touched: a run at sf0.1 then never grows it, so neither the
# timings nor the peak RSS depend on when the collector chose to grow a
# smaller heap (see README.md). The RSS moves only with off-heap memory
# or growth past 4 GiB; peak_heap_mb measures the heap the run holds. Hot
# code is compiled after a tenth of the default invocation counts, so
# the few warm sweeps of a run time compiled code instead of a point on
# the JIT warm-up curve. No perf-data file: the JVM would write it
# outside the checkout.
JVM_OPTS = ["-Xms4g", "-Xmx8g", "-XX:+AlwaysPreTouch",
            "-XX:CompileThresholdScaling=0.1", "-XX:-UsePerfData"]
# query orders drawn per run, more than any run's warm phase uses
MAX_SWEEPS = 200

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def load_json(*parts):
    with open(os.path.join(*parts)) as f:
        return json.load(f)


def reference_path(name):
    return os.path.join(HERE, "reference", name + ".json")


def clean_stale_runs():
    """Remove run directories left by runs that were killed."""
    if not os.path.isdir(RUNS_DIR):
        return
    for d in os.listdir(RUNS_DIR):
        try:
            os.kill(int(d.split("-")[0]), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(os.path.join(RUNS_DIR, d), ignore_errors=True)
        except PermissionError:
            pass


def run_workload(classes, wl, seed, seconds, trace, timeout_s, check=True,
                 main_class="graftbench.Main", extra_cp=()):
    """Run one JVM on the workload `wl` and return its run record. The
    run's temp, warehouse, shuffle and checkpoint directories are fresh
    and removed afterwards, so shared tables always start cold. Without
    `check` the run skips the output check."""
    clean_stale_runs()
    os.makedirs(RUNS_DIR, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="%d-" % os.getpid(), dir=RUNS_DIR)
    try:
        dirs = {}
        for sub in ("tmp", "warehouse", "local", "checkpoints"):
            dirs[sub] = os.path.join(run_dir, sub)
            os.makedirs(dirs[sub])
        plan = {
            "data_dir": DATA_DIR,
            "cores": len(os.sched_getaffinity(0)),
            "seconds": seconds,
            "trace": trace,
            "check": check,
            "min_warm": wl["min_warm_sweeps"],
            "shared": wl["shared_builds"],
            "queries": wl["queries"],
            "sweeps": metrics.sweep_orders(wl["queries"], seed, MAX_SWEEPS),
            "out": os.path.join(run_dir, "record.json"),
            "checkpoint_dir": dirs["checkpoints"],
            "warehouse_dir": dirs["warehouse"],
            "local_dir": dirs["local"],
        }
        plan_path = os.path.join(run_dir, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        cp = os.pathsep.join([classes, *extra_cp,
                              os.path.join(build.spark_jars(), "*")])
        cmd = (["java", *JVM_OPTS, "-Djava.io.tmpdir=" + dirs["tmp"],
                "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
               + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
               + ["-cp", cp, main_class, plan_path])
        log_path = os.path.join(run_dir, "jvm.log")
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                    cwd=run_dir)
            try:
                code = proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                code = "on timeout after %.0f s" % timeout_s
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if code != 0 or not os.path.exists(plan["out"]):
            with open(log_path) as f:
                tail = f.read()[-3000:]
            raise RuntimeError("benchmark JVM exited %s\n%s" % (code, tail))
        return load_json(plan["out"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def fmt(v):
    return "%.6g" % v if isinstance(v, float) else str(v)


def print_failures(raw, verdict):
    for q, why in sorted(verdict.items()):
        if why:
            print("check %s: %s" % (q, why))
    for s in raw["sweeps"]:
        for q in s["queries"]:
            if not q["ok"]:
                print("sweep %d %s failed: %s" % (s["index"], q["name"], q["error"]))
    for b in raw["builds"]:
        if not b["ok"]:
            print("shared build %s failed: %s" % (b["name"], b["error"]))


def report(name, seed, wl, raw, reference, spec, untraced=None):
    """Print the run's human-readable lines; return its result object.
    `raw` is the run record; for a traced run, `untraced` is the record
    of its untraced baseline run on the same seed."""
    verdict = metrics.check_outputs(raw["check"], reference, set(wl["rows_only"]))
    attempted, failed = metrics.operations(raw, verdict)
    print_failures(raw, verdict)
    if untraced:
        a, f = metrics.operations(untraced, {})
        attempted, failed = attempted + a, failed + f
        print_failures(untraced, {})
    if wl["rows_only"]:
        print("checked for rows > 0 only (no stable fingerprint): "
              + " ".join(wl["rows_only"]))

    e2e, n = metrics.end_to_end(raw, wl["tail_percentile"])
    print("workload %s seed %d: %d warm sweeps, %d warm query samples, "
          "query_tail_s = p%d, output check %.2f s untimed, failed_frac = %d/%d"
          % (name, seed, len(raw["sweeps"]) - 1, n, wl["tail_percentile"],
             raw["check_s"], failed, attempted))
    if untraced:
        values = metrics.per_layer(raw, untraced)
        base, nb = metrics.end_to_end(untraced, wl["tail_percentile"])
        print("untraced end-to-end (baseline run, same seed, %d warm sweeps, "
              "%d samples): " % (len(untraced["sweeps"]) - 1, nb) + " ".join(
                  "%s=%s" % (k, fmt(v)) for k, v in base.items()))
        for k, v in sorted(metrics.self_time_totals(raw).items()):
            where = "in set-up" if k.startswith("setup.") else "per warm sweep"
            print("self time %-14s %-20s %.4f s" % (where, k, v))
        missing = metrics.incomplete(raw)
        if missing:
            print("layer numbers incomplete (listener drain timed out): "
                  + " ".join(missing))
        spec = spec["per_layer"]
    else:
        values = e2e
        spec = spec["end_to_end"]
    out = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}
    for k, v in out.items():
        print("%-28s %s %s" % (k, fmt(v["value"]), v["unit"]))
    return {"correct": failed == 0, "attempted": attempted,
            "failed": failed, "metrics": out}


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()

    spec = load_json(build.ROOT, "BENCHMARK.json")
    workloads = load_json(HERE, "workloads.json")["workloads"]
    if args.workload not in workloads:
        raise RuntimeError("unknown workload %r (have: %s)"
                           % (args.workload, ", ".join(workloads)))
    wl = workloads[args.workload]
    if not os.path.isdir(DATA_DIR):
        raise RuntimeError("fixture directory %s is missing" % DATA_DIR)
    reference = {} if args.record else load_json(reference_path(args.workload))["queries"]

    classes, compiled = build.build()
    # a run that compiled first gets the first-run allowance
    deadline = t_start + (880 if compiled else 175)

    def run_jvm(w, seconds, trace, check):
        return run_workload(classes, w, args.seed, seconds, trace,
                            deadline - time.monotonic(), check=check)

    if args.trace:
        # A traced run is two JVMs, so its untraced baseline measures
        # --seconds of warm sweeps (at least one) rather than the
        # workload's minimum, and skips the output check. The traced JVM
        # then makes exactly as many warm sweeps, in the same orders, so
        # trace.overhead compares the same points of JIT warm-up.
        untraced = run_jvm(dict(wl, min_warm_sweeps=1), args.seconds, 0, False)
        same = dict(wl, min_warm_sweeps=len(metrics.warm(untraced)))
        raw = run_jvm(same, 0, 1, True)
    else:
        untraced = None
        raw = run_jvm(wl, args.seconds, 0, True)
    if args.record:
        reference = {c["name"]: {"rows": c["rows"], "hash": c["hash"]}
                     for c in raw["check"] if c["ok"]}
        with open(reference_path(args.workload), "w") as f:
            json.dump({"queries": reference}, f, indent=1, sort_keys=True)
            f.write("\n")
        print("recorded %d of %d fingerprints" % (len(reference), len(raw["check"])))
    result = report(args.workload, args.seed, wl, raw, reference, spec, untraced)
    print(json.dumps(result))


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    except (RuntimeError, OSError, KeyError, ValueError) as e:
        print("benchmark failed: %s" % e, file=sys.stderr)
        sys.exit(1)
