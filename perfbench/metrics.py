"""Metric arithmetic of the benchmark, kept free of I/O so the self-tests
can drive it with hand-made run records.

A run record is what graftbench.Main writes: shared builds, sweeps of
per-query samples (the first sweep cold, the rest warm), the untimed
output check, the spans of a traced run, the JVM's peak RSS and its
peak heap occupancy after a garbage collection.
"""
import math
import random
import statistics

MIB = 1024.0 * 1024.0


def sweep_orders(queries, seed, count):
    """`count` query orders for one run: each a permutation of the
    workload's query list drawn from `seed`. The seed changes the order,
    never the set."""
    rng = random.Random(seed)
    orders = []
    for _ in range(count):
        order = list(queries)
        rng.shuffle(order)
        orders.append(order)
    return orders


def tail_percentile(n):
    """Highest whole percentile with at least ten of `n` samples above
    it (nearest-rank), or None when n <= 10."""
    for p in range(99, 0, -1):
        if n - math.ceil(p * n / 100.0) >= 10:
            return p
    return None


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(values)
    return s[max(0, math.ceil(p * len(s) / 100.0) - 1)]


def self_times(spans):
    """Self time (ms) of each span: its duration minus the part of its
    interval that its children cover (overlapping children count once,
    and only inside the parent's interval)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        ivs = sorted((max(lo, c["start"]), min(hi, c["end"]))
                     for c in children.get(s["id"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def span_roots(spans):
    """Map span id -> its root span's group."""
    by_id = {s["id"]: s for s in spans}
    group = {}
    for s in spans:
        r = s
        while r["parent"] >= 0:
            r = by_id[r["parent"]]
        group[s["id"]] = r.get("group")
    return group


def check_outputs(check, reference, rows_only):
    """Compare the run's fingerprints with the reference. Returns
    {query: None if it passes, else the reason}."""
    verdict = {}
    for c in check:
        name = c["name"]
        ref = reference.get(name)
        if not c.get("ok"):
            verdict[name] = "threw: " + str(c.get("error"))
        elif ref is None:
            verdict[name] = "no reference fingerprint"
        elif name in rows_only:
            verdict[name] = None if c["rows"] > 0 else "empty result"
        elif (c["rows"], c["hash"]) != (ref["rows"], ref["hash"]):
            verdict[name] = "fingerprint %s:%s != reference %s:%s" % (
                c["rows"], c["hash"], ref["rows"], ref["hash"])
        else:
            verdict[name] = None
    return verdict


def operations(raw, verdict):
    """(attempted, failed): every shared build, every timed query
    execution and every output check is one operation. A build or query
    fails if it threw; a check fails if it threw or its output does not
    match the reference."""
    ops = [b["ok"] for b in raw["builds"]]
    ops += [q["ok"] for s in raw["sweeps"] for q in s["queries"]]
    ops += [v is None for v in verdict.values()]
    return len(ops), sum(1 for ok in ops if not ok)


def warm(raw):
    """The warm sweeps of a run: every sweep after the cold one."""
    return raw["sweeps"][1:]


def end_to_end(raw, tail_pct):
    """The end-to-end metrics of a run."""
    sweeps = warm(raw)
    samples = [q["wall_s"] for s in sweeps for q in s["queries"] if q["ok"]]
    return {
        "setup_s": raw["setup_s"],
        "cold_sweep_s": raw["sweeps"][0]["wall_s"],
        "sweep_s": statistics.median(s["wall_s"] for s in sweeps),
        "query_p50_s": statistics.median(samples),
        "query_tail_s": percentile(samples, tail_pct),
        "peak_rss_mb": raw["peak_rss_kb"] / 1024.0,
        "peak_heap_mb": raw["peak_heap_b"] / MIB,
    }, len(samples)


def _per_sweep(sweeps, f):
    """Median over sweeps of a per-sweep total."""
    return statistics.median(f(s) for s in sweeps) if sweeps else 0.0


def _win_sum(sweep, key):
    return sum(q["window"][key] for q in sweep["queries"] if q.get("window"))


def per_layer(raw, untraced):
    """Per-layer metrics of a traced run: per-sweep totals over its warm
    sweeps (median across them), the shared builds of its set-up, and
    the trace's own coverage and its overhead over `untraced`, the
    record of an untraced run on the same seed."""
    traced = warm(raw)
    builds = {b["name"]: b for b in raw["builds"]}

    def tot(key, scale=1.0):
        return _per_sweep(traced, lambda s: _win_sum(s, key) * scale)

    def qsum(s, key):
        return sum(q[key] or 0.0 for q in s["queries"])

    nq = len(traced[0]["queries"]) if traced else 1
    wins = [b["window"] for b in raw["builds"] if b.get("window")]
    batch_ms = [ms for s in traced for q in s["queries"] if q.get("window")
                for ms in q["window"]["batch_ms"]]
    run_s = tot("run_ms", 1e-3)
    m = {
        "queries.builder_s": _per_sweep(traced, lambda s: qsum(s, "builder_s")),
        "queries.builder_jobs": tot("builder_jobs"),
        "queries.builder_share": _per_sweep(
            traced, lambda s: qsum(s, "builder_s") / s["wall_s"]),
        "silver.pairs_s": builds["pairs"]["wall_s"] if "pairs" in builds else 0.0,
        "silver.adc_s": builds["adc"]["wall_s"] if "adc" in builds else 0.0,
        "silver.jobs": sum(w["jobs"] for w in wins),
        "silver.write_mb": sum(w["output_b"] for w in wins) / MIB,
        "catalyst.plan_s": tot("plan_ms", 1e-3),
        "catalyst.executions": tot("executions"),
        "scheduler.jobs": tot("jobs"),
        "scheduler.stages": tot("stages"),
        "scheduler.tasks": tot("tasks"),
        "scheduler.jobs_per_query": tot("jobs") / nq,
        "scheduler.task_wait_s": tot("task_wait_ms", 1e-3),
        "tasks.run_s": run_s,
        "tasks.cpu_s": tot("cpu_ns", 1e-9),
        "tasks.cpu_frac": tot("cpu_ns", 1e-9) / run_s if run_s else 0.0,
        "tasks.gc_s": tot("gc_ms", 1e-3),
        "tasks.deser_s": tot("deser_ms", 1e-3),
        "tasks.failed": tot("failed_tasks"),
        "shuffle.write_mb": tot("shuffle_write_b", 1 / MIB),
        "shuffle.read_mb": tot("shuffle_read_b", 1 / MIB),
        "shuffle.fetch_wait_s": tot("fetch_wait_ms", 1e-3),
        "shuffle.spill_mb": tot("spill_b", 1 / MIB),
        "io.input_mb": tot("input_b", 1 / MIB),
        "io.output_mb": tot("output_b", 1 / MIB),
        "streaming.batches": tot("batches"),
        "streaming.batch_p50_ms": statistics.median(batch_ms) if batch_ms else 0.0,
        "streaming.startup_s": tot("startup_ms", 1e-3),
        "streaming.add_batch_s": tot("add_batch_ms", 1e-3),
        "streaming.wal_commit_s": tot("wal_ms", 1e-3),
        "streaming.query_planning_s": tot("stream_plan_ms", 1e-3),
        "streaming.latest_offset_s": tot("latest_offset_ms", 1e-3),
        "streaming.state_commit_s": tot("state_commit_ms", 1e-3),
        "engine.exec_s": _per_sweep(traced, lambda s: qsum(s, "exec_s")),
        "trace.coverage": _per_sweep(
            traced, lambda s: (qsum(s, "builder_s") + qsum(s, "exec_s")) / s["wall_s"]),
        "trace.overhead": (_per_sweep(traced, lambda s: s["wall_s"])
                           / _per_sweep(warm(untraced), lambda s: s["wall_s"]) - 1.0),
    }
    return m


def self_time_totals(raw):
    """Per span name: self time (s) per warm sweep of a traced run, plus
    the set-up's shared builds under their own names."""
    spans = raw["spans"]
    traced = {s["index"] for s in warm(raw)}
    selfs = self_times(spans)
    groups = span_roots(spans)
    out = {}
    for s in spans:
        g = groups[s["id"]]
        if g in traced:
            out[s["name"]] = out.get(s["name"], 0.0) + selfs[s["id"]] / 1e3 / len(traced)
        elif g == "setup":
            key = "setup." + s["name"]
            out[key] = out.get(key, 0.0) + selfs[s["id"]] / 1e3
    return out


def incomplete(raw):
    """Names of traced operations whose listener drain timed out."""
    ops = raw["builds"] + [q for s in raw["sweeps"] for q in s["queries"]]
    return sorted({o["name"] for o in ops if o.get("window") and not o["complete"]})
