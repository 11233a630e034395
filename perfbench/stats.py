"""Turns one run record of the harness into the benchmark's metrics.

End-to-end metrics come from the untraced window; per-layer metrics
from the traced window of a traced run. Every operation that threw or
failed its output check counts as failed and is left out of every
latency sample.
"""

import math

STATEMENTS = ["backup", "incremental_backup", "restore", "delete", "update", "gc"]

# per-operation layer values, reported as the median over operations
LAYER_KEYS = [
    "build.ms", "build.jobs",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "catalyst.exchanges", "catalyst.reused_exchanges",
    "codegen.compiles", "codegen.compile_ms",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.delay_ms", "sched.driver_gap_ms",
    "exec.run_ms", "exec.cpu_ms", "exec.gc_ms", "exec.input_rows",
    "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.fetch_wait_ms", "exec.spill_bytes",
    "jvm.gc_ms", "jvm.heap_used_peak_mb",
]

# per-statement values of the lifecycle workload: metric suffix -> op layer key
SNAPSHOT_KEYS = {"jobs": "sched.jobs", "files_written": "snapshot.files_written",
                 "bytes_written": "snapshot.bytes_written", "days_rewritten": "snapshot.days_rewritten"}
FS_KEYS = ["read_ops", "write_ops", "list_ops", "bytes_read", "bytes_written"]
EXTRA_KEYS = ["snapshot.rewrite_useful_ratio", "snapshot.incremental_write_ratio",
              "snapshot.bytes_stored_per_source_byte"]

END_TO_END = {
    "query_p50_s": "s", "query_geomean_s": "s", "queries_per_s": "1/s", "setup_s": "s",
}


def per_layer_units():
    units = {}
    for k in LAYER_KEYS:
        units[k] = unit_of(k)
    units["jvm.heap_live_mb"] = "MB"
    units["jvm.rss_peak_mb"] = "MB"
    for op in STATEMENTS:
        for suffix in SNAPSHOT_KEYS:
            units["snapshot.%s.%s" % (op, suffix)] = unit_of(suffix)
        for suffix in FS_KEYS:
            units["fs.%s.%s" % (op, suffix)] = unit_of(suffix)
    for k in EXTRA_KEYS:
        units[k] = "ratio"
    for op in STATEMENTS:
        units[op + "_s"] = "s"
    units["tick_s"] = "s"
    for k in ("queries_per_s", "tick_s"):
        for w in ("untraced", "traced"):
            units["trace.%s_%s" % (k, w)] = unit_of(k)
    return units


def unit_of(key):
    if key.endswith("_ms") or key.endswith(".ms"):
        return "ms"
    if key.endswith("_s") and not key.endswith("per_s"):
        return "s"
    if key.endswith("per_s"):
        return "1/s"
    if key.endswith("_mb"):
        return "MB"
    if key.endswith("bytes") or key.endswith("bytes_read") or key.endswith("bytes_written"):
        return "bytes"
    return "count"


def median(xs):
    xs = sorted(xs)
    if not xs:
        return None
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def percentile(xs, p, min_beyond=10):
    """The p-th quantile (0 < p < 1, nearest rank), or None unless at
    least `min_beyond` samples lie beyond it: p90 needs 100 samples."""
    n = len(xs)
    rank = max(1, int(math.ceil(p * n - 1e-9)))
    if n == 0 or n - rank < min_beyond:
        return None
    return sorted(xs)[rank - 1]


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else None


def samples(ops, window):
    """Latencies of the window's successful operations, by name."""
    by_name = {}
    for op in ops:
        if op["window"] == window and op["ok"]:
            by_name.setdefault(op["name"], []).append(op["latency_s"])
    return by_name


def failures(ops):
    return [(op["name"], op["window"], op["iter"], op["error"]) for op in ops if not op["ok"]]


def end_to_end(record):
    ops = record["ops"]
    by_name = samples(ops, "untraced")
    lat = [x for xs in by_name.values() for x in xs]
    return {
        "query_p50_s": median(lat),
        "query_geomean_s": geomean([median(xs) for xs in by_name.values()]),
        "queries_per_s": median_pass_rate(by_name),
        "setup_s": record["setup_s"],
    }, lat


def median_pass_rate(by_name):
    """Operations per second of a pass (or tick) in which every
    operation takes its median latency: a throughput that one slow
    stretch of the host does not move."""
    medians = [median(xs) for xs in by_name.values()]
    return len(medians) / sum(medians) if medians and sum(medians) > 0 else None


def self_times(spans):
    """Self time of every span: its duration minus the part of its
    interval that the union of its child spans covers."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, reach = 0.0, s["start_ms"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ms"]):
            lo, hi = max(c["start_ms"], reach), min(c["end_ms"], s["end_ms"])
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s["id"]] = s["end_ms"] - s["start_ms"] - covered
    return out


def per_layer(record):
    ops = [op for op in record["ops"] if op["window"] == "traced" and op["ok"]]
    spans = record["spans"]
    selfs = self_times(spans)
    gap = {s["op"]: selfs[s["id"]] for s in spans if s["name"] == "action"}
    for op in ops:
        op["layers"]["sched.driver_gap_ms"] = gap.get(op["tag"], 0.0)

    def med(values):
        m = median(values)
        return 0.0 if m is None else m

    out = {}
    for k in LAYER_KEYS:
        out[k] = med([op["layers"].get(k, 0.0) for op in ops])
    for name in STATEMENTS:
        mine = [op for op in ops if op["name"] == name]
        for suffix, key in SNAPSHOT_KEYS.items():
            out["snapshot.%s.%s" % (name, suffix)] = med([op["layers"].get(key, 0.0) for op in mine])
        for suffix in FS_KEYS:
            out["fs.%s.%s" % (name, suffix)] = med([op["layers"].get("fs." + suffix, 0.0) for op in mine])
    for k in EXTRA_KEYS:
        out[k] = med([e["value"] for e in record["extras"] if e["window"] == "traced" and e["name"] == k])
    untraced = samples(record["ops"], "untraced")
    for name in STATEMENTS:
        out[name + "_s"] = med(untraced.get(name, []))

    def ticks(window):
        return med([i["wall_s"] for i in record["iterations"] if i["window"] == window])

    out["jvm.heap_live_mb"] = record["heap_live_mb"]
    out["jvm.rss_peak_mb"] = record["rss_peak_mb"]
    out["tick_s"] = ticks("untraced")
    def qps(window):
        return median_pass_rate(samples(record["ops"], window)) or 0.0

    # the traced window sits between two untraced ones
    out["trace.queries_per_s_untraced"] = (qps("untraced") + qps("untraced_after")) / 2
    out["trace.tick_s_untraced"] = (ticks("untraced") + ticks("untraced_after")) / 2
    out["trace.queries_per_s_traced"] = qps("traced")
    out["trace.tick_s_traced"] = ticks("traced")
    return out
