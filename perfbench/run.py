#!/usr/bin/env python3
"""The engine's benchmark: one command per workload run.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. It compiles the engine and the harness
from source (`build.py`), starts one fresh JVM at `local[N]` with N the
number of usable cores and a heap of half of MemTotal clamped to
2-8 GiB, drives the workload from one client thread in a closed loop,
and prints the metrics as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` prints the end-to-end metrics of `BENCHMARK.json`, measured
with tracing off. `--trace 1` prints its per-layer metrics: the run
splits `--seconds` into an untraced, a traced and another untraced
window, and writes every span to `<build dir>/traces/`. Failures, host stamps and
a summary go to stderr.

Each run gets its own empty `java.io.tmpdir`, `spark.local.dir`,
warehouse, metastore and backup-disk directories under the build
directory, and removes them when it ends. Fixtures are read from
`$PERFBENCH_FIXTURES`, or else from the sf 0.1 directory that
`TESTDATA.md` lists, and never written. `--record-expected` rewrites
`expected.tsv` from a run's warm-up fingerprints.
"""

import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the checkout free of __pycache__

import build  # noqa: E402
import stats  # noqa: E402

JVM_TIMEOUT_S = 160


def fail(message):
    sys.stderr.write("perfbench: %s\n" % message)
    sys.exit(2)


def host():
    cpus = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    heap_g = min(8, max(2, mem_kb // 2097152))
    return cpus, mem_kb, heap_g


def fixtures_dir():
    """`$PERFBENCH_FIXTURES`, or else the sf 0.1 row of TESTDATA.md."""
    if os.environ.get("PERFBENCH_FIXTURES"):
        return os.environ["PERFBENCH_FIXTURES"]
    try:
        with open(os.path.join(build.ROOT, "TESTDATA.md")) as f:
            found = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", f.read(), re.M)
    except OSError:
        found = None
    return found.group(1) if found else None


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def read_expected(path):
    out = {}
    with open(path) as f:
        for line in f:
            parts = line.rstrip("\n").split("\t")
            if len(parts) == 3:
                out[parts[0]] = (int(parts[1]), parts[2])
    return out


def write_expected(path, fingerprints):
    """Stores fingerprints for the run's queries; entries already marked
    rows-only keep that mode, and entries of other queries stay."""
    rows = read_expected(path) if os.path.exists(path) else {}
    for fp in fingerprints:
        mode = rows.get(fp["name"], (None, None))[1]
        rows[fp["name"]] = (fp["rows"], "rows-only" if mode == "rows-only" else fp["hash"])
    with open(path, "w") as f:
        for name in sorted(rows):
            f.write("%s\t%d\t%s\n" % (name, rows[name][0], rows[name][1]))


def main():
    # unwinds through subprocess.run, which then kills the build or the
    # harness JVM and waits for it, and through the run directory's removal
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--record-expected", action="store_true")
    a = p.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if a.workload not in spec["workloads"]:
        fail("unknown workload %r; known: %s" % (a.workload, ", ".join(sorted(spec["workloads"]))))
    if a.seconds <= 0:
        fail("--seconds must be positive")
    fixtures = fixtures_dir()
    if not fixtures or not os.path.isfile(os.path.join(fixtures, "events.parquet")):
        fail("fixtures not found at %s (set PERFBENCH_FIXTURES)" % fixtures)
    root = build.ROOT
    try:
        out = build.build(root)
    except build.BuildError as e:
        fail("build failed: %s" % e)

    cpus, mem_kb, heap_g = host()
    load_start = loadavg()
    run_dir = os.path.join(build.build_dir(root), "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "warehouse", "metastore", "disk")}
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in dirs.values():
        os.makedirs(d)
    out_path = os.path.join(run_dir, "record.json")
    queries = spec["workloads"][a.workload].get("queries", [])
    expected_path = os.path.join(HERE, "expected.tsv")
    cmd = build.jvm_command(out, "perfbench.Harness", [
        "-Xmx%dg" % heap_g,
        "-Djava.io.tmpdir=" + dirs["tmp"],
        "-Dspark.local.dir=" + dirs["local"],
        "-Dspark.sql.warehouse.dir=" + dirs["warehouse"],
        "-Dderby.system.home=" + dirs["metastore"],
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-Dspark.sql.session.timeZone=UTC",
    ]) + [
        "workload=" + a.workload, "seed=%d" % a.seed, "seconds=%s" % a.seconds,
        "trace=%d" % a.trace, "cpus=%d" % cpus, "fixtures=" + fixtures, "disk=" + dirs["disk"],
        "out=" + out_path, "queries=" + ",".join(queries), "expected=" + expected_path,
    ]
    t0 = time.time()
    try:
        proc = subprocess.run(cmd, cwd=run_dir, stdout=sys.stderr, timeout=JVM_TIMEOUT_S)
        if proc.returncode != 0:
            fail("harness JVM exited with code %d" % proc.returncode)
        with open(out_path) as f:
            record = json.load(f)
    except subprocess.TimeoutExpired:
        fail("harness JVM did not finish within %d s" % JVM_TIMEOUT_S)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    wall = time.time() - t0

    if a.record_expected:
        write_expected(expected_path, record["fingerprints"])

    ops = record["ops"]
    failed = stats.failures(ops)
    e2e, lat = stats.end_to_end(record)
    stamp = {
        "workload": a.workload, "seed": a.seed, "nproc": cpus, "mem_total_kb": mem_kb,
        "loadavg_start": load_start, "loadavg_end": loadavg(), "master": record["master"],
        "heap": "%dg" % heap_g, "max_heap_mb": record["max_heap_mb"],
        "jdk": record["java_version"], "spark": record["spark_version"],
        "jvm_wall_s": round(wall, 3), "session_s": record["session_s"],
        "warmup_ops_s": round(sum(o["latency_s"] or 0 for o in ops if o["window"] == "warmup"), 3),
        "executions": len(lat),
        "iterations_s": [round(i["wall_s"], 3) for i in record["iterations"] if i["window"] == "untraced"],
        "heap_live_mb": record["heap_live_mb"], "rss_peak_mb": record["rss_peak_mb"],
        "medians_s": {k: round(stats.median(v), 4) for k, v in sorted(stats.samples(ops, "untraced").items())},
        "query_p90_s": stats.percentile(lat, 0.9),
        "failed_ratio": len(failed) / len(ops) if ops else None,
    }
    sys.stderr.write("perfbench: %s\n" % json.dumps(stamp))
    for name, window, it, err in failed:
        sys.stderr.write("perfbench: FAILED %s (%s, iteration %d): %s\n" % (name, window, it, err))

    if a.trace:
        metrics = stats.per_layer(record)
        units = stats.per_layer_units()
        trace_dir = os.path.join(build.build_dir(root), "traces")
        os.makedirs(trace_dir, exist_ok=True)
        selfs = stats.self_times(record["spans"])
        for s in record["spans"]:
            s["self_ms"] = selfs[s["id"]]
        trace_path = os.path.join(trace_dir, "%s-seed%d.json" % (a.workload, a.seed))
        with open(trace_path, "w") as f:
            json.dump({"stamp": stamp, "spans": record["spans"], "metrics": metrics}, f)
        sys.stderr.write("perfbench: spans written to %s\n" % trace_path)
    else:
        metrics = e2e
        units = stats.END_TO_END
    missing = [k for k, v in metrics.items() if v is None]
    if missing:
        fail("no value for %s: no successful timed operation" % ", ".join(missing))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
