"""ETL benchmark: one command per workload and seed.

    python3 etlbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. It builds the program from source
(``build.py``), generates the workload's inputs from the seed (``gen.py``),
runs the JVM side (``src/etlbench/Bench.scala``) on a pinned Spark
environment, and prints every metric by name with its unit. The last line
of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones. The line before it holds every raw sample, the host's
load and steal time, and the tail percentile used. Everything the run
writes stays under ``.bench_build/`` and its work directory is removed at
the end. See README.md for the workloads and the layer map.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

# Untimed rounds before timing, on every workload, chosen by measurement
# (README.md): after them a round's time falls by no more than the host's
# noise.
WARMUP_ROUNDS = 2
DEADLINE_S = 175  # the whole run, build excluded

END_TO_END_UNITS = {
    "rows_per_s": "rows/s", "campus_p50_s": "s", "campus_tail_s": "s",
    "registry_build_s": "s", "setup_s": "s", "live_heap_mb": "MB",
    "ok_frac": "ratio"}
LAYER_UNITS = {
    "wall_s": "s", "exec_cpu_s": "s", "driver_cpu_s": "s", "input_mb": "MB",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "cache_mb": "MB",
    "busy_cores": "cores", "bytes_written_per_row": "B/row",
    "gc_ms": "ms", "jit_ms": "ms", "overhead_pct": "%"}


def host_sample():
    """1-minute load average and the cumulative CPU jiffies (steal, total)."""
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return load, cpu[7] if len(cpu) > 7 else 0, sum(cpu)


def tail(values):
    """Highest percentile with at least ten samples beyond it: the (n-10)th
    smallest of n. Below twenty samples that percentile would sit under the
    median, so the maximum is reported instead, flagged as such."""
    s = sorted(values)
    n = len(s)
    if n >= 20:
        return s[n - 11], round(100.0 * (n - 10) / n, 2), True
    return s[-1], 100.0, False


def end_to_end(doc, launch_s):
    camp = doc["campus_samples"]
    regs = doc["registry_samples"]
    walls = [c["wall_s"] for c in camp]
    t, pct, rule_met = tail(walls)
    ok = sum(c["ok"] for c in camp) + sum(r["ok"] for r in regs)
    attempted = len(camp) + len(regs)
    metrics = {
        "rows_per_s": sum(c["rows"] for c in camp) / sum(walls),
        "campus_p50_s": statistics.median(walls),
        "campus_tail_s": t,
        "registry_build_s": statistics.median(r["wall_s"] for r in regs),
        "setup_s": launch_s + doc["setup_jvm_s"],
        "live_heap_mb": doc["live_heap_mb"],
        "ok_frac": ok / attempted,
    }
    info = {"campus_n": len(walls), "registry_n": len(regs),
            "tail_percentile": pct, "tail_rule_met": rule_met}
    return metrics, attempted, attempted - ok, info


def per_layer(doc):
    tr = doc["trace"]
    metrics = dict(tr["metrics"])
    metrics["jvm.gc_ms"] = float(doc["gc_ms"])
    metrics["jvm.jit_ms"] = float(doc["jit_ms"])
    rounds = doc["rounds"]
    metrics["jvm.codegen_compiles"] = \
        sum(r["codegen_compiles"] for r in rounds) / len(rounds)
    untraced = statistics.median(r["wall_s"] for r in rounds)
    metrics["trace.overhead_pct"] = \
        100.0 * (statistics.median(tr["rounds_s"]) - untraced) / untraced
    return metrics


def unit_of(name):
    if name in END_TO_END_UNITS:
        return END_TO_END_UNITS[name]
    leaf = name.split(".", 1)[1]
    return LAYER_UNITS.get(leaf, "count")


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    # A terminated launcher still stops its JVM and removes its work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))

    root = os.getcwd()
    bench_dir = os.path.join(root, ".bench_build")
    try:
        build.build(root, bench_dir)
    except RuntimeError as e:
        sys.exit(f"build failed: {e}")
    start = time.monotonic()
    work = os.path.join(bench_dir, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    proc = None
    try:
        host0 = host_sample()
        out = os.path.join(work, "result.json")
        cores = len(os.sched_getaffinity(0))
        log_path = os.path.join(work, "jvm.log")
        with open(log_path, "w") as log:
            # The JVM starts its Spark session while the inputs are generated.
            launch_s = time.monotonic() - start
            bench_args = [
                "--workload", args.workload, "--inputs", os.path.join(work, "inputs"),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--warmup", str(WARMUP_ROUNDS),
                "--cores", str(cores), "--out", out]
            proc = subprocess.Popen(build.java_cmd(bench_dir, work, bench_args),
                                    stdout=log, stderr=subprocess.STDOUT)
            t0 = time.monotonic()
            gen.generate(args.workload, args.seed, os.path.join(work, "inputs"))
            gen_s = time.monotonic() - t0
            try:
                rc = proc.wait(timeout=DEADLINE_S - (time.monotonic() - start))
            except subprocess.TimeoutExpired:
                sys.exit("benchmark JVM exceeded the run deadline")
        if rc != 0:
            with open(log_path) as log:
                sys.stderr.write(log.read()[-6000:])
            sys.exit(f"benchmark JVM exited with {rc}")
        with open(out) as f:
            doc = json.load(f)
        host1 = host_sample()
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    metrics, attempted, failed, info = end_to_end(doc, launch_s)
    if args.trace:
        metrics = per_layer(doc)
    d_total = max(host1[2] - host0[2], 1)
    detail = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "heap": build.HEAP,
        "gen_s": gen_s, "setup_jvm_s": doc["setup_jvm_s"],
        "session_s": doc["session_s"], "warmup_rounds": doc["warmup_rounds"],
        "timed_s": doc["timed_s"], "rounds": doc["rounds"],
        "campus_samples": doc["campus_samples"],
        "registry_samples": doc["registry_samples"],
        "registry_inputs": doc["registry_inputs"], **info,
        "host": {"loadavg_1m_start": host0[0], "loadavg_1m_end": host1[0],
                 "steal_pct": 100.0 * (host1[1] - host0[1]) / d_total},
        "failures": doc["failures"],
    }
    if args.trace:
        detail["trace"] = {k: v for k, v in doc["trace"].items() if k != "metrics"}
    failures = doc["failures"]
    result = {
        "correct": not failures and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }
    print(json.dumps(detail))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
