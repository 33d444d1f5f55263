#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload vendor_sync --seed 1 --seconds 18 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 18 --trace 0

Run from the repository root.  One run: start the engine's session sized to
the machine, generate the workload's inputs from ``--seed``, warm up on
small inputs, run the closed loop for ``--seconds`` of job time, check
every job's output, and print one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics.  ``--trace 1`` runs an untraced window of
``--seconds`` for reference, then a traced one (extended until it has traced
a cold and a warm job), and reports the per-layer metrics of the traced
window (spans are written to ``perfbench/.work/``).
``--workload all`` runs every workload in turn and prints each one's
metrics by name and unit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the engine package is imported from the checkout; without it the run
# fails here, before anything is written or started
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import report  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = ("vendor_sync", "corpus_dedup")
# workload-specific names of the generic end-to-end metrics
ALIASES = {
    "vendor_sync": {"cold_build_s": "first_sync_s", "quality_recall": "match_recall", "quality_precision": "match_precision"},
    "corpus_dedup": {"cold_build_s": "first_shard_s", "quality_recall": "dedup_recall", "quality_precision": "dedup_precision"},
}


def process_start_epoch() -> float:
    """Wall-clock time this process was started (from /proc)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - int(fields[19]) / os.sysconf("SC_CLK_TCK"))


def machine() -> tuple[int, int]:
    """(usable cores, Spark heap MB): every core, a quarter of RAM up to 2 GB."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return len(os.sched_getaffinity(0)), min(2048, total_kb // 4096)


def configure(work: str) -> dict:
    """Size the session through the engine's own variables and keep every
    file Spark and the JVM write inside the run's work directory."""
    cpus, heap_mb = machine()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    return env


def start_session():
    from tepsonic_database_sync_spark.session import build_session

    spark = build_session(app_name="perfbench")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM this process launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this process plus every descendant (the JVM)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(d))
    todo, total_kb = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next((int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return total_kb / 1024.0


def run_one(args, t_start: float) -> dict:
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return _measure(args, t_start, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(args, t_start: float, work: str) -> dict:
    env = configure(work)
    spark = start_session()
    setup_main = time.time() - t_start
    phases = {}
    tracer = spans.Tracer(enabled=bool(args.trace))
    try:
        w = workloads.WORKLOADS[args.workload](spark, work, args.seed, tracer)
        tracer.install()
        t = time.time()
        w.generate()
        phases["generate"] = time.time() - t
        t = time.time()
        w.warmup()
        phases["warmup"] = time.time() - t
        if args.trace:
            report.install_hooks(tracer, w)
        t = time.time()
        if args.trace:  # an untraced reference window, then the traced one
            elapsed = w.run(2 * args.seconds, trace_from=0.5)
        else:
            elapsed = w.run(args.seconds)
        phases["loop"] = time.time() - t
        # the peak over warm-up and the whole window
        rss_mb = peak_rss_mb()
        stages = spans.completed_stages(spark) if args.trace else []
        spark_jobs = spans.completed_jobs(spark) if args.trace else []
        storage_mb = spans.storage_capacity_mb(spark)
        t = time.time()
        quality = checks.CHECKS[args.workload](w)
        phases["check"] = time.time() - t
    finally:
        tracer.uninstall()
        stop_session(spark)
    jobs = w.jobs
    e2e, info = report.end_to_end(jobs, w.job_kinds, setup_main, rss_mb, quality)
    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print(f"# SPARK_GRAFT_CPUS={env['SPARK_GRAFT_CPUS']} SPARK_GRAFT_DRIVER_MEM={env['SPARK_GRAFT_DRIVER_MEM']}")
    print(
        f"# inputs_mb={w.inputs.bytes / 1e6:.1f} storage_memory_mb={storage_mb:.0f} "
        f"inputs_fit_storage={w.inputs.bytes / 1e6 < storage_mb}"
    )
    print(
        f"# jobs: {len(jobs)} ({info['cold_jobs']} cold) window_s={elapsed:.2f}"
    )
    print("# phases_s " + " ".join(f"{k}={v:.1f}" for k, v in phases.items()) + f" total={time.time() - t_start:.1f}")
    print(f"# failed_ratio {info['failed_ratio']:.4f} ratio ({sum(not j.ok for j in jobs)}/{len(jobs)})")
    for j in jobs:
        if not j.ok:
            print(f"# FAILED {j.key}: {j.error}")
    print(f"# job_tail_s {info['job_tail_s']:.6g} s (p{info['tail_percentile']:.0f} of {info['job_samples']} samples)")
    for name, alias in ALIASES[args.workload].items():
        print(f"# {alias} {e2e[name]:.6g}")
    for name in sorted(set(quality) - set(report.END_TO_END)):  # the IVF step's quality
        print(f"# {name} {quality[name]:.6g}")
    if args.trace:
        tracer.attach_stages(stages)
        tracer.dump(os.path.join(HERE, ".work", f"spans-{args.workload}-{args.seed}.jsonl"))
        values = report.per_layer(tracer, jobs, setup_main, int(env["SPARK_GRAFT_CPUS"]), stages, spark_jobs, quality)
        units = report.PER_LAYER
    else:
        values, units = e2e, report.END_TO_END
    for name, unit in units.items():
        print(f"{args.workload} {name} {values[name]:.6g} {unit}")
    failed = sum(not j.ok for j in jobs)
    return {
        "correct": bool(jobs) and failed == 0,
        "attempted": len(jobs),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def run_all(args) -> dict:
    results = {}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=900, check=True)
        lines = out.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        results[name] = json.loads(lines[-1])
    return {
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()},
    }


def main() -> int:
    t_start = process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=report.BENCHMARK["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    result = run_all(args) if args.workload == "all" else run_one(args, t_start)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
