#!/usr/bin/env python3
"""Benchmark of the monthly ingestion cycle and the gate engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source on first use (see
build.py), then runs one workload in one fresh JVM with pinned settings:
at most 4 Spark task threads, a fixed 3 GB heap, and every file the run
writes (workload root, Spark scratch and spill, java.io.tmpdir, warehouse)
under a fresh directory in .bench_build/runs that is removed afterwards. Prints one
JSON object as the last line of standard output:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones (setup_s, op_s,
op_cpu_s, heap_live_mb); with --trace 1 they are the per-layer ones.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

# Timed ops per run: --seconds over the workload's nominal op time at 4
# task threads, at least 3 (a median needs them) and at most MAX_OPS (a
# cycle run may make 12 ops in all, one per calendar month, and the JVM
# must end within JVM_TIMEOUT_S). The count depends only on --seconds, so
# every run of a workload makes the same ops on the same history depth.
OP_SECONDS = {"cycle": 4.2, "gates": 7.0}
MAX_OPS = 10
JVM_TIMEOUT_S = 160


def op_count(workload: str, seconds: int) -> int:
    return max(3, min(MAX_OPS, round(seconds / OP_SECONDS[workload])))


def run_jvm(workload, seed, ops, trace, run_dir, check_only=False):
    """Runs perfbench.Main in its own JVM; returns its result dict."""
    (run_dir / "root").mkdir(parents=True, exist_ok=True)
    out = run_dir / ("check.json" if check_only else "result.json")
    cmd, env = build.jvm(run_dir, "perfbench.Main", [
        "--workload", workload, "--seed", str(seed), "--ops", str(ops),
        "--trace", "1" if trace else "0",
        "--root", str(run_dir / "root"), "--out", str(out),
        "--fixture", str(build.FIXTURE)] + (["--check-only"] if check_only else []))
    log = open(run_dir / "jvm.log", "w")
    p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                         start_new_session=True)

    def stop(*_):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()

    old = signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(1)))
    try:
        p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop()
        raise SystemExit(f"perfbench: {workload} JVM exceeded {JVM_TIMEOUT_S} s")
    finally:
        signal.signal(signal.SIGTERM, old)
        log.close()
    if p.returncode != 0 or not out.exists():
        sys.stderr.write((run_dir / "jvm.log").read_text()[-6000:])
        raise SystemExit(f"perfbench: {workload} JVM exited with {p.returncode}")
    return json.loads(out.read_text())


def gate_problems(run_dir):
    import oracle
    return oracle.check(str(run_dir / "root" / "gate_out"), str(build.FIXTURE))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(OP_SECONDS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    build.build()
    run_dir = build.BUILD / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        res = run_jvm(args.workload, args.seed, op_count(args.workload, args.seconds),
                      args.trace == 1, run_dir)
        problems = list(res["problems"])
        if args.workload == "gates":
            problems += gate_problems(run_dir)
        for p in problems:
            print(f"CHECK FAILED: {p}", file=sys.stderr)
        print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": res["metrics"]}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
