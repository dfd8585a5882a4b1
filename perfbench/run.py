#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

Usage (from the repository root):
  python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Builds the program and the harness first when their sources changed
(see build.py), then runs the harness in one JVM. Exits non-zero, without
a result line, when the program cannot be built or run.
"""
import argparse
import json
import pathlib
import signal
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}
# The harness must end well inside the 180 s a run is allowed.
JVM_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest_bulk", "ingest_daily", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full",
                    help="smoke: tiny inputs, for the benchmark's own tests")
    a = ap.parse_args()
    try:
        jar = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    cmd = build.java_command(jar, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--scale", a.scale, "--bench-dir", str(HERE)])
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                            text=True)
    # a terminated benchmark takes its JVM down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] harness exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        print(f"[perfbench] harness exited with {proc.returncode}", file=sys.stderr)
        return proc.returncode or 1
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        result = None
    if not isinstance(result, dict) or set(result) != RESULT_KEYS:
        sys.stderr.write(out)
        print("[perfbench] harness printed no result line", file=sys.stderr)
        return 4
    print("\n".join(lines), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
