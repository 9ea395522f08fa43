"""Run one lakebench workload and print its result.

    python3 lakebench/run.py --workload lake_mixed --seed 1 --seconds 8 --trace 0

Builds the engine and the harness from source when they changed (see
build.py), then runs the workload in one JVM with a fresh work directory
under .bench_build/lakebench/run. The last line of standard output is the
JSON result; the lines before it name every metric with its unit.
Exits non-zero, without a result, when the build or the run fails.
"""
import argparse
import json
import shutil
import subprocess
import sys

import build

WORKLOADS = ("lake_mixed", "corpus_pipeline")
RUN_TIMEOUT_S = 170

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    try:
        build.build()
        java = build.java_bin()
        cp = build.classpath()
    except build.BuildError as e:
        print(f"[lakebench] {e}", file=sys.stderr)
        return 2

    run_dir = build.fresh_dir(build.BUILD / "run")
    cmd = [java] + build.jvm_args(run_dir) + [f"-XX:SharedArchiveFile={build.ARCHIVE}", "-cp", cp, "lakebench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", str(build.BUILD)]
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        print(f"[lakebench] run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        print(f"[lakebench] run failed with exit code {proc.returncode}", file=sys.stderr)
        return 1
    try:
        json.loads(lines[-1])
    except ValueError:
        sys.stdout.write(out)
        print("[lakebench] the run printed no result line", file=sys.stderr)
        return 1
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
