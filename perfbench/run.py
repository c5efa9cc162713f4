#!/usr/bin/env python3
"""Engine benchmark entry point.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source (see build.py), then runs
the named workload in its own JVM. The last line of standard output is the
result as one JSON object. `--workload all` runs every workload in turn and
ends with one combined object whose metric names are prefixed by the
workload. The exit code is 0 only if every output check passed.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import threading
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["fit_large", "choose_k", "score_scan", "dedup_corpus"]
DEFAULT_SEED = 1
RUN_TIMEOUT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

_child = None


def _stop_child(signum, frame):
    if _child is not None and _child.poll() is None:
        _child.terminate()
        try:
            _child.wait(timeout=20)
        except subprocess.TimeoutExpired:
            _child.kill()
            _child.wait()
    sys.exit(128 + signum)


def run_one(cp: str, workload: str, seed: int, seconds: int, trace: int) -> tuple:
    """Runs one workload in a JVM; returns (exit code, last stdout line)."""
    global _child
    work = build.WORK_DIR
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = ["java"] + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # a fixed, pre-touched heap: first-touch page faults of a growing heap
        # otherwise slow the first timed operations
        "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        "-cp", cp, "perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work-dir", str(work)]
    _child = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    timer = threading.Timer(RUN_TIMEOUT_S, _child.kill)
    timer.daemon = True
    timer.start()
    last = ""
    for line in _child.stdout:
        sys.stdout.write(line)
        sys.stdout.flush()
        if line.strip():
            last = line.strip()
    code = _child.wait()
    timed_out = not timer.is_alive()
    timer.cancel()
    _child = None
    if timed_out:
        print(f"[perfbench] {workload} killed after {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 124, ""
    return code, last


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop_child)
    signal.signal(signal.SIGINT, _stop_child)
    try:
        cp = build.ensure()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    if a.workload != "all":
        code, _ = run_one(cp, a.workload, a.seed, a.seconds, a.trace)
        return code
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    worst = 0
    for w in WORKLOADS:
        code, last = run_one(cp, w, a.seed, a.seconds, a.trace)
        worst = worst or code
        try:
            r = json.loads(last)
        except json.JSONDecodeError:
            print(f"[perfbench] {w} printed no result", file=sys.stderr)
            return code or 1
        combined["correct"] = combined["correct"] and r["correct"]
        combined["attempted"] += r["attempted"]
        combined["failed"] += r["failed"]
        combined["metrics"].update({f"{w}.{k}": v for k, v in r["metrics"].items()})
    print(json.dumps(combined))
    return worst


if __name__ == "__main__":
    os.chdir(build.ROOT)
    sys.exit(main())
