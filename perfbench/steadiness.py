#!/usr/bin/env python3
"""Steadiness check of the engine benchmark.

Runs the repeat protocol -- every workload once per seed, untraced, ten
seeds -- as two independent sets on the same code, and prints for every
workload and end-to-end metric both sets' medians, each set's spread (the
distance between the first and third quartile as a share of the median)
and whether the metric is steady:

  * each set's spread is within the metric's bound;
  * the second median is not worse than the first by more than the bound.

    python3 perfbench/steadiness.py                        # every gated workload
    python3 perfbench/steadiness.py --workloads fit_large  # named workloads

Bounds, the command and the run length come from BENCHMARK.json. Each
run's output and a summary are kept in .bench_build/perfbench/steadiness/. Set s
uses seeds s*100+1 .. s*100+10, so the two sets see different inputs. The
exit code is 0 only if every run passed its output checks and every
metric is steady.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
LOG_DIR = ROOT / ".bench_build" / "perfbench" / "steadiness"
SETS = 2
SEEDS = 10


def run(cmd, workload, seed, seconds):
    p = subprocess.run(cmd + ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                              "--trace", "0"], cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    LOG_DIR.mkdir(parents=True, exist_ok=True)
    (LOG_DIR / f"{workload}-seed{seed}.log").write_text(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        return None
    r = json.loads(lines[-1])
    return r if r["correct"] else None


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workloads", default=",".join(names))
    a = ap.parse_args()
    workloads = a.workloads.split(",")
    metrics = bench["end_to_end"]
    ok = True
    report = {}
    for w in workloads:
        sets = []
        for s in range(1, SETS + 1):
            values = {m["name"]: [] for m in metrics}
            for i in range(1, SEEDS + 1):
                seed = s * 100 + i
                r = run(bench["command"], w, seed, bench["run_seconds"])
                if r is None:
                    print(f"{w} seed {seed}: run failed or output check failed", flush=True)
                    ok = False
                    continue
                for m in metrics:
                    values[m["name"]].append(r["metrics"][m["name"]]["value"])
                print(f"{w} set {s} seed {seed}: " + ", ".join(
                    f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)
            sets.append(values)
        report[w] = {}
        for m in metrics:
            n, bound = m["name"], m["bound"]
            sign = 1 if m["better"] == "lower" else -1
            vals = [st[n] for st in sets if len(st[n]) >= 2]
            if len(vals) < SETS:
                ok = False
                continue
            meds = [statistics.median(v) for v in vals]
            spreads = [spread(v) for v in vals]
            worse = sign * (meds[-1] - meds[0]) / meds[0]
            steady = all(sp <= bound for sp in spreads) and worse <= bound
            ok = ok and steady
            report[w][n] = {"medians": meds, "spreads": spreads, "worse": worse, "bound": bound,
                            "steady": steady}
            print(f"{w:13s} {n:15s} medians " + " / ".join(f"{x:.4g}" for x in meds)
                  + "  spreads " + " / ".join(f"{x:.3f}" for x in spreads)
                  + f"  second worse by {worse:+.3f}  bound {bound}  "
                  + ("steady" if steady else "NOT STEADY"), flush=True)
    LOG_DIR.mkdir(parents=True, exist_ok=True)
    (LOG_DIR / "summary.json").write_text(json.dumps(report, indent=1))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
