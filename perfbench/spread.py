#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, the way the acceptance
check computes it: for each metric, (Q3 - Q1) / median over one run per
seed, next to a third of the metric's bound from BENCHMARK.json. Before
each run a fixed single-threaded loop is timed (host_probe_s); its
correlation with each metric shows how much of the spread is host drift.
Each run's output is kept under <build>/perfbench/spread/.

Usage (from the repository root):

    python3 perfbench/spread.py --workload ivm_ingest --seeds 1-10
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host_probe_s():
    """Seconds for a fixed single-threaded loop: a record of how fast the
    host ran just before a run, so drift can be told from a program change."""
    t0 = time.perf_counter()
    s = 0
    for i in range(3_000_000):
        s += i
    return time.perf_counter() - t0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range a-b")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    lo, hi = (int(x) for x in a.seeds.split("-"))
    logs = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench", "spread")
    os.makedirs(logs, exist_ok=True)
    values = {}
    probes = []
    walls = []
    for seed in range(lo, hi + 1):
        probes.append(host_probe_s())
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        t0 = time.perf_counter()
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        walls.append(time.perf_counter() - t0)
        with open(os.path.join(logs, f"{a.workload}-seed{seed}.log"), "w") as fh:
            fh.write(r.stdout)
        last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
        if r.returncode != 0 or not last.startswith("{"):
            sys.exit(f"seed {seed}: run failed ({r.returncode})")
        res = json.loads(last)
        print(f"seed {seed}: host_probe_s={probes[-1]:.3f} wall_s={walls[-1]:.1f} correct={res['correct']} attempted={res['attempted']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in bench["end_to_end"]:
        vs = values.get(m["name"], [])
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        flag = "ok" if spread < m["bound"] / 3 else ("WITHIN BOUND" if spread <= m["bound"] else "OVER BOUND")
        corr = statistics.correlation(probes, vs) if len(set(vs)) > 1 else 0.0
        print(f"{m['name']:>18}: median={med:.4g} spread={spread:.3f} bound/3={m['bound'] / 3:.3f} {flag}"
              f" (correlation with host_probe_s {corr:+.2f})")
    q1, med, q3 = statistics.quantiles(probes, n=4)
    print(f"{'host_probe_s':>18}: median={med:.4g} spread={(q3 - q1) / med:.3f}")
    print(f"{'wall_s':>18}: mean={statistics.mean(walls):.1f} max={max(walls):.1f}")


if __name__ == "__main__":
    main()
