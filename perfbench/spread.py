#!/usr/bin/env python3
"""Run one workload under several seeds and report each end-to-end
metric's median and spread (inter-quartile range as a share of the
median, from statistics.quantiles(values, n=4)) against its bound in
BENCHMARK.json.

    python3 perfbench/spread.py --workload suite --seeds 1 2 3 4 5

Run from the root of a checkout. Each seed's line also shows the
contention probe (calib start/end, seconds). Exits 1 if a run fails or
a spread exceeds its bound.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys


def run(workload, seed, seconds):
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True)
    lines = [l for l in res.stdout.splitlines() if l.strip()]
    if res.returncode != 0 or not lines:
        sys.stderr.write(res.stderr[-4000:])
        sys.exit(f"run failed: {workload} seed {seed} rc {res.returncode}")
    detail = json.loads(lines[-2])["detail"] if len(lines) > 1 else {}
    return json.loads(lines[-1]), detail


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=int, nargs="+")
    a = ap.parse_args()
    spec = json.loads(pathlib.Path("BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values = {name: [] for name in bounds}
    for seed in a.seeds:
        r, detail = run(a.workload, seed, spec["run_seconds"])
        if not r["correct"]:
            sys.exit(f"seed {seed}: outputs incorrect ({r['failed']}/{r['attempted']})")
        for name in bounds:
            values[name].append(r["metrics"][name]["value"])
        probes = f"calib={detail.get('calib_start_s', 0):.3f}/{detail.get('calib_end_s', 0):.3f}"
        print(f"seed {seed}: " + " ".join(f"{n}={v[-1]:.6g}" for n, v in values.items()) +
              f" {probes}", flush=True)
    bad = False
    for name, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med
        ok = spread <= bounds[name]
        bad |= not ok
        print(f"{name:20s} median {med:12.6g}  spread {spread:6.3f}  bound {bounds[name]:.3f}"
              f"  {'ok' if ok else 'OVER'}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
