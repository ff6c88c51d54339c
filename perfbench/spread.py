#!/usr/bin/env python3
"""Runs the benchmark once per seed on each workload and reports, per
end-to-end metric, the median, the quartiles and their distance as a share
of the median (the spread the metric's bound is checked against).

    python3 perfbench/spread.py --seeds 1-10 [--workloads grouped,suite] [--out runs.json]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs = []
    for w in a.workloads.split(","):
        for s in seeds(a.seeds):
            t0 = time.monotonic()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(bench["run_seconds"]),
                                "--trace", a.trace], capture_output=True, text=True)
            wall = time.monotonic() - t0
            line = p.stdout.strip().splitlines()[-1] if p.returncode == 0 and p.stdout.strip() else "{}"
            r = json.loads(line)
            runs.append({"workload": w, "seed": s, "wall_s": wall, "rc": p.returncode, "result": r})
            print(f"{w} seed={s} rc={p.returncode} wall={wall:.1f}s correct={r.get('correct')}", flush=True)
    if a.out:
        json.dump(runs, open(a.out, "w"), indent=1)
    for w in a.workloads.split(","):
        rs = [r["result"] for r in runs if r["workload"] == w and r["result"].get("metrics")]
        names = sorted({k for r in rs for k in r["metrics"]})
        for k in names:
            v = [r["metrics"][k]["value"] for r in rs if k in r["metrics"]]
            if len(v) < 2:
                continue
            q1, med, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            b = bounds.get(k)
            flag = "" if b is None else ("ok" if spread <= b / 3 else "WIDE" if spread > b else "near")
            print(f"{w:8s} {k:18s} n={len(v):2d} median={med:.6g} q1={q1:.6g} q3={q3:.6g} "
                  f"spread={spread:.4f} bound={b} {flag}")
        walls = [r["wall_s"] for r in runs if r["workload"] == w]
        print(f"{w:8s} run wall: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")


if __name__ == "__main__":
    main()
