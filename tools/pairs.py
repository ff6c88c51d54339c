#!/usr/bin/env python3
"""Alternating benchmark pairs: a parent revision against the working tree.

    python3 tools/pairs.py --parent <rev> --workload <w> --seeds a-b [--trace 0|1]

Exports <rev> (git archive) into a temporary directory, then, for
each seed a..b, runs `python3 perfbench/run.py --workload <w> --seed <s>
--seconds <n> --trace <t>` once in the parent checkout and once in the
working tree, flipping which side runs first on every pair. The run length
<n> is BENCHMARK.json's `run_seconds`, the same on both sides.

Per metric the run prints (the end-to-end ones at --trace 0, the per-layer
ones at --trace 1), it reports each side's median and quartiles, the pairs
the working tree won (ties count for neither side), and whether the gain
rule holds: the working tree wins at least nine tenths of the pairs and its
median beats the parent's by more than the parent's interquartile range.
Which way is better comes from BENCHMARK.json. For suite runs it then
reads each run's record (its path is the line before the summary) and
reports, per query, each side's median `ops_s` and the pairs the working
tree won, so a suite claim shows which operation moved. Nothing under
perfbench/ is changed; each side builds into its own checkout's .bench_build/.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def op_seconds(record_line, checkout):
    """Per query, the median of its `ops_s` over the record's passes."""
    path = record_line.split("perfbench record ", 1)[1].strip()
    with open(os.path.join(checkout, path)) as f:
        record = json.load(f)
    names = record["inputs"].get("queries", [])
    per = zip(*(p["ops_s"] for p in record["passes"]))
    return {name: statistics.median(xs) for name, xs in zip(names, per)}


def run_side(checkout, workload, seed, seconds, trace):
    """The metrics of one run.py invocation in `checkout` and, for suite runs,
    its per-query seconds; None on failure."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        return None
    summary = json.loads(lines[-1])
    if not summary.get("correct"):
        print(f"  seed {seed} in {checkout}: outputs not correct", file=sys.stderr)
    ops = op_seconds(lines[-2], checkout) if workload == "suite" else {}
    return {k: v["value"] for k, v in summary["metrics"].items()}, ops


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="git revision to compare against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="inclusive seed range a-b, one pair per seed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    lower_better = {m["name"]: m["better"] == "lower"
                    for m in bench["end_to_end"] + bench.get("per_layer", [])}

    tmp = tempfile.mkdtemp(prefix="pairs_")
    parent = os.path.join(tmp, "parent")
    os.makedirs(parent)
    archive = subprocess.run(["git", "archive", a.parent], cwd=ROOT, check=True,
                             capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", parent], input=archive, check=True)
    runs = {"parent": [], "change": []}
    ops = {"parent": [], "change": []}
    try:
        for i, seed in enumerate(range(lo, hi + 1)):
            order = [("parent", parent), ("change", ROOT)]
            if i % 2:
                order.reverse()
            got = {side: run_side(path, a.workload, seed, bench["run_seconds"], a.trace)
                   for side, path in order}
            if None in got.values():
                print(f"seed {seed}: a run failed, pair dropped", file=sys.stderr)
                continue
            for side in runs:
                runs[side].append(got[side][0])
                ops[side].append(got[side][1])
            print(f"seed {seed} ({order[0][0]} first) done", file=sys.stderr)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    n = len(runs["parent"])
    if not n:
        print("no complete pairs")
        return 1
    print(f"{a.workload}, trace {a.trace}, {n} pairs, parent {a.parent} vs working tree")
    print(f"{'metric':28} {'parent q1/med/q3':>28} {'change q1/med/q3':>28} {'wins':>6}  rule")
    for name in sorted(runs["parent"][0]):
        p = [r[name] for r in runs["parent"]]
        c = [r[name] for r in runs["change"]]
        low = lower_better.get(name, True)
        wins = sum((y < x) if low else (y > x) for x, y in zip(p, c))
        pq, cq = quartiles(p), quartiles(c)
        gain = (pq[1] - cq[1]) if low else (cq[1] - pq[1])
        holds = wins >= 0.9 * n and gain > pq[2] - pq[0]
        fmt = lambda q: "/".join(f"{v:.4g}" for v in q)
        print(f"{name:28} {fmt(pq):>28} {fmt(cq):>28} {wins:>3}/{n:<2}  "
              f"{'holds' if holds else 'no'}")
    if ops["parent"] and ops["parent"][0]:
        print(f"\nper query, median ops_s (s) over {n} pairs")
        print(f"{'query':28} {'parent':>10} {'change':>10} {'wins':>6}")
        for name in ops["parent"][0]:
            p = [o[name] for o in ops["parent"]]
            c = [o[name] for o in ops["change"]]
            wins = sum(y < x for x, y in zip(p, c))
            print(f"{name:28} {statistics.median(p):>10.3f} {statistics.median(c):>10.3f} "
                  f"{wins:>3}/{n:<2}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
