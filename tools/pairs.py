#!/usr/bin/env python3
"""Alternating benchmark pairs: a parent revision against the working tree.

    python3 tools/pairs.py --parent <rev> --workload <w> --seeds a-b [--trace 0|1]

Checks <rev> out as a git worktree under a temporary directory, then, for
each seed a..b, runs `python3 perfbench/run.py --workload <w> --seed <s>
--seconds <n> --trace <t>` once in the parent checkout and once in the
working tree, flipping which side runs first on every pair. The run length
<n> is BENCHMARK.json's `run_seconds`, the same on both sides.

Per metric the run prints (the end-to-end ones at --trace 0, the per-layer
ones at --trace 1), it reports each side's median and quartiles, the pairs
the working tree won (ties count for neither side), and whether the gain
rule holds: the working tree wins at least nine tenths of the pairs and its
median beats the parent's by more than the parent's interquartile range.
Which way is better comes from BENCHMARK.json. Nothing under perfbench/ is
changed; each side builds into its own checkout's .bench_build/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_side(checkout, workload, seed, seconds, trace):
    """The metrics of one run.py invocation in `checkout`, or None on failure."""
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
    return {k: v["value"] for k, v in summary["metrics"].items()}


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
    subprocess.run(["git", "worktree", "add", "--detach", parent, a.parent],
                   cwd=ROOT, check=True, capture_output=True)
    runs = {"parent": [], "change": []}
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
                runs[side].append(got[side])
            print(f"seed {seed} ({order[0][0]} first) done", file=sys.stderr)
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", parent], cwd=ROOT,
                       capture_output=True)
        subprocess.run(["git", "worktree", "prune"], cwd=ROOT, capture_output=True)
        os.rmdir(tmp)

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
    return 0


if __name__ == "__main__":
    sys.exit(main())
