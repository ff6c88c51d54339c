#!/usr/bin/env python3
"""The benchmark's one command. Run from the root of a checkout:

    python3 perfbench/run.py --workload grouped --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source (see build.py), then runs
one workload in one JVM at local[<cores>] with cores and heap taken from
the host, and prints, as its last stdout line, one JSON object with the
keys correct, attempted, failed and metrics. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones; either way the full
record (every metric, per-pass samples, config, failed operations) is
written under .bench_build/records/ and its path printed on the line
before. Workloads and metrics are described in perfbench/METRICS.md.

    python3 perfbench/run.py --selftest   # output checks catch perturbed outputs
    python3 perfbench/run.py --pin        # re-pin canary and suite digests
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("grouped", "regroup", "pipeline", "suite")
# Corpus of the grouped, regroup and pipeline workloads.
DOCS = 20000
SPLITS = 32
DEADLINE_S = 175
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def host():
    """Cores and JVM heap (GB) as the tier-1 test command derives them:
    nproc, and half of MemTotal clamped to 2..8 GB."""
    cores = len(os.sched_getaffinity(0))
    heap = 2
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                heap = min(8, max(2, int(line.split()[1]) // 2097152))
    return cores, heap


def jvm(classes, main_args, work, deadline):
    cores, heap = host()
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    cmd = (["java"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           # a fixed young generation keeps heap growth, and so peak RSS,
           # from varying with when the collector happens to run; no perf
           # data file, so the run writes nothing outside the checkout
           + [f"-Xmx{heap}g", "-Xmn1g", "-XX:-UsePerfData",
              "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "conf", "log4j2.properties"),
              "-cp", classes + ":" + os.path.join(build.SPARK_JARS, "*"),
              "perfbench.Main", "--root", build.HERE, "--work", work, "--cores", str(cores)]
           + main_args)
    err_path = os.path.join(work, "stderr.log")
    with open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, env=env, cwd=build.ROOT)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            out = b""
            print("[perfbench] benchmark JVM killed at the deadline", file=sys.stderr)
    with open(err_path, errors="replace") as f:
        tail = f.readlines()[-40:]
    return proc.returncode, out.decode(errors="replace").splitlines(), tail


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--pin", action="store_true")
    ap.add_argument("--queries", help="with --pin: comma-separated suite queries to pin")
    a = ap.parse_args()
    if not (a.workload or a.selftest or a.pin):
        ap.error("one of --workload, --selftest or --pin is required")

    started = time.monotonic()
    os.makedirs(build.BUILD, exist_ok=True)
    try:
        classes = build.build()
    except (subprocess.CalledProcessError, SystemExit) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 1
    # the build may take long once; the run itself gets the usual deadline
    deadline = max(started, time.monotonic() - 5) + DEADLINE_S

    tag = (f"{a.workload}-seed{a.seed}-trace{a.trace}" if a.workload
           else "selftest" if a.selftest else "pin")
    work = os.path.join(build.BUILD, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if a.workload:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--docs", str(DOCS), "--splits", str(SPLITS),
                "--record", os.path.join(build.BUILD, "records", tag + ".json")]
    elif a.selftest:
        args = ["--selftest", "1", "--seed", str(a.seed)]
    else:
        args = ["--pin", "1"] + (["--queries", a.queries] if a.queries else [])
    try:
        code, lines, tail = jvm(classes, args, work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    summary = None
    if a.workload and code == 0 and lines:
        try:
            summary = json.loads(lines[-1])
        except ValueError:
            pass
    ok = code == 0 and (summary is not None or not a.workload)
    if not ok or (summary and not summary.get("correct")):
        sys.stderr.writelines(tail)
    if not ok:
        print(f"[perfbench] JVM exited with {code} and no result", file=sys.stderr)
        return 1
    for line in lines:
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
