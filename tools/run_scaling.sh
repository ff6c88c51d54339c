#!/bin/bash
# Scaling-efficiency protocol (BASELINE.md): the identical flagship job at
# local[N] and local[4N] on the same deterministic input; report throughput
# at both + efficiency T_{4N}/(4·T_N). Run from /root/repo.
#
# Three Bench legs are swept (SPARK_GRAFT_PATHS):
#   window  — the flagship leg: FlagshipJob.consumeAll, the zero-shuffle
#             per-doc kernel in the consume-all schema
#   grouped — the bare typed per-doc kernel, zero shuffle
#   regroup — ungrouped grid → each doc's run packed into one row → ONE
#             exchange + key-only sort → per-doc kernel (the general path)
# Sizes differ so each run lands in a stable 3–60 s measurement band. The
# JVM heap is the build's default unless SPARK_DRIVER_MEM is set.
set -eo pipefail
REPS="${SPARK_GRAFT_BENCH_REPS:-3}"
OUT="${1:-/tmp/graft_scaling}"
N="${SPARK_GRAFT_N:-8}"
N4=$((N * 4))
mkdir -p "$OUT"
sbt -batch package > /dev/null
for CPUS in $N $N4; do
  for PATHKIND in window grouped regroup; do
    DOCS="${SPARK_GRAFT_WDOCS:-200000}"
    [ "$PATHKIND" = grouped ] && DOCS="${SPARK_GRAFT_GDOCS:-4000000}"
    [ "$PATHKIND" = regroup ] && DOCS="${SPARK_GRAFT_RDOCS:-1000000}"
    echo "== local[$CPUS] $PATHKIND =="
    SPARK_GRAFT_FLAGSHIP_ONLY=1 SPARK_GRAFT_PATHS=$PATHKIND \
    SPARK_GRAFT_CPUS=$CPUS SPARK_GRAFT_BENCH_DOCS=$DOCS SPARK_GRAFT_BENCH_REPS=$REPS \
    SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1} \
      sbt -batch 'runMain graft.Bench' 2>&1 | grep -m1 '"metric"' | sed 's/^\[info\] //' \
      | tee "$OUT/bench_${PATHKIND}_cpus$CPUS.json"
  done
done
python3 - "$OUT" "$N" "$N4" <<'EOF'
import json, sys
out, n, n4 = sys.argv[1], sys.argv[2], sys.argv[3]
for kind, field in (("window", "tokens_per_sec"), ("grouped", "grouped_tokens_per_sec"),
                    ("regroup", "regroup_tokens_per_sec")):
    a = json.load(open(f"{out}/bench_{kind}_cpus{n}.json"))
    b = json.load(open(f"{out}/bench_{kind}_cpus{n4}.json"))
    ta, tb = a[field], b[field]
    print(json.dumps({"path": kind, f"tok_s_local{n}": ta, f"tok_s_local{n4}": tb,
                      "scaling_efficiency": round(tb / (4 * ta), 3),
                      "tokens": a["tokens"]}))
EOF
