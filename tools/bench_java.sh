#!/bin/bash
# sbt-free bench runner: java directly against /opt/spark/jars + compiled
# classes (no sbt lock, ~5 s faster startup). Build once with
# `sbt -batch package` (or compile) before using.
set -eo pipefail
ADDOPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens $p=ALL-UNNAMED"
done
# heap: SPARK_DRIVER_MEM, else half of physical memory clamped to 2–8 GiB
MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' \
  </proc/meminfo 2>/dev/null || echo 2g)}"
exec java $ADDOPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"$MEM" \
  -cp "$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes:/opt/spark/jars/*" \
  "${1:-graft.Bench}" "${@:2}"
