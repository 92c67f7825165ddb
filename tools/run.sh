#!/bin/bash
# Dev runner: invoke a graft main class directly on the compiled classes +
# the unmanaged Spark jars, with the JDK17 module opens spark-submit would
# add. Usage: tools/run.sh <mainClass> [args...]  (env: SPARK_GRAFT_*;
# GRAFT_XMX overrides the heap, GRAFT_REPO the repo root). Compile first
# (sbt compile).
set -eu
if [ "$#" -eq 0 ]; then
  echo "usage: tools/run.sh <mainClass> [args...]" >&2
  echo "  env: SPARK_GRAFT_* (harness knobs), GRAFT_XMX (default: half of RAM, 2g-8g), GRAFT_REPO (default: this checkout)" >&2
  exit 2
fi
MAIN="$1"; shift
REPO="${GRAFT_REPO:-$(cd "$(dirname "$0")/.." && pwd)}"
# Default heap: half of RAM clamped to 2g..8g -- the SPARK_DRIVER_MEM
# rule the test suite runs under, so a dev sweep starts on any host.
XMX="${GRAFT_XMX:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' </proc/meminfo 2>/dev/null || echo 2g)}"
# Xms=Xmx + AlwaysPreTouch: G1 uncommits heap pages after Full GC /
# concurrent-cycle cleanup; the next query's Tungsten allocations then
# re-fault them under 32-thread contention -- measured (r10 per-rep DIAG
# attribution) as 150us/fault kernel storms that turned 3.5 s reps into
# 25 s ones with IDENTICAL user CPU. Pinning the heap and pre-faulting
# it at JVM start moves that cost out of every timed window.
# GRAFT_JAVA_OPTS appends extra flags (diag GC logs, experiment toggles).
exec java -Xms"$XMX" -Xmx"$XMX" -XX:+AlwaysPreTouch \
  ${GRAFT_JAVA_OPTS:-} -XX:+IgnoreUnrecognizedVMOptions \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  -cp "$REPO/target/scala-2.13/classes:$REPO/src/main/resources:/opt/spark/jars/*" \
  "$MAIN" "$@"
