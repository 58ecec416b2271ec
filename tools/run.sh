#!/bin/bash
# Fast runner: java with compiled classes + spark jars (skips sbt startup).
# Usage: tools/run.sh <mainClass> [args...]
# Resources come from src/main/resources directly, so a compile-only build
# (which does not copy them into target/) still registers graft's data
# sources (META-INF/services).
set -e
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
# The Spark install: SPARK_HOME, else the one whose spark-submit is on PATH.
SPARK_HOME="${SPARK_HOME:-$(cd "$(dirname "$(command -v spark-submit)")/.." && pwd)}"
CLS="$1"; shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# Default heap: half of this host's RAM, clamped to [2, 8] GB.
HALF_RAM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' \
  /proc/meminfo 2>/dev/null || echo 2g)"
mkdir -p /dev/shm/spark-local
exec java $ADD_OPENS -Xmx${SPARK_DRIVER_MEM:-$HALF_RAM} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Dspark.local.dir=/dev/shm/spark-local \
  -cp "$ROOT/target/scala-2.13/classes:$ROOT/src/main/resources:$SPARK_HOME/jars/*" \
  "$CLS" "$@"
