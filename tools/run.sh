#!/usr/bin/env bash
# Run a graft main class with the same JVM module options build.sbt
# gives forked runs (Kryo/GraphX need java.nio etc. opened on JDK 17+).
# Usage: [GRAFT_SNAP_CP=<dir>] tools/run.sh [-mem <heap>] <mainClass> [args...]
#   GRAFT_SNAP_CP: run off a snapshotted copy of target/scala-2.13/classes,
#     so a long Verify/Bench JVM survives a concurrent `sbt compile`
#     rewriting the classes it loads lazily.
#   heap: -mem, else SPARK_DRIVER_MEM, else half of RAM clamped to 2-8g.
set -euo pipefail
cd "$(dirname "$0")/.."
MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
if [ "${1:-}" = "-mem" ]; then MEM="$2"; shift 2; fi
OPENS=(java.base/java.lang java.base/java.lang.invoke
  java.base/java.lang.reflect java.base/java.io java.base/java.net
  java.base/java.nio java.base/java.util java.base/java.util.concurrent
  java.base/java.util.concurrent.atomic java.base/sun.nio.ch
  java.base/sun.nio.cs java.base/sun.security.action
  java.base/sun.util.calendar)
FLAGS=()
for p in "${OPENS[@]}"; do FLAGS+=(--add-opens "$p=ALL-UNNAMED"); done
CP="${GRAFT_SNAP_CP:-target/scala-2.13/classes}:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
exec java "-Xmx$MEM" "${FLAGS[@]}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" "$@"
