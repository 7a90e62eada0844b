#!/usr/bin/env bash
# Dev-only: run a graft main (graft.Bench / graft.Verify / graft.tools.DataGen)
# directly with java, bypassing sbt — so long-running mains don't hold the
# sbt server lock and can run concurrently with `sbt test`.
# Usage: tools/run.sh <mainClass> [args...]
#   e.g. SPARK_GRAFT_SF_DIR=<sfDir> tools/run.sh graft.Bench
# Env: SPARK_DRIVER_MEM (default: half of MemTotal, clamped to 2–8g),
#      SPARK_GRAFT_JAVA_OPTS, SPARK_GRAFT_SF_DIR
set -euo pipefail
cd "$(dirname "$0")/.."
CLASSES=target/scala-2.13/classes
[ -d "$CLASSES" ] || { echo "run 'sbt compile' first" >&2; exit 1; }
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
HEAP="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
# Spark's jars dir bundles scala-library; append the sbt-boot copy too so
# the launcher also works on a Spark layout that does not.
SCALA_LIB=$(ls ~/.sbt/boot/*/org.scala-lang/scala-library/*/scala-library*.jar 2>/dev/null | head -1 || true)
MAIN="$1"; shift
# shellcheck disable=SC2086
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"$HEAP" \
  -XX:ReservedCodeCacheSize=512m \
  ${SPARK_GRAFT_JAVA_OPTS:-} \
  -cp "$CLASSES:/opt/spark/jars/*${SCALA_LIB:+:$SCALA_LIB}" "$MAIN" "$@"
