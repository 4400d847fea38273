#!/bin/bash
# Run a graft main class directly on the compiled classes + /opt/spark/jars,
# bypassing the sbt server lock (lets Bench/Verify run while sbt compiles).
# Usage: tools/run_main.sh <main> [args...]   (env vars pass through)
#   mains: graft.Bench, graft.Verify, graft.ScaleData, graft.tools.Probe,
#          graft.tools.GraphSumProbe, graft.tools.StreamInvariance
set -euo pipefail
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:/opt/spark/jars/*"
ADD_OPENS=(
  java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect
  java.base/java.io java.base/java.net java.base/java.nio java.base/java.util
  java.base/java.util.concurrent java.base/java.util.concurrent.atomic
  java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action
  java.base/sun.util.calendar
)
OPENS=()
for p in "${ADD_OPENS[@]}"; do OPENS+=(--add-opens "$p=ALL-UNNAMED"); done
exec java "${OPENS[@]}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  "-Xmx${SPARK_DRIVER_MEM:-8g}" -cp "$CP" "$@"
