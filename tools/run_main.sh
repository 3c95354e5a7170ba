#!/bin/bash
# Run a graft main directly with java (no sbt shell needed): the compiled
# classes of the checkout this script lives in + the image's Spark jars.
# Usage:
#   tools/run_main.sh [-Xmx...] <mainClass> [args...]
# Env passthrough (SPARK_GRAFT_*) works as with sbt's run/envVars.
set -eu
XMX="-Xmx8g"
if [[ "${1:-}" == -Xm* ]]; then XMX="$1"; shift; fi
MAIN="$1"; shift
CLASSES="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)/target/scala-2.13/classes"
[[ -d "$CLASSES" ]] || { echo "run_main.sh: no $CLASSES (run sbt compile first)" >&2; exit 1; }
OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke \
         java.base/java.lang.reflect java.base/java.io java.base/java.net \
         java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent \
         java.base/java.util.concurrent.atomic java.base/sun.nio.ch \
         java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  OPENS="$OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $XMX $OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:/opt/spark/jars/*" \
  "$MAIN" "$@"
