#!/bin/bash
# Run a graft main class directly (no sbt lock): tools/run_main.sh <mainClass> [args...]
# Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM, JVM_EXTRA
# The classes are this checkout's own (tools/..), so two checkouts run
# side by side.
MAIN="$1"; shift
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
CP="$ROOT/target/scala-2.13/classes:/opt/spark/jars/*"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Duser.timezone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-8g} $JVM_EXTRA \
  -cp "$CP" "$MAIN" "$@"
