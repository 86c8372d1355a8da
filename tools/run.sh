#!/bin/bash
# Run a graft main class without sbt startup overhead.
# Usage: tools/run.sh graft.Verify <sf-dir> <out-dir>
set -e
# the classes of the checkout this script lives in, wherever it is
CLASSES="$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-8g} \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
