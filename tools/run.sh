#!/bin/bash
# Run a graft main class directly (no sbt startup cost), from the classes
# `sbt compile` built in this script's own checkout.
# Usage: tools/run.sh graft.Verify /root/testdata/sf0.001 /tmp/verify_out
set -e
CLASSES="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)/target/scala-2.13/classes"
if [ ! -d "$CLASSES" ]; then
  echo "tools/run.sh: $CLASSES is missing; run 'sbt compile' in that checkout first" >&2
  exit 1
fi
CP="$CLASSES:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# GRAFT_JAVA_OPTS: extra JVM flags, e.g. GRAFT_JAVA_OPTS=-Xmx4g
exec java $ADD_OPENS -Xmx8g $GRAFT_JAVA_OPTS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" "$@"
