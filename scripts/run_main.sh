#!/bin/bash
# Run a graft main directly on the compiled classes (no sbt lock) —
# same JDK17 add-opens + heap as build.sbt's forked run.
# Usage: scripts/run_main.sh graft.Bench [args...]
cd "$(dirname "$0")/.." || exit 1
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx"${SPARK_DRIVER_MEM:-24g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
