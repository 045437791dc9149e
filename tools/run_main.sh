#!/bin/bash
# Run a graft main with plain java (no sbt lock) — mirrors build.sbt's
# forked-run JVM flags (JDK17 add-opens + UTC + UI off). Usage:
#   tools/run_main.sh graft.Verify /root/testdata/sf0.01 /tmp/out
# Env: SPARK_DRIVER_MEM (default 8g), SPARK_GRAFT_CPUS, SPARK_GRAFT_SF_DIR,
#      SNAP_CLASSES (classes dir, default target/scala-2.13/classes).
# A long-running JVM can run from a snapshot of the classes, so that a
# foreground `sbt compile` does not rewrite them underneath it. Make the
# snapshot after a green compile, then point SNAP_CLASSES at it:
#   rm -rf /tmp/classes_snap && cp -r target/scala-2.13/classes /tmp/classes_snap
#   SNAP_CLASSES=/tmp/classes_snap tools/run_main.sh graft.Bench
set -euo pipefail
cd "$(dirname "$0")/.."
CLASSES="${SNAP_CLASSES:-target/scala-2.13/classes}"
[ -d "$CLASSES" ] || { echo "classes dir $CLASSES missing — see header" >&2; exit 1; }
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CLASSES:/opt/spark/jars/*" \
  "$@"
