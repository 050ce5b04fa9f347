#!/bin/bash
# Run a graft main with plain `java`, replicating build.sbt's forked-run
# JVM options (add-opens, SPARK_DRIVER_MEM heap, UTC, no UI) — lets a dev
# session run Bench/Verify/PlanDump without sbt lock contention or startup
# cost. Classpath is captured once into tmp/classpath.txt (refresh with
# `sbt "export Runtime/fullClasspath"` after dependency changes; class
# RECOMPILES need only `sbt compile`, the path stays valid).
# Usage: tools/jrun.sh graft.Bench [args...]   (env vars as usual)
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
CP_FILE="$REPO/tmp/classpath.txt"
if [ ! -s "$CP_FILE" ]; then
  echo "classpath cache missing: run sbt 'export Runtime/fullClasspath' | tail -1 > tmp/classpath.txt" >&2
  exit 2
fi
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
  -Xmx"${SPARK_DRIVER_MEM:-32g}" \
  ${SPARK_EXTRA_JVM_OPTS:-} \
  -cp "$(cat "$CP_FILE")" "$@"
