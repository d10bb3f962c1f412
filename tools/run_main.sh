#!/bin/bash
# Run a graft main against the compiled classes without sbt (probe /
# explain iteration loop — sbt startup + the shared server would
# serialize every measurement otherwise). Usage:
#   tools/run_main.sh <MainClass> [args...]
# Env: SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM (default 8g) pass through.
set -euo pipefail
# the classes of the checkout this script lives in, so a run from a
# second copy of the repo runs that copy's build; Spark's jars from
# $SPARK_HOME/jars, else the directory build.sbt names as unmanagedBase
REPO="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CLASSES="$REPO/target/scala-2.13/classes"
[ -d "$CLASSES" ] || { echo "run_main.sh: no compiled classes at $CLASSES (run sbt compile)" >&2; exit 1; }
JARS="${SPARK_HOME:+$SPARK_HOME/jars}"
JARS="${JARS:-$(sed -n 's/^unmanagedBase := file("\(.*\)")/\1/p' "$REPO/build.sbt")}"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:$JARS/*" "$@"
