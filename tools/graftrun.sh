#!/bin/bash
# Direct-JVM launcher for graft mains (mirrors build.sbt javaOptions).
# Usage: graftrun.sh <MainClass> [args...]
# Env: GRAFT_XMX or SPARK_DRIVER_MEM for heap (GRAFT_XMX wins), SPARK_GRAFT_*.
set -u
MAIN="$1"; shift
ROOT=$(cd "$(dirname "$0")/.." && pwd)
CLASSES=$ROOT/target/scala-2.13/classes
if [ ! -d "$CLASSES" ]; then
  echo "graftrun: $CLASSES missing - run 'sbt compile' first" >&2
  exit 1
fi
# Stale-bytecode guard: warn when any source file is newer than the newest
# compiled class (edited-but-uncompiled code would silently benchmark stale).
NEWEST_CLASS=$(find "$CLASSES" -name '*.class' -newer /dev/null -printf '%T@\n' 2>/dev/null | sort -rn | head -1)
NEWEST_SRC=$(find "$ROOT/src/main/scala" -name '*.scala' -printf '%T@\n' 2>/dev/null | sort -rn | head -1)
if [ -n "${NEWEST_SRC:-}" ] && [ -n "${NEWEST_CLASS:-}" ] && \
   awk -v s="$NEWEST_SRC" -v c="$NEWEST_CLASS" 'BEGIN{exit !(s>c)}'; then
  echo "graftrun: WARNING - src/main/scala has sources newer than $CLASSES; run 'sbt compile' or results reflect stale bytecode" >&2
fi
# a plain `sbt compile` leaves the SQL and schema resources out of
# $CLASSES (only `test`/`package` copy them there), so list them too
CLASSES="$CLASSES:$ROOT/src/main/resources"
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADDOPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -XX:-DontCompileHugeMethods \
  -Xmx"${GRAFT_XMX:-${SPARK_DRIVER_MEM:-8g}}" \
  -cp "$CLASSES:/opt/spark/jars/*" \
  "$MAIN" "$@"
