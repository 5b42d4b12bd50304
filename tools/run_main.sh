#!/bin/bash
# Run a graft main class against the compiled classes without sbt (avoids the
# sbt project lock so receipts can run while the sbt shell iterates).
# Usage: tools/run_main.sh <MainClass> [args...]   (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, MEM)
set -euo pipefail
MAIN="$1"; shift
# this checkout's build, wherever it lives; Spark's jars from SPARK_HOME or
# the spark-submit on PATH
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
SPARK_JARS="${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}/jars"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS -Xmx"${MEM:-8g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:$SPARK_JARS/*" \
  "graft.$MAIN" "$@"
