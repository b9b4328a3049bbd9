#!/bin/bash
# Run a graft main against the ALREADY-COMPILED classes without taking
# the sbt lock (tools can run while sbt compiles/tests something else).
# Usage: tools/run-main.sh <MainClass> [args...]  (env passes through)
# The classes resolve from this script's own checkout, so it works from
# any clone or worktree and from any working directory.
REPO="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
# Spark's jars: $SPARK_HOME, else the install behind `spark-submit` on PATH
SPARK_HOME="${SPARK_HOME:-$(cd "$(dirname "$(readlink -f "$(command -v spark-submit)")")/.." && pwd)}"
MAIN="$1"; shift
exec java \
  --add-opens java.base/java.lang=ALL-UNNAMED \
  --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens java.base/java.io=ALL-UNNAMED \
  --add-opens java.base/java.net=ALL-UNNAMED \
  --add-opens java.base/java.nio=ALL-UNNAMED \
  --add-opens java.base/java.util=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens java.base/sun.security.action=ALL-UNNAMED \
  --add-opens java.base/sun.util.calendar=ALL-UNNAMED \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" -XX:ReservedCodeCacheSize=1g \
  -cp "$REPO/target/scala-2.13/classes:$SPARK_HOME/jars/*" \
  "$MAIN" "$@"
