#!/bin/bash
# Dev launcher: run a graft main against the compiled classes + /opt/spark/jars
# without holding the sbt project lock (scale rehearsals run for an hour in
# the background while the dev loop keeps compiling).
# Usage: SPARK_GRAFT_SF_DIR=... SPARK_DRIVER_MEM=64g EXTRA="-Dspark.io.compression.codec=zstd" tools/run_main.sh graft.Timeit dedup_setsim
set -e
REPO="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
OPENS="java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect java.base/java.io java.base/java.net java.base/java.nio java.base/java.util java.base/java.util.concurrent java.base/java.util.concurrent.atomic java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action java.base/sun.util.calendar"
FLAGS=""
for p in $OPENS; do FLAGS="$FLAGS --add-opens $p=ALL-UNNAMED"; done
exec java $FLAGS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-8g} $EXTRA \
  -cp "$REPO/target/scala-2.13/classes:/opt/spark/jars/*" "$@"
