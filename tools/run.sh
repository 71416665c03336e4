#!/bin/bash
# Run a graft main class without sbt (uses compiled classes + Spark jars).
# Usage: tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/verify01
MAIN=$1; shift
# Spark's jars include the scala-library build.sbt compiles against.
exec java \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  ${GRAFT_JVM_LOG:+-Xlog:all=warning:stderr} \
  -Xmx${SPARK_DRIVER_MEM:-8g} \
  -cp "$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
