#!/bin/bash
# Run a graft main class without sbt (no project-lock contention with a
# concurrently-running sbt). Usage: tools/run_main.sh <mainClass> [args...]
# Env passthrough: SPARK_GRAFT_* as usual; SPARK_DRIVER_MEM (default 8g).
# Classes come from `sbt compile` in the repository holding this script;
# the Spark jars directory already carries scala-library.
CLS="$1"; shift
CLASSES="$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes"
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
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "${CLASSES}:/opt/spark/jars/*" \
  "$CLS" "$@"
