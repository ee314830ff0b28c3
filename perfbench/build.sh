#!/bin/bash
# Build file of the benchmark package: compiles the engine sources
# (src/main/scala) together with the benchmark sources (perfbench/src)
# into one class directory with the Scala 2.13 compiler that ships in the
# Spark distribution's jars. No sbt, no dependency resolution.
#
# Usage (from the repository root): bash perfbench/build.sh <out_dir>
# Environment: SPARK_JARS, the Spark distribution's jars directory
# (default: $SPARK_HOME/jars).
set -euo pipefail
OUT="${1:?usage: build.sh <out_dir>}"
JARS="${SPARK_JARS:-${SPARK_HOME:?set SPARK_JARS or SPARK_HOME}/jars}"
[ -d src/main/scala ] || { echo "build.sh: no engine sources (src/main/scala) here" >&2; exit 2; }
[ -d perfbench/src ] || { echo "build.sh: no benchmark sources (perfbench/src) here" >&2; exit 2; }
COMPILER_CP="$JARS/scala-compiler-2.13.17.jar:$JARS/scala-library-2.13.17.jar:$JARS/scala-reflect-2.13.17.jar"
TMP="$OUT.tmp"
rm -rf "$TMP" && mkdir -p "$TMP"
find src/main/scala perfbench/src -name '*.scala' | sort > "$TMP.sources"
java -Xss4m -Xmx2g -XX:-UsePerfData -cp "$COMPILER_CP" scala.tools.nsc.Main \
  -nowarn -deprecation:false -d "$TMP" -classpath "$JARS/*" "@$TMP.sources"
rm -f "$TMP.sources"
rm -rf "$OUT" && mv "$TMP" "$OUT"
