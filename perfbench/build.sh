#!/usr/bin/env bash
# Compiles the engine (src/main/scala) and the benchmark's JVM side
# (perfbench/jvm) into one class directory, with the Scala compiler that
# ships in the Spark jars: no sbt, no network, build.sbt untouched.
#
# Usage: bash perfbench/build.sh <out-dir>     (run from the repository root)
# Env:   SPARK_JARS (default /opt/spark/jars)
set -euo pipefail
out=${1:?usage: build.sh <out-dir>}
jars=${SPARK_JARS:-/opt/spark/jars}
test -d src/main/scala || { echo "build.sh: no src/main/scala under $(pwd)" >&2; exit 2; }
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find src/main/scala perfbench/jvm -name '*.scala' | LC_ALL=C sort > "$out.sources"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main \
  -nowarn -classpath "$jars/*" -d "$out.tmp" @"$out.sources"
rm -rf "$out"
mv "$out.tmp" "$out"
