#!/usr/bin/env bash
# Builds the engine (src/main/scala at the repository root) together with
# the benchmark sources (ingestbench/src) into ingestbench/.build/classes,
# with the Scala compiler and Spark jars of the Spark distribution.
# Usage: bash ingestbench/build.sh   (from any directory)
set -euo pipefail
here="$(cd "$(dirname "$0")" && pwd)"
root="$(dirname "$here")"
jars="${SPARK_HOME:-/opt/spark}/jars"
[ -d "$root/src/main/scala" ] || { echo "build: no engine sources at $root/src/main/scala" >&2; exit 3; }
[ -f "$jars/scala-compiler-2.13.17.jar" ] || { echo "build: no Scala 2.13 compiler in $jars" >&2; exit 3; }
out="$here/.build"
rm -rf "$out/classes.tmp"
mkdir -p "$out/classes.tmp"
find "$root/src/main/scala" "$here/src" -name '*.scala' | sort > "$out/sources.txt"
java -XX:-UsePerfData -Xss16m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -classpath "$jars/*" -d "$out/classes.tmp" "@$out/sources.txt"
rm -rf "$out/classes"
mv "$out/classes.tmp" "$out/classes"
