#!/usr/bin/env bash
# Build file of the benchmark: compiles the engine (src/main/scala) and the
# benchmark (perfbench/src) from source into one class directory, with the
# Scala compiler and Spark jars of the Spark installation.
#
# usage: perfbench/build.sh <classes-dir>     (run from the repository root)
# SPARK_JARS overrides the jar directory (default /opt/spark/jars).
set -euo pipefail
out="$1"
jars="${SPARK_JARS:-/opt/spark/jars}"
compiler=("$jars"/scala-compiler-2.13.*.jar "$jars"/scala-library-2.13.*.jar "$jars"/scala-reflect-2.13.*.jar)
for j in "${compiler[@]}"; do
  [ -f "$j" ] || { echo "build.sh: no Scala 2.13 compiler jars in $jars" >&2; exit 2; }
done
[ -d src/main/scala ] || { echo "build.sh: src/main/scala not found (run from the repository root)" >&2; exit 2; }
cp=$(IFS=:; echo "${compiler[*]}")
rm -rf "$out.partial"
mkdir -p "$out.partial"
find src/main/scala perfbench/src -name '*.scala' > "$out.partial.sources"
java -Xss8m -Xmx2g -cp "$cp" scala.tools.nsc.Main -nowarn \
  -d "$out.partial" -classpath "$jars/*" "@$out.partial.sources"
rm -f "$out.partial.sources"
rm -rf "$out"
mv "$out.partial" "$out"
