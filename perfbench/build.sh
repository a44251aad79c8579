#!/usr/bin/env bash
# Builds the benchmark: the repository's main Scala sources plus
# perfbench/src, compiled into <out-dir> with the Scala compiler that ships
# in Spark's jars (no sbt, no downloads).
# Usage: perfbench/build.sh <out-dir>
set -euo pipefail
here="$(cd "$(dirname "$0")" && pwd)"
root="$(dirname "$here")"
out="$1"
if [ -z "${SPARK_HOME:-}" ]; then
  SPARK_HOME="$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")"
fi
jars="$SPARK_HOME/jars"
if [ ! -d "$root/src/main/scala" ] || [ ! -d "$jars" ]; then
  echo "build.sh: need $root/src/main/scala and Spark jars at $jars" >&2
  exit 2
fi
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find "$root/src/main/scala" "$here/src" -name '*.scala' | sort > "$out.tmp/sources.txt"
java -XX:-UsePerfData -Xss4m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -classpath "$jars/*" -d "$out.tmp" @"$out.tmp/sources.txt"
rm -rf "$out"
mv "$out.tmp" "$out"
