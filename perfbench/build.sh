#!/usr/bin/env bash
# Build file of the benchmark. Compiles the library (src/main/scala) and the
# benchmark harness (perfbench/src) into one class directory, using the
# Scala compiler that ships among the jars of the Spark distribution — no
# build tool and no downloads.
#
# Usage (from the repository root):  bash perfbench/build.sh <classes-dir>
# Spark is found through SPARK_HOME, else through spark-submit on the PATH.
set -euo pipefail

out="${1:?usage: build.sh <classes-dir>}"
if [[ -n "${SPARK_HOME:-}" ]]; then
  jars="$SPARK_HOME/jars"
else
  jars="$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")/jars"
fi
[[ -d src/main/scala ]] || { echo "build.sh: no src/main/scala here" >&2; exit 2; }
ls "$jars"/scala-compiler-*.jar >/dev/null

tmp="$out.tmp"
rm -rf "$tmp"
mkdir -p "$tmp"
find src/main/scala perfbench/src -name '*.scala' | sort > "$tmp.sources"
java -Xss8m -Xmx3g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -classpath "$jars/*" -d "$tmp" @"$tmp.sources"
rm -f "$tmp.sources"
rm -rf "$out"
mv "$tmp" "$out"
