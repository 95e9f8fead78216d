#!/usr/bin/env bash
# Compile the benchmark together with the program's main sources into one
# class directory. Run from the repository root:
#   perfbench/build.sh <class-dir> <spark-jars-dir>
# Needs a JDK and Spark's jar directory, which includes the Scala 2.13
# compiler.
set -euo pipefail
out=${1:?usage: perfbench/build.sh <class-dir> <spark-jars-dir>}
jars=${2:?usage: perfbench/build.sh <class-dir> <spark-jars-dir>}
if [ ! -d src/main/scala ] || [ ! -d perfbench/src ]; then
  echo "build.sh: run from the repository root (src/main/scala and perfbench/src needed)" >&2
  exit 2
fi
if [ ! -d "$jars" ]; then
  echo "build.sh: no Spark jars at $jars" >&2
  exit 2
fi
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find src/main/scala perfbench/src -name '*.scala' > "$out.tmp.sources"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -Ybackend-parallelism "$(nproc)" -d "$out.tmp" -classpath "$jars/*" "@$out.tmp.sources"
cp -r src/main/resources/. "$out.tmp/"
rm -rf "$out" "$out.tmp.sources"
mv "$out.tmp" "$out"
