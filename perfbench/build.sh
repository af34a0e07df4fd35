#!/bin/sh
# Build file of the benchmark: compiles the engine (src/main/scala) and the
# harness (perfbench/harness) into <out_dir> with the Scala compiler that
# ships among the Spark jars, the same jars build.sbt compiles against.
# Run from the repository root: sh perfbench/build.sh <out_dir> <spark_jars_dir>
set -eu
out=$1
jars=$2
[ -d src/main/scala ] || { echo "build: no src/main/scala under $(pwd)" >&2; exit 2; }
rm -rf "$out.partial"
mkdir -p "$out.partial"
find src/main/scala perfbench/harness -name '*.scala' | sort > "$out.partial/sources.txt"
java -Xss8m -Xmx2g -XX:-UsePerfData -Djava.io.tmpdir="$out.partial" \
  -cp "$jars/*" scala.tools.nsc.Main -nowarn -classpath "$jars/*" \
  -d "$out.partial" @"$out.partial/sources.txt"
rm -rf "$out"
mv "$out.partial" "$out"
