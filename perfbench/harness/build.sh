#!/usr/bin/env bash
# Compiles the program (src/main/scala) together with the benchmark harness
# into one class directory.  Usage: build.sh <out-dir>
# Needs a JDK and $SPARK_HOME/jars, which also carry the Scala compiler.
set -euo pipefail
out=$1
here=$(cd "$(dirname "$0")" && pwd)
root=$(cd "$here/../.." && pwd)
jars="${SPARK_HOME:?set SPARK_HOME to a Spark 4.1 installation}/jars"
[ -d "$root/src/main/scala/graft" ] || { echo "build.sh: no program sources under $root/src/main/scala" >&2; exit 2; }
[ -d "$jars" ] || { echo "build.sh: no Spark jars at $jars" >&2; exit 2; }
tmp="$out.tmp"
rm -rf "$tmp" && mkdir -p "$tmp"
find "$root/src/main/scala" "$here/src" -name '*.scala' | sort > "$tmp/sources.txt"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -classpath "$jars/*" -d "$tmp" -Ybackend-parallelism 4 "@$tmp/sources.txt"
if [ -d "$root/src/main/resources" ]; then cp -r "$root/src/main/resources/." "$tmp/"; fi
rm -f "$tmp/sources.txt"
rm -rf "$out" && mv "$tmp" "$out"
