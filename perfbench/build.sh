#!/usr/bin/env bash
# Builds the program (src/main) and the benchmark harness (perfbench/src)
# with the Scala compiler that ships in the Spark distribution, against the
# Spark jars, without sbt. The jars are the ones build.sbt names as its
# unmanagedBase, else $SPARK_HOME/jars. Output: $1/program and $1/harness
# (class dirs) and $1/jars (the jar directory, for run.py). Skips the
# compile when a stamp of the sources' contents is unchanged.
#
#   usage: perfbench/build.sh <build-dir>     (run from the repository root)
set -euo pipefail
out="$1"
[ -d src/main/scala ] || { echo "build.sh: no src/main/scala here" >&2; exit 2; }
jars_dir=$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' build.sbt)
jars_dir="${jars_dir:-${SPARK_HOME:?neither build.sbt nor SPARK_HOME names the Spark jars}/jars}"
mkdir -p "$out"
echo "$jars_dir" > "$out/jars"
jars="$jars_dir/*"
stamp=$(find src/main perfbench/src perfbench/build.sh -type f -print0 | sort -z \
  | xargs -0 sha256sum | sha256sum | cut -c1-16)
if [ -f "$out/stamp" ] && [ "$(cat "$out/stamp")" = "$stamp" ]; then exit 0; fi
rm -rf "$out/program" "$out/harness" "$out/stamp"
mkdir -p "$out/program" "$out/harness"
scalac() { java -Xss8m -Xmx2g -cp "$jars" scala.tools.nsc.Main -nowarn "$@"; }
find src/main/scala -name '*.scala' > "$out/program.srcs"
scalac -d "$out/program" -classpath "$jars" @"$out/program.srcs"
cp -r src/main/resources/. "$out/program/"
find perfbench/src -name '*.scala' > "$out/harness.srcs"
scalac -d "$out/harness" -classpath "$out/program:$jars" @"$out/harness.srcs"
echo "$stamp" > "$out/stamp"
