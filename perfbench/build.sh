#!/usr/bin/env bash
# Build file of the benchmark: compiles the engine (src/main/scala) and
# the benchmark driver (perfbench/src) with the Scala compiler that ships
# in Spark's jars directory, into perfbench/.build/classes.
#
#   bash perfbench/build.sh        # from the repository root
#
# The build is skipped when a stamp of every source file's content
# matches the last build. Needs SPARK_HOME (or spark-submit on PATH).
set -euo pipefail

here="$(cd "$(dirname "${BASH_SOURCE[0]}")" && pwd)"
root="$(dirname "$here")"
out="$here/.build"

if [[ ! -d "$root/src/main/scala/graft" ]]; then
  echo "perfbench/build.sh: no engine sources at $root/src/main/scala" >&2
  exit 2
fi
if [[ -z "${SPARK_HOME:-}" ]]; then
  submit="$(command -v spark-submit || true)"
  [[ -n "$submit" ]] || { echo "perfbench/build.sh: set SPARK_HOME" >&2; exit 2; }
  SPARK_HOME="$(dirname "$(dirname "$(readlink -f "$submit")")")"
fi
jars="$SPARK_HOME/jars"
ls "$jars"/scala-compiler-*.jar >/dev/null 2>&1 ||
  { echo "perfbench/build.sh: no scala-compiler jar in $jars" >&2; exit 2; }

mapfile -t sources < <(find "$root/src/main/scala" "$here/src" -name '*.scala' | LC_ALL=C sort)
stamp="$(cat "${sources[@]}" | sha256sum | cut -d' ' -f1)"
if [[ -f "$out/stamp" && "$(cat "$out/stamp")" == "$stamp" ]]; then
  exit 0
fi

mkdir -p "$out"
rm -rf "$out/classes.tmp"
mkdir -p "$out/classes.tmp"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out/classes.tmp" -classpath "$jars/*" "${sources[@]}"
rm -rf "$out/classes"
mv "$out/classes.tmp" "$out/classes"
echo "$stamp" > "$out/stamp"
