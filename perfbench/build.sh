#!/usr/bin/env bash
# Builds the engine (src/main/scala of the enclosing checkout) and the
# benchmark (perfbench/src) with the Scala compiler that ships in the
# Spark distribution, into $BENCH_BUILD (default .bench_build).
# Skips the compile when neither source tree changed since the last build.
# Run from the root of the checkout:  bash perfbench/build.sh
set -euo pipefail

out="${BENCH_BUILD:-.bench_build}"
engine_src="src/main/scala"
bench_src="perfbench/src"
if [[ ! -d "$engine_src" || ! -d "$bench_src" ]]; then
  echo "build.sh: run from the checkout root ($engine_src and $bench_src are required)" >&2
  exit 2
fi

spark_home="${SPARK_HOME:-}"
if [[ -z "$spark_home" ]]; then
  submit="$(command -v spark-submit || true)"
  [[ -n "$submit" ]] && spark_home="$(cd "$(dirname "$(readlink -f "$submit")")/.." && pwd)"
fi
if [[ -z "$spark_home" || ! -d "$spark_home/jars" ]]; then
  echo "build.sh: no Spark distribution found (set SPARK_HOME)" >&2
  exit 2
fi
jars="$spark_home/jars/*"

stamp="$( (find "$engine_src" "$bench_src" -name '*.scala' -type f | LC_ALL=C sort | xargs sha1sum; echo "$spark_home") | sha1sum | cut -c1-40)"
if [[ -f "$out/classes.stamp" && "$(cat "$out/classes.stamp")" == "$stamp" ]]; then
  exit 0
fi

rm -rf "$out/classes" "$out/classes.stamp"
mkdir -p "$out/classes/engine" "$out/classes/bench"
scalac() { java -XX:-UsePerfData -Xss8m -Xmx3g -cp "$jars" scala.tools.nsc.Main -nowarn "$@"; }
scalac -d "$out/classes/engine" -cp "$jars" $(find "$engine_src" -name '*.scala' -type f)
scalac -d "$out/classes/bench" -cp "$jars:$out/classes/engine" $(find "$bench_src" -name '*.scala' -type f)
cp perfbench/log4j2.properties "$out/classes/bench/"
echo "$stamp" > "$out/classes.stamp"
