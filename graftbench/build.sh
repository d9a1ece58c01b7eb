#!/usr/bin/env bash
# Builds graft (src/main/scala) together with the benchmark harness
# (graftbench/scala) into $CARGO_TARGET_DIR/graftbench.jar, default
# .bench_build/graftbench.jar, with the Scala compiler that ships in Spark's
# jars directory: $SPARK_HOME/jars, else the directory build.sbt compiles
# against (its unmanagedBase). Writes the run-time class path to
# $CARGO_TARGET_DIR/classpath. Skips the compile when no source changed
# since the last build.
#
#   bash graftbench/build.sh
set -euo pipefail
cd "$(dirname "$0")/.."
[[ -d src/main/scala ]] || { echo "build.sh: no graft sources under src/main/scala" >&2; exit 1; }
out="${CARGO_TARGET_DIR:-.bench_build}"
mkdir -p "$out"
out="$(cd "$out" && pwd)"
if [[ -n "${SPARK_HOME:-}" ]]; then
  jars="$SPARK_HOME/jars"
else
  jars="$(sed -n 's/^unmanagedBase := file("\(.*\)").*/\1/p' build.sbt)"
fi
[[ -d "$jars" ]] || { echo "build.sh: no Spark jars directory found" >&2; exit 1; }
(echo "$out/graftbench.jar"; ls "$jars"/*.jar | LC_ALL=C sort) | paste -sd: > "$out/classpath"
mapfile -t srcs < <(find src/main/scala graftbench/scala -name '*.scala' | LC_ALL=C sort)
stamp="$( (printf '%s\n' "${srcs[@]}"; cat "${srcs[@]}") | sha256sum | cut -d' ' -f1)"
if [[ -f "$out/classes.stamp" && "$(cat "$out/classes.stamp")" == "$stamp" ]]; then
  exit 0
fi
compiler_cp="$(ls "$jars"/scala-compiler-*.jar "$jars"/scala-library-*.jar "$jars"/scala-reflect-*.jar | paste -sd:)"
rm -rf "$out/classes.tmp"
mkdir -p "$out/classes.tmp"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$compiler_cp" scala.tools.nsc.Main -nowarn \
  -d "$out/classes.tmp" -cp "$jars/*" "${srcs[@]}"
# one jar, not a class directory: the JVM's class-data archive
# (run.py) only covers jar entries of the class path
jar -J-XX:-UsePerfData cf "$out/graftbench.jar.tmp" -C "$out/classes.tmp" .
rm -rf "$out/classes.tmp" "$out/graftbench.jsa"
mv "$out/graftbench.jar.tmp" "$out/graftbench.jar"
echo "$stamp" > "$out/classes.stamp"
