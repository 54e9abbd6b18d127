#!/usr/bin/env bash
# Build file of the benchmark: compiles the engine (src/main/scala) together
# with the harness (perfbench/scala) into OUT_DIR, using the Scala compiler
# that ships among Spark's jars. Run from the repository root:
#   perfbench/build.sh SPARK_JARS_DIR OUT_DIR
set -euo pipefail
jars="$1"
out="$2"
[ -d src/main/scala ] || { echo "build.sh: no src/main/scala under $(pwd)" >&2; exit 2; }
rm -rf "$out"
mkdir -p "$out"
find src/main/scala perfbench/scala -name '*.scala' | sort > "$out.sources"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -classpath "$jars/*" -d "$out" "@$out.sources"
rm -f "$out.sources"
