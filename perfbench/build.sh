#!/usr/bin/env bash
# Builds the graft engine (src/main) and the benchmark harness
# (perfbench/harness) with the Scala compiler that ships in Spark's jars,
# so no sbt and no dependency download is needed.
#
# Usage: bash perfbench/build.sh OUT_DIR SPARK_JARS_DIR
#   OUT_DIR/main     engine classes
#   OUT_DIR/harness  harness classes
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
out="$1"
jars="$2"
mapfile -t sources < <(find "$root/src/main" -name '*.scala' 2>/dev/null | sort)
if [ "${#sources[@]}" -eq 0 ]; then
  echo "build.sh: no Scala sources under $root/src/main" >&2
  exit 1
fi
scalac() {
  java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -usejavacp -nowarn "$@"
}
rm -rf "$out.partial"
mkdir -p "$out.partial/main" "$out.partial/harness"
scalac -d "$out.partial/main" "${sources[@]}"
scalac -cp "$out.partial/main" -d "$out.partial/harness" "$root"/perfbench/harness/*.scala
rm -rf "$out"
mv "$out.partial" "$out"
