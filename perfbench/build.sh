#!/usr/bin/env bash
# Build file of the benchmark package: compiles the program
# (src/main/scala) together with the benchmark's own sources
# (perfbench/src) into <out>/classes, using the Scala compiler that
# ships with the Spark jars. The jars directory is the program's own
# `unmanagedBase` in build.sbt unless $SPARK_JARS_DIR names another;
# it is recorded in <out>/classes/.jars for run.py. A rebuild is
# skipped when the sources' digest matches the stamp of the last
# successful build.
#
#   bash perfbench/build.sh [out-dir]      (default: .bench_build)
set -euo pipefail

root="$(pwd)"
out="${1:-.bench_build}"

[ -d "$root/src/main/scala" ] || { echo "build: no program sources at src/main/scala" >&2; exit 2; }
[ -d "$root/perfbench/src" ] || { echo "build: no benchmark sources at perfbench/src" >&2; exit 2; }
jars="${SPARK_JARS_DIR:-$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$root/build.sbt" 2>/dev/null)}"
ls "$jars"/scala-compiler-*.jar >/dev/null 2>&1 || { echo "build: no Scala compiler in '$jars'" >&2; exit 2; }

mapfile -t sources < <(find "$root/src/main/scala" "$root/perfbench/src" -name '*.scala' | LC_ALL=C sort)
stamp="$( { echo "$jars"; printf '%s\n' "${sources[@]#"$root"/}"; cat "${sources[@]}"; } | sha256sum | cut -d' ' -f1)"

mkdir -p "$out"
if [ -f "$out/classes/.stamp" ] && [ "$(cat "$out/classes/.stamp")" = "$stamp" ]; then
  exit 0
fi

staging="$out/classes.tmp.$$"
rm -rf "$staging"
mkdir -p "$staging"
trap 'rm -rf "$staging"' EXIT
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -usejavacp -nowarn \
  -d "$staging" "${sources[@]}" >&2
echo "$stamp" > "$staging/.stamp"
echo "$jars" > "$staging/.jars"
rm -rf "$out/classes"
mv "$staging" "$out/classes"
trap - EXIT
