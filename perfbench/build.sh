#!/usr/bin/env bash
# Builds the engine (src/main/scala) and the benchmark program
# (perfbench/src) with the Scala compiler that ships in the Spark jars the
# sbt build compiles against (build.sbt's unmanagedBase). Output goes under
# $CARGO_TARGET_DIR (default .bench_build) in the checkout root, with the
# runtime classpath in classes/classpath; each half is rebuilt only when
# its sources change. Run from the checkout root: bash perfbench/build.sh
set -euo pipefail
out="${CARGO_TARGET_DIR:-.bench_build}/classes"
[ -d src/main/scala ] || { echo "build.sh: no engine sources under src/main/scala" >&2; exit 2; }
spark_jars=$(sed -n 's/^unmanagedBase := file("\(.*\)").*/\1/p' build.sbt 2>/dev/null || true)
[ -n "$spark_jars" ] && [ -d "$spark_jars" ] || { echo "build.sh: build.sbt names no Spark jar dir" >&2; exit 2; }
compile() {  # compile <name> <classpath> <source dir>
  local dest="$out/$1" stamp
  stamp=$(find "$3" -name '*.scala' -type f | sort | xargs cat | sha256sum | cut -c1-16)
  if [ -f "$dest/.stamp" ] && [ "$(cat "$dest/.stamp")" = "$stamp" ]; then return; fi
  rm -rf "$dest" && mkdir -p "$dest"
  find "$3" -name '*.scala' -type f | sort > "$dest/.sources"
  java -Xmx2g -Xss8m -cp "$spark_jars/*" scala.tools.nsc.Main -nowarn \
    -d "$dest" -classpath "$2" "@$dest/.sources"
  echo "$stamp" > "$dest/.stamp"
}
compile engine "$spark_jars/*" src/main/scala
compile bench "$spark_jars/*:$out/engine" perfbench/src
echo "$out/bench:$out/engine:$spark_jars/*" > "$out/classpath"
