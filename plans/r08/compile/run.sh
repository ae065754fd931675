#!/bin/bash
# Usage: run.sh ENGINE_CLASSES WORK
#   ENGINE_CLASSES  .bench_build/classes of the checkout to measure
#   WORK            scratch dir (emptied)
# Prints one RESULT JSON line per sql_mix template: the median, first and
# third quartile of 30 timed FlinkSql.sql calls, each with a fresh text.
set -e
here=$(cd "$(dirname "$0")" && pwd)
classes=$1; work=$2
# the Spark jars build.sbt names as its unmanagedBase
jars=$(sed -n 's/.*unmanagedBase := file("\(.*\)").*/\1/p' \
  "$here/../../../build.sbt")/*
rm -rf "$work"
python3 "$here/gen.py" "$work/in"
mkdir -p "$work/tmp" "$work/out"
java -Xss8m -Xmx2g -cp "$jars" scala.tools.nsc.Main -nowarn -d "$work/out" \
  -classpath "$classes:$jars" "$here/Compile.scala"
opens="java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio
  java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch
  sun.nio.cs sun.security.action sun.util.calendar"
java -Xmx2g -XX:-UsePerfData \
  $(for p in $opens; do echo "--add-opens=java.base/$p=ALL-UNNAMED"; done) \
  -Djava.io.tmpdir="$work/tmp" -Dspark.local.dir="$work/tmp" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$work/out:$classes:$jars" Compile "$work/in/data" \
  "$work/in/compile.tsv" 2> "$work/stderr.log" | grep RESULT
