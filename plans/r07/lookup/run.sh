#!/bin/bash
# Usage: run.sh ENGINE_CLASSES SIZES N NB WORK
#   ENGINE_CLASSES  .bench_build/classes of the checkout to measure
#   SIZES           comma list of served key counts
#   N, NB           timed lookups; timed 10-key update batches
#   WORK            scratch dir (emptied)
set -e
here=$(cd "$(dirname "$0")" && pwd)
classes=$1; work=${@: -1}
shift
# the Spark jars build.sbt names as its unmanagedBase
jars=$(sed -n 's/.*unmanagedBase := file("\(.*\)").*/\1/p' \
  "$here/../../../build.sbt")/*
rm -rf "$work"; mkdir -p "$work/tmp" "$work/out"
java -Xss8m -Xmx2g -cp "$jars" scala.tools.nsc.Main -nowarn -d "$work/out" \
  -classpath "$classes:$jars" "$here/Lookup.scala"
opens="java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio
  java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch
  sun.nio.cs sun.security.action sun.util.calendar"
java -Xmx4g -XX:-UsePerfData \
  $(for p in $opens; do echo "--add-opens=java.base/$p=ALL-UNNAMED"; done) \
  -Djava.io.tmpdir="$work/tmp" -Dspark.local.dir="$work/tmp" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$work/out:$classes:$jars" Lookup "$@" \
  2> "$work/stderr.log" | grep RESULT
