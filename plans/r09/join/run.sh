#!/bin/bash
# Usage: run.sh ENGINE_CLASSES DATA WORK [REPS] [CORES] [QUERIES]
#   ENGINE_CLASSES  .bench_build/classes of the checkout to measure (its
#                   src/main/resources, two levels up, go on the class path)
#   DATA            TPC-H-style parquet dir (sf0.1 for the recorded runs)
#   WORK            scratch dir (emptied)
#   REPS            timed passes after the warm-up pass (default 1)
#   CORES           the session runs at local[CORES] with CORES shuffle
#                   partitions (default 4; graft.Bench uses 32)
#   QUERIES         comma-separated subset of Join.names (default all)
# Prints one RESULT JSON line per query and pass: its wall time in s.
set -eo pipefail
here=$(cd "$(dirname "$0")" && pwd)
classes=$1; data=$2; work=$3; reps=${4:-1}; cores=${5:-4}; queries=${6:-}
resources=$classes/../../src/main/resources
# the Spark jars build.sbt names as its unmanagedBase
jars=$(sed -n 's/.*unmanagedBase := file("\(.*\)").*/\1/p' \
  "$here/../../../build.sbt")/*
rm -rf "$work"
mkdir -p "$work/tmp" "$work/out"
java -Xss8m -Xmx2g -cp "$jars" scala.tools.nsc.Main -nowarn -d "$work/out" \
  -classpath "$classes:$jars" "$here/Join.scala"
opens="java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio
  java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch
  sun.nio.cs sun.security.action sun.util.calendar"
java -Xmx4g -Xss8m -XX:-UsePerfData \
  $(for p in $opens; do echo "--add-opens=java.base/$p=ALL-UNNAMED"; done) \
  -Djava.io.tmpdir="$work/tmp" -Dspark.local.dir="$work/tmp" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$work/out:$classes:$resources:$jars" Join "$data" "$reps" "$cores" $queries \
  2> "$work/stderr.log" | grep RESULT
