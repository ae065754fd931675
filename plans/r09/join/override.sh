#!/bin/bash
# Usage: override.sh CHECKOUT DATA WORK RUNS OUT COUNT QUERIES
# Isolates the partition count from the build: runs run.sh (3 timed
# passes, local[4]) RUNS times per side on one engine build, alternating,
# one side with SPARK_GRAFT_STREAM_PARTITIONS=COUNT and the other with
# the sizing rule, and appends each RESULT line, tagged with its run and
# side ("parent" = the fixed COUNT, "change" = the rule), to OUT.
set -eo pipefail
here=$(cd "$(dirname "$0")" && pwd)
checkout=$1; data=$2; work=$3; runs=$4; out=$5; count=$6; queries=$7
for run in $(seq 1 "$runs"); do
  sides="parent change"; [ $((run % 2)) = 0 ] && sides="change parent"
  for side in $sides; do
    if [ "$side" = parent ]; then export SPARK_GRAFT_STREAM_PARTITIONS=$count
    else unset SPARK_GRAFT_STREAM_PARTITIONS; fi
    "$here/run.sh" "$checkout/.bench_build/classes" "$data" "$work" 3 4 \
      "$queries" |
      sed "s/^RESULT {/{\"run\": $run, \"side\": \"$side\", /" >> "$out"
  done
done
