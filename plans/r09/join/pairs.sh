#!/bin/bash
# Usage: pairs.sh PARENT_CHECKOUT CHANGE_CHECKOUT DATA WORK RUNS OUT [CORES]
# Runs run.sh RUNS times per side, alternating (odd runs parent first,
# even runs change first), and appends each RESULT line, tagged with its
# run and side, to OUT. CORES goes to run.sh (default 4).
set -eo pipefail
here=$(cd "$(dirname "$0")" && pwd)
parent=$1; change=$2; data=$3; work=$4; runs=$5; out=$6; cores=${7:-4}
for run in $(seq 1 "$runs"); do
  sides="parent change"; [ $((run % 2)) = 0 ] && sides="change parent"
  for side in $sides; do
    checkout=$parent; [ "$side" = change ] && checkout=$change
    "$here/run.sh" "$checkout/.bench_build/classes" "$data" "$work" 1 "$cores" |
      sed "s/^RESULT {/{\"run\": $run, \"side\": \"$side\", /" >> "$out"
  done
done
