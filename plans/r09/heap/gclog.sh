#!/bin/bash
# Usage: gclog.sh CHECKOUT SEED OUT_PREFIX
# Runs `perfbench/run.py --workload cdc_agg` in CHECKOUT with the engine
# JVM logging every collection's region counts (`gc+heap`) and, at each
# full collection, a class histogram (`classhisto`), to OUT_PREFIX.gc.log.
# The benchmark's `live_heap_mb` is read after the run's last three full
# collections, so the last histogram in the log is the heap it measured;
# nothing else perturbs the run. Prints the run's result line.
set -eo pipefail
checkout=$1; seed=$2; out=$(realpath -m "$3")
cd "$checkout"
JAVA_TOOL_OPTIONS="-Xlog:gc,gc+heap=debug,classhisto*=trace:file=$out.gc.log" \
  python3 perfbench/run.py --workload cdc_agg --seed "$seed" --seconds 15 \
  2>/dev/null | tail -1 | tee "$out.result.txt"
