"""Summarises alternating parent/change benchmark pairs.

Usage: python3 summary.py PAIRS.jsonl
For each end-to-end metric: the parent's and the change's median, the
parent's quartiles, the median change, and in how many pairs (same seed)
the change is better. Also reports correctness and failed operations.
"""
import json
import statistics
import sys

LOWER = {"setup_s", "live_heap_mb", "op_p50_s", "op_p80_s"}


def main(path):
    runs = [json.loads(line) for line in open(path)]
    by = {}
    for r in runs:
        by.setdefault(r["seed"], {})[r["side"]] = r
    pairs = [p for p in by.values() if len(p) == 2]
    print(f"{len(pairs)} pairs; all correct: "
          f"{all(r['correct'] for r in runs)}; failed ops parent/change: "
          f"{sum(p['parent']['failed'] for p in pairs)}/"
          f"{sum(p['change']['failed'] for p in pairs)}")
    for m in runs[0]["metrics"]:
        par = [p["parent"]["metrics"][m]["value"] for p in pairs]
        chg = [p["change"]["metrics"][m]["value"] for p in pairs]
        q1, _, q3 = statistics.quantiles(par, n=4)
        better = sum((c < p) if m in LOWER else (c > p)
                     for p, c in zip(par, chg))
        mp, mc = statistics.median(par), statistics.median(chg)
        print(f"{m:18s} parent {mp:9.3f} (q1 {q1:.3f}, q3 {q3:.3f})  "
              f"change {mc:9.3f}  {100 * (mc - mp) / mp:+6.1f}%  "
              f"better in {better}/{len(pairs)}")


if __name__ == "__main__":
    main(sys.argv[1])
