"""Median wall time per query and side from pairs.sh output.

Usage: python3 medians.py RESULTS.jsonl
Prints one row per query: parent median, change median, the change in
percent, and the partition counts each side's stateful operators ran at.
"""
import json
import statistics
import sys

rows = [json.loads(line) for line in open(sys.argv[1]) if line.strip()]
queries = list(dict.fromkeys(r["query"] for r in rows))
print("| query | parent | change | change | partitions (parent → change) |")
print("|---|---|---|---|---|")
for q in queries:
    med, parts = {}, {}
    for side in ("parent", "change"):
        mine = [r for r in rows if r["query"] == q and r["side"] == side]
        med[side] = statistics.median(r["wall_s"] for r in mine)
        parts[side] = sorted({p for r in mine for p in r.get("partitions", [])})
    pct = 100 * (med["change"] / med["parent"] - 1)
    fmt = lambda ps: ",".join(map(str, ps)) or "none"
    print(f"| `{q}` | {med['parent']:.2f} s | {med['change']:.2f} s | "
          f"{pct:+.1f}% | {fmt(parts['parent'])} → {fmt(parts['change'])} |")
