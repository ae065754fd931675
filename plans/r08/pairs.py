"""Runs alternating parent/change pairs of one benchmark workload and
appends each run's result line, tagged with its seed and side, to OUT.

Usage: python3 pairs.py PARENT_CHECKOUT CHANGE_CHECKOUT WORKLOAD SEEDS OUT
  SEEDS  comma list; odd seeds run the parent first, even the change first
Each run is `python3 perfbench/run.py --workload W --seed S --seconds 15`
in that checkout, one at a time.
"""
import json
import subprocess
import sys


def run(checkout, workload, seed):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "15"],
        cwd=checkout, capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main(parent, change, workload, seeds, out):
    for seed in map(int, seeds.split(",")):
        sides = [("parent", parent), ("change", change)]
        for side, checkout in sides if seed % 2 else sides[::-1]:
            line = {"seed": seed, "side": side, **run(checkout, workload, seed)}
            with open(out, "a") as f:
                f.write(json.dumps(line) + "\n")


if __name__ == "__main__":
    main(*sys.argv[1:])
