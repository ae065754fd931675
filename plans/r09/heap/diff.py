"""Diffs two `jmap -histo` files: per class, instances and bytes in each,
sorted by the byte difference, the largest first.

Usage: python3 diff.py PARENT.txt CHANGE.txt [N]
"""
import sys


def load(path):
    out = {}
    for line in open(path):
        parts = line.split()
        if len(parts) >= 4 and parts[0].endswith(":"):
            out[parts[3]] = (int(parts[1]), int(parts[2]))
        elif parts and parts[0] == "Total":
            out["TOTAL"] = (int(parts[1]), int(parts[2]))
    return out


def main(a, b, n="25"):
    pa, pb = load(a), load(b)
    rows = [(pb.get(k, (0, 0))[1] - pa.get(k, (0, 0))[1], k)
            for k in set(pa) | set(pb)]
    rows.sort(key=lambda r: -abs(r[0]))
    print(f"{'class':70s} {'parent n':>9s} {'change n':>9s} "
          f"{'parent KB':>10s} {'change KB':>10s} {'delta KB':>9s}")
    for d, k in rows[:int(n)]:
        (ia, ba), (ib, bb) = pa.get(k, (0, 0)), pb.get(k, (0, 0))
        print(f"{k[:70]:70s} {ia:9d} {ib:9d} {ba / 1024:10.1f} "
              f"{bb / 1024:10.1f} {d / 1024:+9.1f}")


if __name__ == "__main__":
    main(*sys.argv[1:])
