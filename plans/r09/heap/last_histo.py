"""Prints the class histogram taken after the last full collection in a
JVM log written with `-Xlog:classhisto*=trace` (see gclog.sh), in the
`jmap -histo` layout that diff.py reads, preceded by the log's lines for
that run's last three full collections (heap before and after).

Usage: python3 last_histo.py GC_LOG > HISTO.txt
"""
import re
import sys


def main(path):
    lines = open(path).read().splitlines()
    fulls = [l for l in lines if "Pause Full" in l]
    for l in fulls[-3:]:
        print("#", l.split("] ", 2)[-1])
    ends = [i for i, l in enumerate(lines)
            if "Class Histogram (after full gc)" in l and "GC(" in l]
    gc = re.search(r"GC\(\d+\)", lines[ends[-1]]).group(0)
    i = ends[-1]
    while "#instances" not in lines[i - 1]:
        i -= 1
    for l in lines[i - 1:ends[-1]]:
        print(l.split(gc + " ", 1)[1])


if __name__ == "__main__":
    main(sys.argv[1])
