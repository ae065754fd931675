"""Writes the `sql_mix` tables (seed 1) and the compile harness's
statements: for each `sql_mix` template, WARM untimed and REPS timed texts,
every text with a literal no other text uses, so no text repeats.

Usage: python3 gen.py WORK   (WORK must not exist yet)
"""
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[3] / "perfbench"))
import sqlmix  # noqa: E402

WARM, REPS = 30, 30

# i-th fresh literal tuple per template; the shapes are sqlmix's own
FRESH = {
    "tumble": lambda i: (i + 1, 0),
    "hop": lambda i: (i + 1, 1),
    "cumulate": lambda i: (i + 1, 2),
    "topn": lambda i: ("F", i + 1),
    "join_agg": lambda i: (1900 + i, "01", 0),
    "q1": lambda i: (f"{1950 + i // 12}-{i % 12 + 1:02d}-01",),
}


def main(work):
    work = Path(work)
    sqlmix.make_inputs(1, work, 1)
    makers = {name: make for name, make, _ in sqlmix.TEMPLATES}
    lines = []
    for i in range(WARM + REPS):
        kind = "warm" if i < WARM else "timed"
        for name, make in makers.items():
            flink, _ = make(*FRESH[name](i))
            lines.append(f"{kind}\t{name}\t{flink}\n")
    (work / "compile.tsv").write_text("".join(lines))


if __name__ == "__main__":
    main(sys.argv[1])
