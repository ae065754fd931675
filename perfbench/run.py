#!/usr/bin/env python3
"""Closed-loop benchmark of the graft engine.

    python3 perfbench/run.py --workload sql_mix --seed 1 --seconds 25 --trace 0

Run from the repository root. It builds the engine from source (see
build.py), makes the workload's inputs from the seed, runs the workload in
one plain `java` process, checks the results against a reference that does
not use the engine, and prints one JSON line as the last line of stdout:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
Why each workload and metric exists is in perfbench/NOTES.md.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import sqlmix  # noqa: E402

# Operations run before timing starts, while JIT and codegen settle; the
# counts come from runs with no warm-up, where statement times levelled off
# after two 18-statement cycles and round times after about 5 rounds. The
# sql_mix count is a whole number of cycles, so timing starts on a cycle.
WARMUP = {"sql_mix": 36, "cdc_agg": 5}
STATEMENTS = 600  # more than a run can issue; the loop cycles if it must

END_TO_END = [("setup_s", "s"), ("live_heap_mb", "MB"), ("op_p50_s", "s"),
              ("op_p80_s", "s"), ("throughput_per_s", "1/s")]

# Per-operation medians; a `.sum` twin adds the value over traced operations.
PER_OP = [
    ("sql.translate_s", "s"), ("catalyst.analysis_s", "s"),
    ("catalyst.optimization_s", "s"), ("catalyst.planning_s", "s"),
    ("exec.save_s", "s"), ("exec.jobs_per_op", "count"),
    ("exec.jobs_per_batch", "count"), ("exec.tasks_per_op", "count"),
    ("exec.task_run_s", "s"), ("exec.core_busy", "share"),
    ("exec.shuffle_write_mb", "MB"),
    ("stream.trigger_s", "s"), ("stream.addBatch_s", "s"), ("stream.log_s", "s"),
    ("stream.queryPlanning_s", "s"), ("stream.wait_s", "s"),
    ("stream.batches_per_round", "count"), ("state.commit_s", "s"),
    ("state.rows_total", "count"), ("state.bytes", "bytes"),
    ("state.memory_mb", "MB"), ("sink.files", "count"), ("sink.read_s", "s"),
    ("sink.read_jobs", "count"), ("sink.read_tasks", "count"),
]
SUMMED = {"sql.translate_s", "catalyst.analysis_s", "catalyst.optimization_s",
          "catalyst.planning_s", "exec.save_s", "exec.task_run_s",
          "exec.shuffle_write_mb", "stream.trigger_s", "stream.addBatch_s",
          "stream.log_s",
          "stream.queryPlanning_s", "stream.wait_s", "state.commit_s",
          "sink.read_s"}
PER_RUN = [("sql.repeat_share", "share"), ("sql.cache_hits", "count"),
           ("ddl.start_s", "s"), ("stream.split_rounds", "count")]
TRACE = [("trace.overhead_s", "s"), ("trace.overhead_share", "share"),
         ("trace.traced_ops", "count"), ("run.warmup_ops", "count")]


def per_layer_names():
    """Every per-layer metric as (name, unit), in report order."""
    out = []
    for name, unit in PER_OP:
        out.append((name, unit))
        if name in SUMMED:
            out.append((name + ".sum", unit))
    return out + PER_RUN + TRACE


def jvm_command(work, cp, args, cores, extra):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    # the heap limit is the one build.sbt gives the engine's own runs
    return (["java", "-Xmx8g", "-XX:-UsePerfData"]
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens]
            + [f"-Djava.io.tmpdir={work / 'tmp'}",
               f"-Dspark.local.dir={work / 'spark-local'}",
               f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", cp, "perfbench.Main",
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--warmup", str(WARMUP[args.workload]),
               "--cores", str(cores), "--work", str(work / "engine"),
               "--out", str(work / "result.json")] + extra)


def end_to_end(raw):
    ops = raw["ops"]
    times = [o["seconds"] for o in ops]
    values = {
        "setup_s": raw["setup_s"],
        "live_heap_mb": raw["live_heap_mb"],
        "op_p50_s": statistics.median(times),
        "op_p80_s": (statistics.quantiles(times, n=5, method="inclusive")[3]
                     if len(times) > 1 else times[0]),
        "throughput_per_s": sum(o["work"] for o in ops) / sum(times),
    }
    return {n: {"value": values[n], "unit": u} for n, u in END_TO_END}


def tracing_overhead(ops):
    """Traced minus untraced median time, taken per kind of operation (the
    loop alternates the two within each kind) and then the median over
    kinds: in seconds and as a share of the untraced time."""
    kinds = {}
    for o in ops:
        kinds.setdefault(o["kind"], ([], []))[0 if o["traced"] else 1].append(o["seconds"])
    pairs = [(statistics.median(t), statistics.median(u))
             for t, u in kinds.values() if t and u]
    if not pairs:
        return 0.0, 0.0
    return (statistics.median(t - u for t, u in pairs),
            statistics.median(t / u - 1 for t, u in pairs))


def per_layer(raw):
    traced = [o for o in raw["ops"] if o["traced"]]
    values = dict(raw["run_layers"])
    for name, _ in PER_OP:
        xs = [o["layers"][name] for o in traced if name in o["layers"]]
        values[name] = statistics.median(xs) if xs else 0.0
        if name in SUMMED:
            values[name + ".sum"] = sum(xs)
    over_s, over_share = tracing_overhead(raw["ops"])
    values.update({
        "trace.overhead_s": over_s,
        "trace.overhead_share": over_share,
        "trace.traced_ops": len(traced),
        "run.warmup_ops": raw["warmup_ops"],
    })
    return {n: {"value": values.get(n, 0.0), "unit": u} for n, u in per_layer_names()}


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WARMUP))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    built = time.monotonic()

    work = build.ROOT / ".bench_run" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "engine"):
        (work / d).mkdir(parents=True)
    extra = []
    if args.workload == "sql_mix":
        extra = sqlmix.make_inputs(args.seed, work, STATEMENTS)
        extra += ["--cycle", str(sqlmix.CYCLE)]
    cores = len(os.sched_getaffinity(0))

    # a run must end within 180 s of wall time, not counting the build
    budget = 165.0 - (time.monotonic() - built)
    log_path = work / "engine.log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(jvm_command(work, cp, args, cores, extra),
                                cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        tail = log_path.read_text(errors="replace")[-3000:]
        print(f"perfbench: engine exited with {code}\n{tail}", file=sys.stderr)
        return 1

    raw = json.loads((work / "result.json").read_text())
    failed = len(raw["failures"]) + raw["checks_failed"]
    for d in raw["check_detail"]:
        print(f"perfbench: wrong result: {d}", file=sys.stderr)
    if args.workload == "sql_mix":
        bad = set(sqlmix.check(args.seed, STATEMENTS, work,
                               Path(str(work / "result.json") + ".rows")))
        ids = [i for i, _, _ in sqlmix.statements(args.seed, STATEMENTS)]
        first = raw["warmup_ops"]
        timed = [ids[(first + k) % len(ids)] for k in range(len(raw["ops"]))]
        failed += sum(1 for i in timed if i in bad)
        for i in sorted(bad):
            print(f"perfbench: differs from DuckDB: {i}", file=sys.stderr)
    if not raw["ops"]:
        print("perfbench: no operation completed", file=sys.stderr)
        return 1

    metrics = per_layer(raw) if args.trace else end_to_end(raw)
    attempted = len(raw["ops"]) + len(raw["failures"])
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
