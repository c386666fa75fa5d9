"""Where the CPU of one perfbench workload round goes, by thread class.

Runs a perfbench workload in this process on a driver JVM started with a
JFR recording, and prints for the ``--rounds`` timed rounds the CPU seconds
by thread class (``/proc/<pid>/task/*/stat`` before and after: JIT, executor
tasks, py4j, GC, the rest of the JVM with exited threads, its reaped child
processes, the Python driver, the Python workers) and the child processes
the JVM started, by command (``jdk.ProcessStart``). The last stdout line is
the same numbers as one JSON object.

The JVM is the one ``perfbench/run.py``'s ``execute`` starts: the same
environment and untraced ``spark_conf``, plus ``spark.driver.defaultJavaOptions``
for JFR. Unlike ``execute`` it runs ``prepare`` once (not ``SETUP_REPEATS``
times), times no set-up, and runs ``--rounds`` rounds instead of ``--seconds``.

    python tools/jvm_profile.py --workload medallion_cdc --seed 1 --rounds 2
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
sys.path[:0] = [ROOT, BENCH]

import measure  # noqa: E402
import run  # noqa: E402
from harness import DRIVER_MEMORY, Bench, settle, spark_conf, stop_spark  # noqa: E402

# (class, prefixes of the 15-character thread name Linux keeps)
THREAD_CLASSES = (
    ("jit", ("C1 CompilerThre", "C2 CompilerThre")),
    ("executor_tasks", ("Executor task l",)),
    ("py4j", ("Thread-",)),
    ("gc", ("GC Thread", "G1 ")),
)
TICK = os.sysconf("SC_CLK_TCK")


def _ticks(stat_line: str) -> tuple[str, int, int]:
    """(comm, utime + stime, cutime + cstime) of one ``stat`` line."""
    comm = stat_line[stat_line.index("(") + 1 : stat_line.rindex(")")]
    rest = stat_line[stat_line.rindex(")") + 2 :].split()
    return comm, int(rest[11]) + int(rest[12]), int(rest[13]) + int(rest[14])


def cpu_snapshot(jvm: int) -> collections.Counter:
    """CPU ticks so far by thread class (see the module docstring)."""
    out: collections.Counter = collections.Counter()
    task_dir = f"/proc/{jvm}/task"
    for tid in os.listdir(task_dir):
        try:
            with open(os.path.join(task_dir, tid, "stat")) as fh:
                comm, own, _ = _ticks(fh.read())
        except FileNotFoundError:
            continue  # the thread exited; its CPU stays in the process total
        cls = next((c for c, pre in THREAD_CLASSES if comm.startswith(pre)), None)
        if cls:
            out[cls] += own
    with open(f"/proc/{jvm}/stat") as fh:
        _, own, reaped = _ticks(fh.read())
    out["other_jvm"] += own - sum(out.values())
    out["jvm_children"] += reaped
    with open("/proc/self/stat") as fh:
        out["python_driver"] += _ticks(fh.read())[1]
    stats = measure.read_proc_stats()
    for pid in measure.descendants(stats, jvm):
        if stats[pid].comm.startswith("python"):  # the worker daemon and its workers
            out["python_workers"] += stats[pid].cpu_ticks
    return out


def forks(spark, dump_path: str) -> collections.Counter:
    """Child processes the JVM started so far, by command name."""
    recorder = spark._jvm.jdk.jfr.FlightRecorder.getFlightRecorder()
    recorder.getRecordings().get(0).dump(spark._jvm.java.io.File(dump_path).toPath())
    text = subprocess.run(
        ["jfr", "print", "--json", "--events", "jdk.ProcessStart", dump_path],
        capture_output=True, text=True, check=True,
    ).stdout
    events = json.loads(text)["recording"]["events"]
    return collections.Counter(
        os.path.basename(e["values"]["command"].split()[0]) for e in events
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=run.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--rounds", type=int, default=1)
    args = ap.parse_args(argv)

    workdir = tempfile.mkdtemp(prefix="jvm_profile-")
    os.makedirs(tmp := os.path.join(workdir, "tmp"))
    os.environ.update(
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        SPARK_GRAFT_CPUS=run.CORES,
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
    )
    tempfile.tempdir = tmp
    wl = __import__(args.workload)
    from employee_activity_etl_poc_spark.session import get_spark

    conf = spark_conf(workdir, trace=False)
    # defaultJavaOptions sits in front of the harness's extraJavaOptions
    conf["spark.driver.defaultJavaOptions"] = "-XX:StartFlightRecording=settings=profile"
    spark = get_spark("jvm_profile", extra_conf=conf)
    try:
        jvm = measure.jvm_pids(measure.read_proc_stats(), os.getpid())[0]
        inputs = wl.prepare(spark, os.path.join(workdir, "input"), args.seed)
        wl.warm_up(spark, inputs, workdir)
        settle()
        bench = Bench(spark, workdir)
        cpu0, forks0 = cpu_snapshot(jvm), forks(spark, os.path.join(workdir, "before.jfr"))
        for k in range(args.rounds):
            wl.run_round(bench, inputs, k)
        cpu = cpu_snapshot(jvm) - cpu0
        child = forks(spark, os.path.join(workdir, "after.jfr")) - forks0
    finally:
        stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    if bench.failed:
        print(f"jvm_profile: failed operations: {bench.failures[:3]}", file=sys.stderr)
        return 1

    cpu_s = {k: v / TICK for k, v in cpu.most_common()}
    print(f"{args.workload} seed {args.seed}: {args.rounds} round(s), "
          f"{bench.timed_s:.2f} s timed, {sum(cpu_s.values()):.2f} CPU-s")
    for name, s in cpu_s.items():
        print(f"  cpu  {name:<15} {s:8.2f} s")
    for cmd, n in child.most_common():
        print(f"  fork {cmd:<15} {n:8d}")
    print(json.dumps({"rounds": args.rounds, "timed_s": round(bench.timed_s, 3),
                      "cpu_s": {k: round(v, 2) for k, v in cpu_s.items()},
                      "forks": dict(child.most_common())}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
