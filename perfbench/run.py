"""The repository benchmark. One run is one fresh process, one workload,
one closed-loop client on a local[4] Spark session:

    python3 perfbench/run.py --workload medallion_cdc --seed 1 --seconds 6 --trace 0

The workload's inputs are made from ``--seed``. The run repeats whole
rounds of the workload until ``--seconds`` of timed work have passed,
checks every operation's output, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). The line before it is a summary for people: input
properties, sizes, the failure ratio and the tail percentile rule.

``--trace 1`` runs the workload with an uncompressed Spark event log and
every call into a layer under its own job group, and folds the log's task
metrics per layer. Its median operation latency minus the median of the
untraced runs already made in this checkout (``perfbench/_work/
untraced.jsonl``; with none yet, it first runs one untraced child) is the
tracing overhead.

Everything a run writes lives in ``perfbench/_work/<pid>-<uuid>/`` and is
removed when the run ends; only the ledger above stays. See ``perfbench/README.md`` for the workloads.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if HERE not in sys.path:
    sys.path.insert(0, HERE)

import measure  # noqa: E402
from harness import DRIVER_MEMORY, Bench, settle, spark_conf, stop_spark  # noqa: E402

WORKLOADS = ("medallion_cdc", "doc_ingest", "query_mix")
SETUP_REPEATS = 3
DEADLINE_S = 170  # the whole run, child included, ends before this
CORES = "4"

# name, unit, better: every per-layer metric a traced run reports. A
# layer a workload does not touch reports 0 for its metrics.
PER_LAYER: list[tuple[str, str, str]] = [
    ("executor.cpu_over_run", "ratio", "higher"),
    ("executor.cpu_s", "s", "lower"),
    ("executor.run_s", "s", "lower"),
    ("process.cpu_over_executor_cpu", "ratio", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.jobs_per_op", "count", "lower"),
    ("spark.shuffle_mb", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("trace.wall_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.ops", "count", "higher"),
    ("input.resend_share", "ratio", "higher"),
    ("input.non_insert_share", "ratio", "higher"),
    ("input.rows_per_batch", "count", "higher"),
    ("input.docs_per_batch", "count", "higher"),
    ("input.planted_share", "ratio", "higher"),
    ("input.queries", "count", "higher"),
    ("streaming.batches", "count", "lower"),
    ("streaming.rows_in", "count", "higher"),
    ("streaming.rows_out", "count", "higher"),
    ("streaming.keep_ratio", "ratio", "higher"),
    ("streaming.add_batch_share", "ratio", "lower"),
    ("streaming.planning_share", "ratio", "lower"),
    ("streaming.commit_share", "ratio", "lower"),
    ("streaming.state_commit_share", "ratio", "lower"),
    ("streaming.state_rows", "count", "lower"),
    ("streaming.state_mb", "MB", "lower"),
    ("streaming.jobs", "count", "lower"),
    ("streaming.tasks", "count", "lower"),
    ("streaming.shuffle_mb", "MB", "lower"),
    ("streaming.cpu_share", "ratio", "lower"),
    ("streaming.share", "ratio", "lower"),
    ("quality.share", "ratio", "lower"),
    ("quality.jobs", "count", "lower"),
    ("quality.cpu_share", "ratio", "lower"),
    ("quality.violations", "count", "higher"),
    ("plans.gold_jobs.share", "ratio", "lower"),
    ("plans.gold_jobs.jobs", "count", "lower"),
    ("plans.gold_jobs.cpu_share", "ratio", "lower"),
    ("plans.gold_jobs.rows", "count", "higher"),
    ("sources.sinks.gold_files", "count", "lower"),
    ("sources.sinks.gold_mb", "MB", "lower"),
    ("plans.kpi.share", "ratio", "lower"),
    ("plans.kpi.jobs", "count", "lower"),
    ("plans.kpi.cpu_share", "ratio", "lower"),
    ("streaming.notify.share", "ratio", "lower"),
    ("streaming.notify.jobs", "count", "lower"),
    ("streaming.notify.cpu_share", "ratio", "lower"),
    ("streaming.notify.messages", "count", "higher"),
    ("plans.llm_pipeline.jobs_per_batch", "count", "lower"),
    ("plans.llm_pipeline.stages_per_batch", "count", "lower"),
    ("plans.llm_pipeline.tasks_per_batch", "count", "lower"),
    ("plans.llm_pipeline.shuffle_mb", "MB", "lower"),
    ("plans.llm_pipeline.spill_mb", "MB", "lower"),
    ("plans.llm_pipeline.export_ratio", "ratio", "higher"),
    ("operators.dedup.near_dup_share", "ratio", "higher"),
    ("operators.dedup.sigstore_rows", "count", "higher"),
    ("operators.dedup.near_copies_exported", "count", "lower"),
    ("sources.sinks.shards_mb", "MB", "lower"),
    ("sources.sinks.sigstore_mb", "MB", "lower"),
    ("plans.build_share", "ratio", "lower"),
]
for _fam in ("relational", "dedup", "similarity", "textops"):
    PER_LAYER += [
        (f"operators.{_fam}.build_share", "ratio", "lower"),
        (f"operators.{_fam}.exec_share", "ratio", "lower"),
        (f"operators.{_fam}.jobs", "count", "lower"),
        (f"operators.{_fam}.tasks", "count", "lower"),
        (f"operators.{_fam}.cpu_share", "ratio", "lower"),
        (f"operators.{_fam}.shuffle_mb", "MB", "lower"),
        (f"operators.{_fam}.spill_mb", "MB", "lower"),
    ]


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class DeadlineExceeded(BaseException):
    """Raised by the alarm at ``DEADLINE_S``. A BaseException, so that the
    workloads' per-operation ``except Exception`` cannot swallow it."""


def _on_deadline(signum, frame):
    raise DeadlineExceeded(f"run exceeded {DEADLINE_S}s")


def ledger_path() -> str:
    return os.path.join(HERE, "_work", "untraced.jsonl")


def record_untraced(args, op_p50_s: float) -> None:
    """Append this untraced run's median operation latency to the
    checkout's ledger, which traced runs compare themselves with."""
    os.makedirs(os.path.dirname(ledger_path()), exist_ok=True)
    line = json.dumps({"workload": args.workload, "seconds": args.seconds, "op_p50_s": op_p50_s})
    with open(ledger_path(), "a") as fh:
        fh.write(line + "\n")


def untraced_op_p50(args) -> tuple[float, int]:
    """(median op_p50_s, runs) of the untraced runs of this workload made
    in this checkout. With none yet, run one untraced child first."""
    def recorded() -> list[float]:
        try:
            with open(ledger_path()) as fh:
                rows = [json.loads(line) for line in fh if line.strip()]
        except FileNotFoundError:
            return []
        return [
            r["op_p50_s"] for r in rows
            if r["workload"] == args.workload and r["seconds"] == args.seconds
        ]

    values = recorded()
    if not values:
        untraced_child(args)
        values = recorded()
    if not values:
        raise RuntimeError("the untraced child run recorded no result")
    return statistics.median(values), len(values)


def untraced_child(args) -> None:
    """Run the same workload and seed untraced in a child process."""
    cmd = [
        sys.executable, os.path.abspath(__file__),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", "0",
    ]
    child = subprocess.run(
        cmd, capture_output=True, text=True, timeout=DEADLINE_S / 2, cwd=ROOT
    )
    sys.stderr.write(child.stderr[-4000:])
    if child.returncode != 0:
        raise RuntimeError(f"untraced child run exited {child.returncode}")


def execute(wl, args, workdir: str, t_start: float) -> tuple[Bench, dict, dict]:
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # Python workers unpickle the package's functions by import path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's own JVM
    os.environ["SPARK_GRAFT_CPUS"] = CORES
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    from employee_activity_etl_poc_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=spark_conf(workdir, bool(args.trace)))
    try:
        spark.sparkContext.setJobGroup("setup", "set-up")
        session_s = time.time() - t_start
        prep_s = []
        for i in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            inputs = wl.prepare(spark, os.path.join(workdir, f"input{i}"), args.seed)
            prep_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm_up(spark, inputs, workdir)
        t1 = time.perf_counter()
        settle()
        settle_s = time.perf_counter() - t1
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(prep_s) + warm_s

        bench = Bench(spark, workdir)
        spark.sparkContext.setJobGroup("bench", "untimed")
        k = 0
        while bench.timed_s < args.seconds:
            n_ops = bench.attempted
            try:
                wl.run_round(bench, inputs, k)
            except Exception as exc:  # noqa: BLE001 - report, keep the run going
                bench.op(None, f"round {k}: {type(exc).__name__}: {exc}"[:300])
            k += 1
            if bench.attempted == n_ops or bench.failed == bench.attempted:
                break  # a round that does nothing would loop forever
        pid = os.getpid()
        rss = measure.peak_rss_mb([pid, *measure.jvm_pids(measure.read_proc_stats(), pid)])
        props = wl.properties(bench, inputs)
        sizes = wl.sizes(bench, inputs) | {
            "rounds": k, "session_s": session_s, "prepare_s": prep_s, "warm_up_s": warm_s, "settle_s": settle_s,
        }
        e2e = bench.end_to_end(setup_s, rss) if bench.items and bench.op_latencies else None
    finally:
        stop_spark(spark)
    return bench, e2e, {"input": props, "sizes": sizes}


def per_layer(wl, bench: Bench, props: dict, baseline_p50_s: float) -> dict[str, float]:
    totals = measure.fold_event_log_dir(os.path.join(bench.workdir, "eventlog"), bench.aliases)
    timed_groups = [g for g in totals if g not in ("setup", "bench", measure.NO_GROUP)]
    t = measure.merged(totals, timed_groups)
    timed = {g: totals[g] for g in timed_groups}
    out = {name: 0.0 for name, _unit, _better in PER_LAYER}
    out.update(
        {
            "executor.cpu_over_run": t.cpu_s / max(t.run_s, 1e-9),
            "executor.cpu_s": t.cpu_s,
            "executor.run_s": t.run_s,
            "process.cpu_over_executor_cpu": bench.cpu_s / max(t.cpu_s, 1e-9),
            "spark.jobs": t.jobs,
            "spark.tasks": t.tasks,
            "spark.jobs_per_op": t.jobs / bench.attempted,
            "spark.shuffle_mb": t.shuffle_mb,
            "spark.spill_mb": t.spill_mb,
            "trace.wall_s": bench.timed_s,
            "trace.overhead_s": bench.op_p50_s() - baseline_p50_s,
            "trace.ops": bench.attempted,
        }
    )
    out.update(props)
    out.update(wl.layer_metrics(bench, timed))
    unknown = set(out) - {name for name, _u, _b in PER_LAYER}
    if unknown:
        raise KeyError(f"per-layer metrics missing from PER_LAYER: {sorted(unknown)}")
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = measure.self_start_epoch()
    signal.signal(signal.SIGALRM, _on_deadline)
    signal.alarm(DEADLINE_S)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        importlib.import_module("employee_activity_etl_poc_spark")
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    wl = importlib.import_module(args.workload)
    baseline = None
    if args.trace:
        baseline = untraced_op_p50(args)
        t_start = time.time()  # set-up of this run starts after any child's

    workdir = os.path.join(HERE, "_work", f"{os.getpid()}-{uuid.uuid4().hex[:12]}")
    try:
        bench, e2e, info = execute(wl, args, workdir, t_start)
        layers = None
        if args.trace and e2e is not None:
            layers = per_layer(wl, bench, info["input"], baseline[0])
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    signal.alarm(0)
    if e2e is None:
        print(f"perfbench: no operation completed: {bench.failures[:3]}", file=sys.stderr)
        return 1

    tail = measure.tail_percentile(bench.op_latencies)
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "items": bench.items,
        "item": wl.ITEMS,
        "timed_s": bench.timed_s,
        "run_wall_s": time.time() - t_start,
        "steal_share": bench.steal_ticks / max(bench.all_ticks, 1),
        "fail_ratio": measure.fail_ratio(bench.failed, bench.attempted),
        "failures": bench.failures[:5],
        "op_samples": len(bench.op_latencies),
        "ops_s": [round(x, 3) for x in bench.op_latencies],
        "op_tail": None if tail is None else {"rank": tail[0], "s": tail[1]},
        "untraced_baseline": None if baseline is None else {"op_p50_s": baseline[0], "runs": baseline[1]},
        **info,
    }
    print(json.dumps(summary, default=str))
    if not args.trace and bench.failed == 0:
        record_untraced(args, bench.op_p50_s())
    if args.trace:
        units = {name: unit for name, unit, _b in PER_LAYER}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
