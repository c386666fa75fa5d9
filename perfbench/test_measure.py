"""The benchmark's own arithmetic on canned inputs; no Spark session.

    python3 -m pytest -q perfbench
"""

from __future__ import annotations

import json
import os

import pytest

import measure
import query_mix
import run
from harness import Bench

HERE = os.path.dirname(os.path.abspath(__file__))


# ---------------------------------------------------------------- event log


def _job(job_id, group, stages):
    props = {} if group is None else {"spark.jobGroup.id": group}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stages, "Properties": props}


def _stage(stage_id, group):
    props = {} if group is None else {"spark.jobGroup.id": group}
    return {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": stage_id}, "Properties": props}


def _task(stage_id, cpu_ns=0, run_ms=0, shuffle_bytes=0, spill_bytes=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage_id,
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "Executor Run Time": run_ms,
            "Disk Bytes Spilled": spill_bytes,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_bytes},
        },
    }


RUN_ID = "f7621a9b-1759-4d86-b040-87012116f29e"
CANNED_LOG = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    _job(0, "quality", [0]),
    _stage(0, "quality"),
    _task(0, cpu_ns=2_000_000_000, run_ms=3000),
    _task(0, cpu_ns=1_000_000_000, run_ms=1000, spill_bytes=2 * measure.MB),
    # a streaming micro-batch: its jobs carry the query's runId as group
    _job(1, RUN_ID, [1, 2]),
    _stage(1, RUN_ID),
    _task(1, cpu_ns=500_000_000, run_ms=800, shuffle_bytes=3 * measure.MB),
    _stage(2, RUN_ID),
    _task(2, cpu_ns=250_000_000, run_ms=400),
    # a later job re-uses stage 1 (skipped) and runs stage 3
    _job(2, "plans.kpi", [1, 3]),
    _stage(3, "plans.kpi"),
    _task(3, cpu_ns=100_000_000, run_ms=100),
    # a job outside any group
    _job(3, None, [4]),
    _stage(4, None),
    _task(4, run_ms=5),
]


def _lines():
    return [json.dumps(e) for e in CANNED_LOG] + [""]


def test_fold_charges_tasks_to_the_submitting_group():
    t = measure.fold_event_log(_lines())
    assert t["quality"].jobs == 1 and t["quality"].stages == 1 and t["quality"].tasks == 2
    assert t["quality"].cpu_s == pytest.approx(3.0)
    assert t["quality"].run_s == pytest.approx(4.0)
    assert t["quality"].spill_mb == pytest.approx(2.0)
    assert t["plans.kpi"].tasks == 1  # stage 1's task stays with the stream
    assert t["plans.kpi"].cpu_s == pytest.approx(0.1)
    assert t[measure.NO_GROUP].tasks == 1


def test_fold_maps_the_streaming_run_id_to_its_layer():
    t = measure.fold_event_log(_lines(), aliases={RUN_ID: "streaming"})
    assert RUN_ID not in t
    s = t["streaming"]
    assert (s.jobs, s.stages, s.tasks) == (1, 2, 2)
    assert s.cpu_s == pytest.approx(0.75)
    assert s.run_s == pytest.approx(1.2)
    assert s.shuffle_mb == pytest.approx(3.0)


def test_fold_dir_sums_files_and_merged_sums_groups(tmp_path):
    for name in ("a", "b"):
        (tmp_path / name).write_text("\n".join(_lines()))
    t = measure.fold_event_log_dir(str(tmp_path))
    assert t["quality"].tasks == 4
    m = measure.merged(t, ["quality", "plans.kpi", "absent"])
    assert m.tasks == 6 and m.jobs == 4
    assert m.cpu_s == pytest.approx(6.2)


# ---------------------------------------------------------------- percentiles


def test_percentile_interpolates():
    assert measure.percentile([4, 1, 3, 2], 50) == pytest.approx(2.5)
    assert measure.percentile([5], 90) == 5
    assert measure.percentile(range(101), 90) == pytest.approx(90)
    with pytest.raises(ValueError):
        measure.percentile([], 50)


def test_p90_needs_ten_samples_beyond_it():
    assert measure.samples_beyond(100, 90) == 10
    assert measure.samples_beyond(99, 90) == 9
    assert measure.tail_percentile(list(range(100)), ranks=(90,)) == (90, pytest.approx(89.1))
    assert measure.tail_percentile(list(range(99)), ranks=(90,)) is None


def test_tail_percentile_picks_the_highest_qualifying_rank():
    assert measure.tail_percentile(list(range(1000)))[0] == 99
    assert measure.tail_percentile(list(range(200)))[0] == 90
    assert measure.tail_percentile(list(range(40)))[0] == 75
    assert measure.tail_percentile(list(range(39))) is None
    assert measure.tail_percentile([1.0] * 6) is None


# ---------------------------------------------------------------- fail ratio


def test_fail_ratio():
    assert measure.fail_ratio(0, 6) == 0.0
    assert measure.fail_ratio(1, 4) == 0.25
    with pytest.raises(ValueError):
        measure.fail_ratio(0, 0)
    with pytest.raises(ValueError):
        measure.fail_ratio(5, 4)


def test_bench_counts_exceptions_wrong_outputs_and_timeouts():
    b = Bench(spark=None, workdir="")
    b.op(0.5)
    b.op(0.7, "query x: wrong hash")
    b.op(None, "round 0: RuntimeError")
    b.op(61.0)
    assert (b.attempted, b.failed) == (4, 3)
    assert b.op_latencies == [0.5, 0.7, 61.0]
    assert measure.fail_ratio(b.failed, b.attempted) == 0.75


# ---------------------------------------------------------------- /proc


def _stat(pid, comm, ppid, utime, stime, cutime=0, cstime=0, start=100):
    # fields 3.. of /proc/<pid>/stat; only 4, 14-17 and 22 matter here
    rest = ["S", str(ppid)] + ["0"] * 9 + [str(utime), str(stime), str(cutime), str(cstime)]
    rest += ["20", "0", "1", "0", str(start)] + ["0"] * 30
    return f"{pid} ({comm}) " + " ".join(rest)


def test_parse_proc_stat_survives_odd_command_names():
    s = measure.parse_proc_stat(_stat(42, "a) (b c", 7, 10, 5, 2, 1, start=1234))
    assert (s.pid, s.ppid, s.comm, s.cpu_ticks, s.start_ticks) == (42, 7, "a) (b c", 18, 1234)


def test_tree_cpu_sums_driver_jvm_and_python_workers_only():
    stats = {
        s.pid: s
        for s in map(
            measure.parse_proc_stat,
            [
                _stat(10, "python3", 1, 100, 20),  # the driver
                _stat(11, "java", 10, 900, 100, cutime=50),  # reaped children
                _stat(12, "python3", 11, 30, 10),  # pyspark daemon
                _stat(13, "python3", 12, 200, 5),  # a worker
                _stat(20, "bash", 1, 999, 999),  # not ours
                _stat(21, "python3", 20, 999, 999),
            ],
        )
    }
    assert sorted(measure.descendants(stats, 10)) == [10, 11, 12, 13]
    assert measure.tree_cpu_ticks(stats, 10) == 120 + 1050 + 40 + 205
    assert measure.jvm_pids(stats, 10) == [11]
    assert measure.tree_cpu_ticks(stats, 99) == 0


def test_process_start_and_peak_rss_parsing():
    s = measure.parse_proc_stat(_stat(1, "x", 0, 0, 0, start=250))
    assert measure.process_start_epoch(s, 1000.0, 100) == 1002.5
    status = "Name:\tjava\nVmPeak:\t 9 kB\nVmHWM:\t  204800 kB\nVmRSS:\t 1 kB\n"
    assert measure.parse_vm_hwm_kb(status) == 204800
    with pytest.raises(ValueError):
        measure.parse_vm_hwm_kb("Name:\tx\n")


def test_cpu_steal_parsing():
    text = "cpu  100 5 50 800 10 1 2 30 0 0\ncpu0 1 2 3 4 5 6 7 8 0 0\n"
    assert measure.parse_cpu_steal(text) == (30, 998)
    assert measure.parse_cpu_steal("cpu  1 2 3 4\n") == (0, 10)


def test_live_tree_cpu_is_positive():
    assert measure.tree_cpu_seconds() > 0
    assert measure.self_start_epoch() > 0


# ---------------------------------------------------------------- metric names


def test_benchmark_json_matches_the_metrics_the_code_reports():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    b = Bench(spark=None, workdir="", timed_s=2.0, cpu_s=1.0, items=4)
    b.op(1.0)
    e2e = b.end_to_end(setup_s=3.0, peak_rss_mb=100.0)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {k: u for k, (_v, u) in e2e.items()}
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == run.PER_LAYER


def test_query_family_is_the_first_matching_tag():
    assert query_mix.family(("llm", "dedup", "similarity")) == "dedup"
    assert query_mix.family(("llm", "similarity", "text")) == "similarity"
    assert query_mix.family(("llm", "quality")) == "textops"
    assert query_mix.family(("join", "broadcast")) == "relational"


def test_traced_runs_compare_with_the_median_untraced_run(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "ledger_path", lambda: str(tmp_path / "untraced.jsonl"))
    args = run.parse_args(["--workload", "doc_ingest", "--seed", "1", "--seconds", "6"])
    for p50 in (3.0, 1.0, 2.0):
        run.record_untraced(args, p50)
    other = run.parse_args(["--workload", "query_mix", "--seed", "1", "--seconds", "6"])
    run.record_untraced(other, 99.0)
    assert run.untraced_op_p50(args) == (2.0, 3)
