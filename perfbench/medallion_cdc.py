"""``medallion_cdc``: the reference's own job, timed call by call.

Set-up writes N seeded activities as Debezium envelopes into K topic files,
with a seeded share of re-sent envelopes and of update/delete envelopes
(which the bronze parse skips). One round, on fresh bronze, checkpoint and
gold directories, runs

    parse_cdc_envelope(file_cdc_stream(topic, max_files_per_trigger=1))
      -> bronze_ingest -> run_to_completion           (streaming)
      -> quality.rules.run_rules                       (quality)
      -> gold_jobs.run_full_refresh                    (plans.gold_jobs)
      -> kpi qualification + wellness_totals           (plans.kpi)
      -> make_notifier over the bronze rows            (streaming.notify)

the composition of ``plans/pipeline_demo.py``. An operation is one bronze
micro-batch that read data; its latency is ``triggerExecution``.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
from collections import Counter
from dataclasses import dataclass

from pyspark.sql import functions as F

from measure import merged

from employee_activity_etl_poc_spark.plans import kpi
from employee_activity_etl_poc_spark.plans.gold_jobs import run_full_refresh
from employee_activity_etl_poc_spark.quality.rules import run_rules, standard_activity_rules
from employee_activity_etl_poc_spark.sources.generator import (
    synthetic_activities,
    synthetic_employees,
    to_cdc_json,
)
from employee_activity_etl_poc_spark.streaming import (
    activity_message,
    bronze_ingest,
    file_cdc_stream,
    make_notifier,
    parse_cdc_envelope,
    run_to_completion,
)

ITEMS = "activities"
N_ACTIVITIES = 6_000
N_FILES = 4  # topic files = data micro-batches per round
N_EMPLOYEES = N_ACTIVITIES // 6  # ~6 activities each: some qualify, some not
RESEND_SHARE = 0.10  # envelopes sent a second time, in the same or a later file
NON_INSERT_SHARE = 0.05  # update/delete envelopes, skipped by the parse
NOTIFY_TAIL = 5


@dataclass
class Inputs:
    topic: str
    n_envelopes: int
    n_resent: int
    n_non_insert: int
    expected_wellness_days: int
    hr: object
    sports: object


def _uniform(salt: str, i: int) -> float:
    """The generator's md5 uniform (``sources.generator.uniform``) in Python."""
    return int(hashlib.md5(f"{salt}|{i}".encode()).hexdigest()[:8], 16) / 4294967296.0


def expected_wellness_days(seed: str, n: int, n_employees: int) -> int:
    """5 x the employees with more than 5 activities, from the generator's
    own employee assignment."""
    per_emp = Counter(
        int(_uniform(f"{seed}_emp", i) * n_employees) + 1 for i in range(n)
    )
    qualified = sum(1 for c in per_emp.values() if c > kpi.QUALIFY_MIN_ACTIVITIES)
    return kpi.WELLNESS_DAYS_AWARDED * qualified


def prepare(spark, workdir: str, seed: int) -> Inputs:
    rng = random.Random(seed)
    gen_seed = str(seed)
    topic = os.path.join(workdir, "topic")
    os.makedirs(topic)
    acts = synthetic_activities(spark, N_ACTIVITIES, N_EMPLOYEES, seed=gen_seed)
    lines = [r["value"] for r in to_cdc_json(acts).collect()]
    files: list[list[str]] = [[] for _ in range(N_FILES)]
    home = [rng.randrange(N_FILES) for _ in lines]
    for line, f in zip(lines, home):
        files[f].append(line)
    n_resent = n_non_insert = 0
    for i, line in enumerate(lines):
        if rng.random() < RESEND_SHARE:
            files[rng.randrange(home[i], N_FILES)].append(line)
            n_resent += 1
        if rng.random() < NON_INSERT_SHARE:
            op = rng.choice(("u", "d"))
            files[rng.randrange(home[i], N_FILES)].append(
                line.replace('"op":"c"', f'"op":"{op}"', 1)
            )
            n_non_insert += 1
    for k, batch in enumerate(files):
        rng.shuffle(batch)
        with open(os.path.join(topic, f"part-{k:03d}.json"), "w") as fh:
            fh.write("\n".join(batch) + "\n")
    hr = synthetic_employees(spark, N_EMPLOYEES, seed=gen_seed)
    sports = hr.select(
        "employee_id",
        F.when(F.col("employee_id") % 3 == 0, "Non").otherwise("Oui").alias("practices_sport"),
    )
    return Inputs(
        topic,
        sum(len(b) for b in files),
        n_resent,
        n_non_insert,
        expected_wellness_days(gen_seed, N_ACTIVITIES, N_EMPLOYEES),
        hr,
        sports,
    )


def warm_up(spark, inp: Inputs, workdir: str) -> None:
    pass


def run_round(bench, inp: Inputs, k: int) -> None:
    spark = bench.spark
    rdir = os.path.join(bench.workdir, f"round{k}")
    bronze_path, ckpt, gold_path = (
        os.path.join(rdir, d) for d in ("bronze", "bronze_ckpt", "gold")
    )
    sent: list[str] = []
    progress: list[dict] = []
    violations = kpis = None
    error = None
    try:
        with bench.timed():
            with bench.span("streaming"):
                query = bronze_ingest(
                    parse_cdc_envelope(
                        file_cdc_stream(spark, inp.topic, max_files_per_trigger=1)
                    ),
                    bronze_path,
                    ckpt,
                    watermark=("start_ts", "400 days"),
                )
                bench.aliases[str(query.runId)] = "streaming"
                run_to_completion(query)
                progress = [p for p in query.recentProgress]
            with bench.span("quality"):
                bronze = spark.read.parquet(bronze_path)
                violations = (
                    run_rules(bronze, standard_activity_rules(), "activity_id")
                    .groupBy("rule")
                    .count()
                    .collect()
                )
            with bench.span("plans.gold_jobs"):
                gold = run_full_refresh(bronze, inp.sports, inp.hr, gold_path)
            with bench.span("plans.kpi"):
                counts = kpi.summarize_per_entity(gold, ["employee_id"])
                qual = kpi.with_qualification_flags(
                    inp.hr.join(F.broadcast(counts), "employee_id", "left").withColumn(
                        "total_line_count", F.coalesce("total_line_count", F.lit(0))
                    ),
                    F.lower(F.trim("transport_mode")).isin(
                        "marche/running", "vélo/trottinette/autres"
                    ),
                )
                kpis = kpi.wellness_totals(qual).collect()[0]
            with bench.span("streaming.notify"):
                notifier = make_notifier(sent.append, max_buffer_size=NOTIFY_TAIL)
                notifier(bronze.select("start_ts", activity_message().alias("message")), 0)
    except Exception as exc:  # noqa: BLE001 - a failed round is a measured failure
        error = f"{type(exc).__name__}: {exc}"[:300]

    latencies = [
        p["durationMs"]["triggerExecution"] / 1000 for p in progress if p["numInputRows"] > 0
    ]
    problems = [error] if error else []
    if not problems and len(latencies) != N_FILES:
        problems.append(f"{len(latencies)} data micro-batches, want {N_FILES}")
    if not problems:
        problems = check(spark, inp, bronze_path, gold_path, kpis, sent)
    problem = f"round {k}: " + "; ".join(problems) if problems else None
    for i in range(N_FILES):
        bench.op(latencies[i] if i < len(latencies) else None, problem)
    if problem is not None:
        shutil.rmtree(rdir, ignore_errors=True)
        return
    bench.items += N_ACTIVITIES
    _record_layers(bench, progress, violations, gold_path, sent)
    shutil.rmtree(rdir, ignore_errors=True)


def check(spark, inp: Inputs, bronze_path, gold_path, kpis, sent) -> list[str]:
    """Outputs of one round against what the generator implies."""
    problems = []
    b = spark.read.parquet(bronze_path).agg(
        F.count("*").alias("rows"), F.countDistinct("activity_id").alias("ids")
    ).collect()[0]
    if b["rows"] != N_ACTIVITIES or b["ids"] != N_ACTIVITIES:
        problems.append(f"bronze has {b['rows']} rows / {b['ids']} ids, want {N_ACTIVITIES}")
    gold_rows = spark.read.parquet(gold_path).count()
    if gold_rows != N_ACTIVITIES:
        problems.append(f"gold has {gold_rows} rows, want {N_ACTIVITIES}")
    if kpis["total_wellness_days"] != inp.expected_wellness_days:
        problems.append(
            f"total_wellness_days {kpis['total_wellness_days']}, want {inp.expected_wellness_days}"
        )
    if len(sent) != NOTIFY_TAIL + 1 or not sent[0].startswith("⏭️"):
        problems.append(f"notifier sent {len(sent)} messages, want 1 summary + {NOTIFY_TAIL}")
    return problems


def _record_layers(bench, progress, violations, gold_path, sent) -> None:
    data = [p for p in progress if p["numInputRows"] > 0]
    dur = [p["durationMs"] for p in progress]
    state = [op for p in progress for op in p.get("stateOperators", ())]
    last_state = progress[-1]["stateOperators"][0] if progress and progress[-1].get("stateOperators") else {}
    bench.add("streaming.batches", len(data))
    bench.add("streaming.rows_in", sum(p["numInputRows"] for p in progress))
    bench.add("streaming.rows_out", sum(op.get("numRowsUpdated", 0) for op in state))
    bench.add("streaming.trigger_ms", sum(d.get("triggerExecution", 0) for d in dur))
    bench.add("streaming.add_batch_ms", sum(d.get("addBatch", 0) for d in dur))
    bench.add("streaming.planning_ms", sum(d.get("queryPlanning", 0) for d in dur))
    bench.add(
        "streaming.commit_ms",
        sum(d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur),
    )
    bench.add("streaming.state_commit_ms", sum(op.get("commitTimeMs", 0) for op in state))
    bench.layer["streaming.state_rows"] = last_state.get("numRowsTotal", 0)
    bench.layer["streaming.state_mb"] = last_state.get("memoryUsedBytes", 0) / 2**20
    bench.add("quality.violations", sum(r["count"] for r in violations))
    bench.add("streaming.notify.messages", len(sent))
    files = mb = 0
    for root, _dirs, names in os.walk(gold_path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                mb += os.path.getsize(os.path.join(root, n)) / 2**20
    bench.add("sources.sinks.gold_files", files)
    bench.add("sources.sinks.gold_mb", mb)
    bench.add("plans.gold_jobs.rows", N_ACTIVITIES)
    bench.add("rounds", 1)


def sizes(bench, inp: Inputs) -> dict[str, int]:
    return {
        "activities": N_ACTIVITIES,
        "employees": N_EMPLOYEES,
        "topic_files": N_FILES,
        "envelopes": inp.n_envelopes,
    }


def properties(bench, inp: Inputs) -> dict[str, float]:
    return {
        "input.resend_share": inp.n_resent / N_ACTIVITIES,
        "input.non_insert_share": inp.n_non_insert / inp.n_envelopes,
        "input.rows_per_batch": inp.n_envelopes / N_FILES,
    }


CALL_LAYERS = ("quality", "plans.gold_jobs", "plans.kpi", "streaming.notify")


def layer_metrics(bench, totals) -> dict[str, float]:
    lay = bench.layer
    rounds = max(lay.get("rounds", 0), 1)
    exec_cpu = max(sum(t.cpu_s for t in totals.values()), 1e-9)
    trig = max(lay.get("streaming.trigger_ms", 0), 1e-9)
    s = merged(totals, ["streaming"])
    out = {
        "streaming.batches": lay.get("streaming.batches", 0) / rounds,
        "streaming.rows_in": lay.get("streaming.rows_in", 0) / rounds,
        "streaming.rows_out": lay.get("streaming.rows_out", 0) / rounds,
        "streaming.keep_ratio": lay.get("streaming.rows_out", 0)
        / max(lay.get("streaming.rows_in", 0), 1),
        "streaming.add_batch_share": lay.get("streaming.add_batch_ms", 0) / trig,
        "streaming.planning_share": lay.get("streaming.planning_ms", 0) / trig,
        "streaming.commit_share": lay.get("streaming.commit_ms", 0) / trig,
        "streaming.state_commit_share": lay.get("streaming.state_commit_ms", 0) / trig,
        "streaming.state_rows": lay.get("streaming.state_rows", 0),
        "streaming.state_mb": lay.get("streaming.state_mb", 0),
        "streaming.jobs": s.jobs / rounds,
        "streaming.tasks": s.tasks / rounds,
        "streaming.shuffle_mb": s.shuffle_mb / rounds,
        "streaming.cpu_share": s.cpu_s / exec_cpu,
        "streaming.share": bench.span_s.get("streaming", 0) / bench.timed_s,
        "quality.violations": lay.get("quality.violations", 0) / rounds,
        "plans.gold_jobs.rows": lay.get("plans.gold_jobs.rows", 0) / rounds,
        "sources.sinks.gold_files": lay.get("sources.sinks.gold_files", 0) / rounds,
        "sources.sinks.gold_mb": lay.get("sources.sinks.gold_mb", 0) / rounds,
        "streaming.notify.messages": lay.get("streaming.notify.messages", 0) / rounds,
    }
    for layer in CALL_LAYERS:
        t = merged(totals, [layer])
        out[f"{layer}.share"] = bench.span_s.get(layer, 0) / bench.timed_s
        out[f"{layer}.jobs"] = t.jobs / rounds
        out[f"{layer}.cpu_share"] = t.cpu_s / exec_cpu
    return out
