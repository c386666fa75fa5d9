"""``query_mix``: read-only analytics, a fixed set of registry queries at
sf0.01 in a fixed order.

Each round is one pass over ``QUERIES``. An operation is one query:
``fn(spark, data_dir)`` builds the DataFrame (registry call, including any
eager driver-side fits and collects), ``toPandas()`` executes it and brings
the rows back, then the cache is cleared. Outside the timed region the
rows are hashed with ``tools/check_oracle.normalize`` and compared with
``expected_hashes.json``, which ``make_expected.py`` derives from each
query's DuckDB oracle over the same data.

Every query is timed in one family, the first of its tags to match, in the
order dedup -> similarity -> text/quality/ml -> relational.

The inputs do not depend on the seed. Queries share first-time costs
(code generation, JIT, Python worker imports) that the first query to
need them pays, so a seeded order moved single query latencies by
several seconds and the median query latency by up to 40% between
seeds, while the work done stayed the same.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from measure import merged

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected_hashes.json")
ITEMS = "queries"

# A subset of bench.py's HEADLINE: a pass over all 105 takes minutes, this
# one about 8 s on local[4]. Mostly queries under a second, so the median
# latency sits among many similar values, plus one with an eager
# driver-side fit (the IVF index of embedding_ann_ivf).
QUERIES = (
    "revenue_by_segment",
    "event_type_stats",
    "dedup_exact",
    "soft_dedup_weights",
    "embedding_topk",
    "embedding_hard_negatives",
    "embedding_ann_ivf",
    "text_quality",
)
FAMILIES = ("relational", "dedup", "similarity", "textops")


def family(tags: tuple[str, ...]) -> str:
    if "dedup" in tags:
        return "dedup"
    if "similarity" in tags:
        return "similarity"
    if {"text", "quality", "ml"} & set(tags):
        return "textops"
    return "relational"


@dataclass
class Inputs:
    expected: dict[str, dict]  # query -> {"rows", "hash"}


def prepare(spark, workdir: str, seed: int) -> Inputs:
    with open(EXPECTED) as fh:
        return Inputs(json.load(fh)["queries"])


def warm_up(spark, inp: Inputs, workdir: str) -> None:
    """The session's first scan, join, aggregate and Python worker, paid in
    set-up rather than by the first query."""
    nation = spark.read.parquet(os.path.join(DATA_DIR, "nation.parquet"))
    region = spark.read.parquet(os.path.join(DATA_DIR, "region.parquet"))
    nation.join(region, nation.n_regionkey == region.r_regionkey).groupBy("r_name").count().toPandas()
    spark.range(64).repartition(4).mapInPandas(
        lambda it: (pdf for pdf in it), schema="id long"
    ).write.format("noop").mode("overwrite").save()


def run_round(bench, inp: Inputs, k: int) -> None:
    from employee_activity_etl_poc_spark.plans.registry import REGISTRY
    from tools.check_oracle import normalize

    spark = bench.spark
    for name in QUERIES:
        q = REGISTRY[name]
        fam = family(q.tags)
        pdf = problem = None
        t0 = time.perf_counter()
        try:
            with bench.timed():
                with bench.span(f"operators.{fam}.build", group=f"{fam}:{name}"):
                    df = q.fn(spark, DATA_DIR)
                with bench.span(f"operators.{fam}.exec", group=f"{fam}:{name}"):
                    pdf = df.toPandas()
        except Exception as exc:  # noqa: BLE001 - a failed query is a measured failure
            problem = f"{name}: {type(exc).__name__}: {exc}"[:300]
        latency = time.perf_counter() - t0
        spark.catalog.clearCache()
        if pdf is not None:
            rows, _cols, digest = normalize(pdf)
            want = inp.expected[name]
            if (rows, digest) != (want["rows"], want["hash"]):
                problem = f"{name}: {rows} rows, hash {digest[:12]}; want {want['rows']}, {want['hash'][:12]}"
        bench.op(latency, problem)
        if problem is None:
            bench.items += 1
    bench.add("rounds", 1)


def sizes(bench, inp: Inputs) -> dict:
    return {
        "queries_per_pass": len(QUERIES),
        "data": "sf0.01",
        "latency_by_query": dict(zip(QUERIES, (round(x, 3) for x in bench.op_latencies))),
    }


def properties(bench, inp: Inputs) -> dict[str, float]:
    return {"input.queries": len(QUERIES)}


def layer_metrics(bench, totals) -> dict[str, float]:
    exec_cpu = max(sum(t.cpu_s for t in totals.values()), 1e-9)
    passes = max(bench.layer.get("rounds", 0), 1)
    out = {}
    build_total = 0.0
    for fam in FAMILIES:
        t = merged(totals, [g for g in totals if g.startswith(f"{fam}:")])
        build = bench.span_s.get(f"operators.{fam}.build", 0.0)
        build_total += build
        out[f"operators.{fam}.build_share"] = build / bench.timed_s
        out[f"operators.{fam}.exec_share"] = (
            bench.span_s.get(f"operators.{fam}.exec", 0.0) / bench.timed_s
        )
        out[f"operators.{fam}.jobs"] = t.jobs / passes
        out[f"operators.{fam}.tasks"] = t.tasks / passes
        out[f"operators.{fam}.cpu_share"] = t.cpu_s / exec_cpu
        out[f"operators.{fam}.shuffle_mb"] = t.shuffle_mb / passes
        out[f"operators.{fam}.spill_mb"] = t.spill_mb / passes
    out["plans.build_share"] = build_total / bench.timed_s
    return out
