"""Multi-executor parity check: local-cluster vs local.

``local[n]`` runs every task in ONE JVM — broadcasts never serialize,
"shuffles" are in-process, and a driver-side object that accidentally
leaks into a task closure still works. ``local-cluster[2,2,1024]`` spawns
two REAL executor JVMs: broadcasts ship over the wire, shuffle blocks
cross process boundaries, Python workers run per-executor — the closest
single-machine approximation of a real cluster.

This tool runs a representative slice of the registry on BOTH masters
and compares normalized results (same row/col/value-hash compare as the
oracle gate). Any operator that secretly depends on single-JVM locality
(un-serialized state, driver-local caches, partition-count assumptions)
fails here before it would fail on a thousand executors.

Usage: python tools/cluster_check.py [sf_dir]  (exit 0 = parity)
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tools.check_oracle import normalize  # noqa: E402

# Chosen to cross every mechanism that changes shape across JVMs:
# broadcast joins, shuffles+windows, persisted frames, mapInPandas
# (Arrow workers per executor), driver-side collects feeding
# createDataFrame (ANN probes/LUTs), and mergeable sketches.
QUERIES = [
    "revenue_by_segment",        # broadcast dim join
    "latest_events_per_user",    # shuffle + window
    "dedup_minhash_lsh",         # persist + self-join + verify
    "embedding_ann_ivf",         # BLAS mapInPandas + driver probes + flag
    "event_value_tdigest",       # partition sketches + single-task merge
    "events_user_cms_counts",    # explode + map-side combine + broadcast
    "documents_domain_cap",      # null-safe broadcast anti/semi split
    "events_snapshot_diff",      # full-outer shuffle join
    "event_value_kll",           # KLL compactors per partition + merge
    "events_theta_distinct_algebra",  # bottom-k heaps + semi-join algebra
    "events_cms_daily_range",    # per-segment sketches + range rollup
    "dedup_levenshtein_blocked", # block join + bounded DP verify
    "dedup_levenshtein_passjoin",# partition-signature equi-join (PassJoin)
    "dedup_ngram_prefix",        # frequency-ordered prefix join (AllPairs)
    "embedding_ivfpq_topk",      # residual ADC shortlist + exact re-rank
    "embedding_index_reload_topk",  # parquet index artifact across JVMs
    "embedding_ivf_cell_stats",  # pinned-centroid drift monitor
    "error_in_signup_window_sliced",  # hour-sliced range join
    "delta_roundtrip_stats",     # distributed writes through the pylog
    "streaming_ingest_gate",     # readStream -> foreachBatch -> txn sink
    "text_compression_ratio",    # zlib mapInPandas + corpus-flag gate
    "dedup_lsh_bucket_stats",    # skew monitor: candidate arithmetic
    # late r8: struct-typed grams crossing executor serialization
    "text_repetition",           # arrays_zip struct distinctness
    "benchmark_decontamination", # struct-gram broadcast equi-join
]


def _run(master: str, sf_dir: str) -> dict[str, tuple]:
    from pyspark.sql import SparkSession

    from employee_activity_etl_poc_spark.plans.registry import REGISTRY
    from employee_activity_etl_poc_spark.session import apply_engine_conf

    builder = (
        SparkSession.builder.master(master)
        .appName("cluster_check")
        # executor JVMs spawn their OWN Python workers, which know nothing
        # of the driver's sys.path hack — ship the repo root explicitly
        # (the local-mode equivalent of --py-files / a wheel on a cluster)
        .config("spark.executorEnv.PYTHONPATH", ROOT)
    )
    spark = apply_engine_conf(builder).getOrCreate()
    try:
        out = {}
        for name in QUERIES:
            out[name] = normalize(REGISTRY[name].fn(spark, sf_dir).toPandas())
        return out
    finally:
        spark.stop()


def _retry_resilience(sf_dir: str) -> bool:
    """Task-retry transparency: inject a FIRST-ATTEMPT failure into one
    partition of a mapInPandas stage under local-cluster (where the
    scheduler retries tasks, maxFailures=4 — local mode aborts on first
    failure) and assert the t-digest result is identical to a clean run.
    This is the 100 TB reality check sketches must pass: on a thousand
    executors, tasks FAIL — preemption, OOM-kills, spot reclaim — and a
    mergeable sketch is only scale-safe if a re-run partition produces
    the identical partial (deterministic, no RNG, no cross-attempt
    state)."""
    from pyspark import TaskContext
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from employee_activity_etl_poc_spark.operators import sketches as SK
    from employee_activity_etl_poc_spark.session import apply_engine_conf
    from employee_activity_etl_poc_spark.sources.readers import load_table

    builder = (
        SparkSession.builder.master("local-cluster[2,2,1024]")
        .appName("retry_check")
        .config("spark.executorEnv.PYTHONPATH", ROOT)
    )
    spark = apply_engine_conf(builder).getOrCreate()
    try:
        ev = load_table(spark, sf_dir, "events").select(
            F.col("value").cast("double").alias("v")
        )

        def flaky(batches):
            ctx = TaskContext.get()
            if ctx is not None and ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
                raise RuntimeError("injected first-attempt failure")
            yield from batches

        flaked = ev.mapInPandas(flaky, schema="v double")
        got = normalize(
            SK.tdigest_percentiles(flaked, "v", [0.5, 0.9]).toPandas()
        )
        clean = normalize(
            SK.tdigest_percentiles(ev, "v", [0.5, 0.9]).toPandas()
        )
        return got == clean
    finally:
        spark.stop()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    local = _run("local[4]", sf_dir)
    cluster = _run("local-cluster[2,2,1024]", sf_dir)
    failures = 0
    for name in QUERIES:
        ok = local[name] == cluster[name]
        print(f"{'OK  ' if ok else 'FAIL'} {name}: local {local[name][0]} rows "
              f"vs cluster {cluster[name][0]} rows, hash "
              f"{'match' if local[name][2] == cluster[name][2] else 'MISMATCH'}")
        failures += 0 if ok else 1
    retry_ok = _retry_resilience(sf_dir)
    if retry_ok:
        print("OK   retry_resilience: injected task failure, digest identical")
    else:
        print("FAIL retry_resilience: digest DIVERGED after injected failure")
    failures += 0 if retry_ok else 1
    print("ALL OK" if not failures else f"{failures} FAILURES")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
