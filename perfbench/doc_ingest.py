"""``doc_ingest``: the LLM training-data write path, as the first arrival
batch of a fresh ingest job.

The corpus is the sf0.1 ``documents`` table (``data/documents_sf0.1.parquet``,
5,000 docs). The seed picks ``BATCH_ORIGINALS`` of them in a shuffled
arrival order and plants copies of some of them in the same batch (20% of
the batch): half byte-identical, half near copies (the original plus one
of its own tokens appended), with ids above every original so that the
min-id policy drops the copy. Each round runs
``ingest_document_batch(spark, batch, workdir, batch_id=0)`` with default
stages into a fresh workdir. An operation is one batch; it pays the
session's first compile of every stage, as a fresh ingest job does.

Checks after each batch: no exact copy is exported, and the signature
store holds one row per document that survived exact dedup. A near copy
is caught only when its minhash bands meet its original's, which for
Jaccard J happens with probability 1 - (1 - J^4)^4 (16 permutations, 4
bands), so near copies that get through are counted, not failed.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass

import pandas as pd
import pyarrow.parquet as pq

from measure import merged

from employee_activity_etl_poc_spark.plans.llm_pipeline import ingest_document_batch

ITEMS = "documents"
CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents_sf0.1.parquet")
BATCH_ORIGINALS = 1200
COPY_SHARE = 0.20  # of the batch: copies of originals in the same batch
EXACT_OF_COPIES = 0.5  # the rest are near copies
COPY_ID_OFFSET = 10_000_000  # above every original id


@dataclass
class Inputs:
    batch: pd.DataFrame  # (doc_id, text) in arrival order
    exact_ids: set[int]
    near_ids: set[int]


def prepare(spark, workdir: str, seed: int) -> Inputs:
    rng = random.Random(seed)
    table = pq.read_table(CORPUS, columns=["doc_id", "text"])
    docs = list(zip(table.column("doc_id").to_pylist(), table.column("text").to_pylist()))
    rng.shuffle(docs)
    batch = docs[:BATCH_ORIGINALS]
    n_copies = round(BATCH_ORIGINALS * COPY_SHARE / (1 - COPY_SHARE))
    exact_ids, near_ids = set(), set()
    for i in range(n_copies):
        _doc_id, text = rng.choice(docs[:BATCH_ORIGINALS])
        copy_id = COPY_ID_OFFSET + i
        if rng.random() < EXACT_OF_COPIES:
            batch.append((copy_id, text))
            exact_ids.add(copy_id)
        else:
            batch.append((copy_id, text + " " + rng.choice(text.split(" "))))
            near_ids.add(copy_id)
    rng.shuffle(batch)
    pdf = pd.DataFrame(batch, columns=["doc_id", "text"]).astype({"doc_id": "int64"})
    return Inputs(pdf, exact_ids, near_ids)


def warm_up(spark, inp: Inputs, workdir: str) -> None:
    pass


def run_round(bench, inp: Inputs, k: int) -> None:
    """The batch into a fresh ingest workdir."""
    spark = bench.spark
    workdir = os.path.join(bench.workdir, f"ingest{k}")
    batch = spark.createDataFrame(inp.batch, "doc_id long, text string")
    res = error = None
    t0 = time.perf_counter()
    try:
        with bench.timed(), bench.span("plans.llm_pipeline"):
            res = ingest_document_batch(spark, batch, workdir, batch_id=0)
    except Exception as exc:  # noqa: BLE001 - a failed batch is a measured failure
        error = f"round {k}: {type(exc).__name__}: {exc}"[:300]
    latency = time.perf_counter() - t0
    if error is not None:
        bench.op(latency, error)
        return
    lay = bench.layer
    bench.add("batches", 1)
    bench.add("arrived", res.n_arrived)
    bench.add("after_exact", res.n_after_exact)
    bench.add("near_dup_losers", res.n_near_dup_losers)
    bench.add("after_quality", res.n_after_quality)
    exported = {
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(workdir, "shards", "batch=0"))
        .select("doc_id")
        .distinct()
        .collect()
    }
    bench.add("near_copies_exported", len(exported & inp.near_ids))
    problems = []
    leaked = exported & inp.exact_ids
    if leaked:
        problems.append(f"{len(leaked)} exact copies exported, e.g. {sorted(leaked)[:3]}")
    store_rows = spark.read.parquet(os.path.join(workdir, "sigstore")).count()
    lay["sigstore_rows"] = store_rows
    lay["last_round"] = k
    if store_rows != res.n_after_exact:
        problems.append(f"signature store has {store_rows} rows, want {res.n_after_exact}")
    if res.n_arrived != len(inp.batch):
        problems.append(f"{res.n_arrived} docs arrived, sent {len(inp.batch)}")
    bench.op(latency, f"round {k}: " + "; ".join(problems) if problems else None)
    if not problems:
        bench.items += res.n_arrived


def _dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, n)) for n in names)
    return total / 2**20


def sizes(bench, inp: Inputs) -> dict[str, int]:
    return {
        "corpus_docs": pq.read_metadata(CORPUS).num_rows,
        "batch_docs": len(inp.batch),
        "batch_originals": BATCH_ORIGINALS,
        "planted_exact": len(inp.exact_ids),
        "planted_near": len(inp.near_ids),
    }


def properties(bench, inp: Inputs) -> dict[str, float]:
    lay = bench.layer
    arrived = max(lay.get("arrived", 0), 1)
    return {
        "input.docs_per_batch": arrived / max(lay.get("batches", 0), 1),
        "input.planted_share": (len(inp.exact_ids) + len(inp.near_ids)) / len(inp.batch),
        "operators.dedup.near_dup_share": lay.get("near_dup_losers", 0)
        / max(lay.get("after_exact", 0), 1),
        "operators.dedup.sigstore_rows": lay.get("sigstore_rows", 0),
        "operators.dedup.near_copies_exported": lay.get("near_copies_exported", 0),
    }


def layer_metrics(bench, totals) -> dict[str, float]:
    lay = bench.layer
    n = max(lay.get("batches", 0), 1)
    t = merged(totals, ["plans.llm_pipeline"])
    workdir = os.path.join(bench.workdir, f"ingest{int(lay.get('last_round', 0))}")
    return {
        "plans.llm_pipeline.jobs_per_batch": t.jobs / n,
        "plans.llm_pipeline.stages_per_batch": t.stages / n,
        "plans.llm_pipeline.tasks_per_batch": t.tasks / n,
        "plans.llm_pipeline.shuffle_mb": t.shuffle_mb / n,
        "plans.llm_pipeline.spill_mb": t.spill_mb / n,
        "plans.llm_pipeline.export_ratio": lay.get("after_quality", 0)
        / max(lay.get("arrived", 0), 1),
        "sources.sinks.shards_mb": _dir_mb(os.path.join(workdir, "shards")),
        "sources.sinks.sigstore_mb": _dir_mb(os.path.join(workdir, "sigstore")),
    }
