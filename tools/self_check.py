"""Spark-side identity checks for the heavy-oracle dedup family.

The DuckDB replays of the minhash / embedding near-dup / connected-
component oracles are deliberately brute-force — fine at the driver's
sf0.01 gate, impractical at sf1 (50k-doc all-pairs SQL). These queries'
correctness arguments are INTERNAL identities, so they can be checked
at any scale without an external oracle, in Spark itself:

1. incremental ≡ batch (minhash): the union of per-batch outputs from
   the signature store must equal the one-shot batch operator on the
   full corpus — the exactly-once-per-pair contract the sf0.01 oracle
   hash certifies, re-proven at the target scale.
2. incremental ≡ batch (embedding): same identity for the vector
   signature store vs the bucketed batch operator (XOR-involution
   probing makes one-sided probing symmetric).
3. min-label CC ≡ large/small-star CC: two independent algorithms, one
   clustering contract — they must produce identical components.
4. span incremental (empty store) ≡ batch remover: the shared-kernel
   claim of the gram-store family — with nothing seen before, the
   incremental rewrite degrades to the batch operator exactly.

Usage: python tools/self_check.py [sf_dir]   (exit 0 = all identities hold)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_oracle import normalize  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import functions as F

    from employee_activity_etl_poc_spark.operators import dedup as D
    from employee_activity_etl_poc_spark.operators import similarity as SIM
    from employee_activity_etl_poc_spark.plans.llm_queries import (
        _with_near_copies,
    )
    from employee_activity_etl_poc_spark.plans.registry import REGISTRY, load
    from employee_activity_etl_poc_spark.session import get_spark

    spark = get_spark("self_check")
    failures = 0

    def check(name: str, got, want) -> None:
        nonlocal failures
        t0 = time.time()
        g, w = normalize(got.toPandas()), normalize(want.toPandas())
        ok = g == w
        print(
            f"{'OK  ' if ok else 'FAIL'} {name}: {g[0]} vs {w[0]} rows, hash "
            f"{'match' if g[2] == w[2] else 'MISMATCH'} [{time.time()-t0:.1f}s]"
        )
        failures += 0 if ok else 1

    corpus = _with_near_copies(load(spark, sf_dir, "documents"))
    check(
        "minhash incremental == batch",
        REGISTRY["dedup_minhash_incremental"].fn(spark, sf_dir),
        D.minhash_near_duplicates(
            corpus, "text", "doc_id", num_perm=16, bands=4, shingle_k=3,
            threshold=0.5,
        ),
    )

    emb = load(spark, sf_dir, "embeddings")
    vec_corpus = emb.unionByName(
        emb.where(F.col("vec_id") < 20).withColumn(
            "vec_id", F.col("vec_id") + 100000
        )
    )
    # pin the batch side to the SAME plane family the incremental query
    # derives (from the base-corpus count) — auto-deriving per-frame
    # could differ by one plane at a power-of-two boundary, and the
    # identity is only defined within one plane family
    g = SIM.suggest_granularity(emb.count(), SIM.AUTO_TARGET_BUCKET_PAIRS)
    check(
        "embedding incremental == bucketed batch",
        REGISTRY["embedding_incremental_near_dup"].fn(spark, sf_dir),
        SIM.bucketed_near_duplicate_pairs(
            vec_corpus, "vec_id", "embedding", dim=64, threshold=0.99,
            n_planes=g,
        ),
    )

    check(
        "min-label CC == alternating-star CC",
        REGISTRY["dedup_cluster_summary"].fn(spark, sf_dir),
        REGISTRY["dedup_clusters_alternating"].fn(spark, sf_dir),
    )

    # 4. span-family store degradation (r7): with an EMPTY gram store the
    # incremental remover must equal the batch remover exactly — same
    # keeper elections, same rewrites. The sf0.01 oracle hash certifies
    # both operators separately; this re-proves the shared-kernel claim
    # at the target scale where the replay oracle is infeasible.
    ws = F.split(F.col("text"), " ")
    span_corpus = corpus.select("doc_id", "text").unionByName(
        corpus.where(F.col("doc_id") < 15).select(
            (F.col("doc_id") + 900000).alias("doc_id"),
            F.array_join(F.slice(ws, 2, F.size(ws) - 1), " ").alias("text"),
        )
    )
    empty = D.gram_count_table(span_corpus.limit(0), "text", "doc_id", k=8)
    check(
        "span incremental (empty store) == batch remover",
        D.remove_duplicated_spans_incremental(
            empty, span_corpus, "text", "doc_id", k=8
        ),
        D.remove_duplicated_spans(span_corpus, "text", "doc_id", k=8),
    )

    print("ALL OK" if not failures else f"{failures} FAILURES")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
