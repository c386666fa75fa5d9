"""ANN index artifact lifecycle: save → load → probe must equal the
fresh-build probe (the union≡batch identity of the index world), and
the drift monitor must accept the pinned centroids."""

import os

import pytest
from pyspark.sql import functions as F

from employee_activity_etl_poc_spark.operators import similarity as SIM
from employee_activity_etl_poc_spark.operators.index_store import (
    PLANE_DRIFT_MSG,
    load_ann_index,
    save_ann_index,
)
from employee_activity_etl_poc_spark.sources.readers import load_table


def _pairs(df):
    return {
        (r["query_id"], r["neighbor_id"], r["sim"], r["rnk"])
        for r in df.collect()
    }


def test_ivf_index_reload_probe_identity(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    n = emb.count()
    cents = SIM._ivf_centroids_kcenter(
        emb, "vec_id", "embedding", SIM.suggest_ivf_cells(n)
    )
    fresh = SIM.ivf_topk(
        emb, q, "vec_id", "embedding", k=5, n_probe=8, cents=cents
    )
    path = os.path.join(tmp_path, "ivf_idx")
    save_ann_index(
        spark, path, dim=64, built_n=n, n_probe=8, centroids=cents
    )
    idx = load_ann_index(spark, path)
    assert idx["built_n"] == n and idx["n_probe"] == 8
    assert idx["centroids"] == [[float(x) for x in c] for c in cents]
    reloaded = SIM.ivf_topk(
        emb, q, "vec_id", "embedding",
        k=5, n_probe=idx["n_probe"], cents=idx["centroids"],
    )
    assert _pairs(fresh) == _pairs(reloaded)
    # the monitor accepts the pinned index and sees the full corpus
    mon = SIM.ivf_cell_stats(
        emb, "vec_id", "embedding", cents=idx["centroids"], n=n
    ).collect()[0]
    assert mon["n_cells"] == len(cents) and mon["populations_sum_ok"]


def test_pq_index_reload_probe_identity(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    n = emb.count()
    books = SIM.train_pq_codebooks(emb, "vec_id", "embedding", m=16)
    fresh = SIM.pq_rerank_topk(
        emb, q, "vec_id", "embedding", k=5, shortlist=50, codebooks=books
    )
    path = os.path.join(tmp_path, "pq_idx")
    save_ann_index(spark, path, dim=64, built_n=n, codebooks=books)
    idx = load_ann_index(spark, path)
    assert idx["codebooks"] == books  # floats round-trip exactly
    reloaded = SIM.pq_rerank_topk(
        emb, q, "vec_id", "embedding",
        k=5, shortlist=50, codebooks=idx["codebooks"],
    )
    assert _pairs(fresh) == _pairs(reloaded)


def test_residual_pq_coarse_roundtrip(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    coarse, books = SIM.train_residual_pq(emb, "vec_id", "embedding")
    path = os.path.join(tmp_path, "ivfpq_idx")
    save_ann_index(
        spark, path, dim=64, built_n=n, coarse=coarse, codebooks=books
    )
    idx = load_ann_index(spark, path)
    assert idx["coarse"] == [[float(x) for x in c] for c in coarse]
    assert idx["codebooks"] == books


def test_lsh_params_roundtrip_and_drift_guard(spark, tmp_path):
    path = os.path.join(tmp_path, "lsh_idx")
    save_ann_index(
        spark, path, dim=8, built_n=1234,
        n_planes=4, n_tables=2, multi_probe=2,
    )
    idx = load_ann_index(spark, path)
    assert (idx["n_planes"], idx["n_tables"], idx["multi_probe"]) == (4, 2, 2)
    assert idx["built_n"] == 1234

    # corrupt one stored plane weight -> load must refuse, not mis-probe
    df = spark.read.parquet(path)
    bad = df.withColumn(
        "vec",
        F.when(
            (F.col("section") == "lsh_plane") & (F.col("i") == 0) & (F.col("j") == 0),
            F.transform(F.col("vec"), lambda x: x + F.lit(1.0)),
        ).otherwise(F.col("vec")),
    )
    bad_path = os.path.join(tmp_path, "lsh_idx_bad")
    bad.write.mode("overwrite").parquet(bad_path)
    with pytest.raises(ValueError, match="drifted"):
        load_ann_index(spark, bad_path)
    assert "drifted" in PLANE_DRIFT_MSG


def test_refresh_ivf_index_lifecycle(spark, tmp_path):
    """build -> kept (same corpus) -> refreshed (collapsed corpus
    breaches the bound) -> kept again (idempotent after retrain)."""
    from employee_activity_etl_poc_spark.plans.model_lifecycle import (
        refresh_ivf_index_if_drifted,
    )

    path = os.path.join(tmp_path, "ivf_lifecycle")
    # spread corpus: 4 clean cosine-clusters on axes 0-3 of an 8-d space
    spread = spark.createDataFrame(
        [(i, [1.0 if j == i % 4 else 0.01 * ((i + j) % 3) for j in range(8)])
         for i in range(64)],
        "vec_id long, embedding array<double>",
    )
    r1 = refresh_ivf_index_if_drifted(
        spark, spread, "vec_id", "embedding", path, imbalance_bound=3.0
    )
    assert r1["action"] == "built" and os.path.isdir(path)
    # crash injection: a crash between the swap's two renames leaves only
    # the backup, and an interrupted retrain leaves stray staging output;
    # the next epoch restores the former and discards the latter instead
    # of silently retraining as 'built'
    import shutil

    shutil.move(path, path + "__pre_prune")
    os.makedirs(path + "__pruning")
    rc = refresh_ivf_index_if_drifted(
        spark, spread, "vec_id", "embedding", path, imbalance_bound=3.0
    )
    assert rc["action"] == "kept" and rc["built_n"] == r1["built_n"]
    assert os.path.isdir(path) and not os.path.exists(path + "__pre_prune")
    assert not os.path.exists(path + "__pruning")
    r2 = refresh_ivf_index_if_drifted(
        spark, spread, "vec_id", "embedding", path, imbalance_bound=3.0
    )
    assert r2["action"] == "kept" and r2["imbalance"] <= 3.0
    assert r2["built_n"] == 64 and r2["n_probe"] == r1["n_probe"]
    # drifted corpus: every vector cosine-close to the OLD axis-0
    # cluster (the pinned index funnels all of it into that cell), with
    # sub-structure only in secondary components (axes 4-7) that a
    # retrain can split on
    collapsed = spark.createDataFrame(
        [(i, [1.0 if j == 0 else (0.45 if j == 4 + i % 4 else 0.0)
              for j in range(8)])
         for i in range(64)],
        "vec_id long, embedding array<double>",
    )
    r3 = refresh_ivf_index_if_drifted(
        spark, collapsed, "vec_id", "embedding", path, imbalance_bound=3.0
    )
    assert r3["action"] == "refreshed"
    assert r3["imbalance"] > 3.0 > r3["imbalance_after"]
    assert r3["built_n"] == 64
    r4 = refresh_ivf_index_if_drifted(
        spark, collapsed, "vec_id", "embedding", path, imbalance_bound=3.0
    )
    assert r4["action"] == "kept"
