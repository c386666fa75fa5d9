"""Persistable ANN index artifacts — the lifecycle layer SCALE.md asked
for: every auto-derived granularity (LSH plane count, IVF cell count,
PQ codebook size) is computed at plan-BUILD time, which is right for a
one-shot job but wrong for an index built once and probed across
sessions — a later session with a grown corpus would silently derive a
DIFFERENT family and stop matching the stored signatures/cells/codes.
This module pins the derived state into a parquet artifact, the same
contract the minhash/embedding signature stores establish for their
perm/plane families (``dedup.minhash_signature_table`` /
``similarity.embedding_signature_table``) extended to the three ANN
index families:

- **LSH**: (dim, n_planes, n_tables, multi_probe) — the plane weights
  are a pure function of (dim, n_planes, table)
  (``similarity._plane_weights``), but the artifact materializes them
  anyway: load verifies stored == re-derived, so a code-drift in the
  derivation (the one thing parameter-only pinning cannot see) fails
  LOUDLY at load instead of silently probing wrong buckets.
- **IVF**: the trained coarse centroids themselves (k-center+Lloyd is
  corpus-dependent — parameters cannot reproduce them), plus n_probe.
- **PQ**: per-subspace codebooks, and for residual PQ the coarse
  centroids they were trained against.

Format: ONE parquet directory per index, rows
``(section, i, j, vec)`` for vector payloads plus a single
``section='meta'`` row carrying the scalar parameters as JSON — small
enough to collect driver-side always (a 256-cell/64-dim IVF +
16×256-codebook PQ + 8×8-plane LSH artifact is < 5k rows), written
through the ordinary parquet sink so it lands anywhere a Spark path
can (the jar-free Delta log composes for versioned index history).
A pinned IVF index is monitored and re-trained on drift by
:func:`..plans.model_lifecycle.refresh_ivf_index_if_drifted`, which
replaces the artifact through :func:`..sources.sinks.swap_staged`.

Reference parity: the reference persists no index state (its dedup is
pandas ``drop_duplicates``, ``bronze/test7.py``); this is part of the
LLM-pipeline surface the engine adds on top.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from ..localrel import local_df

__all__ = ["save_ann_index", "load_ann_index", "PLANE_DRIFT_MSG"]

PLANE_DRIFT_MSG = (
    "stored LSH planes do not match their re-derivation from "
    "(dim, n_planes, table) — the plane-weight code has drifted since "
    "this index was built; rebuild the index or pin the old derivation"
)


def _vec_rows(section: str, nested) -> list[tuple]:
    """Flatten [i][j] -> vec (2-level) or [i] -> vec (1-level, j=0)."""
    rows = []
    for i, item in enumerate(nested):
        if item and isinstance(item[0], (list, tuple)):
            for j, v in enumerate(item):
                rows.append((section, i, j, [float(x) for x in v], None))
        else:
            rows.append((section, i, 0, [float(x) for x in item], None))
    return rows


def save_ann_index(
    spark: SparkSession,
    path: str,
    *,
    dim: int,
    built_n: int,
    n_probe: int | None = None,
    multi_probe: int | None = None,
    n_planes: int | None = None,
    n_tables: int | None = None,
    centroids: list[list[float]] | None = None,
    coarse: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    extra: dict | None = None,
) -> None:
    """Write one ANN index artifact (any subset of the three families).

    ``built_n`` records the corpus size the granularities were derived
    from — the load-side context for ``ivf_cell_stats`` drift checks
    ("the index thinks the corpus is 20k; it is now 2M"). ``mode`` is
    always overwrite: an index artifact is a snapshot, versioning
    belongs to the path (or the jar-free Delta log wrapping it)."""
    from .similarity import _plane_weights

    meta = {
        "dim": dim,
        "built_n": built_n,
        "n_probe": n_probe,
        "multi_probe": multi_probe,
        "n_planes": n_planes,
        "n_tables": n_tables,
        "has_centroids": centroids is not None,
        "has_coarse": coarse is not None,
        "has_codebooks": codebooks is not None,
        "n_centroids": len(centroids) if centroids is not None else None,
        "k_codes": len(codebooks[0]) if codebooks is not None else None,
        "m": len(codebooks) if codebooks is not None else None,
        "extra": extra or {},
    }
    rows: list[tuple] = [("meta", 0, 0, None, json.dumps(meta, sort_keys=True))]
    if centroids is not None:
        rows += _vec_rows("ivf_centroid", centroids)
    if coarse is not None:
        rows += _vec_rows("pq_coarse", coarse)
    if codebooks is not None:
        rows += _vec_rows("pq_book", codebooks)
    if n_planes is not None:
        planes = [
            _plane_weights(dim, n_planes, t) for t in range(n_tables or 1)
        ]
        rows += _vec_rows("lsh_plane", planes)
    # ONE slice from the start (see ..localrel): a coalesce(1) write of
    # a 32-slice local relation drains 32 SEQUENTIAL Python-worker
    # rounds — measured 4.4 s per artifact save before the r9 fix; the
    # artifact is driver-sized by construction, so one slice is the
    # honest shape anyway: 0.3 s, same file, one task on reload.
    df = local_df(
        spark, rows,
        "section string, i int, j int, vec array<double>, meta string",
    )
    df.write.mode("overwrite").parquet(path)


def load_ann_index(spark: SparkSession, path: str) -> dict:
    """Read an artifact back into plain driver-side lists — the form
    every similarity operator pins on (``ivf_topk(cents=...)``,
    ``pq_rerank_topk(codebooks=...)``, ``lsh_bucketed_topk(n_planes=...,
    n_tables=...)``, ``ivf_cell_stats(cents=...)``).

    Returns ``{dim, built_n, n_probe, multi_probe, n_planes, n_tables,
    centroids, coarse, codebooks, extra}`` (absent families are None).
    LSH planes are verified against their re-derivation and NOT
    returned — consumers re-derive from (dim, n_planes, table), and a
    mismatch raises ``ValueError(PLANE_DRIFT_MSG)`` instead of probing
    wrong buckets."""
    from .similarity import _plane_weights

    rows = spark.read.parquet(path).collect()
    meta = json.loads(
        next(r["meta"] for r in rows if r["section"] == "meta")
    )

    def section(name: str):
        return sorted(
            ((r["i"], r["j"], list(r["vec"])) for r in rows if r["section"] == name)
        )

    out = {
        k: meta.get(k)
        for k in (
            "dim", "built_n", "n_probe", "multi_probe", "n_planes", "n_tables"
        )
    }
    out["extra"] = meta.get("extra") or {}
    out["centroids"] = (
        [v for _, _, v in section("ivf_centroid")]
        if meta.get("has_centroids")
        else None
    )
    out["coarse"] = (
        [v for _, _, v in section("pq_coarse")]
        if meta.get("has_coarse")
        else None
    )
    if meta.get("has_codebooks"):
        books: list[list[list[float]]] = [
            [] for _ in range(meta["m"])
        ]
        for i, _, v in section("pq_book"):
            books[i].append(v)
        out["codebooks"] = books
    else:
        out["codebooks"] = None
    if meta.get("n_planes") is not None:
        stored = {}
        for i, j, v in section("lsh_plane"):
            stored.setdefault(i, []).append(v)
        for t in range(meta.get("n_tables") or 1):
            derived = _plane_weights(meta["dim"], meta["n_planes"], t)
            if stored.get(t) != [[float(x) for x in p] for p in derived]:
                raise ValueError(PLANE_DRIFT_MSG)
    return out
