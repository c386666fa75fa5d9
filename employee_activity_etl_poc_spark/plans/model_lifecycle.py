"""Artifact lifecycles: monitor a PINNED index or model for drift and
re-train it on breach — one idempotent call per ingest epoch that a
scheduler (foreachBatch hook, cron'd job) invokes, for each of the four
artifacts the engine persists (:mod:`..operators.index_store`,
:mod:`..operators.model_store`):

- IVF index — the imbalance of the pinned centroids' cell populations
  on the CURRENT corpus (``similarity.ivf_cell_stats(cents=...)``; a
  refit is balanced by construction and cannot observe drift);
- quality classifier, BPE tokenizer, k-means centroids — Population
  Stability Index (PSI) between the current corpus's score /
  tokens-per-word / cell-occupancy histogram under the pinned artifact
  and the TRAINING-TIME histogram stored inside it. PSI is the standard
  model-monitoring statistic (sum over buckets of
  ``(p - q) * ln(p / q)``): < 0.1 is conventionally "no shift", > 0.25
  "major shift"; the default bound 0.2 sits in the usual alerting band.
  A drifted corpus shifts these histograms long before labels or
  downstream metrics exist to notice.

All four run the same epoch, :func:`_refresh_if_drifted`, and differ
only in how they fit and which drift signal they read. Everything heavy
(fits, scoring passes, histogram aggregates) stays distributed in the
operators they delegate to; the DECISION is driver-side over a handful
of counts. Reference parity: the reference persists no models or index
state (its dedup is pandas ``drop_duplicates``, ``bronze/test7.py``);
this belongs to the LLM-pipeline surface the engine adds.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import similarity as SIM
from ..operators.index_store import load_ann_index, save_ann_index
from ..operators.model_store import (
    N_PROFILE_BUCKETS,
    load_classifier_artifact,
    save_classifier,
)
from ..operators.textops import quality_classifier, score_quality_classifier
from ..sources.sinks import recover_staged_swap, staging_path, swap_staged

__all__ = [
    "refresh_ivf_index_if_drifted",
    "refresh_classifier_if_drifted",
    "refresh_tokenizer_if_drifted",
    "refresh_kmeans_if_drifted",
    "score_profile",
    "fertility_profile",
    "psi",
]


def _refresh_if_drifted(spark: SparkSession, path: str, fit, check) -> dict:
    """One lifecycle epoch for the artifact at ``path``. ``fit(target)``
    trains on the current corpus, saves to ``target`` and returns its
    report fields; ``check()`` loads the live artifact and returns
    ``(ok, report)``, or ``None`` when it carries no stored profile.

    - A crashed earlier swap is recovered first
      (:func:`..sources.sinks.recover_staged_swap`), so a crash between
      its renames resumes from the old artifact instead of silently
      retraining it as ``'built'``.
    - No artifact → fit in place, ``action='built'``.
    - Within bound → ``'kept'``: the artifact is untouched, so scorers
      and probers keep bit-identical behavior.
    - Breached → fit into the staging dir and swap it in
      (:func:`..sources.sinks.swap_staged`, which works on whatever
      filesystem the artifact lives on), ``'refreshed'`` with the
      breaching report overlaid by the fresh fit's fields.
    - No stored profile → the same fit and swap, ``'rebuilt'``: an
      unmonitorable artifact can't be 'kept' honestly, and the rebuild
      gives it the profile every later epoch monitors.
    """
    if not recover_staged_swap(spark, path):
        return {"action": "built", **fit(path)}
    verdict = check()
    if verdict is not None and verdict[0]:
        return {"action": "kept", **verdict[1]}
    fresh = fit(staging_path(path))
    swap_staged(spark, path)
    if verdict is None:
        return {"action": "rebuilt", **fresh}
    return {"action": "refreshed", **verdict[1], **fresh}


def refresh_ivf_index_if_drifted(
    spark: SparkSession,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    imbalance_bound: float = 8.0,
    n: int | None = None,
) -> dict:
    """One lifecycle epoch for an IVF index artifact at ``path``
    (:func:`_refresh_if_drifted`). Fit: k-center + Lloyd, every
    granularity auto-derived from the CURRENT corpus count. Drift: the
    pinned centroids' cell-population imbalance on the current corpus
    against ``imbalance_bound``.

    Returns a driver-side dict: ``{action, n, built_n, n_cells,
    imbalance, imbalance_after (refreshed only), n_probe}``. A
    ``'refreshed'`` report carries the before/after imbalance so the
    caller can alert on a retrain that did NOT rebalance (data got
    genuinely skewed, not just drifted). Idempotent per corpus
    snapshot: a second call on the same corpus is always ``'kept'`` (a
    fresh fit on the corpus it was fit on is balanced).
    """
    if n is None:
        n = corpus.count()

    def cell_stats(cents):
        return SIM.ivf_cell_stats(
            corpus, id_col, vec_col,
            cents=cents, imbalance_bound=imbalance_bound, n=n,
        ).collect()[0]

    def fit(target: str) -> dict:
        cents = SIM._ivf_centroids_kcenter(
            corpus, id_col, vec_col, SIM.suggest_ivf_cells(n)
        )
        n_probe = SIM.suggest_ivf_probe(n, len(cents))
        save_ann_index(
            spark, target, dim=len(cents[0]), built_n=n, n_probe=n_probe,
            centroids=cents,
        )
        return {
            "n": n, "built_n": n, "n_cells": len(cents), "n_probe": n_probe,
        }

    def check():
        idx = load_ann_index(spark, path)
        stat = cell_stats(idx["centroids"])
        return stat["imbalance_ok"], {
            "n": n,
            "built_n": idx["built_n"],
            "n_cells": len(idx["centroids"]),
            "n_probe": idx["n_probe"],
            "imbalance": stat["imbalance"],
        }

    report = _refresh_if_drifted(spark, path, fit, check)
    if report["action"] == "refreshed":
        fresh = load_ann_index(spark, path)
        report["imbalance_after"] = cell_stats(fresh["centroids"])["imbalance"]
    return report


def score_profile(scored: DataFrame) -> list[int]:
    """Decile histogram of a scoring frame's ``score`` column (scores
    live in [0, 1]; 1.0 folds into the top bucket): the
    ``N_PROFILE_BUCKETS`` bigint counts the drift monitor compares.
    One map-side-combinable aggregate, empty deciles filled with 0."""
    bucket = F.least(
        F.lit(N_PROFILE_BUCKETS - 1),
        F.floor(F.col("score") * N_PROFILE_BUCKETS).cast("int"),
    )
    counts = {
        int(r["_pb"]): int(r["_n"])
        for r in scored.select(bucket.alias("_pb"))
        .groupBy("_pb")
        .agg(F.count("*").alias("_n"))
        .collect()
    }
    return [counts.get(i, 0) for i in range(N_PROFILE_BUCKETS)]


def psi(current: list[int], reference: list[int]) -> float:
    """Population Stability Index between two count histograms over the
    same buckets, with +0.5/bucket Laplace smoothing so empty buckets
    (common at fixture scale) can't produce ln(0). Symmetric in the
    usual sense (every term is positive); 0.0 iff the smoothed
    proportions coincide."""
    if len(current) != len(reference):
        raise ValueError(
            f"histogram arity mismatch: {len(current)} vs {len(reference)}"
        )
    n_cur = sum(current) + 0.5 * len(current)
    n_ref = sum(reference) + 0.5 * len(reference)
    total = 0.0
    for c, r in zip(current, reference):
        p = (c + 0.5) / n_cur
        q = (r + 0.5) / n_ref
        total += (p - q) * math.log(p / q)
    return total


def _psi_verdict(current, reference, n: int, psi_bound: float):
    """``check()`` result for a PSI-monitored artifact: ``None`` when
    the artifact stored no ``reference`` profile, else ``(within bound,
    report)`` with ``current()`` evaluated only then."""
    if reference is None:
        return None
    drift = psi(current(), reference)
    return drift <= psi_bound, {
        "n": n, "psi": round(drift, 6), "psi_bound": psi_bound,
    }


def refresh_classifier_if_drifted(
    spark: SparkSession,
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    label: Column,
    path: str,
    psi_bound: float = 0.2,
    n_buckets: int = 1024,
    iters: int = 3,
    lr: float = 10.0,
    n: int | None = None,
) -> dict:
    """One lifecycle epoch for a classifier artifact at ``path``
    (:func:`_refresh_if_drifted`). Fit:
    :func:`..operators.textops.quality_classifier` (full-batch GD), then
    store weights + the training-time score profile. Drift: PSI of the
    current corpus's score histogram under the PINNED weights (one
    feature pass, no training jobs) against the stored profile.

    Returns a driver-side dict ``{action, n, psi (kept/refreshed),
    psi_bound}``. Idempotent per corpus snapshot: a second call on the
    same corpus is always ``'kept'`` — the stored profile IS that
    corpus's histogram (exact grid-unit scores, so the histogram
    replays bit-identically)."""
    if n is None:
        n = corpus.count()

    def fit(target: str) -> dict:
        model: dict = {}
        trained = quality_classifier(
            corpus, text_col, id_col, label,
            n_buckets=n_buckets, iters=iters, lr=lr, model_out=model,
        )
        profile = score_profile(trained)
        save_classifier(
            spark, target, model["w6"], model["b6"], score_profile=profile
        )
        return {"n": n, "psi_bound": psi_bound}

    def check():
        art = load_classifier_artifact(spark, path)
        return _psi_verdict(
            lambda: score_profile(score_quality_classifier(
                corpus, text_col, id_col, label, w6=art["w6"], b6=art["b6"]
            )),
            art["score_profile"], n, psi_bound,
        )

    return _refresh_if_drifted(spark, path, fit, check)


def fertility_profile(corpus: DataFrame, text_col: str, merges: list) -> list[int]:
    """Occurrence-weighted tokens-per-word histogram of ``corpus`` under
    ``merges`` (bucket = min(tokens, N_FERTILITY_BUCKETS) - 1): the
    tokenizer's drift observable. A corpus the merges no longer fit
    (new language, new domain, different scripts) shifts mass toward
    the high-token buckets — fertility rises — long before any
    downstream metric exists. Exact bigint counts (word splits and fold
    lengths are integers), so the histogram replays bit-identically on
    the same snapshot. One explode + vocab groupBy + the fold over the
    DISTINCT-word frame — model application stays vocabulary-bounded."""
    from ..operators.model_store import N_FERTILITY_BUCKETS
    from ..operators.textops import TOKEN_SPLIT, bpe_tokenize

    lw = (
        corpus.select(F.explode(F.split(F.col(text_col), TOKEN_SPLIT)).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    bucket = (
        F.least(
            F.lit(N_FERTILITY_BUCKETS),
            F.size(bpe_tokenize("word", merges)),
        )
        - 1
    )
    counts = {
        int(r["_fb"]): int(r["_n"])
        for r in lw.select(bucket.alias("_fb"), "n")
        .groupBy("_fb")
        .agg(F.sum("n").alias("_n"))
        .collect()
    }
    return [counts.get(i, 0) for i in range(N_FERTILITY_BUCKETS)]


def refresh_tokenizer_if_drifted(
    spark: SparkSession,
    corpus: DataFrame,
    text_col: str,
    path: str,
    psi_bound: float = 0.2,
    n_merges: int = 6,
    n: int | None = None,
) -> dict:
    """One lifecycle epoch for a tokenizer artifact at ``path``
    (:func:`_refresh_if_drifted`; a tokenizer is the ONE model a
    pipeline must not silently retrain — changing merges mid-corpus
    splits the token space — but a tokenizer trained on last year's
    crawl over-segments this year's). Fit: ``textops.bpe_merge_table``,
    then store merges + the training-time fertility profile. Drift: PSI
    of the tokens-per-word histogram under the PINNED merges
    (vocab-bounded fold pass, no training jobs) against the stored one.

    Returns the :func:`refresh_classifier_if_drifted` dict. Idempotent
    per corpus snapshot: exact integer histograms make the second call
    on the same corpus PSI = 0 exactly."""
    from ..operators.model_store import (
        load_tokenizer_artifact,
        save_tokenizer,
    )
    from ..operators.textops import bpe_merge_table

    if n is None:
        n = corpus.count()

    def fit(target: str) -> dict:
        merges = bpe_merge_table(corpus, text_col, n_merges=n_merges)
        profile = fertility_profile(corpus, text_col, merges)
        save_tokenizer(spark, target, merges, fertility_profile=profile)
        return {"n": n, "psi_bound": psi_bound}

    def check():
        art = load_tokenizer_artifact(spark, path)
        return _psi_verdict(
            lambda: fertility_profile(corpus, text_col, art["merges"]),
            art["fertility_profile"], n, psi_bound,
        )

    return _refresh_if_drifted(spark, path, fit, check)


def refresh_kmeans_if_drifted(
    spark: SparkSession,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    psi_bound: float = 0.2,
    k: int = 8,
    iterations: int = 2,
    grid: int = 1000,
    n: int | None = None,
) -> dict:
    """One lifecycle epoch for a k-means centroid artifact at ``path``
    (:func:`_refresh_if_drifted`; centroids pin SemDeDup blocks,
    balanced-sampling cells and IVF coarse quantizers — silently
    retraining them re-draws every block boundary mid-corpus, but
    centroids trained on last year's embedding distribution
    starve/flood cells on this year's). Fit:
    ``similarity.kmeans_lloyd_grid``, then store centroids + the
    training-time occupancy. Drift: PSI of the CELL-OCCUPANCY histogram
    under the PINNED centroids (``similarity.kmeans_cell_counts`` — k
    exact bigint counts, one map-side-combinable aggregate) against the
    stored one. An artifact trained on a different ``grid`` raises
    ``ValueError`` rather than compare occupancies across grids.

    Returns the :func:`refresh_classifier_if_drifted` dict. Idempotent
    per corpus snapshot: exact integer occupancy histograms make the
    second call on the same corpus PSI = 0 exactly."""
    from ..operators.model_store import load_centroids, save_centroids

    if n is None:
        n = corpus.count()

    def fit(target: str) -> dict:
        model: dict = {}
        SIM.kmeans_lloyd_grid(
            corpus, id_col, vec_col, k=k, iterations=iterations, grid=grid,
            model_out=model,
        ).collect()
        occupancy = SIM.kmeans_cell_counts(
            corpus, id_col, vec_col, model["centroids"], grid=grid
        )
        save_centroids(
            spark, target, model["centroids"], grid,
            occupancy_profile=occupancy,
        )
        return {"n": n, "psi_bound": psi_bound}

    def check():
        art = load_centroids(spark, path)
        if art["grid"] != grid:
            raise ValueError(
                f"centroid artifact at {path} was trained on grid "
                f"{art['grid']}, scoring requested grid {grid} — refusing "
                "to compare occupancies across grids"
            )
        return _psi_verdict(
            lambda: SIM.kmeans_cell_counts(
                corpus, id_col, vec_col, art["centroids"], grid=art["grid"]
            ),
            art["occupancy_profile"], n, psi_bound,
        )

    return _refresh_if_drifted(spark, path, fit, check)
