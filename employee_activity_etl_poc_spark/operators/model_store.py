"""Persistable classifier-model artifacts — :mod:`.index_store`'s
contract applied to the learned quality filter: a model trained once
(``textops.quality_classifier``) must score later sessions and grown
corpora under the EXACT weights it was trained with, not a silent
retrain. Weights live on the 1e-6 integer grid (bigint grid units), so
the parquet round-trip is bit-exact by construction — no float
tolerance anywhere in the lifecycle.

Format: ONE parquet directory, rows ``(b, w6)`` for the weight vector
plus a ``b = -1`` row carrying the bias (the same sentinel bucket the
training pass uses for the bias gradient) and a ``b = -2`` row whose
``w6`` is the feature-space size — enough to rebuild the dense literal
vector and to LOUDLY reject scoring with a mismatched bucket count
(hash family drift = silently wrong features, the index_store plane
lesson). The three model artifacts here are monitored and re-trained
on drift by :mod:`..plans.model_lifecycle`, which replaces them
through :func:`..sources.sinks.swap_staged` — the same lifecycle loop
the IVF index artifact runs.

Reference parity: the reference trains/persists no models; this is
part of the LLM-pipeline surface the engine adds on top.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..localrel import local_df

__all__ = [
    "save_classifier",
    "load_classifier_artifact",
    "save_tokenizer",
    "save_centroids",
    "load_centroids",
    "load_tokenizer_artifact",
    "N_FERTILITY_BUCKETS",
    "N_PROFILE_BUCKETS",
]

# score-distribution profile resolution: fixed deciles of [0, 1] —
# coarse enough that the profile is 10 bigint rows, fine enough that a
# drifted corpus moves visible mass between buckets
N_PROFILE_BUCKETS = 10


def save_classifier(
    spark: SparkSession,
    path: str,
    w6: list[int],
    b6: int,
    score_profile: list[int] | None = None,
) -> None:
    """Write the grid-unit weight vector + bias as a parquet artifact
    (one file — driver-sized by construction: B+2 bigint rows).

    ``score_profile`` (optional): the TRAINING-TIME score distribution
    as ``N_PROFILE_BUCKETS`` decile counts — the reference histogram
    :func:`..plans.model_lifecycle.refresh_classifier_if_drifted`
    monitors PSI against. Stored as rows ``b = -3 - i`` (below the two
    sentinel rows, so pre-profile readers ignore them)."""
    rows = [(-2, len(w6)), (-1, int(b6))]
    if score_profile is not None:
        if len(score_profile) != N_PROFILE_BUCKETS:
            raise ValueError(
                f"score_profile must have {N_PROFILE_BUCKETS} decile "
                f"counts, got {len(score_profile)}"
            )
        rows += [(-3 - i, int(c)) for i, c in enumerate(score_profile)]
    rows += [(i, int(v)) for i, v in enumerate(w6)]
    local_df(spark, rows, "b long, w6 long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def load_classifier_artifact(spark: SparkSession, path: str) -> dict:
    """Full artifact: ``{w6, b6, score_profile}`` — ``score_profile`` is
    the stored decile histogram, or ``None`` on a pre-profile artifact.
    Raises on a truncated/foreign artifact (missing sentinel rows, a
    weight count that disagrees with the recorded feature-space size, or
    a partial profile)."""
    rows = {r["b"]: r["w6"] for r in spark.read.parquet(path).collect()}
    if -2 not in rows or -1 not in rows:
        raise ValueError(
            f"classifier artifact at {path} is missing its sentinel rows "
            "(not a save_classifier artifact, or a partial write)"
        )
    n = int(rows[-2])
    w6 = [int(rows.get(i, 0)) for i in range(n)]
    n_present = sum(1 for b in rows if b >= 0)
    if n_present != n:
        raise ValueError(
            f"classifier artifact at {path} records {n} buckets but "
            f"holds {n_present} weight rows — truncated or mixed artifact"
        )
    profile = None
    if -3 in rows:
        missing = [
            i for i in range(N_PROFILE_BUCKETS) if (-3 - i) not in rows
        ]
        if missing:
            raise ValueError(
                f"classifier artifact at {path} holds a partial score "
                f"profile (missing deciles {missing}) — truncated or "
                "mixed artifact"
            )
        profile = [int(rows[-3 - i]) for i in range(N_PROFILE_BUCKETS)]
    return {"w6": w6, "b6": int(rows[-1]), "score_profile": profile}


N_FERTILITY_BUCKETS = 8


def save_tokenizer(
    spark: SparkSession,
    path: str,
    merges: list[dict],
    fertility_profile: list[int] | None = None,
) -> None:
    """Write a learned BPE merge table (``textops.bpe_merge_table``
    output) as a parquet artifact — the tokenizer twin of
    :func:`save_classifier`: merges are exact strings + integer counts,
    so the round-trip is bit-exact by construction. A ``rank = -1``
    sentinel row records the merge count so a truncated artifact is
    rejected loudly (applying a PREFIX of a merge list silently
    tokenizes differently — worse than failing).

    ``fertility_profile`` (optional): the TRAINING-TIME tokens-per-word
    histogram (``N_FERTILITY_BUCKETS`` occurrence-weighted counts,
    bucket = min(tokens, 8) - 1) — the reference histogram
    :func:`..plans.model_lifecycle.refresh_tokenizer_if_drifted`
    monitors PSI against. Stored as rows ``rank = -2 - i`` (below the
    sentinel, so pre-profile readers ignore them)."""
    rows = [(-1, "", "", "", len(merges))]
    if fertility_profile is not None:
        if len(fertility_profile) != N_FERTILITY_BUCKETS:
            raise ValueError(
                f"fertility_profile must have {N_FERTILITY_BUCKETS} "
                f"buckets, got {len(fertility_profile)}"
            )
        rows += [
            (-2 - i, "", "", "", int(c))
            for i, c in enumerate(fertility_profile)
        ]
    rows += [
        (m["rank"], m["lhs"], m["rhs"], m["merged"], m["pair_count"])
        for m in merges
    ]
    local_df(
        spark, rows,
        "rank int, lhs string, rhs string, merged string, pair_count long",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_tokenizer_artifact(spark: SparkSession, path: str) -> dict:
    """Full artifact: ``{merges, fertility_profile}`` —
    ``fertility_profile`` is the stored tokens-per-word histogram, or
    ``None`` on a pre-profile artifact. Raises on a truncated/foreign
    artifact (missing sentinel, count mismatch, a merged symbol that is
    not lhs+rhs, or a partial profile)."""
    rows = spark.read.parquet(path).collect()
    by_rank = {r["rank"]: r for r in rows}
    if -1 not in by_rank:
        raise ValueError(
            f"tokenizer artifact at {path} is missing its sentinel row "
            "(not a save_tokenizer artifact, or a partial write)"
        )
    n = int(by_rank[-1]["pair_count"])
    merges = []
    for rank in range(1, n + 1):
        if rank not in by_rank:
            raise ValueError(
                f"tokenizer artifact at {path} records {n} merges but "
                f"rank {rank} is missing — truncated or mixed artifact"
            )
        r = by_rank[rank]
        if r["merged"] != r["lhs"] + r["rhs"]:
            raise ValueError(
                f"tokenizer artifact at {path} rank {rank}: merged "
                f"symbol {r['merged']!r} != lhs+rhs — foreign artifact"
            )
        merges.append(
            {
                "rank": rank,
                "lhs": r["lhs"],
                "rhs": r["rhs"],
                "merged": r["merged"],
                "pair_count": int(r["pair_count"]),
            }
        )
    profile = None
    if -2 in by_rank:
        missing = [
            i for i in range(N_FERTILITY_BUCKETS) if (-2 - i) not in by_rank
        ]
        if missing:
            raise ValueError(
                f"tokenizer artifact at {path} holds a partial fertility "
                f"profile (missing buckets {missing}) — truncated or "
                "mixed artifact"
            )
        profile = [
            int(by_rank[-2 - i]["pair_count"])
            for i in range(N_FERTILITY_BUCKETS)
        ]
    return {"merges": merges, "fertility_profile": profile}


def save_centroids(
    spark: SparkSession,
    path: str,
    centroids: list[list[int]],
    grid: int,
    occupancy_profile: list[int] | None = None,
) -> None:
    """Write k-means grid centroids (``similarity.kmeans_lloyd_grid``'s
    ``model_out``) as a parquet artifact — the clustering twin of
    :func:`save_classifier`: centroids are exact grid-unit bigints, so
    the round-trip is bit-exact by construction. Long-form rows
    ``(cell, j, c)``; sentinel rows ``cell = -2`` record ``(0, k)``,
    ``(1, dim)`` and ``(2, grid)`` so truncated artifacts and
    grid-mismatched scoring are rejected loudly (assigning under a
    wrong grid = silently wrong cells, the classifier's hash-family
    lesson).

    ``occupancy_profile`` (optional): the TRAINING-TIME cell-occupancy
    histogram (k bigint counts) —
    :func:`..plans.model_lifecycle.refresh_kmeans_if_drifted`'s PSI
    reference. Stored as rows ``cell = -3`` keyed by ``j``."""
    k = len(centroids)
    dim = len(centroids[0]) if k else 0
    rows = [(-2, 0, k), (-2, 1, dim), (-2, 2, int(grid))]
    if occupancy_profile is not None:
        if len(occupancy_profile) != k:
            raise ValueError(
                f"occupancy_profile must have k={k} counts, "
                f"got {len(occupancy_profile)}"
            )
        rows += [(-3, j, int(c)) for j, c in enumerate(occupancy_profile)]
    for cell, cv in enumerate(centroids):
        if len(cv) != dim:
            raise ValueError("ragged centroid list")
        rows += [(cell, j, int(v)) for j, v in enumerate(cv)]
    local_df(spark, rows, "cell long, j long, c long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def load_centroids(spark: SparkSession, path: str) -> dict:
    """Full artifact: ``{centroids, grid, occupancy_profile}``
    (``occupancy_profile`` ``None`` on a pre-profile artifact). Raises
    on truncated/foreign artifacts: missing sentinels, a cell/dim count
    that disagrees with the recorded shape, or a partial profile."""
    df = spark.read.parquet(path)
    if set(df.columns) != {"cell", "j", "c"}:
        raise ValueError(
            f"centroid artifact at {path} has columns {sorted(df.columns)}"
            " — not a save_centroids artifact (missing sentinel schema)"
        )
    rows = df.collect()
    sent = {int(r["j"]): int(r["c"]) for r in rows if r["cell"] == -2}
    if set(sent) != {0, 1, 2}:
        raise ValueError(
            f"centroid artifact at {path} is missing its sentinel rows "
            "(not a save_centroids artifact, or a partial write)"
        )
    k, dim, grid = sent[0], sent[1], sent[2]
    vals = {
        (int(r["cell"]), int(r["j"])): int(r["c"])
        for r in rows
        if r["cell"] >= 0
    }
    if len(vals) != k * dim:
        raise ValueError(
            f"centroid artifact at {path} records k={k} dim={dim} but "
            f"holds {len(vals)} centroid entries — truncated or mixed "
            "artifact"
        )
    centroids = []
    for cell in range(k):
        cv = []
        for j in range(dim):
            if (cell, j) not in vals:
                raise ValueError(
                    f"centroid artifact at {path}: missing entry "
                    f"(cell {cell}, dim {j}) — truncated or mixed artifact"
                )
            cv.append(vals[(cell, j)])
        centroids.append(cv)
    prof_rows = {int(r["j"]): int(r["c"]) for r in rows if r["cell"] == -3}
    profile = None
    if prof_rows:
        missing = [j for j in range(k) if j not in prof_rows]
        if missing:
            raise ValueError(
                f"centroid artifact at {path} holds a partial occupancy "
                f"profile (missing cells {missing}) — truncated or mixed "
                "artifact"
            )
        profile = [prof_rows[j] for j in range(k)]
    return {"centroids": centroids, "grid": grid, "occupancy_profile": profile}
