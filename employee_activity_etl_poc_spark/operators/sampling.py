"""Deterministic sampling & dataset splitting (training-data pipelines).

``df.sample``/``sampleBy`` are partition-order-dependent (Bernoulli over a
per-partition RNG stream): results change under repartitioning and can't be
replayed by another engine. These operators hash a KEY instead — a row is
in the sample iff ``u(salt, key) < fraction`` — giving samples that are:

- partition-invariant and repartition-stable,
- reproducible anywhere md5 exists (the DuckDB oracle replays them),
- consistent across tables (same key+salt → same bucket everywhere, so a
  document and all its chunks land on the same side of a split — the
  leakage-safety property naive random splits lose).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..localrel import local_df
from ..sources.generator import uniform


def stratified_keyed_sample(
    df: DataFrame, key_col: str, strata_col: str, fractions: dict[str, float],
    salt: str = "strat",
) -> DataFrame:
    """Per-stratum deterministic fractions (``sampleBy`` without the RNG):
    strata absent from ``fractions`` are dropped."""
    u = uniform(salt, F.col(key_col))
    cond = F.lit(False)
    for stratum, frac in fractions.items():
        cond = cond | ((F.col(strata_col) == stratum) & (u < frac))
    return df.where(cond)


def train_val_test_split(
    df: DataFrame,
    key_col: str,
    val_fraction: float = 0.1,
    test_fraction: float = 0.1,
    salt: str = "split",
) -> DataFrame:
    """Adds a ``split`` column ('train'/'val'/'test') from the key hash:
    u < val → val, u < val+test → test, else train. Disjoint, exhaustive,
    stable under any repartitioning, and identical for every row sharing
    the key."""
    u = uniform(salt, F.col(key_col))
    return df.withColumn(
        "split",
        F.when(u < val_fraction, "val")
        .when(u < val_fraction + test_fraction, "test")
        .otherwise("train"),
    )


# Poisson(1) inverse-CDF thresholds (cumulative e⁻¹/k!, 9dp literals —
# identical doubles in any engine); weight = #thresholds below u
POISSON1_CDF = (
    0.367879441,
    0.735758882,
    0.919698603,
    0.981011843,
    0.996340153,
    0.999405815,
    0.999916759,
)


def poisson_bootstrap_weight(salt: str, id_col: Column, rep: Column) -> Column:
    """Deterministic Poisson(1) bootstrap weight for ``id`` in resample
    ``rep``: the keyed-md5 uniform mapped through the inverse CDF. The
    Poisson bootstrap (Chamandy et al. 2012, 'Estimating Uncertainty
    for Massive Data Streams' — the standard at-scale bootstrap) needs
    no global row count and no coordinated multinomial draw: each row
    decides its own weight per resample locally, so the whole resample
    ensemble is one map-side-combinable aggregate."""
    u = uniform(salt, F.concat(rep.cast("string"), F.lit("|"), id_col.cast("string")))
    w = F.lit(0)
    for t in POISSON1_CDF:
        w = w + (u >= F.lit(t)).cast("int")
    return w


def poisson_bootstrap_ci_sql_weight(salt: str, id_expr: str, rep_expr: str) -> str:
    """DuckDB expression replaying :func:`poisson_bootstrap_weight`."""
    u = (
        f"(CAST('0x' || substr(md5('{salt}|' || {rep_expr}::VARCHAR || '|' "
        f"|| {id_expr}::VARCHAR), 1, 8) AS BIGINT) / 4294967296.0)"
    )
    terms = " + ".join(
        f"CASE WHEN {u} >= {t} THEN 1 ELSE 0 END" for t in POISSON1_CDF
    )
    return f"({terms})"


def leakage_safe_split(
    df: DataFrame,
    id_col: str,
    components: DataFrame,
    val_fraction: float = 0.1,
    test_fraction: float = 0.1,
    salt: str = "leak",
) -> DataFrame:
    """Near-dup-cluster-granular train/val/test split: every document
    inherits the split of its connected component (``components`` =
    ``(node, component)`` from ``dedup.connected_components`` over the
    near-duplicate pairs; documents in no pair are their own singleton
    component), so two near-duplicates can NEVER straddle the train/eval
    boundary — the eval-set contamination a row-level random split
    silently buys you whenever the corpus has duplication (Lee et al.
    2022 measure the inflation this causes in reported perplexity).

    Adds ``component`` and ``split`` columns; the split hash is keyed on
    the component, making it stable under repartitioning and identical
    for every cluster member by construction. One left join on the id —
    the components frame is dedup output, typically a small fraction of
    the corpus, so AQE broadcasts it when it fits."""
    comp = components.withColumnRenamed("node", id_col)
    joined = df.join(comp, id_col, "left").withColumn(
        "component", F.coalesce(F.col("component"), F.col(id_col))
    )
    return train_val_test_split(joined, "component", val_fraction, test_fraction, salt)


def token_budget_mixture(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    tokens_col: str,
    budget: float,
    weights: dict[str, float],
    salt: str = "mix",
) -> DataFrame:
    """Deterministic data-mixing sampler: per-stratum fractions sized so the
    SAMPLE's token mass approximates ``budget * weights[stratum]`` — the
    "mixture weights" step of a training-data pipeline (e.g. 40% web, 20%
    code by tokens), computed and applied in two distributed passes:

    1. one groupBy for per-stratum token totals (map-side combine; the
       result is |strata| rows),
    2. fraction = min(1, budget*weight / total) joined back broadcast, and
       rows kept by key-hash (the module's keyed semantics — partition-
       invariant, replayable, leak-safe across tables sharing the key).

    Strata not in ``weights`` are dropped. Oversubscribed strata (target
    exceeds supply) cap at fraction 1.0 — upsampling/epoch-repeat is a
    training-loader concern, not a corpus-sampling one. Adds a
    ``sample_fraction`` column for auditability."""
    spark = df.sparkSession
    wdf = local_df(
        spark, sorted(weights.items()), f"{strata_col} string, weight double"
    )
    totals = df.groupBy(strata_col).agg(
        F.sum(F.col(tokens_col)).cast("double").alias("_tot")
    )
    fracs = totals.join(wdf, strata_col).select(
        strata_col,
        F.least(
            F.lit(1.0), F.lit(float(budget)) * F.col("weight") / F.col("_tot")
        ).alias("sample_fraction"),
    )
    return df.join(F.broadcast(fracs), strata_col).where(
        uniform(salt, F.col(key_col)) < F.col("sample_fraction")
    )


def token_budget_mixture_unimax(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    tokens_col: str,
    budget: int,
    epoch_cap: float = 1.0,
    temperature: float | None = None,
    salt: str = "mix",
) -> DataFrame:
    """UniMax mixture sampling (Chung et al. 2023, arXiv:2304.09151):
    allocate a total token ``budget`` across strata (languages) as
    UNIFORMLY as possible subject to a per-stratum epoch cap — the
    multilingual-pretraining policy :func:`token_budget_mixture`'s
    hand-set per-stratum weights don't express. Low-resource languages
    contribute up to ``epoch_cap`` epochs of their full supply; the
    budget they can't absorb redistributes uniformly over the rest
    (exact water-filling, not a renormalization heuristic).

    The allocation is the classic water-fill with a CLOSED FORM over the
    |strata|-row totals frame: sort strata by capacity ascending — the
    capped set is then a PREFIX — and stratum ``i`` caps iff
    ``cap_i * n_remaining_i + prefix_cap_{i-1} <= budget`` (i.e. the
    uniform level computed with ``i`` still uncapped would already
    exceed its capacity). One window over |strata| rows (languages — a
    handful; the single-partition window is deliberate), then the
    per-stratum fraction joins back broadcast and rows are kept by key
    hash (the module's keyed semantics: partition-invariant,
    replayable, leak-safe).

    Engine-exact by construction (the hash-gate requirement): token
    totals, capacities (``floor(epoch_cap*1e6+0.5)`` grid units × total)
    and the prefix sums stay in EXACT bigints; the only doubles are the
    final level division and ``alloc/total``, each a single division of
    identical exact integers in both engines, and the resulting fraction
    is pinned to the 1e-6 grid before the hash comparison.

    ``temperature`` (optional) generalizes the uniform target to
    temperature sampling: the uncapped share of the remaining budget is
    proportional to ``total^(1/temperature)`` instead of equal
    (UniMax is the temperature→∞ limit). The weighted path runs the
    same prefix closed-form sorted by ``capacity/weight`` but carries
    double weights (``pow`` is not bit-pinned across engines — use the
    default uniform policy where an external replay must hash-match).

    Adds ``sample_fraction`` for auditability. Strata with zero token
    supply get fraction 0.0 (nothing to sample)."""
    from pyspark.sql import Window

    grid = F.lit(1_000_000)
    cap6u = int(float(epoch_cap) * 1e6 + 0.5)  # epoch cap in 1e-6 grid units
    totals = df.groupBy(strata_col).agg(
        F.sum(F.col(tokens_col)).cast("long").alias("_tot")
    )
    if temperature is None:
        base = totals.select(
            strata_col,
            "_tot",
            (F.lit(cap6u) * F.col("_tot")).alias("_cap6"),  # exact bigint
            F.lit(1.0).alias("_w"),
            # sort key = capacity/weight; weight is 1 → the exact bigint
            (F.lit(cap6u) * F.col("_tot")).alias("_key"),
        )
    else:
        # temperature path: weight ∝ total^(1/τ); doubles from here on
        w = F.pow(F.col("_tot").cast("double"), 1.0 / float(temperature))
        base = totals.select(
            strata_col,
            "_tot",
            (F.lit(cap6u) * F.col("_tot")).alias("_cap6"),
            w.alias("_w"),
            (F.lit(cap6u) * F.col("_tot") / w).alias("_key"),
        )
    order = [F.col("_key").asc(), F.col(strata_col).asc()]
    w_pre = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, -1)
    w_suf = Window.orderBy(*order).rowsBetween(0, Window.unboundedFollowing)
    w_run = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    # budget in grid-token units, bigint (explicit long: int32 literals
    # would overflow at real budgets). int64/1e6 bounds the exact path at
    # ~9.2e12 tokens per stratum (~35 TB of text per language at 4 B/tok);
    # a corpus past that should carry the cap on a coarser grid.
    b6 = F.lit(int(budget)).cast("long") * grid.cast("long")
    lev = (
        base.withColumn(
            "_p6_prev",
            F.coalesce(F.sum("_cap6").over(w_pre), F.lit(0).cast("long")),
        )
        .withColumn("_w_suff", F.sum("_w").over(w_suf))
        .withColumn(
            "_cond",
            # uniform-policy _w is exactly 1.0, so _cap6/_w * _w_suff is
            # cap6 * n_remaining — an exact integer-valued double
            (
                F.col("_cap6") / F.col("_w") * F.col("_w_suff")
                + F.col("_p6_prev")
                <= b6.cast("double")
            ).cast("int"),
        )
        # water-fill capping is monotone along the sort order; the
        # running min makes that a structural guarantee against float
        # edge cases on the temperature path
        .withColumn("_capped", F.min("_cond").over(w_run))
    )
    scalars = lev.agg(
        F.sum(
            F.when(F.col("_capped") == 1, F.col("_cap6")).otherwise(F.lit(0))
        ).cast("long").alias("_p6_k"),
        F.sum(
            F.when(F.col("_capped") == 0, F.col("_w")).otherwise(F.lit(0.0))
        ).alias("_w_un"),
    )
    level = F.when(
        F.col("_w_un") > 0,
        (b6.cast("double") - F.col("_p6_k")) / F.col("_w_un"),
    ).otherwise(F.lit(0.0))
    alloc6 = F.when(F.col("_capped") == 1, F.col("_cap6").cast("double")) \
        .otherwise(level * F.col("_w"))
    frac_raw = F.when(
        F.col("_tot") > 0,
        F.least(F.lit(1.0), alloc6 / (F.col("_tot") * grid).cast("double")),
    ).otherwise(F.lit(0.0))
    fracs = lev.crossJoin(F.broadcast(scalars)).select(
        strata_col,
        (F.floor(frac_raw * grid + F.lit(0.5)) / grid).alias(
            "sample_fraction"
        ),
    )
    return df.join(F.broadcast(fracs), strata_col).where(
        uniform(salt, F.col(key_col)) < F.col("sample_fraction")
    )


def weighted_sample_per_stratum(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    weight_col: str,
    k: int,
    salt: str = "wrs",
) -> DataFrame:
    """Weighted random sampling WITHOUT replacement, k per stratum —
    Efraimidis-Spirakis A-ES: each row scores ``u(salt,key)^(1/w)`` and the
    top-k scores per stratum are the sample, giving inclusion probability
    proportional to weight with NO sequential pass (one window per
    stratum, fully distributed — the trick that makes weighted reservoir
    sampling embarrassingly parallel). Deterministic via the key hash:
    repartition-stable and replayable by the SQL oracle (pow of identical
    doubles). Ties (identical score) break by key for stability."""
    from pyspark.sql import Window

    u = uniform(salt, F.col(key_col))
    score = F.pow(u, 1.0 / F.col(weight_col).cast("double"))
    w = Window.partitionBy(strata_col).orderBy(
        F.col("_score").desc(), F.col(key_col)
    )
    return (
        df.withColumn("_score", score)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_score", "_rn")
    )


def cap_per_group(
    df: DataFrame, key_col: str, group_col: str, cap: int, salt: str = "cap"
) -> DataFrame:
    """Keep at most ``cap`` rows per group, chosen uniformly-at-random but
    DETERMINISTICALLY (md5 hash rank over the key) — the standard
    per-domain cap of web-crawl pipelines: no single boilerplate-heavy
    domain may dominate the training mixture, and re-running the pipeline
    keeps the SAME survivors (hash rank, not RNG), so incremental
    re-exports don't churn history.

    Scale shape: the naive form is one window over every row — but a
    window sort of a 100 TB table is dominated by the mega-domains that
    motivated the cap in the first place (per-group sort cost is
    O(n_g log n_g) on exactly the skewed groups). This implementation
    splits the work:

    1. one ``groupBy(group).count()`` (map-side combined, |groups| rows),
    2. groups at-or-under the cap pass through UNSORTED via a broadcast
       anti-join (in web corpora that is the long tail — the vast
       majority of rows when the cap is generous),
    3. only over-cap groups pay the rank window, and the over-cap group
       list rides as a broadcast semi-join (the list is small by
       construction — it's the head of the distribution).

    Output is identical to the plain rank-everything form (under-cap
    groups trivially satisfy rank ≤ cap), which is what the SQL oracle
    replays — INCLUDING a NULL group: window partitioning groups NULLs
    together, so the over-cap joins use null-safe equality (a plain
    equi-join would silently pass every NULL-group row through uncapped).
    Survivor choice orders by (md5(salt|key), key): engine-portable,
    repartition-stable, and independent of input order. PRECONDITION:
    ``key_col`` must be unique per row within a group — duplicate keys
    tie in the ordering and row_number breaks the tie arbitrarily, so
    WHICH physical duplicate survives could churn across runs (the
    surviving key VALUES are still deterministic either way)."""
    from pyspark.sql import Window

    h = F.md5(F.concat(F.lit(salt), F.lit("|"), F.col(key_col).cast("string")))
    over = (
        df.groupBy(group_col)
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") > cap)
        .select(F.col(group_col).alias("_over_g"))
    )
    match = F.col(group_col).eqNullSafe(F.col("_over_g"))
    under_df = df.join(F.broadcast(over), match, "left_anti")
    w = Window.partitionBy(group_col).orderBy(h, F.col(key_col))
    capped = (
        df.join(F.broadcast(over), match, "left_semi")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= cap)
        .drop("_rn")
    )
    return under_df.unionByName(capped)


def cap_oracle_order_sql(key_expr: str, salt: str = "cap") -> str:
    """DuckDB ORDER BY expression replaying :func:`cap_per_group`'s
    survivor choice (md5 hash rank; hex strings compare identically in
    both engines)."""
    return f"md5('{salt}|' || {key_expr}::VARCHAR), {key_expr}"


def assign_shards(
    df: DataFrame, key_col: str, n_shards: int, salt: str = "shard"
) -> DataFrame:
    """Deterministic shard assignment for training-data export: adds a
    ``shard`` column = md5-keyed hash mod ``n_shards``. Key-hash based for
    the same reasons as the samplers above — partition-invariant, stable
    under reprocessing (a re-run assigns every doc the same shard, so
    incremental re-exports don't reshuffle history), and replayable by any
    engine with md5. Rows sharing the key land in the same shard (all of a
    doc's chunks travel together)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.lit("|"), F.col(key_col).cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return df.withColumn("shard", (h % n_shards).cast("int"))


def pack_sequences(
    df: DataFrame,
    key_col: str,
    tokens_col: str,
    shard_col: str,
    seq_len: int,
    salt: str = "pack",
) -> DataFrame:
    """Concat-and-chunk sequence packing (the GPT-style pretraining
    export): within each shard, documents concatenate in a DETERMINISTIC
    md5-keyed order and the token stream chunks into fixed ``seq_len``
    sequences. Adds per-doc placement columns:

    - ``tok_start``: the doc's offset in its shard's token stream,
    - ``seq_start`` / ``seq_end``: first/last sequence index the doc
      touches (``seq_end > seq_start`` ⇔ the doc straddles a chunk
      boundary — the split the no-split packing variants avoid at the
      cost of padding),
    - ``n_seqs``: sequences this shard yields in total (ceil of its
      token mass / seq_len — the number the training loader sees).

    One window per shard (cumulative sum over the hash order) — the same
    single-shuffle shape as tail-k; shards bound window-partition size by
    construction, so no unpartitioned sort exists at any scale. Hash
    order makes packing reproducible AND acts as the shuffle step
    pretraining wants anyway (documents from one source scatter across
    sequences instead of clumping)."""
    from pyspark.sql import Window

    h = F.md5(F.concat(F.lit(salt), F.lit("|"), F.col(key_col).cast("string")))
    w = Window.partitionBy(shard_col).orderBy(h, F.col(key_col))
    # NULL token counts read as 0-width docs: coercing BEFORE the running
    # sum keeps every later doc's prefix sum gapless (a NULL inside the
    # window would otherwise poison the cumulative sum and silently place
    # the doc at offset 0 on top of the shard's real first doc)
    tok = F.coalesce(F.col(tokens_col).cast("long"), F.lit(0))
    start = F.sum(tok).over(w) - tok
    total = F.sum(tok).over(Window.partitionBy(shard_col))
    return (
        df.withColumn("tok_start", start)
        .withColumn("seq_start", F.floor(F.col("tok_start") / seq_len))
        .withColumn(
            "seq_end",
            F.floor((F.col("tok_start") + F.greatest(tok, F.lit(1)) - 1) / seq_len),
        )
        .withColumn("n_seqs", F.ceil(total / F.lit(float(seq_len))))
    )


def split_oracle_case_sql(
    key_expr: str, val_fraction: float = 0.1, test_fraction: float = 0.1,
    salt: str = "split",
) -> str:
    """DuckDB expression replaying :func:`train_val_test_split`."""
    u = (
        f"(CAST('0x' || substr(md5('{salt}|' || {key_expr}::VARCHAR), 1, 8) AS BIGINT)"
        f" / 4294967296.0)"
    )
    return (
        f"CASE WHEN {u} < {val_fraction} THEN 'val' "
        f"WHEN {u} < {val_fraction + test_fraction} THEN 'test' "
        f"ELSE 'train' END"
    )
