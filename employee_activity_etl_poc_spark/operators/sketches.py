"""Mergeable quantile sketches (t-digest) — the 100 TB percentile path.

Exact ``percentile`` buffers every group's values on one task; at 100 TB
that is the memory wall. The t-digest (Dunning & Ertl, *Computing
extremely accurate quantiles using t-digests*, 2019) keeps a bounded set
of (mean, weight) centroids whose sizes shrink toward the tails (the k1
scale function), giving relative-accuracy quantiles from O(δ) memory —
and digests MERGE: per-partition sketches combine associatively, so the
whole computation is one narrow pass + a tiny shuffle of ≤ δ centroids
per partition, never a sort of the data.

Spark shape (the mergeable-aggregate pattern, same as HLL/approx KLL):

- stage 1 — ``tdigest_partition_sketches``: mapInPandas builds one digest
  per PARTITION incrementally (buffer an Arrow batch, merge-compress into
  the running centroid set — memory is O(batch + δ), never the
  partition);
- stage 2 — ``merge_tdigest_sketches``: the ≤ δ×P centroid rows shuffle
  to ONE task (repartition(1)) which merges and interpolates the
  requested quantiles. At 1000 executors this is a few-MB shuffle — the
  tree-merge shape, no driver collect.

Everything is deterministic: centroids are processed in sorted
(mean, weight) order, no RNG, fixed compression δ — two runs over the
same partitioning produce identical estimates (tests pin this, plus a
rank-error bound against the exact form, the documented t-digest
contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SKETCH_SCHEMA = "mean double, weight double, vmin double, vmax double"


def _k1(q, delta: float):
    """t-digest k1 scale function: δ/2π·asin(2q−1). Its unit steps bound
    centroid size ∝ q(1−q) — fine near the tails, coarse in the middle."""
    import numpy as np

    return delta / (2.0 * np.pi) * np.arcsin(np.clip(2.0 * q - 1.0, -1.0, 1.0))


def _compress(means, weights, delta: float):
    """Merge a (mean, weight) multiset into ≤ ~δ centroids: sort by mean,
    greedily absorb neighbors while the cluster's k1-span stays ≤ 1."""
    import numpy as np

    order = np.lexsort((weights, means))
    means, weights = means[order], weights[order]
    total = float(weights.sum())
    out_m: list[float] = []
    out_w: list[float] = []
    cur_m, cur_w = float(means[0]), float(weights[0])
    q0 = 0.0  # quantile at the left edge of the current cluster
    k0 = _k1(q0, delta)
    for m, w in zip(means[1:], weights[1:]):
        q2 = (q0 * total + cur_w + w) / total
        if _k1(q2, delta) - k0 <= 1.0:
            cur_m += (m - cur_m) * (w / (cur_w + w))
            cur_w += w
        else:
            out_m.append(cur_m)
            out_w.append(cur_w)
            q0 += cur_w / total
            k0 = _k1(q0, delta)
            cur_m, cur_w = float(m), float(w)
    out_m.append(cur_m)
    out_w.append(cur_w)
    return np.asarray(out_m), np.asarray(out_w)


def _digest_quantile(means, weights, vmin: float, vmax: float, p: float) -> float:
    """Interpolated quantile from sorted centroids: each centroid's mean
    sits at the midpoint of its weight span; linear between midpoints,
    min/max anchor the tails (so p=0/1 are exact)."""
    import numpy as np

    total = float(weights.sum())
    if total <= 0:
        return float("nan")
    t = p * total
    centers = np.cumsum(weights) - weights / 2.0
    if t <= centers[0]:
        return vmin + (means[0] - vmin) * (t / centers[0]) if centers[0] > 0 else float(means[0])
    if t >= centers[-1]:
        span = total - centers[-1]
        if span <= 0:
            return float(vmax)
        return float(
            means[-1] + (vmax - means[-1]) * ((t - centers[-1]) / span)
        )
    i = int(np.searchsorted(centers, t))
    frac = (t - centers[i - 1]) / (centers[i] - centers[i - 1])
    return float(means[i - 1] + (means[i] - means[i - 1]) * frac)


def _sketch_arrays(value_iter, delta: float):
    """Incremental digest over an iterable of numpy value arrays.
    Returns (means, weights, vmin, vmax) or None when no values."""
    import numpy as np

    means = np.empty(0)
    weights = np.empty(0)
    vmin, vmax = np.inf, -np.inf
    for v in value_iter:
        v = v[~np.isnan(v)]
        if not len(v):
            continue
        vmin = min(vmin, float(v.min()))
        vmax = max(vmax, float(v.max()))
        means = np.concatenate([means, v])
        weights = np.concatenate([weights, np.ones(len(v))])
        means, weights = _compress(means, weights, delta)
    if not len(means):
        return None
    return means, weights, vmin, vmax


def tdigest_partition_sketches(
    df: DataFrame, value_col: str, delta: float = 100.0
) -> DataFrame:
    """Stage 1: one t-digest per partition — rows (mean, weight, vmin,
    vmax), ≤ ~δ centroids each. A narrow map pass: no shuffle, memory
    O(Arrow batch + δ) regardless of partition size."""
    import pandas as pd

    def sketch(batches):
        got = _sketch_arrays(
            (pdf["v"].to_numpy(dtype=float) for pdf in batches), delta
        )
        if got is None:
            return
        means, weights, vmin, vmax = got
        yield pd.DataFrame(
            {"mean": means, "weight": weights, "vmin": vmin, "vmax": vmax}
        )

    return df.select(F.col(value_col).cast("double").alias("v")).mapInPandas(
        sketch, schema=_SKETCH_SCHEMA
    )


def merge_tdigest_sketches(
    sketches: DataFrame, percentiles: list[float], delta: float = 100.0
) -> DataFrame:
    """Stage 2: merge all partition sketches (associative centroid merge)
    and interpolate the requested quantiles — (pct, value) rows. The
    merge runs on ONE task via repartition(1): the input is ≤ δ centroids
    per upstream partition, i.e. a few MB at thousand-executor scale."""
    import pandas as pd

    def merge(batches):
        import numpy as np

        all_m, all_w = [], []
        vmin, vmax = np.inf, -np.inf
        for pdf in batches:
            if not len(pdf):
                continue
            all_m.append(pdf["mean"].to_numpy(dtype=float))
            all_w.append(pdf["weight"].to_numpy(dtype=float))
            vmin = min(vmin, float(pdf["vmin"].min()))
            vmax = max(vmax, float(pdf["vmax"].max()))
        if not all_m:
            return
        means, weights = _compress(
            np.concatenate(all_m), np.concatenate(all_w), delta
        )
        yield pd.DataFrame(
            {
                "pct": percentiles,
                "value": [
                    _digest_quantile(means, weights, vmin, vmax, p)
                    for p in percentiles
                ],
            }
        )

    return sketches.repartition(1).mapInPandas(
        merge, schema="pct double, value double"
    )


def tdigest_percentiles(
    df: DataFrame,
    value_col: str,
    percentiles: list[float],
    delta: float = 100.0,
) -> DataFrame:
    """Approximate quantiles of ``value_col`` from O(δ) memory per task:
    (pct, value) rows. Rank error is bounded by the k1 scale function —
    ≲ 1/δ in the middle, tighter toward the tails (tests assert ≤ 2%
    observed rank error at δ=100 and exact p=0/1 endpoints)."""
    return merge_tdigest_sketches(
        tdigest_partition_sketches(df, value_col, delta), percentiles, delta
    )


def _mg_compress(counts: dict, k: int) -> None:
    """Weighted Misra-Gries compression in place: subtract the (k+1)-th
    largest weight from every counter and drop the non-positive ones —
    the weighted decrement step (Agarwal et al., *Mergeable Summaries*,
    PODS'12). Total undercount per item across any stream/merge order is
    ≤ n/(k+1)."""
    if len(counts) <= k:
        return
    ws = sorted(counts.values(), reverse=True)
    sub = ws[k]
    for key in list(counts):
        counts[key] -= sub
        if counts[key] <= 0:
            del counts[key]


def frequent_item_candidates(
    df: DataFrame, item_col: str, k: int
) -> DataFrame:
    """Misra-Gries candidate set: ≤ ``k`` (item) rows guaranteed to
    contain EVERY item with true count > n/(k+1). Two mergeable stages,
    the same shape as the t-digest: per-partition MG summaries (memory
    O(Arrow batch distinct + k), one narrow pass), then the ≤ k-rows-per-
    partition summaries merge on one task. The candidates are a SUPERSET
    with undercounted weights — pair with an exact verification pass
    (:func:`heavy_hitters`) for exact final answers."""
    import pandas as pd

    item_type = df.schema[item_col].dataType.simpleString()

    def partial(batches):
        counts: dict = {}
        for pdf in batches:
            for item, c in pdf["item"].value_counts().items():
                counts[item] = counts.get(item, 0) + int(c)
            _mg_compress(counts, k)
        if counts:
            yield pd.DataFrame(
                {"item": list(counts), "weight": list(counts.values())}
            )

    def merge(batches):
        counts: dict = {}
        for pdf in batches:
            for item, w in zip(pdf["item"], pdf["weight"]):
                counts[item] = counts.get(item, 0) + int(w)
            _mg_compress(counts, k)
        if counts:
            yield pd.DataFrame({"item": list(counts)})

    partials = (
        df.select(F.col(item_col).alias("item"))
        .where(F.col("item").isNotNull())
        .mapInPandas(partial, schema=f"item {item_type}, weight long")
    )
    return partials.repartition(1).mapInPandas(
        merge, schema=f"item {item_type}"
    )


def heavy_hitters(
    df: DataFrame, item_col: str, den: int, k: int | None = None
) -> DataFrame:
    """EXACT heavy hitters — (item, n) for every item with count·den >
    total — via the two-pass sketch: Misra-Gries candidates (bounded
    memory, mergeable) then an exact count of candidates only. Because
    the MG guarantee makes the candidate set a superset of every item
    above total/(k+1) and ``k`` defaults to 2·den, the final output is
    EXACTLY the true heavy-hitter set — the sketch bounds memory, not
    accuracy, so the result hash-matches a plain GROUP BY/HAVING oracle.

    At 100 TB: pass 1 is a narrow map + a ≤ k-row merge; pass 2 is a
    broadcast semi-join (the candidate set is ≤ k rows) + one aggregation
    over the candidates' rows — never a full-cardinality groupBy state.
    The threshold is integer arithmetic (count·den > n), engine-exact."""
    if k is None:
        k = 2 * den
    vals = df.select(F.col(item_col).alias("item")).where(
        F.col("item").isNotNull()
    )
    cands = frequent_item_candidates(df, item_col, k)
    total = vals.agg(F.count("*").alias("_n"))
    return (
        vals.join(F.broadcast(cands), "item", "left_semi")
        .groupBy("item")
        .agg(F.count("*").alias("n"))
        .crossJoin(F.broadcast(total))
        .where(F.col("n") * den > F.col("_n"))
        .select(F.col("item").alias(item_col), "n")
    )


def _cms_bucket(item: F.Column, row: int, width: int, salt: str) -> F.Column:
    """Row ``row``'s CMS bucket for a string item: first 8 hex chars of
    md5('<salt><row>|'||item) mod width — engine-portable (the DuckDB
    oracle replays it bit-for-bit) and collision-independent across rows
    (distinct salts ≈ pairwise-independent hash family in practice)."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{salt}{row}|"), item)), 1, 8), 16, 10
    ).cast("long")
    return h % width


def cms_sketch(
    df: DataFrame,
    item_col: str,
    width: int = 256,
    depth: int = 4,
    salt: str = "cms",
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) of an item stream
    as a DataFrame of (d, bucket, c) — ``depth`` rows × ``width``
    counters.

    Mergeable by construction: counters ADD, so per-partition partials
    combine map-side (the groupBy's partial_count) and sketches from
    different days/streams union+re-aggregate — the property that lets a
    100 TB corpus keep ONE fixed d×w-counter summary per day and answer
    frequency queries over any date range by summing sketches. The
    shuffle after map-side combine carries ≤ d·w rows per task
    regardless of input size or item cardinality (vs one state entry per
    distinct item for a plain groupBy — the same wall Misra-Gries
    addresses, but CMS answers POINT queries for any item, not just the
    heavy ones). Guarantee: est ≥ true always; est ≤ true + (e/w)·n with
    probability 1 − e^-depth per item."""
    items = df.select(F.col(item_col).cast("string").alias("item")).where(
        F.col("item").isNotNull()
    )
    exploded = items.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        _cms_bucket(F.col("item"), d, width, salt).alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("db")
    ).select("db.d", "db.bucket")
    return exploded.groupBy("d", "bucket").agg(F.count("*").alias("c"))


def cms_sketch_grouped(
    df: DataFrame,
    item_col: str,
    seg_col,
    width: int = 256,
    depth: int = 4,
    salt: str = "cms",
) -> DataFrame:
    """One CMS per segment (day, source, tenant …) as (seg, d, bucket,
    c) rows — the persistable form behind "keep a sketch per day, answer
    any date range": counters over disjoint row sets ADD, so summing the
    daily counters for a range IS the range's sketch, exactly (same hash
    family, no approximation in the merge). Build cost is one pass +
    map-side combine; each segment's sketch is ≤ d·w rows forever."""
    items = df.select(
        seg_col.alias("seg"), F.col(item_col).cast("string").alias("item")
    ).where(F.col("item").isNotNull())
    exploded = items.select(
        "seg",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        _cms_bucket(F.col("item"), d, width, salt).alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("db"),
    ).select("seg", "db.d", "db.bucket")
    return exploded.groupBy("seg", "d", "bucket").agg(F.count("*").alias("c"))


def cms_range_sketch(grouped: DataFrame, seg_pred) -> DataFrame:
    """Sum the per-segment counters matching ``seg_pred`` into one
    sketch usable by :func:`cms_estimate` — the range-query merge, exact
    by counter additivity."""
    return (
        grouped.where(seg_pred)
        .groupBy("d", "bucket")
        .agg(F.sum("c").alias("c"))
    )


def cms_estimate(
    sketch: DataFrame,
    queries: DataFrame,
    item_col: str,
    width: int = 256,
    depth: int = 4,
    salt: str = "cms",
) -> DataFrame:
    """Point-frequency estimates from a CMS: (item_col, est) — min over
    the ``depth`` counters each query item hashes to. The sketch is ≤
    d·w rows by construction, so it BROADCASTS: estimating any number of
    items is a broadcast left join + a min-groupBy, never a shuffle of
    the sketch. Missing buckets count 0 (item never seen)."""
    q = queries.select(F.col(item_col)).distinct()
    qh = q.select(
        item_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        _cms_bucket(
                            F.col(item_col).cast("string"), d, width, salt
                        ).alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("db"),
    ).select(item_col, "db.d", "db.bucket")
    return (
        qh.join(F.broadcast(sketch), ["d", "bucket"], "left")
        .select(item_col, F.coalesce(F.col("c"), F.lit(0)).alias("c"))
        .groupBy(item_col)
        .agg(F.min("c").alias("est"))
    )


_KMV_SPACE = float(2**48)


def _kmv_hash(item: Column, salt: str) -> Column:
    """Uniform 48-bit hash in [0, 2^48) from the first 12 md5 hex chars —
    engine-portable (the DuckDB oracle replays KMV sketches bit-for-bit,
    like the CMS). 48 bits keeps birthday collisions negligible to
    ~10^12 distinct items (vs ~10^8 for a 32-bit space, where collisions
    would bias the estimator low at large-segment scale) while still
    fitting a signed 64-bit long in both engines."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{salt}|"), item)), 1, 12), 16, 10
    ).cast("long")


def kmv_sketch(
    df: DataFrame, item_col: str, k: int = 64, salt: str = "kmv"
) -> DataFrame:
    """KMV (k-minimum-values / bottom-k theta) distinct-count sketch: the
    ``k`` smallest distinct md5 hash values of the items, as rows (h).

    The mergeable form of distinct counting that also supports SET
    ALGEBRA — where HLL only unions, bottom-k sketches intersect and
    difference (Beyer et al., SIGMOD'07): the union of two sketches is
    the k smallest of their union; intersection estimates come from the
    Jaccard of the shared bottom-k (θ = the k-th smallest normalized
    hash; |A∩B| ≈ Jaccard · |A∪B|). Distributed shape: distinct hashes,
    then ``orderBy().limit(k)`` — which compiles to
    TakeOrderedAndProject: per-partition k-row heaps merged as k rows on
    the driver, never a global sort or full shuffle of the hash set.
    Estimator: (k−1) / θ̂ where θ̂ = h_(k) / 2^48 (48-bit hash space,
    ``_KMV_SPACE`` — see :func:`kmv_estimate_distinct`)."""
    hashes = (
        df.select(F.col(item_col).cast("string").alias("item"))
        .where(F.col("item").isNotNull())
        .select(_kmv_hash(F.col("item"), salt).alias("h"))
        .distinct()
    )
    # orderBy().limit() compiles to TakeOrderedAndProject: per-partition
    # k-row heaps + a k-row driver merge — never a global sort.
    return hashes.orderBy("h").limit(k)


def kmv_estimate_distinct(sketch: DataFrame, k: int = 64) -> DataFrame:
    """(n_est) from a KMV sketch: (k−1)/θ with θ = h_(k)/2^48, or the
    EXACT row count when the sketch holds fewer than k hashes (a sketch
    smaller than k IS the full distinct hash set)."""
    agg = sketch.agg(
        F.count("*").alias("_n"), F.max("h").alias("_hk")
    )
    return agg.select(
        F.when(F.col("_n") < k, F.col("_n").cast("double"))
        .otherwise((k - 1) * F.lit(_KMV_SPACE) / F.col("_hk"))
        .alias("n_est")
    )


def kmv_union(a: DataFrame, b: DataFrame, k: int = 64) -> DataFrame:
    """Union of two KMV sketches = bottom-k of the merged hash sets —
    associative/commutative, so per-segment (or per-day) sketches roll
    up into any combination without touching raw data."""
    return a.unionByName(b).distinct().orderBy("h").limit(k)


# ---------------------------------------------------------------------------
# KLL-style rank-error quantile sketch (Karnin-Lang-Liberty 2016 shape)
# ---------------------------------------------------------------------------


def _kll_offset(salt: str, level: int, count: int) -> int:
    """Deterministic 0/1 compaction offset from md5 — stands in for the
    KLL coin flip so re-run partitions (task retries) and both engines
    of a replay produce identical sketches. The price: the error
    guarantee becomes empirical rather than the paper's randomized
    bound; the tests pin the observed error."""
    import hashlib

    h = hashlib.md5(f"{salt}|{level}|{count}".encode()).digest()
    return h[0] & 1


def _kll_capacity(k: int, depth_from_top: int) -> int:
    """Per-level capacity k·(2/3)^depth, floored at 2 — top levels hold
    more items (their items carry less weight each), the KLL trick that
    beats fixed-capacity MRL at equal memory."""
    return max(2, int(k * (2.0 / 3.0) ** depth_from_top) + 1)


def _kll_compact(levels: list[list[float]], k: int, salt: str, counts: dict) -> None:
    """In-place: while any level overflows its capacity, sort it and
    promote alternating elements (offset = deterministic coin) to the
    next level, doubling their weight."""
    h = 0
    while h < len(levels):
        top = len(levels) - 1
        cap = _kll_capacity(k, top - h)
        if len(levels[h]) <= cap:
            h += 1
            continue
        buf = sorted(levels[h])
        counts[h] = counts.get(h, 0) + 1
        off = _kll_offset(salt, h, counts[h])
        promoted = buf[off::2]
        levels[h] = []
        if h + 1 >= len(levels):
            levels.append([])
        levels[h + 1].extend(promoted)
        # a promotion can overflow h+1; loop re-checks from h
    return None


def kll_partition_sketches(
    df: DataFrame, value_col: str, k: int = 200, salt: str = "kll"
) -> DataFrame:
    """Stage 1: one KLL sketch per partition as (level, item) rows —
    item weight is 2^level. A narrow map pass, memory O(k) per task
    regardless of partition size; deterministic (md5 compaction coins),
    so task retries reproduce identical partials."""
    import numpy as np
    import pandas as pd

    def sketch(batches):
        levels: list[list[float]] = [[]]
        counts: dict = {}
        for pdf in batches:
            v = pdf["v"].to_numpy(dtype=float)
            v = v[~np.isnan(v)]
            for x in v:
                levels[0].append(float(x))
                _kll_compact(levels, k, salt, counts)
        rows = [
            {"level": h, "item": x}
            for h, buf in enumerate(levels)
            for x in buf
        ]
        if rows:
            yield pd.DataFrame(rows)

    return df.select(F.col(value_col).cast("double").alias("v")).mapInPandas(
        sketch, schema="level int, item double"
    )


def kll_quantiles(
    df: DataFrame,
    value_col: str,
    percentiles: list[float],
    k: int = 200,
) -> DataFrame:
    """Approximate quantiles with UNIFORM rank error (the KLL/MRL
    contract — t-digest is instead relative-accurate, tight at the tails
    and looser mid-distribution; pick by which error shape the consumer
    needs): (pct, value) rows. Stage 2 merges the ≤ O(k·log n) (level,
    item) rows from every partition on one task (same tree-merge shape
    as the t-digest) and reads quantiles off the weighted sorted items."""
    import pandas as pd

    sketches = kll_partition_sketches(df, value_col, k)

    def merge(batches):
        levels: list[list[float]] = [[]]
        counts: dict = {}
        for pdf in batches:
            for lv, item in zip(pdf["level"], pdf["item"]):
                lv = int(lv)
                while len(levels) <= lv:
                    levels.append([])
                levels[lv].append(float(item))
        _kll_compact(levels, k, "kll", counts)
        pairs = sorted(
            (x, 2**h) for h, buf in enumerate(levels) for x in buf
        )
        if not pairs:
            return
        total = float(sum(w for _x, w in pairs))
        out = []
        for p in percentiles:
            t = p * total
            run = 0.0
            val = pairs[-1][0]
            for x, w in pairs:
                run += w
                if run >= t:
                    val = x
                    break
            out.append({"pct": p, "value": val})
        yield pd.DataFrame(out)

    return sketches.repartition(1).mapInPandas(
        merge, schema="pct double, value double"
    )
