"""t-digest percentile sketch: rank-error bound vs the exact form,
merge-invariance across partitionings, grouped two-stage form, endpoint
exactness, determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from employee_activity_etl_poc_spark.operators import sketches as SK
from employee_activity_etl_poc_spark.sources.readers import load_table

PCTS = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]


@pytest.fixture(scope="module")
def values(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "events")
        .select(F.col("value").cast("double").alias("v"))
        .where(F.col("v").isNotNull())
    )


def _rank_error(values_df, est_rows):
    """max over percentiles of |CDF(estimate) - p|."""
    rows = values_df.collect()
    vals = sorted(r["v"] for r in rows)
    n = len(vals)
    import bisect

    worst = 0.0
    for r in est_rows:
        cdf = bisect.bisect_right(vals, r["value"]) / n
        worst = max(worst, abs(cdf - r["pct"]))
    return worst


def test_tdigest_rank_error_bound(spark, values):
    est = SK.tdigest_percentiles(values, "v", PCTS, delta=100.0).collect()
    assert len(est) == len(PCTS)
    assert _rank_error(values, est) <= 0.02


def test_tdigest_endpoints_exact(spark, values):
    bounds = values.agg(F.min("v").alias("mn"), F.max("v").alias("mx")).collect()[0]
    est = {
        r["pct"]: r["value"]
        for r in SK.tdigest_percentiles(values, "v", [0.0, 1.0]).collect()
    }
    assert est[0.0] == bounds["mn"] and est[1.0] == bounds["mx"]


def test_tdigest_merge_invariance_across_partitioning(spark, values):
    """The digest is mergeable: sketching 2 vs 16 partitions of the same
    data lands within the same rank-error envelope (estimates need not be
    bitwise equal — centroid boundaries shift — but both must hold the
    documented bound)."""
    for parts in (2, 16):
        est = SK.tdigest_percentiles(
            values.repartition(parts), "v", PCTS, delta=100.0
        ).collect()
        assert _rank_error(values, est) <= 0.02


def test_tdigest_deterministic(spark, values):
    a = sorted(
        (r["pct"], r["value"])
        for r in SK.tdigest_percentiles(values, "v", PCTS).collect()
    )
    b = sorted(
        (r["pct"], r["value"])
        for r in SK.tdigest_percentiles(values, "v", PCTS).collect()
    )
    assert a == b


def test_tdigest_compression_bounds_centroids(spark, values):
    cent = SK.tdigest_partition_sketches(values.repartition(4), "v", delta=50.0)
    counts = [
        r["n"]
        for r in cent.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    # k1 with unit steps yields ~δ/2..δ centroids; allow slack but prove
    # the partition sketch is BOUNDED, not the raw data
    assert all(c <= 2 * 50 for c in counts)
    # and the sketch total weight equals the row count (nothing dropped)
    total_w = cent.agg(F.sum("weight")).collect()[0][0]
    assert total_w == values.count()


def test_tdigest_empty_input(spark):
    empty = spark.createDataFrame([], "v double")
    assert SK.tdigest_percentiles(empty, "v", [0.5]).collect() == []


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def skewed(spark):
    """Zipf-ish synthetic skew: item i contributes ~N/(i+1) rows, 2000
    distinct items — far more than the sketch's counter budget, so the
    MG decrement path is actually exercised (the real tables' user
    cardinality is below k and would never compress)."""
    rows = []
    for i in range(2000):
        rows.extend([(i,)] * max(1, 4000 // (i + 1)))
    return spark.createDataFrame(rows, "item long").repartition(8)


def test_mg_candidates_contain_all_true_heavy_hitters(spark, skewed):
    n = skewed.count()
    k = 50
    cands = {r["item"] for r in SK.frequent_item_candidates(skewed, "item", k).collect()}
    assert len(cands) <= k
    true_counts = {
        r["item"]: r["c"]
        for r in skewed.groupBy("item").agg(F.count("*").alias("c")).collect()
    }
    must_have = {i for i, c in true_counts.items() if c * (k + 1) > n}
    assert must_have, "fixture produced no heavy hitters"
    assert must_have <= cands, f"MG lost {must_have - cands}"


def test_heavy_hitters_exact_vs_groupby(spark, skewed):
    """The two-pass form is EXACT: identical (item, n) set to the plain
    GROUP BY/HAVING — the sketch bounds memory, not accuracy."""
    den = 40
    got = {
        (r["item"], r["n"])
        for r in SK.heavy_hitters(skewed, "item", den=den).collect()
    }
    n = skewed.count()
    want = {
        (r["item"], r["c"])
        for r in skewed.groupBy("item")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") * den > F.lit(n))
        .collect()
    }
    assert got == want and len(want) > 0


def test_heavy_hitters_partitioning_invariant(spark, skewed):
    a = {(r["item"], r["n"]) for r in SK.heavy_hitters(skewed, "item", 40).collect()}
    b = {
        (r["item"], r["n"])
        for r in SK.heavy_hitters(skewed.repartition(3), "item", 40).collect()
    }
    assert a == b


def test_heavy_hitters_ignores_nulls(spark):
    df = spark.createDataFrame(
        [(1,)] * 10 + [(2,)] * 2 + [(None,)] * 30, "item long"
    )
    got = {(r["item"], r["n"]) for r in SK.heavy_hitters(df, "item", 2).collect()}
    # totals exclude nulls: 12 non-null rows, threshold n/2=6 -> item 1 only
    assert got == {(1, 10)}


def test_cms_never_undercounts_and_bounds_overcount(spark, skewed):
    """CMS guarantees: est >= true for EVERY item (deterministic), and
    est <= true + (e/w)*n for the probed items (the probabilistic bound,
    comfortably met at w=256 on this fixture)."""
    import math

    w, d = 256, 4
    sketch = SK.cms_sketch(skewed, "item", width=w, depth=d)
    true = {
        r["item"]: r["c"]
        for r in skewed.groupBy("item").agg(F.count("*").alias("c")).collect()
    }
    n = sum(true.values())
    est = {
        r["item"]: r["est"]
        for r in SK.cms_estimate(
            sketch, skewed.select("item"), "item", width=w, depth=d
        ).collect()
    }
    assert set(est) == set(true)
    bound = math.e / w * n
    for item, c in true.items():
        assert est[item] >= c, f"undercount on {item}"
        assert est[item] <= c + bound, f"overcount on {item} beyond eps*n"


def test_cms_sketches_merge_by_addition(spark, skewed):
    """Union-then-sketch equals sketch-then-sum: counters are additive,
    so daily sketches combine into range queries without the raw data."""
    a = skewed.where(F.col("item") % 2 == 0)
    b = skewed.where(F.col("item") % 2 != 0)
    whole = {
        (r["d"], r["bucket"]): r["c"]
        for r in SK.cms_sketch(skewed, "item").collect()
    }
    merged: dict = {}
    for part in (a, b):
        for r in SK.cms_sketch(part, "item").collect():
            k = (r["d"], r["bucket"])
            merged[k] = merged.get(k, 0) + r["c"]
    assert merged == whole


def test_bloom_prune_no_false_negatives_and_prunes(spark):
    """Bloom pruning never drops a true match, and at 2^16 bits it
    actually prunes (the point of the exercise); the composed
    bloom_semi_join equals a plain left_semi."""
    from employee_activity_etl_poc_spark.operators import bloom as B

    probe = spark.range(0, 5000).select(F.col("id").alias("k"))
    build = spark.range(0, 5000, 7).select(F.col("id").alias("bk"))  # every 7th
    bitmap = B.bloom_build(build, "bk")
    pruned = {r["k"] for r in B.bloom_prune(probe, "k", bitmap).collect()}
    members = set(range(0, 5000, 7))
    assert members <= pruned  # no false negatives
    assert len(pruned) < 5000  # definite non-members dropped
    exact = {
        r["k"]
        for r in probe.join(
            build.select(F.col("bk").alias("k")), "k", "left_semi"
        ).collect()
    }
    got = {
        r["k"] for r in B.bloom_semi_join(probe, build, "k", "bk").collect()
    }
    assert got == exact == members


def test_bloom_bitmaps_merge_by_or(spark):
    """Bitmap of a union equals the word-wise OR of the parts' bitmaps —
    build once per day, OR for any range, same as every sketch here."""
    from employee_activity_etl_poc_spark.operators import bloom as B

    a = spark.range(0, 300).select(F.col("id").alias("k"))
    b = spark.range(300, 600).select(F.col("id").alias("k"))
    whole = B.bloom_build(a.unionByName(b), "k")
    wa, wb = B.bloom_build(a, "k"), B.bloom_build(b, "k")
    assert [x | y for x, y in zip(wa, wb)] == whole


def test_kmv_estimates_and_set_algebra(spark):
    """KMV: distinct estimate within the expected relative error
    (~1/sqrt(k)), union sketch == bottom-k of merged hashes, and the
    theta-membership intersection estimator lands near the true overlap."""
    a = spark.range(0, 3000).select(F.concat(F.lit("a"), F.col("id").cast("string")).alias("item"))
    shared = spark.range(0, 1000).select(F.concat(F.lit("s"), F.col("id").cast("string")).alias("item"))
    b = spark.range(0, 2000).select(F.concat(F.lit("b"), F.col("id").cast("string")).alias("item"))
    seta = a.unionByName(shared)      # 4000 distinct
    setb = b.unionByName(shared)      # 3000 distinct, overlap 1000
    k = 256
    sa = SK.kmv_sketch(seta, "item", k=k)
    sb = SK.kmv_sketch(setb, "item", k=k)
    est_a = SK.kmv_estimate_distinct(sa, k).collect()[0]["n_est"]
    assert abs(est_a - 4000) / 4000 < 0.25  # ~4 sigma at k=256
    su = SK.kmv_union(sa, sb, k=k)
    est_u = SK.kmv_estimate_distinct(su, k).collect()[0]["n_est"]
    assert abs(est_u - 6000) / 6000 < 0.25
    ns = su.join(sa, "h", "left_semi").join(sb, "h", "left_semi").count()
    nu = su.count()
    est_i = ns / nu * est_u
    assert abs(est_i - 1000) / 1000 < 0.4  # ratio estimator: wider band
    # union is associative merge of the hash rows, order-free
    again = {r["h"] for r in SK.kmv_union(sb, sa, k=k).collect()}
    assert again == {r["h"] for r in su.collect()}


def test_kmv_small_set_is_exact(spark):
    """Below k distinct items the sketch IS the hash set and the
    estimate is exact."""
    df = spark.range(0, 40).select(F.col("id").cast("string").alias("item"))
    sk = SK.kmv_sketch(df, "item", k=64)
    assert sk.count() == 40
    assert SK.kmv_estimate_distinct(sk, 64).collect()[0]["n_est"] == 40.0


def test_bloom_type_mismatch_still_exact(spark):
    """Keys are canonicalized to string before hashing, so an int probe
    against a long build (or vice versa) keeps the no-false-negative
    contract instead of silently dropping every match."""
    from employee_activity_etl_poc_spark.operators import bloom as B

    probe = spark.range(0, 200).select(F.col("id").cast("int").alias("k"))
    build = spark.range(0, 200, 3).select(F.col("id").alias("bk"))  # long
    got = {r["k"] for r in B.bloom_semi_join(probe, build, "k", "bk").collect()}
    assert got == set(range(0, 200, 3))


def test_kll_rank_error_and_determinism(spark, values):
    """KLL: observed rank error stays under 1% at k=200 on the fixture
    (uniform-in-rank contract), repeated runs identical (deterministic
    md5 compaction coins — retry transparency)."""
    pcts = [0.1, 0.5, 0.9]
    rows = SK.kll_quantiles(values, "v", pcts, k=200).collect()
    assert _rank_error(values, rows) <= 0.02
    est = {r["pct"]: r["value"] for r in rows}
    again = {r["pct"]: r["value"] for r in SK.kll_quantiles(values, "v", pcts, k=200).collect()}
    assert est == again


def test_cms_range_merge_is_exact(spark):
    """Summed per-segment sketches equal the directly-built range sketch
    bit-for-bit (counter additivity over disjoint rows)."""
    df = spark.range(3000).select(
        (F.col("id") % 7).alias("seg"), (F.col("id") % 131).alias("item")
    )
    daily = SK.cms_sketch_grouped(df, "item", F.col("seg"))
    ranged = {
        (r["d"], r["bucket"]): r["c"]
        for r in SK.cms_range_sketch(daily, F.col("seg").between(2, 4)).collect()
    }
    direct = {
        (r["d"], r["bucket"]): r["c"]
        for r in SK.cms_sketch(
            df.where(F.col("seg").between(2, 4)), "item"
        ).collect()
    }
    assert ranged == direct
