"""Domain ETL queries: the reference's ACTUAL pipeline (generate → CDC wire
→ parse → enrich → KPIs) as oracle-checked registry entries.

These run on generated tables (S15's md5-derived determinism makes the
DuckDB oracle re-derive the identical corpus — ``sources/generator.py``)
and on the driver's ``events`` table for the CDC round-trip, so the whole
bronze→gold→KPI path from SURVEY §3 sits inside the correctness gate, not
just its relational skeleton.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import scalars as S
from ..operators.enrichment import (
    OFFICE_ADDRESS,
    FakeCommuteClient,
    derive_commute_metrics,
    fetch_commutes,
)
from ..sources.generator import (
    employees_oracle_sql,
    generator_oracle_sql,
    synthetic_activities,
    synthetic_employees,
    to_cdc_json,
)
from ..streaming.cdc import parse_cdc_envelope
from .sql_fragments import _LANG_SCORE_SQL as _LANG_SCORE_SQL_REF
from .registry import load, register

GEN_N = 5000
GEN_EMPLOYEES = 161


def _activities_cte() -> str:
    return f"activities AS ({generator_oracle_sql(GEN_N, GEN_EMPLOYEES)})"


def _employees_cte() -> str:
    return f"employees AS ({employees_oracle_sql(GEN_EMPLOYEES)})"


@register(
    "synthetic_activities_sample",
    f"""
    WITH {_activities_cte()}
    SELECT activity_id, employee_id,
           strftime(start_ts, '%Y-%m-%d %H:%M:%S') AS start_str,
           sport_type, distance_m,
           strftime(end_ts, '%Y-%m-%d %H:%M:%S') AS end_str,
           comment
    FROM activities WHERE activity_id % 10 = 0
    """,
    doc="S15 row-level parity: every 10th generated activity, value-hashed "
    "against the oracle's re-derivation — proves the generator is "
    "engine-portable and partition-invariant (md5-per-row, not rand(seed)).",
    tags=("source", "generator"),
)
def synthetic_activities_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        synthetic_activities(spark, GEN_N, GEN_EMPLOYEES)
        .where(F.col("activity_id") % 10 == 0)
        .select(
            "activity_id",
            "employee_id",
            S.format_ts("start_ts").alias("start_str"),
            "sport_type",
            "distance_m",
            S.format_ts("end_ts").alias("end_str"),
            "comment",
        )
    )


@register(
    "synthetic_activities_profile",
    f"""
    WITH {_activities_cte()}
    SELECT sport_type,
           count(*) AS n,
           count(DISTINCT employee_id) AS n_employees,
           CAST(count(comment) AS BIGINT) AS n_comments,
           round(avg(distance_m), 2) AS avg_distance_m,
           CAST(sum(epoch_us(end_ts) - epoch_us(start_ts)) // 1000000 AS BIGINT) AS total_duration_s
    FROM activities GROUP BY sport_type
    """,
    doc="S15 distribution profile: per-sport counts, comment fill rate "
    "(~30%), distance/duration stats (strava_like_data.ipynb:43-94 shape).",
    tags=("source", "generator", "agg"),
)
def synthetic_activities_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    acts = synthetic_activities(spark, GEN_N, GEN_EMPLOYEES)
    dur_us = F.unix_micros("end_ts") - F.unix_micros("start_ts")
    return acts.groupBy("sport_type").agg(
        F.count("*").alias("n"),
        F.countDistinct("employee_id").alias("n_employees"),
        F.count("comment").cast("long").alias("n_comments"),
        F.round(F.avg("distance_m"), 2).alias("avg_distance_m"),
        F.floor(F.sum(dur_us) / 1_000_000).cast("long").alias("total_duration_s"),
    )


@register(
    "cdc_envelope_roundtrip",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS total_floor_value,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS max_ts_str
    FROM events
    WHERE event_id % 10 <> 0
    GROUP BY event_type
    """,
    doc="P1/ST8/F1 in the gate: events are serialized into Debezium-style "
    "envelopes (op='d' for every 10th id) and parsed back with the SAME "
    "column transform the streaming ingest uses; the oracle computes the "
    "expected survivors directly — parse(to_json(x)) == x, with µs-epoch "
    "timestamps surviving the round-trip exactly.",
    tags=("streaming", "cdc"),
)
def cdc_envelope_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    shaped = ev.select(
        F.col("event_id").alias("activity_id"),
        F.col("user_id").alias("employee_id"),
        F.col("ts").alias("start_ts"),
        F.col("event_type").alias("sport_type"),
        F.floor("value").cast("long").alias("distance_m"),
        F.col("ts").alias("end_ts"),
        F.lit(None).cast("string").alias("comment"),
    )
    op = F.when(F.col("activity_id") % 10 == 0, F.lit("d")).otherwise(F.lit("c"))
    wire = to_cdc_json(shaped, op=op)
    parsed = parse_cdc_envelope(
        wire, processing_ts=F.lit("2024-06-01 00:00:00").cast("timestamp")
    )
    return parsed.groupBy(F.col("sport_type").alias("event_type")).agg(
        F.count("*").alias("n"),
        F.sum("distance_m").cast("long").alias("total_floor_value"),
        S.format_ts(F.max("start_ts")).alias("max_ts_str"),
    )


@register(
    "activity_gold_enrichment",
    f"""
    WITH {_activities_cte()}, {_employees_cte()}
    SELECT e.bu, e.transport_mode,
           count(*) AS n_activities,
           count(DISTINCT a.employee_id) AS n_employees,
           round(avg(a.distance_m), 2) AS avg_distance_m
    FROM activities a JOIN employees e ON a.employee_id = e.employee_id
    GROUP BY e.bu, e.transport_mode
    """,
    doc="The gold enrichment join (SURVEY §3.2, gold/bronzeToGold.py:136-163)"
    " on the generated domain: fact ⟕ broadcast HR dim, BU×transport "
    "rollup. The dim never shuffles the fact side.",
    tags=("join", "broadcast", "gold"),
)
def activity_gold_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    acts = synthetic_activities(spark, GEN_N, GEN_EMPLOYEES)
    emps = synthetic_employees(spark, GEN_EMPLOYEES)
    return (
        acts.join(F.broadcast(emps), "employee_id")
        .groupBy("bu", "transport_mode")
        .agg(
            F.count("*").alias("n_activities"),
            F.countDistinct("employee_id").alias("n_employees"),
            F.round(F.avg("distance_m"), 2).alias("avg_distance_m"),
        )
    )


_COMMUTE_ORACLE = f"""
    WITH {_employees_cte()},
    req AS (
      SELECT employee_id, home_address,
        CASE transport_mode
          WHEN 'Transports en commun' THEN 'transit'
          WHEN 'véhicule thermique/électrique' THEN 'driving'
          WHEN 'Marche/running' THEN 'walking'
          WHEN 'Vélo/Trottinette/Autres' THEN 'bicycling'
        END AS api_mode
      FROM employees
    ),
    calc AS (
      SELECT employee_id, api_mode,
        CAST('0x' || substr(md5('gmapfail|' || home_address), 1, 8) AS BIGINT) % 20 = 0 AS fail,
        CAST(floor(CAST('0x' || substr(md5('gmap|' || home_address || '|{OFFICE_ADDRESS}|' || api_mode), 1, 8) AS BIGINT)
             / 4294967296.0 * 400 + 5) AS BIGINT) / 10.0 AS km,
        CASE api_mode WHEN 'transit' THEN 25.0 WHEN 'driving' THEN 40.0
                      WHEN 'walking' THEN 4.5 ELSE 15.0 END AS speed,
        CASE WHEN api_mode IN ('driving', 'transit') THEN 1.4 ELSE 1.0 END AS rush_mult
      FROM req
    ),
    mins AS (
      SELECT employee_id, api_mode, fail, km,
        CAST(floor(km / speed * 60) AS BIGINT) * 60 AS s_typ,
        CAST(floor(km / speed * 60 * rush_mult) AS BIGINT) * 60 AS s_rush
      FROM calc
    )
    SELECT employee_id, api_mode,
      CASE WHEN NOT fail THEN round(km, 4) END AS distance_km_typical,
      CASE WHEN NOT fail THEN printf('%02d:%02d:%02d', s_typ // 3600, (s_typ % 3600) // 60, s_typ % 60) END AS duration_hhmmss_typical,
      CASE WHEN NOT fail THEN round(km, 4) END AS distance_km_rush,
      CASE WHEN NOT fail THEN printf('%02d:%02d:%02d', s_rush // 3600, (s_rush % 3600) // 60, s_rush % 60) END AS duration_hhmmss_rush,
      NOT fail AS commute_success
    FROM mins
"""


@register(
    "commute_enrichment",
    _COMMUTE_ORACLE,
    doc="§7 step 8: the Google-Maps commute pipeline — mapInPandas over an "
    "injected directions client (deterministic fake; md5-derived responses "
    "the oracle re-computes), per-mode dispatch, failure rows, then F16 "
    "text parsing ('1 hours 36 mins', '12.3 km') + F15 hh:mm:ss as column "
    "exprs. The whole external-enrichment path sits in the hash gate.",
    tags=("enrichment", "mapInPandas", "scalar"),
)
def commute_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    emps = synthetic_employees(spark, GEN_EMPLOYEES)
    raw = fetch_commutes(emps, FakeCommuteClient)
    return derive_commute_metrics(raw).select(
        "employee_id",
        "api_mode",
        "distance_km_typical",
        "duration_hhmmss_typical",
        "distance_km_rush",
        "duration_hhmmss_rush",
        "commute_success",
    )


@register(
    "events_column_profile",
    """
    WITH base AS (SELECT * FROM events)
    SELECT 'event_id' AS "column", count(*) AS n,
           count(CASE WHEN event_id IS NULL THEN 1 END) AS n_null,
           count(DISTINCT event_id) AS n_distinct,
           CAST(min(event_id) AS VARCHAR) AS min_str,
           CAST(max(event_id) AS VARCHAR) AS max_str,
           round(avg(event_id), 4) AS mean
    FROM base
    UNION ALL
    SELECT 'event_type', count(*),
           count(CASE WHEN event_type IS NULL THEN 1 END),
           count(DISTINCT event_type),
           CAST(min(event_type) AS VARCHAR), CAST(max(event_type) AS VARCHAR),
           NULL
    FROM base
    UNION ALL
    SELECT 'value', count(*),
           count(CASE WHEN value IS NULL THEN 1 END),
           count(DISTINCT value),
           CAST(min(value) AS VARCHAR), CAST(max(value) AS VARCHAR),
           round(avg(value), 4)
    FROM base
    """,
    doc="One-scan table profiler (null rate / distinct / min / max / mean "
    "per column, long format) — the systematic form of the reference's "
    "ad-hoc health prints; swap countDistinct for HLL at 100 TB.",
    tags=("quality", "profile"),
)
def events_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..quality.profile import profile_table

    ev = load(spark, sf_dir, "events")
    return profile_table(ev, ["event_id", "event_type", "value"])


@register(
    "event_value_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.25), 6) AS p25,
           round(quantile_cont(value, 0.50), 6) AS p50,
           round(quantile_cont(value, 0.75), 6) AS p75,
           round(quantile_cont(value, 0.95), 6) AS p95
    FROM events GROUP BY event_type
    """,
    doc="Per-group exact percentiles (linear interpolation — Spark "
    "percentile() and DuckDB quantile_cont agree bit-for-bit modulo the "
    "6-dp round): the profiler's distribution summary. One shuffle on the "
    "group key with a per-group sort; at 100 TB swap percentile() for "
    "approx_percentile (t-digest, mergeable map-side) and accept the "
    "documented error bound — the oracle pins the exact form at gate "
    "scale.",
    tags=("quality", "profile", "agg"),
)
def event_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    pct = F.expr("percentile(value, array(0.25, 0.5, 0.75, 0.95))")
    return ev.groupBy("event_type").agg(
        F.round(F.element_at(pct, 1), 6).alias("p25"),
        F.round(F.element_at(pct, 2), 6).alias("p50"),
        F.round(F.element_at(pct, 3), 6).alias("p75"),
        F.round(F.element_at(pct, 4), 6).alias("p95"),
    )


@register(
    "event_value_tdigest",
    """
    SELECT CAST(0.10 AS DOUBLE) AS pct,
           round(quantile_cont(value, 0.10), 6) AS exact_value,
           true AS rank_err_le_2pct FROM events
    UNION ALL SELECT CAST(0.25 AS DOUBLE),
           round(quantile_cont(value, 0.25), 6), true FROM events
    UNION ALL SELECT CAST(0.50 AS DOUBLE),
           round(quantile_cont(value, 0.50), 6), true FROM events
    UNION ALL SELECT CAST(0.75 AS DOUBLE),
           round(quantile_cont(value, 0.75), 6), true FROM events
    UNION ALL SELECT CAST(0.90 AS DOUBLE),
           round(quantile_cont(value, 0.90), 6), true FROM events
    UNION ALL SELECT CAST(0.99 AS DOUBLE),
           round(quantile_cont(value, 0.99), 6), true FROM events
    """,
    doc="t-digest percentile sketch (operators/sketches.py) gated against "
    "the exact form: the query computes BOTH the exact percentiles "
    "(hash-matched against DuckDB quantile_cont) AND the digest's "
    "observed rank error |CDF(estimate) − p|, emitted as a boolean bound "
    "check — a digest regression flips the boolean and fails the hash. "
    "The sketch itself is the mergeable 100 TB path: per-partition "
    "digests (no shuffle) + one ≤δ-centroid-per-partition merge; exact "
    "percentile buffers each group on one task and cannot scale past "
    "memory.",
    tags=("agg", "percentile", "sketch", "scale"),
)
def event_value_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketches as SK

    pcts = [0.10, 0.25, 0.50, 0.75, 0.90, 0.99]
    ev = load(spark, sf_dir, "events")
    ev_v = ev.select(F.col("value").cast("double").alias("v")).where(
        F.col("v").isNotNull()
    )
    est = SK.tdigest_percentiles(ev_v, "v", pcts).select(
        "pct", F.col("value").alias("est")
    )
    # observed rank of each estimate: CDF(est) from one broadcast
    # nested-loop of the 6-row estimate side against the values — the
    # self-check costs one extra scan ×6, acceptable for a gate query
    # (production would collect the 6 scalars instead)
    cdf = (
        ev_v.crossJoin(F.broadcast(est))
        .groupBy("pct")
        .agg(
            (
                F.sum(F.when(F.col("v") <= F.col("est"), 1).otherwise(0))
                / F.count("*")
            ).alias("cdf")
        )
    )
    pct_lit = F.array(*[F.lit(p) for p in pcts])
    exact = (
        ev_v.agg(
            F.expr(
                "percentile(v, array(0.10, 0.25, 0.50, 0.75, 0.90, 0.99))"
            ).alias("ex")
        )
        .select(F.posexplode("ex").alias("i", "ev"))
        .select(
            F.element_at(pct_lit, F.col("i") + 1).alias("pct"),
            F.round("ev", 6).alias("exact_value"),
        )
    )
    return exact.join(cdf, "pct").select(
        "pct",
        "exact_value",
        (F.abs(F.col("cdf") - F.col("pct")) <= 0.02).alias("rank_err_le_2pct"),
    )


@register(
    "event_value_kll",
    """
    SELECT CAST(0.10 AS DOUBLE) AS pct,
           round(quantile_cont(value, 0.10), 6) AS exact_value,
           true AS rank_err_le_2pct FROM events
    UNION ALL SELECT CAST(0.25 AS DOUBLE),
           round(quantile_cont(value, 0.25), 6), true FROM events
    UNION ALL SELECT CAST(0.50 AS DOUBLE),
           round(quantile_cont(value, 0.50), 6), true FROM events
    UNION ALL SELECT CAST(0.75 AS DOUBLE),
           round(quantile_cont(value, 0.75), 6), true FROM events
    UNION ALL SELECT CAST(0.90 AS DOUBLE),
           round(quantile_cont(value, 0.90), 6), true FROM events
    UNION ALL SELECT CAST(0.99 AS DOUBLE),
           round(quantile_cont(value, 0.99), 6), true FROM events
    """,
    doc="KLL rank-error quantile sketch (sketches.kll_quantiles) under "
    "the same gate pattern as event_value_tdigest: exact percentiles "
    "hash-matched against DuckDB PLUS a boolean pinning the sketch's "
    "observed rank error ≤ 2% (measured ≤ 0.7% at k=200). KLL vs "
    "t-digest is an error-SHAPE choice: KLL's error is UNIFORM in rank "
    "(Karnin-Lang-Liberty), t-digest's is relative (tight tails, looser "
    "middle) — an engine needs both. Same mergeable two-stage shape: "
    "O(k) per-partition sketches (md5-deterministic compaction coins, so "
    "task retries reproduce identical partials), one small merge task.",
    tags=("agg", "percentile", "sketch", "scale"),
)
def event_value_kll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketches as SK

    pcts = [0.10, 0.25, 0.50, 0.75, 0.90, 0.99]
    ev = load(spark, sf_dir, "events")
    ev_v = ev.select(F.col("value").cast("double").alias("v")).where(
        F.col("v").isNotNull()
    )
    est = SK.kll_quantiles(ev_v, "v", pcts, k=200).select(
        "pct", F.col("value").alias("est")
    )
    cdf = (
        ev_v.crossJoin(F.broadcast(est))
        .groupBy("pct")
        .agg(
            (
                F.sum(F.when(F.col("v") <= F.col("est"), 1).otherwise(0))
                / F.count("*")
            ).alias("cdf")
        )
    )
    pct_lit = F.array(*[F.lit(p) for p in pcts])
    exact = (
        ev_v.agg(
            F.expr(
                "percentile(v, array(0.10, 0.25, 0.50, 0.75, 0.90, 0.99))"
            ).alias("ex")
        )
        .select(F.posexplode("ex").alias("i", "ev"))
        .select(
            F.element_at(pct_lit, F.col("i") + 1).alias("pct"),
            F.round("ev", 6).alias("exact_value"),
        )
    )
    return exact.join(cdf, "pct").select(
        "pct",
        "exact_value",
        (F.abs(F.col("cdf") - F.col("pct")) <= 0.02).alias("rank_err_le_2pct"),
    )


@register(
    "events_heavy_hitter_users",
    """
    SELECT user_id, count(*) AS n FROM events
    GROUP BY user_id
    HAVING count(*) * 130 >
           (SELECT count(*) FROM events WHERE user_id IS NOT NULL)
    """,
    doc="EXACT heavy hitters via the two-pass Misra-Gries sketch "
    "(operators/sketches.py): bounded-memory mergeable candidates "
    "(superset of everything above total/(k+1) by the MG guarantee), "
    "then an exact count of candidates only — so the sketch bounds "
    "MEMORY, not accuracy, and the output hash-matches the plain GROUP "
    "BY/HAVING oracle. Integer threshold (count x 130 > n) keeps the "
    "boundary engine-exact. At 100 TB pass 1 is a narrow map + <=k-row "
    "merge and pass 2 a broadcast semi-join — never a full-cardinality "
    "groupBy.",
    tags=("agg", "sketch", "scale"),
)
def events_heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketches as SK

    ev = load(spark, sf_dir, "events")
    return SK.heavy_hitters(ev, "user_id", den=130)


@register(
    "events_distinct_users_hll",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_exact,
           true AS hll_err_le_3rsd
    FROM events GROUP BY event_type
    """,
    doc="HLL approximate distinct gated against the exact form (same "
    "pattern as event_value_tdigest): the query computes exact "
    "countDistinct (hash-matched against DuckDB) AND "
    "approx_count_distinct(rsd=0.02), emitting |approx-exact| <= 3 rsd "
    "as a boolean — an HLL regression fails the hash. At 100 TB the HLL "
    "form is the only one that scales: mergeable, constant memory per "
    "group, no expand+two-phase rewrite.",
    tags=("agg", "sketch", "scale"),
)
def events_distinct_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"),
        (
            F.abs(
                F.approx_count_distinct("user_id", rsd=0.02)
                - F.countDistinct("user_id")
            )
            <= 3 * 0.02 * F.countDistinct("user_id")
        ).alias("hll_err_le_3rsd"),
    )


@register(
    "events_user_cms_counts",
    """
    WITH items AS (
      SELECT user_id::VARCHAR AS item FROM events WHERE user_id IS NOT NULL
    ),
    hashes AS (
      SELECT d,
             CAST('0x' || substr(md5('cms' || d::VARCHAR || '|' || item), 1, 8)
                  AS BIGINT) % 256 AS bucket
      FROM items, unnest([0, 1, 2, 3]) AS t(d)
    ),
    sketch AS (SELECT d, bucket, count(*) AS c FROM hashes GROUP BY 1, 2),
    q AS (SELECT DISTINCT user_id FROM events WHERE user_id < 20),
    qh AS (
      SELECT user_id, d,
             CAST('0x' || substr(md5('cms' || d::VARCHAR || '|' ||
                                     user_id::VARCHAR), 1, 8)
                  AS BIGINT) % 256 AS bucket
      FROM q, unnest([0, 1, 2, 3]) AS t(d)
    ),
    est AS (
      SELECT user_id, min(coalesce(c, 0)) AS est_count
      FROM qh LEFT JOIN sketch USING (d, bucket) GROUP BY user_id
    ),
    ex AS (
      SELECT user_id, count(*) AS exact_count FROM events
      WHERE user_id < 20 GROUP BY user_id
    )
    SELECT user_id, est_count, exact_count,
           est_count >= exact_count AS never_undercounts
    FROM est JOIN ex USING (user_id)
    """,
    doc="Count-min sketch point-frequency estimates "
    "(sketches.cms_sketch/cms_estimate, d=4 × w=256 counters) for 20 "
    "probe users, against their exact counts. The md5 hash family makes "
    "the sketch ENGINE-PORTABLE, so the oracle replays the estimates "
    "bit-for-bit — a full value-hash gate on the sketch itself, stronger "
    "than an error-bound boolean. At 100 TB the sketch is the only "
    "fixed-memory answer to point frequencies over unbounded item "
    "cardinality: counters add (mergeable across partitions, days, "
    "streams), the post-combine shuffle is ≤ d·w rows per task, and "
    "estimating any item set is a broadcast join against ≤ d·w rows.",
    tags=("agg", "sketch", "scale"),
)
def events_user_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketches as SK

    ev = load(spark, sf_dir, "events")
    sketch = SK.cms_sketch(ev, "user_id", width=256, depth=4)
    probes = ev.where(F.col("user_id") < 20).select("user_id")
    est = SK.cms_estimate(sketch, probes, "user_id", width=256, depth=4)
    exact = (
        ev.where(F.col("user_id") < 20)
        .groupBy("user_id")
        .agg(F.count("*").alias("exact_count"))
    )
    return est.join(exact, "user_id").select(
        "user_id",
        F.col("est").alias("est_count"),
        "exact_count",
        (F.col("est") >= F.col("exact_count")).alias("never_undercounts"),
    )


@register(
    "events_cms_daily_range",
    """
    WITH items AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day, user_id::VARCHAR AS item
      FROM events WHERE user_id IS NOT NULL
    ),
    ranged AS (
      SELECT item FROM items WHERE day BETWEEN '2024-01-10' AND '2024-01-12'
    ),
    hashes AS (
      SELECT d,
             CAST('0x' || substr(md5('cms' || d::VARCHAR || '|' || item), 1, 8)
                  AS BIGINT) % 256 AS bucket
      FROM ranged, unnest([0, 1, 2, 3]) AS t(d)
    ),
    sketch AS (SELECT d, bucket, count(*) AS c FROM hashes GROUP BY 1, 2),
    q AS (SELECT DISTINCT user_id FROM events WHERE user_id < 15),
    qh AS (
      SELECT user_id, d,
             CAST('0x' || substr(md5('cms' || d::VARCHAR || '|' ||
                                     user_id::VARCHAR), 1, 8)
                  AS BIGINT) % 256 AS bucket
      FROM q, unnest([0, 1, 2, 3]) AS t(d)
    ),
    est AS (
      SELECT user_id, min(coalesce(c, 0)) AS est_count
      FROM qh LEFT JOIN sketch USING (d, bucket) GROUP BY user_id
    ),
    ex AS (
      SELECT q.user_id, count(r.item) AS exact_count
      FROM q LEFT JOIN ranged r ON r.item = q.user_id::VARCHAR
      GROUP BY q.user_id
    )
    SELECT user_id, est_count, exact_count,
           est_count >= exact_count AS never_undercounts
    FROM est JOIN ex USING (user_id)
    """,
    doc="CMS range query from per-day sketches "
    "(sketches.cms_sketch_grouped + cms_range_sketch): the engine keeps "
    "ONE d×w counter sketch per day; a 3-day range is answered by "
    "SUMMING the daily counters — exact merge by counter additivity "
    "(same hash family, disjoint rows), so the summed-daily estimates "
    "hash-match the oracle's direct range sketch bit-for-bit. This is "
    "the claim 'sketch per day, answer any range without raw data' made "
    "checkable: at 100 TB the daily sketches are ≤ d·w rows each, "
    "forever, and any window over them is a ≤ d·w-row aggregation.",
    tags=("agg", "sketch", "scale"),
)
def events_cms_daily_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketches as SK

    ev = load(spark, sf_dir, "events")
    daily = SK.cms_sketch_grouped(
        ev, "user_id", F.date_format("ts", "yyyy-MM-dd"), width=256, depth=4
    )
    ranged = SK.cms_range_sketch(
        daily, F.col("seg").between("2024-01-10", "2024-01-12")
    )
    probes = ev.where(F.col("user_id") < 15).select("user_id")
    est = SK.cms_estimate(ranged, probes, "user_id", width=256, depth=4)
    exact = (
        probes.distinct()
        .join(
            ev.where(
                F.date_format("ts", "yyyy-MM-dd").between(
                    "2024-01-10", "2024-01-12"
                )
            ).select(F.col("user_id").alias("_u")),
            F.col("user_id") == F.col("_u"),
            "left",
        )
        .groupBy("user_id")
        .agg(F.count("_u").alias("exact_count"))
    )
    return est.join(exact, "user_id").select(
        "user_id",
        F.col("est").alias("est_count"),
        "exact_count",
        (F.col("est") >= F.col("exact_count")).alias("never_undercounts"),
    )


@register(
    "events_theta_distinct_algebra",
    """
    WITH ev AS (
      SELECT event_type,
             user_id::VARCHAR || '#' || strftime(ts, '%Y-%m-%d') AS item
      FROM events WHERE event_type IN ('click', 'purchase')
        AND user_id IS NOT NULL
    ),
    ha AS (
      SELECT DISTINCT CAST('0x' || substr(md5('kmv|' || item), 1, 12) AS BIGINT) AS h
      FROM ev WHERE event_type = 'click'
    ),
    hb AS (
      SELECT DISTINCT CAST('0x' || substr(md5('kmv|' || item), 1, 12) AS BIGINT) AS h
      FROM ev WHERE event_type = 'purchase'
    ),
    sa AS (SELECT h FROM ha ORDER BY h LIMIT 256),
    sb AS (SELECT h FROM hb ORDER BY h LIMIT 256),
    su AS (
      SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb) ORDER BY h LIMIT 256
    ),
    ea AS (SELECT CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
                       ELSE 255 * 281474976710656.0 / max(h) END AS v FROM sa),
    eb AS (SELECT CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
                       ELSE 255 * 281474976710656.0 / max(h) END AS v FROM sb),
    eu AS (SELECT CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
                       ELSE 255 * 281474976710656.0 / max(h) END AS v FROM su),
    sh AS (
      SELECT CAST(count(*) AS DOUBLE) AS ns,
             (SELECT CAST(count(*) AS DOUBLE) FROM su) AS nu
      FROM su WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb)
    ),
    ex AS (
      SELECT count(DISTINCT CASE WHEN event_type = 'click' THEN item END)
               AS n_click_exact,
             count(DISTINCT CASE WHEN event_type = 'purchase' THEN item END)
               AS n_purchase_exact,
             count(DISTINCT item) AS n_union_exact
      FROM ev
    )
    SELECT n_click_exact, n_purchase_exact, n_union_exact,
           round((SELECT v FROM ea), 4) AS est_click,
           round((SELECT v FROM eb), 4) AS est_purchase,
           round((SELECT v FROM eu), 4) AS est_union,
           round((SELECT ns / nu FROM sh) * (SELECT v FROM eu), 4)
             AS est_intersection
    FROM ex
    """,
    doc="KMV / bottom-k theta sketch set algebra "
    "(sketches.kmv_sketch/kmv_union): distinct (user, day) pairs of two "
    "event segments, their union AND their intersection, estimated from "
    "256-hash sketches next to the exact counts. The algebra is what HLL "
    "cannot do: union sketch = bottom-k of the merged hashes "
    "(associative — per-day/segment sketches roll up arbitrarily), "
    "intersection via the Jaccard of the shared bottom-k "
    "(θ-membership: every union-sketch hash is below both input "
    "thresholds, so sketch membership ⇔ set membership). The md5 hash "
    "family makes every estimate engine-replayable — the oracle "
    "hash-matches the ESTIMATES, not just bounds. Sketch build is "
    "distinct + TakeOrderedAndProject (per-partition k-row heaps, no "
    "global sort); at 100 TB each segment keeps 256 longs, any "
    "combination of segments is answerable without raw data.",
    tags=("agg", "sketch", "scale"),
)
def events_theta_distinct_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketches as SK

    k = 256
    ev = (
        load(spark, sf_dir, "events")
        .where(
            F.col("event_type").isin("click", "purchase")
            & F.col("user_id").isNotNull()
        )
        .select(
            "event_type",
            F.concat(
                F.col("user_id").cast("string"),
                F.lit("#"),
                F.date_format("ts", "yyyy-MM-dd"),
            ).alias("item"),
        )
    )
    clicks = ev.where(F.col("event_type") == "click")
    purchases = ev.where(F.col("event_type") == "purchase")
    sa = SK.kmv_sketch(clicks, "item", k=k)
    sb = SK.kmv_sketch(purchases, "item", k=k)
    su = SK.kmv_union(sa, sb, k=k)
    est_a = SK.kmv_estimate_distinct(sa, k).select(F.col("n_est").alias("ea"))
    est_b = SK.kmv_estimate_distinct(sb, k).select(F.col("n_est").alias("eb"))
    est_u = SK.kmv_estimate_distinct(su, k).select(F.col("n_est").alias("eu"))
    shared = (
        su.join(sa, "h", "left_semi")
        .join(sb, "h", "left_semi")
        .agg(F.count("*").cast("double").alias("ns"))
        .crossJoin(su.agg(F.count("*").cast("double").alias("nu")))
    )
    exact = ev.agg(
        F.countDistinct(
            F.when(F.col("event_type") == "click", F.col("item"))
        ).alias("n_click_exact"),
        F.countDistinct(
            F.when(F.col("event_type") == "purchase", F.col("item"))
        ).alias("n_purchase_exact"),
        F.countDistinct("item").alias("n_union_exact"),
    )
    return (
        exact.crossJoin(F.broadcast(est_a))
        .crossJoin(F.broadcast(est_b))
        .crossJoin(F.broadcast(est_u))
        .crossJoin(F.broadcast(shared))
        .select(
            "n_click_exact",
            "n_purchase_exact",
            "n_union_exact",
            F.round("ea", 4).alias("est_click"),
            F.round("eb", 4).alias("est_purchase"),
            F.round("eu", 4).alias("est_union"),
            F.round(F.col("ns") / F.col("nu") * F.col("eu"), 4).alias(
                "est_intersection"
            ),
        )
    )


@register(
    "events_bloom_pruned_building",
    """
    SELECT event_type,
           count(*) AS n,
           round(sum(value), 4) AS sum_value
    FROM events e
    WHERE EXISTS (
      SELECT 1 FROM customer c
      WHERE c.c_custkey = e.user_id AND c.c_mktsegment = 'BUILDING'
    )
    GROUP BY event_type
    """,
    doc="Semi-join of events against BUILDING-segment customers with "
    "Bloom-filter pre-pruning (operators/bloom.py): the build side's "
    "keys become a 2^16-bit word bitmap via a distributed bit_or "
    "aggregation (shuffle ≤ bits/64 rows per task, never the keys), the "
    "probe side drops definite non-members with codegen'd shift-and-mask "
    "tests before its shuffle, and the exact semi-join removes the "
    "bloom's false positives — so the output hash-matches the plain "
    "EXISTS oracle while the probe shuffle carries only ~|matches| + "
    "fp·|probe| rows. The explicit form of AQE's runtime bloom "
    "filter, reusable across jobs and in streaming foreachBatch.",
    tags=("join", "sketch", "scale"),
)
def events_bloom_pruned_building(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bloom import bloom_semi_join

    ev = load(spark, sf_dir, "events")
    cust = load(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    matched = bloom_semi_join(ev, cust, "user_id", "c_custkey")
    return matched.groupBy("event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value")
    )


def _session_scratch(name: str, sf_dir: str) -> str:
    """Per-sf scratch directory inside the Spark session's own root
    (``SparkFiles.getRootDirectory()``, deleted at session stop), rebuilt
    by each run: repeated invocations (bench loops, oracle sweeps) reuse
    ONE directory instead of leaking a fresh mkdtemp per call, and two
    concurrent sessions at the same sf never delete each other's table."""
    import os

    from pyspark import SparkFiles

    return os.path.join(
        SparkFiles.getRootDirectory(),
        f"{name}_{os.path.basename(sf_dir.rstrip('/'))}",
    )


@register(
    "delta_roundtrip_stats",
    """
    WITH current AS (
      SELECT event_type, round(value, 4) AS v FROM events
      WHERE event_id % 3 = 0
    ),
    v1 AS (
      SELECT count(*) AS n_v1 FROM events WHERE event_id % 2 = 0
    )
    SELECT event_type,
           count(*) AS n,
           round(sum(v), 4) AS sum_v,
           (SELECT n_v1 FROM v1) AS n_version1
    FROM current GROUP BY event_type
    """,
    doc="S6 without the jar, under the hash gate: events are committed "
    "through the pure-Python Delta log (sources/deltalog.py) as two "
    "appends (even ids, odd ids) then an OVERWRITE (ids %3=0 — "
    "remove-all + add in one atomic commit), read back via the "
    "transaction log (tombstoned files skipped; a directory scan would "
    "double-count every batch) plus a versionAsOf=0 time-travel read of "
    "the first append. The oracle computes both states straight from "
    "the source table — matching hashes prove commits, tombstones, and "
    "time travel round-trip exactly.",
    tags=("source", "delta", "scale"),
)
def delta_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..sources.deltalog import read_delta_pylog, write_delta_pylog

    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", F.round("value", 4).alias("v")
    )
    path = _session_scratch("delta_rt", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    write_delta_pylog(ev.where(F.col("event_id") % 2 == 0), path)
    write_delta_pylog(ev.where(F.col("event_id") % 2 == 1), path)
    write_delta_pylog(
        ev.where(F.col("event_id") % 3 == 0), path, mode="overwrite"
    )
    current = read_delta_pylog(spark, path)
    n_v1 = read_delta_pylog(spark, path, version_as_of=0).count()
    return current.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("v"), 4).alias("sum_v"),
        F.lit(n_v1).cast("long").alias("n_version1"),
    )


@register(
    "streaming_ingest_gate",
    """
    SELECT event_type,
           count(*) AS n,
           round(sum(value), 4) AS sum_v
    FROM events
    WHERE value IS NOT NULL
    GROUP BY event_type
    """,
    doc="Structured Streaming inside the value-hash gate: the events "
    "table is consumed as a REAL stream (readStream file source, "
    "Trigger.AvailableNow, its own checkpoint) through "
    "foreachBatch + the jar-free txn Delta sink "
    "(sources/deltalog.streaming_delta_sink), then the committed Delta "
    "table is read back through the log and aggregated — the oracle "
    "computes the same rollup straight from the source, so matching "
    "hashes prove the streaming path (micro-batching, checkpointing, "
    "idempotent txn commits, log read-back) moved every row exactly "
    "once regardless of how the files were batched. This is the one "
    "streaming surface a SQL oracle CAN check; ordering/watermark "
    "semantics stay in the pytest suite.",
    tags=("streaming", "delta", "scale"),
)
def streaming_ingest_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..sources.deltalog import read_delta_pylog, streaming_delta_sink

    scratch = _session_scratch("stream_gate", sf_dir)
    shutil.rmtree(scratch, ignore_errors=True)
    table = os.path.join(scratch, "table")
    ckpt = os.path.join(scratch, "ckpt")
    schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    # the file source streams DIRECTORIES; glob-filter to the events
    # table inside the fixture dir
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .where(F.col("value").isNotNull())
        .select("event_id", "event_type", "value")
    )
    q = (
        stream.writeStream.foreachBatch(streaming_delta_sink(table, "gate"))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        read_delta_pylog(spark, table)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_v"),
        )
    )


@register(
    "events_snapshot_diff",
    """
    WITH o AS (
      SELECT event_id, event_type, round(value, 4) AS v
      FROM events WHERE event_id < 8000
    ),
    n AS (
      SELECT event_id,
             CASE WHEN event_id % 11 = 0 THEN 'migrated' ELSE event_type END
               AS event_type,
             round(value, 4) + CASE WHEN event_id % 7 = 0 THEN 1000 ELSE 0 END
               AS v
      FROM events WHERE event_id < 8500 AND event_id % 13 <> 0
    ),
    j AS (
      SELECT coalesce(o.event_id, n.event_id) AS event_id,
             o.event_id IS NULL AS added,
             n.event_id IS NULL AS removed,
             o.event_type IS DISTINCT FROM n.event_type AS ct,
             o.v IS DISTINCT FROM n.v AS cv
      FROM o FULL OUTER JOIN n ON o.event_id = n.event_id
    )
    SELECT event_id,
           CASE WHEN added THEN 'added' WHEN removed THEN 'removed'
                ELSE 'changed' END AS change,
           CASE WHEN added OR removed THEN ''
                ELSE concat_ws(',', CASE WHEN ct THEN 'event_type' END,
                                    CASE WHEN cv THEN 'v' END) END
             AS changed_cols_str
    FROM j WHERE added OR removed OR ct OR cv
    """,
    doc="Snapshot reconciliation (relational.snapshot_diff): a synthetic "
    "'re-synced' events snapshot (some ids dropped, some appended, two "
    "modulo families of value/type edits) diffed against the original — "
    "one row per divergent key with change ∈ added/removed/changed and "
    "the exact column names that moved. The audit primitive for "
    "migrations, CDC re-syncs, and backfills: ONE full-outer shuffle on "
    "the key (shuffle-free when both snapshots are bucketed on it), "
    "codegen'd null-safe column compares, unchanged rows filtered before "
    "anything widens. Hash-gated against the DuckDB FULL OUTER JOIN "
    "replay down to the per-column change lists. (Tag renamed audit -> "
    "reconcile in r8: `audit` now exclusively marks quadratic-by-"
    "contract bounded-corpus forms under the registry scale-contract, "
    "and this keyed linear diff is not one.)",
    tags=("join", "reconcile", "scale"),
)
def events_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import snapshot_diff

    ev = load(spark, sf_dir, "events")
    old = ev.where(F.col("event_id") < 8000).select(
        "event_id", "event_type", F.round("value", 4).alias("v")
    )
    new = (
        ev.where((F.col("event_id") < 8500) & (F.col("event_id") % 13 != 0))
        .select(
            "event_id",
            F.when(F.col("event_id") % 11 == 0, F.lit("migrated"))
            .otherwise(F.col("event_type"))
            .alias("event_type"),
            (
                F.round("value", 4)
                + F.when(F.col("event_id") % 7 == 0, 1000).otherwise(0)
            ).alias("v"),
        )
    )
    return snapshot_diff(old, new, ["event_id"], ["event_type", "v"]).select(
        "event_id",
        "change",
        F.array_join("changed_cols", ",").alias("changed_cols_str"),
    )


@register(
    "cdc_apply_snapshot",
    """
    WITH snapshot AS (
      SELECT event_id AS activity_id, user_id, round(value, 4) AS v
      FROM events WHERE event_id < 2000
    ),
    changes AS (
      SELECT CASE event_id % 3 WHEN 0 THEN 'd' WHEN 1 THEN 'u' ELSE 'c' END AS op,
             event_id AS seq,
             event_id % 2500 AS activity_id,
             user_id,
             round(value + 1000, 4) AS v
      FROM events WHERE event_id >= 8000
    ),
    latest AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY activity_id ORDER BY seq DESC) AS rn
        FROM changes
      ) WHERE rn = 1
    ),
    survivors AS (
      SELECT s.* FROM snapshot s
      WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.activity_id = s.activity_id)
    ),
    upserts AS (
      SELECT activity_id, user_id, v FROM latest WHERE op <> 'd'
    )
    SELECT activity_id, user_id, v FROM survivors
    UNION ALL
    SELECT activity_id, user_id, v FROM upserts
    """,
    doc="apply_cdc_batch under the hash gate: a snapshot + a synthetic "
    "change stream (per-key latest wins, deletes drop, upserts replace) "
    "folded into the next snapshot; the oracle is the window+anti-join "
    "SQL formulation.",
    tags=("streaming", "cdc", "merge"),
)
def cdc_apply_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.cdc import apply_cdc_batch

    ev = load(spark, sf_dir, "events")
    snapshot = ev.where(F.col("event_id") < 2000).select(
        F.col("event_id").alias("activity_id"),
        "user_id",
        F.round("value", 4).alias("v"),
    )
    changes = ev.where(F.col("event_id") >= 8000).select(
        F.when(F.col("event_id") % 3 == 0, "d")
        .when(F.col("event_id") % 3 == 1, "u")
        .otherwise("c")
        .alias("op"),
        F.col("event_id").alias("seq"),
        (F.col("event_id") % 2500).alias("activity_id"),
        "user_id",
        F.round(F.col("value") + 1000, 4).alias("v"),
    )
    return apply_cdc_batch(snapshot, changes, "activity_id")


@register(
    "cdc_scd2_history",
    """
    WITH changes AS (
      SELECT CASE event_id % 3 WHEN 0 THEN 'd' WHEN 1 THEN 'u' ELSE 'c' END AS op,
             event_id AS seq,
             event_id % 2500 AS activity_id,
             user_id,
             round(value + 1000, 4) AS v
      FROM events WHERE event_id >= 8000
    ),
    versioned AS (
      SELECT *, lead(seq) OVER (PARTITION BY activity_id ORDER BY seq) AS valid_to
      FROM changes
    )
    SELECT activity_id, user_id, v,
           seq AS valid_from, valid_to, valid_to IS NULL AS is_current
    FROM versioned WHERE op <> 'd'
    """,
    doc="Type-2 SCD history from the CDC log: one lead() window pass opens "
    "a version per insert/update and closes it at the next change on the "
    "key (deletes close without opening). The reference overwrote history "
    "(gold/bronzeToGold.py:204); this is the warehouse-standard versioned "
    "dimension, as-of joinable via the range-join operator.",
    tags=("streaming", "cdc", "scale"),
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.cdc import scd2_history

    ev = load(spark, sf_dir, "events")
    changes = ev.where(F.col("event_id") >= 8000).select(
        F.when(F.col("event_id") % 3 == 0, "d")
        .when(F.col("event_id") % 3 == 1, "u")
        .otherwise("c")
        .alias("op"),
        F.col("event_id").alias("seq"),
        (F.col("event_id") % 2500).alias("activity_id"),
        "user_id",
        F.round(F.col("value") + 1000, 4).alias("v"),
    )
    return scd2_history(changes, "activity_id", "seq")


@register(
    "lang_confusion_matrix",
    f"""
    WITH scores AS ({_LANG_SCORE_SQL_REF}),
    pred AS (
      SELECT lang,
             CASE WHEN s_en + s_fr + s_es + s_de = 0 THEN 'unknown'
                  WHEN s_en >= s_fr AND s_en >= s_es AND s_en >= s_de THEN 'en'
                  WHEN s_fr >= s_es AND s_fr >= s_de THEN 'fr'
                  WHEN s_es >= s_de THEN 'es'
                  ELSE 'de' END AS lang_pred
      FROM scores
    )
    SELECT lang, lang_pred, count(*) AS n FROM pred GROUP BY lang, lang_pred
    """,
    doc="Language-ID evaluation: labeled-vs-predicted confusion matrix "
    "over the documents corpus — the accuracy rollup any classifier "
    "heuristic in a data pipeline needs next to it.",
    tags=("llm", "text", "eval"),
)
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import lang_id, tokens

    docs = load(spark, sf_dir, "documents")
    # project tokens() once (r8 ask #6 — lang_id alone re-split 16x)
    ws = docs.select("lang", tokens(F.col("text")).alias("ws"))
    return (
        ws.select("lang", lang_id(toks=F.col("ws")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n"))
    )


@register(
    "domain_wellness_kpis",
    f"""
    WITH {_activities_cte()}, {_employees_cte()},
    counts AS (
      SELECT employee_id, count(*) AS total_line_count
      FROM activities GROUP BY employee_id
    ),
    qual AS (
      SELECT e.employee_id, e.salary,
             COALESCE(c.total_line_count, 0) > 5 AS qualify_sport,
             lower(trim(e.transport_mode)) IN
               ('marche/running', 'vélo/trottinette/autres') AS qualify_commute
      FROM employees e LEFT JOIN counts c ON e.employee_id = c.employee_id
    )
    SELECT CAST(sum(CASE WHEN qualify_sport THEN 5 ELSE 0 END) AS BIGINT) AS total_wellness_days,
           round(sum(CASE WHEN qualify_sport THEN salary * 5 / 251 ELSE 0.0 END), 2) AS total_equiv_salary,
           round(sum(CASE WHEN qualify_commute THEN salary * 0.05 ELSE 0.0 END), 2) AS total_prime_sportive
    FROM qual
    """,
    doc="The three DAX KPIs (FormulaePowerBI.txt:30-47) over the generated "
    "domain — the complete reference pipeline (generator → enrichment → "
    "qualification flags → conditional rollups) in one oracle-checked plan.",
    tags=("kpi", "gold"),
)
def domain_wellness_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    acts = synthetic_activities(spark, GEN_N, GEN_EMPLOYEES)
    emps = synthetic_employees(spark, GEN_EMPLOYEES)
    counts = acts.groupBy("employee_id").agg(F.count("*").alias("total_line_count"))
    # `counts` is fact-derived (scales with employee cardinality) — never
    # broadcast it; AQE picks the strategy. See SCALE.md: dims broadcast,
    # facts never.
    qual = emps.join(counts, "employee_id", "left").select(
        "salary",
        (F.coalesce("total_line_count", F.lit(0)) > 5).alias("qualify_sport"),
        S.prime_sportive("transport_mode").alias("qualify_commute"),
    )
    return qual.agg(
        F.sum(F.when(F.col("qualify_sport"), 5).otherwise(0))
        .cast("long")
        .alias("total_wellness_days"),
        F.round(
            F.sum(F.when(F.col("qualify_sport"), F.col("salary") * 5 / 251).otherwise(0.0)),
            2,
        ).alias("total_equiv_salary"),
        F.round(
            F.sum(F.when(F.col("qualify_commute"), F.col("salary") * 0.05).otherwise(0.0)),
            2,
        ).alias("total_prime_sportive"),
    )
