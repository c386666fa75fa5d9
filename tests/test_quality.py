"""Golden tests for the DQ rule engine — ports the reference's planted-
violation fixtures (test_sport_benefits.py:7-59) with the overlap semantics
pinned: a negative distance on a distance sport trips BOTH the negative rule
AND the range rule (the reference's own expectation here was the known-red
test; we spec the overlap deliberately — SURVEY §5)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from employee_activity_etl_poc_spark.quality import rules as DQ

NOW = datetime(2024, 6, 1, 12, 0, 0)


@pytest.fixture(scope="module")
def activities(spark):
    rows = [
        # (id, employee, start, sport, distance_m)
        (1, 10, datetime(2024, 5, 1), "Natation", 1000),     # clean
        (2, 11, datetime(2025, 1, 1), "Natation", -500),     # future + negative (+range)
        (3, 12, datetime(2024, 5, 2), "Vélo", 20000),        # clean
        (4, 13, datetime(2024, 5, 3), "Escalade", None),     # non-distance sport, null ok
        (5, 14, datetime(2024, 5, 4), "Natation", 100),      # too-short swim
    ]
    return spark.createDataFrame(
        rows, "activity_id long, employee_id long, start_ts timestamp, sport_type string, distance_m long"
    )


def _hits(viol, rule):
    return sorted(r["id"] for r in viol.where(F.col("rule") == rule).collect())


def test_planted_violations(spark, activities):
    rules = DQ.standard_activity_rules(now=F.lit(NOW))
    viol = DQ.run_rules(activities, rules, "activity_id")
    assert _hits(viol, "future_start_date") == [2]
    assert _hits(viol, "negative_distance") == [2]
    # pinned overlap semantics: -500 is out of [500,3000] too → both 2 and 5
    assert _hits(viol, "distance_range") == [2, 5]


def test_clean_rows_produce_no_violations(spark):
    clean = spark.createDataFrame(
        [(1, 10, datetime(2024, 5, 1), "Vélo", 15000)],
        "activity_id long, employee_id long, start_ts timestamp, sport_type string, distance_m long",
    )
    viol = DQ.run_rules(clean, DQ.standard_activity_rules(now=F.lit(NOW)), "activity_id")
    assert viol.count() == 0


def test_severity_split(spark, activities):
    viol = DQ.run_rules(activities, DQ.standard_activity_rules(now=F.lit(NOW)), "activity_id")
    hard = viol.where(F.col("severity") == DQ.HARD)
    soft = viol.where(F.col("severity") == DQ.SOFT)
    # hard rules fail the pipeline (test_real_data.py:25-28); range is waived
    assert sorted(r["rule"] for r in hard.select("rule").distinct().collect()) == [
        "future_start_date",
        "negative_distance",
    ]
    assert [r["rule"] for r in soft.select("rule").distinct().collect()] == [
        "distance_range"
    ]


def test_duplicate_ids(spark):
    df = spark.createDataFrame([(1,), (2,), (2,), (3,), (3,), (3,)], "activity_id long")
    dups = {r["id"]: r["n"] for r in DQ.duplicate_ids(df, "activity_id").collect()}
    assert dups == {2: 2, 3: 3}


def test_referential_orphans(spark):
    fact = spark.createDataFrame([(1,), (2,), (9,)], "employee_id long")
    dim = spark.createDataFrame([(1,), (2,), (3,)], "employee_id long")
    orphans = [r["employee_id"] for r in DQ.referential_orphans(fact, dim, "employee_id").collect()]
    assert orphans == [9]


def test_profile_table_stats(spark):
    from employee_activity_etl_poc_spark.quality.profile import profile_table
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, None, 30.0), (4, "b", 20.0)],
        ["id", "s", "v"],
    )
    prof = {r["column"]: r for r in profile_table(df).collect()}
    assert prof["id"]["n"] == 4 and prof["id"]["n_null"] == 0
    assert prof["s"]["n_null"] == 1 and prof["s"]["n_distinct"] == 2
    assert prof["v"]["mean"] == 20.0
    assert prof["s"]["mean"] is None  # non-numeric: no mean
    assert prof["id"]["min_str"] == "1" and prof["id"]["max_str"] == "4"
    # approx mode runs and keeps shape
    approx = profile_table(df, approx=True)
    assert approx.count() == 3
