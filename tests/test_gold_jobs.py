"""Gold pipeline job tests: full refresh + incremental append (SURVEY §3.2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from employee_activity_etl_poc_spark.plans.gold_jobs import (
    enrich_activities,
    run_full_refresh,
    run_incremental,
)
from employee_activity_etl_poc_spark.sources.generator import (
    synthetic_activities,
    synthetic_employees,
)


def _now():
    return F.lit("2024-06-01 12:00:00").cast("timestamp")


def _bronze(spark, n=50, shift_h=0):
    acts = synthetic_activities(spark, n, n_employees=20)
    return acts.withColumn(
        "processing_ts",
        F.lit("2024-06-01 00:00:00").cast("timestamp")
        + F.make_interval(hours=F.lit(shift_h)),
    )


def _dims(spark):
    hr = synthetic_employees(spark, 20)
    sports = hr.select(
        "employee_id",
        F.when(F.col("employee_id") % 2 == 0, "Oui").otherwise("Non").alias(
            "practices_sport"
        ),
    )
    return sports, hr


def test_enrich_activities_shape(spark):
    bronze = _bronze(spark)
    sports, hr = _dims(spark)
    gold = enrich_activities(bronze, sports, hr, now=_now())
    assert gold.count() == 50
    for col in (
        "practices_sport",
        "transport_mode",
        "salary",
        "gold_processing_ts",
        "gold_processing_date",
    ):
        assert col in gold.columns
    # left join: every bronze row survives, employee_id never duplicated
    assert gold.columns.count("employee_id") == 1
    assert gold.where(F.col("gold_processing_date") == "2024-06-01").count() == 50


def test_full_refresh_writes_partitioned(spark, tmp_path):
    bronze = _bronze(spark)
    sports, hr = _dims(spark)
    run_full_refresh(bronze, sports, hr, str(tmp_path / "gold"), now=_now())
    disk = spark.read.parquet(str(tmp_path / "gold"))
    assert disk.count() == 50
    # partitioned layout by gold_processing_date
    assert (tmp_path / "gold" / "gold_processing_date=2024-06-01").exists()
    # overwrite semantics: a second run does not duplicate
    run_full_refresh(bronze, sports, hr, str(tmp_path / "gold"), now=_now())
    assert spark.read.parquet(str(tmp_path / "gold")).count() == 50


def test_incremental_appends_only_new_rows(spark, tmp_path):
    gold_path = str(tmp_path / "gold")
    sports, hr = _dims(spark)
    first = _bronze(spark, n=30, shift_h=0)
    run_incremental(None, first, sports, hr, gold_path, now=_now())
    assert spark.read.parquet(gold_path).count() == 30

    # second batch: 30 old rows (same processing_ts) + 20 newer ones
    newer = _bronze(spark, n=50, shift_h=2).where(F.col("activity_id") > 30)
    both = first.unionByName(newer)
    run_incremental(
        spark.read.parquet(gold_path), both, sports, hr, gold_path, now=_now()
    )
    out = spark.read.parquet(gold_path)
    assert out.count() == 50
    assert out.select("activity_id").distinct().count() == 50
